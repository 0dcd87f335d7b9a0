package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.KHop

/** Golden test: the 6-node sample graph from the reference's KHOP.md:4-26,
  * asserting the exact per-origin edge sets printed at KHOP.md:105-124
  * (order-insensitive — streams are unordered, MANIFESTO.md:230-235). */
class KHopSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sampleEdges =
    Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L), (1L, 2L), (1L, 3L),
      (4L, 1L), (5L, 4L))

  private def rels = sampleEdges.toDF("START_ID", "END_ID")
    .withColumn("TYPE", lit("FOLLOWS"))

  // KHOP.md:105-124 verbatim (sorted): origin -> expected edge set
  private val golden: Map[Long, Set[(Long, Long)]] = Map(
    0L -> Set((0L,1L),(1L,0L),(1L,2L),(1L,3L),(4L,1L),(0L,2L),(0L,3L)),
    1L -> Set((1L,0L),(0L,1L),(0L,2L),(0L,3L),(1L,2L),(1L,3L),(4L,1L),(5L,4L)),
    2L -> Set((0L,1L),(0L,2L),(0L,3L),(1L,0L),(1L,2L),(1L,3L),(4L,1L)),
    3L -> Set((0L,1L),(0L,2L),(0L,3L),(1L,0L),(1L,2L),(1L,3L),(4L,1L)),
    4L -> Set((4L,1L),(1L,0L),(1L,2L),(1L,3L),(0L,1L),(5L,4L)),
    5L -> Set((5L,4L),(4L,1L)))

  test("2-hop matches the KHOP.md golden output") {
    val got = KHop.twoHopEdges(rels)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (o, rows) => o -> rows.map(r => (r._2, r._3)).toSet }
    assert(got == golden)
  }

  test("chunked output preserves the edge multiset and respects maxListSize") {
    val edges = KHop.twoHopEdges(rels)
    val chunked = KHop.chunk(edges, maxListSize = 3)
      .as[(Long, Seq[Long], Seq[Long])].collect()
    chunked.foreach { case (_, s, d) =>
      assert(s.length == d.length && s.length <= 3)
    }
    val rebuilt = chunked.flatMap { case (o, s, d) =>
      s.zip(d).map { case (a, b) => (o, a, b) }
    }.toSet
    val direct = edges.as[(Long, Long, Long)].collect().toSet
    assert(rebuilt == direct)
  }

  test("skew-split 2-hop equals the golden semantics at every threshold") {
    val want = KHop.twoHopEdges(rels).as[(Long, Long, Long)].collect().toSet
    // threshold 0: every node hot → pure flat-join fallback;
    // threshold 100: every node cold → pure CSR path;
    // threshold 2: node 0 and 1 (degree 4) hot, rest cold → genuine split
    for (t <- Seq(0L, 2L, 100L)) {
      val got = KHop.withTwoHopEdgesSkew(rels, hotThreshold = t)(
        _.as[(Long, Long, Long)].collect().toSet)
      assert(got == want, s"threshold $t")
    }
  }

  test("skew-split honors the origin restriction in every path") {
    val pred = Some(col("origin") <= 1L)
    val want = KHop.twoHopEdges(rels).where(col("origin") <= 1)
      .as[(Long, Long, Long)].collect().toSet
    for (t <- Seq(0L, 2L, 100L)) {
      val got = KHop.withTwoHopEdgesSkew(rels, hotThreshold = t,
          originPred = pred)(_.as[(Long, Long, Long)].collect().toSet)
      assert(got == want, s"threshold $t")
    }
  }

  test("skew-split classifies edges via a broadcast of the hot-key set") {
    val plan = KHop.withTwoHopEdgesSkew(rels, hotThreshold = 2)(
      _.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast in:\n$plan")
  }

  test("skew-split general-k equals kHopEdges at every threshold") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5) {
      val n = 3 + rnd.nextInt(7)
      val es = Seq.fill(1 + rnd.nextInt(12))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val df = es.toDF("START_ID", "END_ID").withColumn("TYPE", lit("E"))
        for (k <- Seq(2, 3); t <- Seq(0L, 2L, 100L)) {
          val want = KHop.kHopEdges(df, k)
            .as[(Long, Long, Long)].collect().toSet
          val got = KHop.withKHopEdgesSkew(df, k, hotThreshold = t)(
            _.as[(Long, Long, Long)].collect().toSet)
          assert(got == want, s"k=$k threshold=$t edges=$es")
        }
      }
    }
  }

  test("stats pushdown equals edges+aggregate at every k and threshold") {
    // withKHopStatsSkew must be BIT-identical to aggregating the materialized
    // incidence set — the khop_3_dense gate rides on this equivalence
    val f = (src: Column, dst: Column) =>
      (src % 100003L) * 100003L + (dst % 100003L)
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 5) {
      val n = 3 + rnd.nextInt(7)
      val es = Seq.fill(1 + rnd.nextInt(14))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val df = es.toDF("START_ID", "END_ID").withColumn("TYPE", lit("E"))
        val pred =
          if (trial % 2 == 0) Some(col("origin") % 2 === 0) else None
        for (k <- Seq(1, 2, 3); t <- Seq(0L, 2L, 100L)) {
          val want = KHop.withKHopEdgesSkew(df, k, hotThreshold = t,
              originPred = pred) {
            _.groupBy(col("origin"))
              .agg(count(lit(1)).as("n_edges"),
                sum(f(col("src"), col("dst"))).as("checksum"))
              .as[(Long, Long, Long)].collect().toSet
          }
          val got = KHop.withKHopStatsSkew(df, k, hotThreshold = t,
              originPred = pred, f = f)(
            _.as[(Long, Long, Long)].collect().toSet)
          assert(got == want, s"k=$k threshold=$t edges=$es pred=$pred")
        }
      }
    }
  }

  test("skew-split general-k honors the origin restriction") {
    val pred = Some(col("origin") <= 1L)
    val want = KHop.kHopEdges(rels, 3, originPred = pred)
      .as[(Long, Long, Long)].collect().toSet
    for (t <- Seq(0L, 2L, 100L)) {
      val got = KHop.withKHopEdgesSkew(rels, 3, hotThreshold = t,
          originPred = pred)(_.as[(Long, Long, Long)].collect().toSet)
      assert(got == want, s"threshold $t")
    }
  }

  test("skew-split general-k plans the broadcast hot-set path") {
    val plan = KHop.withKHopEdgesSkew(rels, 3, hotThreshold = 2)(
      _.queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast in:\n$plan")
  }

  test("with-brackets compute the right set and release their caches") {
    import org.apache.spark.storage.StorageLevel
    // CacheManager matches by canonicalized plan, so a probe built from the
    // same plan text reports the cache state of the bracket's internal
    // table — concurrency-safe, unlike counting the session's RDDs
    def eProbe = rels
      .select(col("START_ID").as("src"), col("END_ID").as("dst")).distinct()
    // the k≥3 bracket also pins its reach rounds; every RDD id a bracket
    // persists (caches and round checkpoints) must be gone after it
    val sc = spark.sparkContext
    def added(before: Set[Int]) = sc.getPersistentRDDs.keySet -- before
    var before = sc.getPersistentRDDs.keySet.toSet
    val r1 = KHop.withTwoHopEdgesSkew(rels, hotThreshold = 2) { df =>
      assert(eProbe.storageLevel.useMemory)     // cache live inside
      df.as[(Long, Long, Long)].collect().toSet
    }
    assert(r1 == KHop.twoHopEdges(rels).as[(Long, Long, Long)].collect().toSet)
    assert(eProbe.storageLevel == StorageLevel.NONE, "twoHop bracket leaked")
    assert(added(before).isEmpty, "twoHop bracket left RDDs persisted")
    before = sc.getPersistentRDDs.keySet.toSet
    val r2 = KHop.withKHopEdgesSkew(rels, 3, hotThreshold = 2) { df =>
      assert(eProbe.storageLevel.useMemory)
      assert(added(before).nonEmpty)            // caches + round pins
      df.as[(Long, Long, Long)].collect().toSet
    }
    assert(r2 == KHop.kHopEdges(rels, 3).as[(Long, Long, Long)].collect().toSet)
    assert(eProbe.storageLevel == StorageLevel.NONE, "kHop bracket leaked")
    assert(added(before).isEmpty, "kHop bracket left RDDs persisted")
    before = sc.getPersistentRDDs.keySet.toSet
    val r3 = KHop.withKHopStatsSkew(rels, 3, hotThreshold = 2, None,
        (s: Column, d: Column) => s * 7L + d) { df =>
      assert(eProbe.storageLevel.useMemory)
      df.as[(Long, Long, Long)].collect().toSet
    }
    assert(r3 == r2.groupBy(_._1).map { case (o, es) =>
      (o, es.size.toLong, es.toSeq.map(x => x._2 * 7L + x._3).sum) }.toSet)
    assert(eProbe.storageLevel == StorageLevel.NONE, "stats bracket leaked")
    assert(added(before).isEmpty, "stats bracket left RDDs persisted")
  }

  test("SparkEntry khop skew gates run bracketed and leak no cache") {
    import org.apache.spark.storage.StorageLevel
    // r5 verdict #5: the gates route through with*EdgesSkew and
    // materialize the aggregate INSIDE the bracket (localCheckpoint), so
    // the build caches accelerate the job and are gone when the gate
    // returns. Probe = the bracket's internal deduped edge table
    // (CacheManager matches by canonicalized plan).
    val dir = "/root/testdata/sf0.001"
    def eProbe = SparkEntry.graph(spark, dir).rels
      .where(col("TYPE").isin("CONTAINS", "SUPPLIED_BY"))
      .select(col("START_ID").as("src"), col("END_ID").as("dst")).distinct()
    for (gate <- Seq("khop_dense", "khop_dense_hot", "khop_3_dense")) {
      val out = SparkEntry.queries(gate)(spark, dir)
      assert(out.count() > 0, s"$gate empty")
      assert(eProbe.storageLevel == StorageLevel.NONE,
        s"$gate leaked the bracket's cache")
    }
  }

  test("CSR-plan 2-hop equals the golden plan (incl. multi-edges)") {
    val withDup = rels.union(rels.limit(2))   // duplicate physical edges
    val a = KHop.twoHopEdgesCsr(withDup)
      .as[(Long, Long, Long)].collect().toSet
    val b = KHop.twoHopEdges(withDup).as[(Long, Long, Long)].collect().toSet
    assert(a == b)
    val golden2 = KHop.twoHopEdgesCsr(rels)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (o, r) => o -> r.map(x => (x._2, x._3)).toSet }
    assert(golden2 == golden)
  }

  test("generalized kHopEdges(2) equals the golden 2-hop plan") {
    val a = KHop.kHopEdges(rels, 2).as[(Long, Long, Long)].collect().toSet
    val b = KHop.twoHopEdges(rels).as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("k=1 yields exactly the edges incident to each origin") {
    val got = KHop.kHopEdges(rels, 1)
      .where($"origin" === 0L).select("src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 0L)))
  }

  test("k=3 matches BFS brute-force on random graphs") {
    val rnd = new scala.util.Random(99)
    for (_ <- 1 to 8) {
      val n = 3 + rnd.nextInt(7)
      val es = Seq.fill(1 + rnd.nextInt(12))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        val undirected = es.flatMap(e => Seq(e, e.swap))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        def reach(o: Long, d: Int): Set[Long] = {
          var cur = Set(o)
          for (_ <- 1 to d)
            cur = cur ++ cur.flatMap(x => undirected.getOrElse(x, Set.empty))
          cur
        }
        val expected = (0L until n.toLong)
          .filter(undirected.contains).flatMap { o =>
            val r = reach(o, 2)
            es.filter { case (s, d) => r(s) || r(d) }
              .map { case (s, d) => (o, s, d) }
          }.toSet
        val got = KHop.kHopEdges(
          es.toDF("START_ID", "END_ID").withColumn("TYPE", lit("E")), 3)
          .as[(Long, Long, Long)].collect().toSet
        assert(got == expected, s"edges=$es")
      }
    }
  }

  test("declarative plan matches brute-force on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 15) {
      val n = 2 + rnd.nextInt(8)
      val m = 1 + rnd.nextInt(14)
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .distinct.filter(e => e._1 != e._2)
      if (es.nonEmpty) {
        // brute force per the verified semantics: distinct natural edges
        // with an endpoint in the undirected neighbor set of the origin
        val undirected = es.flatMap(e => Seq(e, e.swap)).toSet
        val expected = (0L until n.toLong).flatMap { o =>
          val nb = undirected.collect { case (`o`, x) => x }
          val esSet: Set[(Long, Long)] = es.toSet
          esSet.filter { case (s, d) => nb(s) || nb(d) }
            .map { case (s, d) => (o, s, d) }
        }.toSet
        val got = KHop.twoHopEdges(
          es.toDF("START_ID", "END_ID").withColumn("TYPE", lit("E")))
          .as[(Long, Long, Long)].collect().toSet
        assert(got == expected, s"trial $trial edges=$es")
      }
    }
  }

  test("weighted bounded-cost k-hop: budget prunes the reach, " +
      "null costs default to 1, incidence matches by hand") {
    // path costs from origin 1: 2 at 5, 3 at 7 (2 hops), 4 at 10
    // (over budget 8), null-cost edge (3,6) counts as 1
    val wrels = Seq(
      (1L, 2L, Some(5.0)), (2L, 3L, Some(2.0)), (3L, 6L, None),
      (1L, 4L, Some(10.0)), (4L, 5L, Some(1.0)))
      .toDF("START_ID", "END_ID", "quantity")
      .withColumn("TYPE", lit("W"))
    def run(k: Int) = KHop.kHopEdgesWeighted(wrels, types = Seq("W"),
        cost = col("quantity"), k = k, budget = 8L,
        originPred = Some(col("origin") === 1L))
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    // k=2: reach {1, 2} (4 costs 10 > 8) -> incident edges of 1 and 2
    assert(run(2) == Set((1L, 2L), (2L, 3L), (1L, 4L)))
    // k=3: reach adds 3 at cost 7 -> its null-cost (3,6) edge appears
    assert(run(3) == Set((1L, 2L), (2L, 3L), (3L, 6L), (1L, 4L)))
    // budget 0: reach is the origin alone
    val tight = KHop.kHopEdgesWeighted(wrels, types = Seq("W"),
        cost = col("quantity"), k = 2, budget = 0L,
        originPred = Some(col("origin") === 1L))
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    assert(tight == Set((1L, 2L), (1L, 4L)))
  }

  test("incrementalTwoHop equals the full recompute on random deltas") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 3) {
      val es = (1 to 40).map(_ =>
        (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong)).distinct
      val all = es.toDF("src", "dst")
      val delta = all.where((col("src") + col("dst")) % 3 === 0)
      val base = all.where((col("src") + col("dst")) % 3 =!= 0)
      val inc = KHop.incrementalTwoHop(base, delta,
          KHop.twoHopPairs(base))
        .as[(Long, Long)].collect().toSet
      val full = KHop.twoHopPairs(all).as[(Long, Long)].collect().toSet
      assert(inc == full)
    }
  }
}
