package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{GraphCatalog, GraphRef, Jobs}

class GraphOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nodes = Seq(
    (1L, Seq("User"), "ann", 2.5),
    (2L, Seq("User"), "bob", 1.0),
    (3L, Seq("Bot", "User"), "eve", 0.0)
  ).toDF("ID", "LABELS", "name", "score")

  private def rels = Seq(
    (1L, 2L, "FOLLOWS", Some(0.9), None: Option[Double]),
    (2L, 3L, "FOLLOWS", Some(0.1), Some(4.0)),
    (1L, 3L, "BLOCKS", None, None)
  ).toDF("START_ID", "END_ID", "TYPE", "weight", "cost")

  private def g = GraphRef(nodes, rels)

  test("node scan: projection, label filter, id remap") {
    val all = g.nodeScan()
    assert(all.columns.toSeq == Seq("ID", "LABELS", "name", "score"))
    val bots = g.nodeScan(labels = Seq("Bot")).select("ID").as[Long].collect()
    assert(bots.toSeq == Seq(3L))
    val remapped = g.nodeScan(props = Seq("score"), nodeId = Some("name"))
      .select("ID").as[String].collect().toSet
    assert(remapped == Set("ann", "bob", "eve"))
    assertThrows[IllegalArgumentException](g.nodeScan(props = Seq("nope")))
  }

  test("csrOffsets: exclusive prefix sums of out-degree in id order") {
    // out-degrees: 1→2, 2→1, 3→0 (sink); offsets 0, 2, 3
    val out = g.csrOffsets().as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq === Seq((1L, 2L, 0L), (2L, 1L, 2L), (3L, 0L, 3L)))
  }

  test("csrOffsets: offsets tile the edge array on a larger graph") {
    val edges = (1L to 500L).flatMap(s =>
      (1L to (s % 7)).map(t => (s, t, "E", None: Option[Double],
        None: Option[Double])))
      .toDF("START_ID", "END_ID", "TYPE", "weight", "cost")
    val out = GraphRef(nodes, edges).csrOffsets()
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // each node's offset = sum of all prior degrees; last offset+deg = m
    out.foldLeft(0L) { case (expect, (_, deg, off)) =>
      assert(off === expect); off + deg
    }
    assert(out.map(_._2).sum === edges.count())
  }

  test("csrOffsets equals the naive global-window prefix sum on random graphs") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(800)((rnd.nextInt(200).toLong,
        rnd.nextInt(200).toLong, "E", None: Option[Double],
        None: Option[Double]))
      .toDF("START_ID", "END_ID", "TYPE", "weight", "cost")
    val gr = GraphRef(nodes, edges)
    val distributed = gr.csrOffsets().orderBy("node").collect().toSeq
    val naive = gr.degrees()
      .select(col("ID").as("node"), col("out_degree").as("deg"))
      .withColumn("offset",
        coalesce(sum(col("deg")).over(Window.orderBy(col("node"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .orderBy("node").collect().toSeq
    assert(distributed === naive)
  }

  test("rel scan long form: one row per rel per present property") {
    val rows = g.relScan()
      .select("START_ID", "END_ID", "property")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set(
      (1L, 2L, Some("weight")),
      (2L, 3L, Some("weight")), (2L, 3L, Some("cost")),
      (1L, 3L, None)))                  // prop-less rel still streamed
    val typed = g.relScan(types = Seq("BLOCKS")).count()
    assert(typed == 1L)
  }

  /** relScan's previous melt — `filter(pairs, lambda)`, a `CASE WHEN
    * size(…)` fallback and `explode` — as the oracle for the generated
    * one. */
  private def lambdaMelt(rs: org.apache.spark.sql.DataFrame,
                         wanted: Seq[String]) = {
    val pairs = array(wanted.map(p =>
      struct(lit(p).as("property"), col(p).cast("double").as("value"))): _*)
    val present = filter(pairs, s => s.getField("value").isNotNull)
    val withFallback = when(size(present) > 0, present).otherwise(
      array(struct(lit(null.asInstanceOf[String]).as("property"),
        lit(null).cast("double").as("value"))))
    rs.select(col("START_ID"), col("END_ID"), col("TYPE"),
        explode(withFallback).as("pv"))
      .select(col("START_ID"), col("END_ID"), col("TYPE"),
        col("pv.property").as("property"), col("pv.value").as("value"))
  }

  test("rel scan melt equals the lambda melt on mixed, all-null and no " +
      "properties, and plans no lambda") {
    val rnd = new scala.util.Random(31)
    def maybe(p: Double): Option[Double] =
      if (rnd.nextDouble() < p) None else Some(rnd.nextInt(50) / 4.0)
    // mixed nulls, including rels whose every property is null
    val mixed = (Seq((1L, 3L, "BLOCKS", None: Option[Double],
        None: Option[Double], None: Option[Long])) ++
      (1 to 400).map(i => (i.toLong, (i * 7 % 97).toLong,
        if (i % 3 == 0) "BLOCKS" else "FOLLOWS", maybe(0.5), maybe(0.6),
        maybe(0.4).map(_.toLong))))
      .toDF("START_ID", "END_ID", "TYPE", "weight", "cost", "hops")
    val cases = Seq(
      (mixed, Nil, Seq("weight", "cost", "hops")),
      (mixed, Seq("FOLLOWS"), Seq("cost")),
      (mixed, Nil, Seq("hops", "weight")))
    cases.foreach { case (rs, types, wanted) =>
      val got = GraphRef(nodes, rs).relScan(props = wanted, types = types)
      val filtered =
        if (types.isEmpty) rs else rs.where(col("TYPE").isin(types: _*))
      val want = lambdaMelt(filtered, wanted)
      assert(got.schema.map(f => (f.name, f.dataType)) ==
        want.schema.map(f => (f.name, f.dataType)))
      assert(got.count() == want.count())
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"melts differ for props=$wanted types=$types")
      assert(!got.queryExecution.executedPlan.toString.contains("lambda"))
      assert(want.queryExecution.executedPlan.toString.contains("lambda"),
        "the lambda probe no longer sees a higher-order function")
    }
    // no properties at all: one (null, null) row per relationship
    val bare = mixed.select("START_ID", "END_ID", "TYPE")
    val none = GraphRef(nodes, bare).relScan()
    assert(none.columns.toSeq ==
      Seq("START_ID", "END_ID", "TYPE", "property", "value"))
    assert(none.count() == bare.count())
    assert(none.where(col("property").isNotNull || col("value").isNotNull)
      .isEmpty)
    assert(none.select("START_ID", "END_ID", "TYPE").exceptAll(bare).isEmpty)
  }

  test("adjacency: sorted targets and degrees") {
    val bigger = GraphRef(nodes, rels.unionByName(
      Seq((1L, 9L, "FOLLOWS", None: Option[Double], None: Option[Double]))
        .toDF("START_ID", "END_ID", "TYPE", "weight", "cost")))
    val row1 = bigger.adjacency(types = Seq("FOLLOWS"))
      .where(col("START_ID") === 1L)
      .select("degree", "targets").as[(Long, Seq[Long])].head()
    assert(row1 == ((2L, Seq(2L, 9L))))
  }

  test("chunked adjacency: bounded sorted chunks reassemble the target lists") {
    // node 1 has 5 FOLLOWS targets -> chunks of <=2: [2,4],[6,9],[11]
    val extra = Seq((1L, 9L), (1L, 4L), (1L, 11L), (1L, 6L))
      .map { case (s, d) => (s, d, "FOLLOWS", None: Option[Double],
        None: Option[Double]) }
      .toDF("START_ID", "END_ID", "TYPE", "weight", "cost")
    val bigger = GraphRef(nodes, rels.unionByName(extra))
    val chunks = bigger.adjacencyChunked(maxListSize = 2)
      .as[(String, Long, Seq[Long])].collect()
    // every row bounded and internally sorted
    chunks.foreach { case (_, _, ts) =>
      assert(ts.nonEmpty && ts.length <= 2 && ts == ts.sorted)
    }
    // chunks of a group are disjoint sorted runs: ordering rows by their
    // first element reassembles the group's full sorted target list
    val one = chunks.filter(c => c._1 == "FOLLOWS" && c._2 == 1L)
      .sortBy(_._3.head).flatMap(_._3).toSeq
    assert(one == Seq(2L, 4L, 6L, 9L, 11L))
    // chunked output flattens back to exactly the adjacency lists
    val flat = chunks.groupBy(c => (c._1, c._2)).view
      .mapValues(_.sortBy(_._3.head).flatMap(_._3).toSeq).toMap
    val full = bigger.adjacency()
      .select(col("TYPE"), col("START_ID"), col("targets"))
      .as[(String, Long, Seq[Long])].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(flat == full)
  }

  test("degrees full-outer over sources and targets") {
    val d = g.degrees().select("ID", "out_degree", "in_degree")
      .as[(Long, Long, Long)].collect().toSet
    assert(d == Set((1L, 2L, 0L), (2L, 1L, 1L), (3L, 0L, 2L)))
  }

  test("catalog register/lookup/drop and canonical-column validation") {
    val cat = new GraphCatalog(spark)
    cat.register("g1", nodes, rels)
    assert(cat.list() == Seq("g1"))
    assert(cat.graph("g1").nodes.count() == 3)
    assertThrows[NoSuchElementException](cat.graph("nope"))
    assert(cat.drop("g1") && cat.list().isEmpty)
    assertThrows[IllegalArgumentException](
      cat.register("bad", nodes.drop("LABELS"), rels))
  }

  test("dense id map is a bijection") {
    val m = GraphCatalog.denseIdMap(nodes)
    assert(m.count() == 3)
    assert(m.select("dense_id").as[Long].collect().toSet == Set(0L, 1L, 2L))
    assert(m.select("ID").distinct().count() == 3)
  }

  test("bulk import round-trips the graph through partitioned parquet") {
    val dir = TestSpark.tmpDir("graft_db").toString
    val back = GraphCatalog.bulkImport(nodes, rels, dir)
    assert(back.nodes.count() == 3 && back.rels.count() == 3)
    // partition pruning on TYPE: reading one type touches one partition dir
    val pruned = back.rels.where(col("TYPE") === "BLOCKS")
    assert(pruned.count() == 1)
    val labels = back.nodes.select(explode(col("LABELS"))).as[String]
      .collect().toSet
    assert(labels == Set("User", "Bot"))
    // multi-label nodes keep their FULL label array through the round-trip
    // (the partition dir keys on the first label only)
    val eve = back.nodes.where(col("ID") === 3L)
      .select(col("LABELS")).as[Seq[String]].head()
    assert(eve == Seq("Bot", "User"))
  }

  test("submitted job is visible in the registry before it can start") {
    import scala.concurrent.ExecutionContext.Implicits.global
    // regression: the handle must be registered before the Future launches,
    // or a fast job's onJobStart finds no handle and Pending→Producing is
    // lost; status(ticket) must never be None for a just-submitted job
    val h = Jobs.submit(nodes)
    assert(Jobs.status(h.ticket).isDefined)
    h.await()
  }

  test("job lifecycle reaches COMPLETE with a ticket") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val h = Jobs.submit(nodes)
    val n = h.await()
    assert(n == 3L)
    // status flips asynchronously after the future completes
    val deadline = System.nanoTime() + 5e9.toLong
    while (h.status != Jobs.Complete && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(h.status == Jobs.Complete)
    assert(Jobs.status(h.ticket).contains(Jobs.Complete))
    assert(Jobs.list().contains(h.ticket))
  }

  test("job cancel: a Pending job never launches its plan; a terminal " +
      "job reports cancel=false (Job.cancel contract)") {
    // a single-thread EC blocked by a latch pins the job in Pending so
    // the cancel-before-start race is exercised DETERMINISTICALLY
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
    val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
    pool.execute(() => gate.await())
    val h = Jobs.submit(nodes)(ec)
    assert(h.status == Jobs.Pending)
    assert(h.cancel())                    // wins: job still Pending
    assert(h.status == Jobs.Cancelled)
    assert(Jobs.cancel(h.ticket).contains(false)) // idempotent: now loses
    gate.countDown()                      // release: Future must honor it
    intercept[Throwable](h.await())       // CancellationException
    assert(h.status == Jobs.Cancelled)
    assert(Jobs.status(h.ticket).contains(Jobs.Cancelled))
    pool.shutdown()
    // a completed job beats cancel
    import scala.concurrent.ExecutionContext.Implicits.global
    val done = Jobs.submit(nodes)
    done.await()
    val deadline = System.nanoTime() + 5e9.toLong
    while (done.status != Jobs.Complete && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(!done.cancel() && done.status == Jobs.Complete)
    assert(Jobs.cancel("no-such-ticket").isEmpty)
  }
}
