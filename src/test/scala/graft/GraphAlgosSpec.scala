package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.GraphAlgos

class GraphAlgosSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // path graph 1→2→3 plus 4→2 as the long-form rel table
  private def rels = Seq(
    (1L, 2L, "E"), (2L, 3L, "E"), (4L, 2L, "E"))
    .toDF("START_ID", "END_ID", "TYPE")

  test("pageRank: hand-computed 1 iteration on the path graph") {
    // outdeg: 1→1, 2→1, 4→1; contrib = 1000000 each
    // rank1(2) = 150000 + 85*(1000000 + 1000000)/100 = 1850000
    // rank1(3) = 150000 + 85*1000000/100 = 1000000
    // rank1(1) = rank1(4) = 150000 (no in-edges)
    val r = GraphAlgos.pageRank(rels, Seq("E"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000L, 2L -> 1850000L, 3L -> 1000000L,
      4L -> 150000L))
  }

  test("pageRank: ranks stay positive and bounded over 5 iterations") {
    val r = GraphAlgos.pageRank(rels, Seq("E"), iters = 5)
      .as[(Long, Long)].collect()
    assert(r.length == 4)
    assert(r.forall { case (_, rank) => rank >= 150000L })
  }

  test("triangleCount: one triangle plus a pendant edge") {
    // edges (1,2),(2,3),(1,3) form the triangle; (3,4) dangles
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val row = GraphAlgos.triangleCount(edges)
      .as[(Long, Long)].collect().head
    assert(row == ((4L, 1L)))
  }

  test("triangleCount: K4 has four triangles") {
    val edges = (for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (i.toLong, j.toLong)).toDF("a", "b")
    val row = GraphAlgos.triangleCount(edges)
      .as[(Long, Long)].collect().head
    assert(row == ((6L, 4L)))
  }

  test("fourCycleCount: square, K4, and a pendant") {
    // a plain square has exactly one 4-cycle; the pendant adds none
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (4L, 5L))
      .toDF("a", "b")
    assert(GraphAlgos.fourCycleCount(square)
      .as[(Long, Long)].collect().head == ((5L, 1L)))
    // K4 has 3 rectangles (each pair of disjoint edges closes one)
    val k4 = (for { i <- 1 to 4; j <- (i + 1) to 4 }
      yield (i.toLong, j.toLong)).toDF("a", "b")
    assert(GraphAlgos.fourCycleCount(k4)
      .as[(Long, Long)].collect().head == ((6L, 3L)))
    // triangle alone: no 4-cycle
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(GraphAlgos.fourCycleCount(tri)
      .as[(Long, Long)].collect().head == ((3L, 0L)))
  }

  test("fourCycleCount matches the brute common-neighbor identity on a random graph") {
    val rnd = new scala.util.Random(73)
    val edges = (for {
      i <- 0L until 30L; j <- (i + 1) until 30L
      if rnd.nextDouble() < 0.2
    } yield (i, j)).toList
    val df = edges.toDF("a", "b")
    val got = GraphAlgos.fourCycleCount(df)
      .as[(Long, Long)].collect().head
    // brute: Σ_{u<w} C(common, 2) / 2
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = adj.keys.toList.sorted
    var s = 0L
    for (ui <- nodes.indices; wi <- ui + 1 until nodes.size) {
      val c = (adj(nodes(ui)) & adj(nodes(wi))).size.toLong
      s += c * (c - 1) / 2
    }
    assert(got == ((edges.size.toLong, s / 2)))
  }

  test("contractGraph: communities collapse with summed weights") {
    // edges (1→2 w3) (2→1 w1) intra-community {1,2}; (2→5 w2) crosses
    // to {5}; labels: 1,2 → 1; 5 → 5
    val e = Seq((1L, 2L, 3L), (2L, 1L, 1L), (2L, 5L, 2L))
      .toDF("src", "dst", "w")
    val lbl = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("id", "lbl")
    val r = GraphAlgos.contractGraph(e, lbl)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
    assert(r == Map((1L, 1L) -> ((4L, 2L)), (1L, 5L) -> ((2L, 1L))))
  }

  test("clusteringCoefficient: triangle node vs hub vs pendant") {
    // triangle 1-2-3; pendant 4 on 1 → node 1 has deg 3, wedges 3, tri 1
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val cc = GraphAlgos.clusteringCoefficient(edges)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(cc(1L) === ((3L, 1L, 333333L)))  // 2·1·1e6 div (3·2)
    assert(cc(2L) === ((2L, 1L, 1000000L)))
    assert(cc(3L) === ((2L, 1L, 1000000L)))
    assert(cc(4L) === ((1L, 0L, 0L)))
  }

  test("clusteringCoefficient: K4 is fully clustered everywhere") {
    val edges = (for {
      i <- 1 to 4; j <- (i + 1) to 4
    } yield (i.toLong, j.toLong)).toDF("a", "b")
    val cc = GraphAlgos.clusteringCoefficient(edges)
      .as[(Long, Long, Long, Long)].collect()
    assert(cc.length === 4)
    cc.foreach { case (_, deg, tri, ppm) =>
      assert(deg === 3L && tri === 3L && ppm === 1000000L) }
  }

  test("dagLevels: longest path wins on a diamond with a long arm") {
    // 1→2→3→5 and 1→4→5: node 5's level is 3 (the longer path)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 5L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val lvl = GraphAlgos.dagLevels(edges, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(lvl === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 3L))
  }

  test("diameterEstimate: exact on a path graph, ties break to min id") {
    // path 1-2-3-4-5 as typed rels; from the middle (3) the far node is
    // 1 (dist 2, tie with 5 → min id), second sweep reaches 5 at dist 4
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val Array((far, lb, n)) = GraphAlgos.diameterEstimate(
        path, Seq("E"), source = 3L, maxHops = 10)
      .as[(Long, Long, Long)].collect()
    assert(far === 1L && lb === 4L && n === 5L)
  }

  test("bfsHops: undirected distances with the 4→2 shortcut") {
    // from 1: dist 0 = {1}, 1 = {2}, 2 = {3, 4} (via undirected 2-4)
    val d = GraphAlgos.bfsHops(rels, Seq("E"), source = 1L, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("bfsHops: maxHops truncates the expansion") {
    val d = GraphAlgos.bfsHops(rels, Seq("E"), source = 1L, maxHops = 1)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L))
  }

  test("sssp: min over parallel paths, weights carried") {
    // 1-2 w=10, 2-3 w=1, 1-3 w=20: dist(3) = 11 beats the direct 20
    val edges = Seq((1L, 2L, 10L), (2L, 3L, 1L), (1L, 3L, 20L))
      .toDF("src", "dst", "w")
    val d = GraphAlgos.sssp(edges, source = 1L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 10L, 3L -> 11L))
  }

  test("weighted pageRank splits rank by floored weight shares") {
    // 1→2 w=3, 1→3 w=1: contrib(2) = ⌊1e6·3/4⌋ = 750000 → 787500 damped
    val edges = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = GraphAlgos.pageRankWeighted(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000L,
      2L -> (150000L + 85L * 750000L / 100L),
      3L -> (150000L + 85L * 250000L / 100L)))
  }

  test("fastRP: neighbor-mean smoothing with exact signed floor division") {
    // path 1-2-3 undirected; dim 2, 1 iteration
    val g = Seq((1L, 2L, "E"), (2L, 3L, "E")).toDF("START_ID", "END_ID", "TYPE")
    def init(id: Long, j: Long): Long =
      ((id % 1000003L) * (j + 31L) + j * 7919L) % 1000003L % 201L - 100L
    def fdiv(s: Long, d: Long): Long = Math.floorDiv(s, d)
    val expected = Seq(
      // node 1: neighbor {2}; node 3: neighbor {2}; node 2: {1,3}
      (1L, 0L, fdiv(init(2, 0), 1)), (1L, 1L, fdiv(init(2, 1), 1)),
      (3L, 0L, fdiv(init(2, 0), 1)), (3L, 1L, fdiv(init(2, 1), 1)),
      (2L, 0L, fdiv(init(1, 0) + init(3, 0), 2)),
      (2L, 1L, fdiv(init(1, 1) + init(3, 1), 2))).toSet
    val got = GraphAlgos.fastRP(g, Seq("E"), dim = 2, iters = 1)
      .select(col("id"), col("j").cast("long"), col("ev"))
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("personalized pageRank puts teleport mass only at seeds") {
    // 1→2→3: seed = {1}. r0 = (1e6, 0, 0)
    // iter1: r(1)=150000; r(2)=0+85%*1e6=850000; r(3)=0
    val r = GraphAlgos.pageRank(rels.where(col("START_ID") =!= 4L),
        Seq("E"), iters = 1, seedPred = Some(col("id") === 1L))
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 150000L, 2L -> 850000L, 3L -> 0L))
  }

  test("nodeSimilarity: exact jaccard with hub neighbors capped") {
    // hub 99 shared by all four nodes (df 4 > cap 3) is candidate-capped
    val edges = Seq(
      (1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L),
      (1L, 99L), (2L, 99L), (3L, 99L), (4L, 99L))
      .toDF("node", "nb")
    val sim = GraphAlgos.nodeSimilarity(edges, threshold = 0.1, maxDf = 3)
      .select("a", "b", "inter", "jac")
      .as[(Long, Long, Long, Double)].collect().toSet
    // degrees include the hub (pre-cap): da=db=3, dc=3
    // (1,2): inter {10,11} = 2 → 2/(3+3-2) = 0.5
    // (1,3): inter {11} = 1 → 1/5 = 0.2 ; (2,3) same
    assert(sim == Set((1L, 2L, 2L, 0.5), (1L, 3L, 1L, 0.2),
      (2L, 3L, 1L, 0.2)))
  }

  test("kCore peels low-degree nodes and cascades") {
    // triangle 1-2-3 plus chain 3-4-5: k=2 → 4,5 peel (4 after 5)
    val g = Seq((1L, 2L, "E"), (2L, 3L, "E"), (1L, 3L, "E"),
      (3L, 4L, "E"), (4L, 5L, "E")).toDF("START_ID", "END_ID", "TYPE")
    val core = GraphAlgos.kCore(g, Seq("E"), k = 2, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("neighborSample caps fanout deterministically, matching the window form") {
    val g = (1L to 3L).flatMap(s => (1L to 20L).map(d => (s, 100L + d, "E")))
      .toDF("START_ID", "END_ID", "TYPE")
    val sampled = GraphAlgos.neighborSample(g, Seq("E"), fanout = 4)
      .as[(Long, Long, Long)].collect()
    assert(sampled.groupBy(_._1).forall(_._2.length == 4))
    // reference order: smallest mixed hash first, same formula
    def h(s: Long, d: Long): Long =
      (s * 1000003L + d) % 1000000007L * 2654435761L % 1000000007L
    val expected = (1L to 3L).flatMap { s =>
      (1L to 20L).map(d => (s, 100L + d))
        .sortBy { case (ss, dd) => (h(ss, dd), dd) }.take(4)
        .zipWithIndex.map { case ((ss, dd), i) => (ss, dd, i + 1L) }
    }.toSet
    assert(sampled.toSet == expected)
    // stable under repartitioning (rand() sampling would not be)
    val again = GraphAlgos.neighborSample(g.repartition(7), Seq("E"),
      fanout = 4).as[(Long, Long, Long)].collect().toSet
    assert(again == expected)
  }

  test("labelPropagation: triangle converges to min id; pair oscillates") {
    val g = Seq((1L, 2L, "E"), (2L, 3L, "E"), (1L, 3L, "E"),
      (10L, 11L, "E")).toDF("START_ID", "END_ID", "TYPE")
    val l = GraphAlgos.labelPropagation(g, Seq("E"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    // triangle: all at label 1 from round 2 on; the isolated pair swaps
    // labels every synchronous round (odd round count → swapped)
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 11L, 11L -> 10L))
  }

  test("sssp: rounds bound the relaxation depth") {
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val d = GraphAlgos.sssp(edges, source = 1L, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("hits: hand-computed 1 iteration on the path graph") {
    // auth raw: 2 ← {1,4} = 2e6, 3 ← {2} = 1e6; max 2e6
    //   → auth(2)=1000000, auth(3)=500000, auth(1)=auth(4)=0
    // hub raw: 1 → auth(2)=1e6, 4 → 1e6, 2 → auth(3)=5e5; max 1e6
    //   → hub(1)=hub(4)=1000000, hub(2)=500000, hub(3)=0
    val r = GraphAlgos.hits(rels, Seq("E"), iters = 1)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r == Map(
      1L -> ((1000000L, 0L)), 2L -> ((500000L, 1000000L)),
      3L -> ((0L, 500000L)), 4L -> ((1000000L, 0L))))
  }

  test("hits: scores stay within [0, scale] across iterations") {
    val r = GraphAlgos.hits(rels, Seq("E"), iters = 3)
      .as[(Long, Long, Long)].collect()
    assert(r.length == 4)
    assert(r.forall { case (_, h, a) =>
      h >= 0L && h <= 1000000L && a >= 0L && a <= 1000000L })
    // max-normalization pins at least one hub and one authority at scale
    assert(r.map(_._2).max == 1000000L && r.map(_._3).max == 1000000L)
  }

  test("eigenvectorCentrality: hand-computed rounds on the symmetrized " +
      "star (bipartite oscillation is deterministic)") {
    // edges 1→2, 2→3, 4→2 symmetrize to the star centered at 2.
    // round 1: raw(2) = 3e6, raw(leaf) = 1e6, max 3e6
    //   → x(2) = 1000000, leaves = 333333
    // round 2: raw(2) = 3·333333 = 999999, raw(leaf) = 1e6, max 1e6
    //   → x(2) = 999999, leaves = 1000000 (the bipartite flip)
    val r1 = GraphAlgos.eigenvectorCentrality(rels, Seq("E"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 333333L, 2L -> 1000000L, 3L -> 333333L,
      4L -> 333333L))
    val r2 = GraphAlgos.eigenvectorCentrality(rels, Seq("E"), iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1000000L, 2L -> 999999L, 3L -> 1000000L,
      4L -> 1000000L))
  }

  test("eigenvectorCentrality: uniform on a triangle (true eigenvector) " +
      "and bounded in [0, scale] with the max pinned") {
    val tri = Seq((1L, 2L, "E"), (2L, 3L, "E"), (3L, 1L, "E"))
      .toDF("START_ID", "END_ID", "TYPE")
    val r = GraphAlgos.eigenvectorCentrality(tri, Seq("E"), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
    val star = GraphAlgos.eigenvectorCentrality(rels, Seq("E"), iters = 4)
      .as[(Long, Long)].collect()
    assert(star.forall { case (_, s) => s >= 0L && s <= 1000000L })
    assert(star.map(_._2).max == 1000000L)
  }

  test("harmonicCentrality: two seeds on the undirected path") {
    // undirected 1-2, 2-3, 2-4; seeds {1, 4}
    // d(1,·): 2→1, 3→2, 4→2;  d(4,·): 2→1, 1→2, 3→2
    val h = GraphAlgos.harmonicCentrality(rels, Seq("E"),
        seedPred = col("id") === 1L || col("id") === 4L, maxHops = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(h == Map(
      1L -> ((500000L, 1L)), 2L -> ((2000000L, 2L)),
      3L -> ((1000000L, 2L)), 4L -> ((500000L, 1L))))
  }

  test("closenessCentrality: Wasserman–Faust normalization on the " +
      "same two-seed path fixture") {
    // d(1,·): 2→1, 3→2, 4→2;  d(4,·): 2→1, 1→2, 3→2
    // node 2: Σd=2, n=2 → 1000000; node 3: Σd=4, n=2 → 500000;
    // nodes 1/4: Σd=2, n=1 → 500000
    val c = GraphAlgos.closenessCentrality(rels, Seq("E"),
        seedPred = col("id") === 1L || col("id") === 4L, maxHops = 3)
      .as[(Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(c == Map(
      1L -> ((2L, 1L, 500000L)), 2L -> ((2L, 2L, 1000000L)),
      3L -> ((4L, 2L, 500000L)), 4L -> ((2L, 1L, 500000L))))
  }

  test("kTruss: peels weakly-supported edges, keeps the K4 core") {
    // K4 on {1,2,3,4} (each edge in 2 triangles) + pendant triangle
    // 1-2-5: edges (1,5), (2,5) have support 1 → peeled at k=4; the K4
    // edges keep support 2 after the peel and survive round 2
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L), (2L, 5L)).toDF("a", "b")
    val t = GraphAlgos.kTruss(edges, k = 4, rounds = 2)
      .as[(Long, Long)].collect().toSet
    assert(t == Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)))
  }

  test("kTruss: a lone triangle survives k=3 and dies at k=4") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    assert(GraphAlgos.kTruss(tri, k = 3, rounds = 2).count() == 3L)
    assert(GraphAlgos.kTruss(tri, k = 4, rounds = 1).count() == 0L)
  }

  test("node2vecWalks: matches a driver-side reference simulation " +
      "(second-order weights, cumulative-draw pick)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
    val g = edges.map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val (wR, wS, wF) = (2L, 8L, 4L)
    val und = (edges ++ edges.map(_.swap)).distinct
    val nb = und.groupBy(_._1).map { case (k, v) =>
      k -> v.map(_._2).distinct.sorted }
    def mix(w: Long, k: Long): Long =
      (w * 31 + k) % 1000000007L * 2654435761L % 1000000007L
    val starts = 2
    var walks = for (n <- nb.keys.toSeq; w <- 0 until starts)
      yield (n * starts + w, n, n)
    val exp = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    walks.foreach { case (id, _, n) => exp += ((id, 0L, n)) }
    for (k <- 1 to 3) {
      walks = walks.map { case (id, prev, cur) =>
        val cands = nb(cur)
        val nxt =
          if (k == 1) cands((mix(id, k) % cands.length).toInt)
          else {
            val w = cands.map(c => if (c == prev) wR
              else if (nb(prev).contains(c)) wS else wF)
            val r = mix(id, k) % w.sum
            var s = 0L; var chosen = -1L
            for ((c, ww) <- cands.zip(w)) {
              s += ww; if (chosen == -1L && s > r) chosen = c
            }
            chosen
          }
        (id, cur, nxt)
      }
      walks.foreach { case (id, _, n) => exp += ((id, k.toLong, n)) }
    }
    val got = GraphAlgos.node2vecWalks(g, Seq("E"), starts = 2,
        length = 3, wReturn = wR, wStay = wS, wFar = wF)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == exp.toSet)
    // sanity: the bias actually bites — with wStay dominating, at least
    // one chosen hop must be a triangle (stay) edge somewhere
    assert(got.size == exp.toSet.size)
  }

  test("randomWalks: complete, continuous, and retry-stable") {
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .map { case (a, b) => (a, b, "E") }.toDF("START_ID", "END_ID", "TYPE")
    val w = GraphAlgos.randomWalks(g, Seq("E"), starts = 2, length = 3)
      .as[(Long, Long, Long)].collect()
    // 4 nodes × 2 walks × 4 positions
    assert(w.length == 32)
    assert(w.count(_._2 == 0L) == 8)
    // step-0 node is the walk's origin (walk_id = id·starts + w)
    assert(w.filter(_._2 == 0L).forall(r => r._3 == r._1 / 2))
    // continuity: every consecutive pair is an edge of the graph
    val edges = Set((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    val byWalk = w.groupBy(_._1).values
    assert(byWalk.forall { steps =>
      steps.sortBy(_._2).sliding(2).forall {
        case Array(a, b) => edges((a._3, b._3)); case _ => true }
    })
    // deterministic under repartitioning (RNG walks are not)
    val again = GraphAlgos.randomWalks(
      g.repartition(7), Seq("E"), starts = 2, length = 3)
      .as[(Long, Long, Long)].collect()
    assert(w.toSet == again.toSet)
  }

  test("betweenness: path graph matches hand-computed Brandes") {
    // path 1-2-3-4, seeds {1,4}: δ_1(2)=2, δ_1(3)=1, δ_4(3)=2, δ_4(2)=1
    // → BC(2) = BC(3) = 3·scale; endpoints accumulate nothing
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L)).map { case (a, b) =>
      (a, b, "E") }.toDF("START_ID", "END_ID", "TYPE")
    val bc = GraphAlgos.betweenness(g, Seq("E"),
        seedPred = col("id") === 1L || col("id") === 4L, maxHops = 3)
      .as[(Long, Long)].collect().toMap
    assert(bc == Map(2L -> 3000000L, 3L -> 3000000L))
  }

  test("betweenness: diamond splits dependency across equal paths") {
    // 1-2-4, 1-3-4: σ(4) = 2, so δ_1(2) = δ_1(3) = ⌊1·scale/2⌋
    val g = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).map { case (a, b) =>
      (a, b, "E") }.toDF("START_ID", "END_ID", "TYPE")
    val bc = GraphAlgos.betweenness(g, Seq("E"),
        seedPred = col("id") === 1L, maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(bc == Map(2L -> 500000L, 3L -> 500000L))
  }

  test("louvainMove: hand-computed rounds on two triangles + bridge") {
    // 1-2-3 triangle, 4-5-6 triangle, bridge 3-4; two_m = 14
    // deg: 1:2 2:2 3:3 4:3 5:2 6:2. Round 1 from singletons (gain =
    // 2m·kc − deg·tot, own tot reduced by deg, tie → smallest lbl):
    //   1: {2}:14−2·2=10 > {3}:8 > own:0   → 2
    //   2: {1}:10 > {3}:8                  → 1
    //   3: {1}:14−3·2=8 = {2}:8 > {4}:5    → 1 (tie)
    //   4: {5}:8 = {6}:8 > {3}:5           → 5 (tie)
    //   5: {6}:10 > {4}:8                  → 6
    //   6: {5}:10 > {4}:8                  → 5
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val r1 = GraphAlgos.louvainMove(g, Seq("E"), rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 6L,
      6L -> 5L))
    // Round 2 over communities 1:{2,3}(tot 5) 2:{1}(2) 5:{4,6}(5) 6:{5}(2):
    //   1: {1}:2·14−2·5=18 > own{2}:0      → 1
    //   2: {2}:14−2·2=10 > own{1}:14−2·3=8 → 2
    //   3: own{1}:8 = {2}:8 > {5}:−1       → 1 (tie)
    //   4: own{5}:8 = {6}:8 > {1}:−1       → 5 (tie)
    //   5: {5}:28−2·5=18 > own{6}:0        → 5
    //   6: {6}:10 > own{5}:8               → 6
    // (the synchronous schedule may oscillate — determinism, not
    // convergence, is the contract the oracle replays)
    val r2 = GraphAlgos.louvainMove(g, Seq("E"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(r2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L, 4L -> 5L, 5L -> 5L,
      6L -> 6L))
  }

  test("sccColoring: cycle with a tail resolves the cycle only") {
    // 1→2→3→1 is an SCC; 3→4→5 is a DAG tail. F(v)=1 for all (1 reaches
    // everything); B=1 only inside the cycle → {1,2,3} resolve to scc 1,
    // 4 and 5 stay unresolved singletons (the remainder FW-BW recurses
    // on).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val r = GraphAlgos.sccColoring(edges, rounds = 5)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r == Map(1L -> ((1L, 1L)), 2L -> ((1L, 1L)), 3L -> ((1L, 1L)),
      4L -> ((4L, 0L)), 5L -> ((5L, 0L))))
  }

  test("sccColoring: two disjoint cycles resolve separately") {
    val edges = Seq((1L, 2L), (2L, 1L), (7L, 8L), (8L, 9L), (9L, 7L))
      .toDF("src", "dst")
    val r = GraphAlgos.sccColoring(edges, rounds = 4)
      .as[(Long, Long, Long)].collect()
      .map(t => t._1 -> t._2).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("sccColoring agrees with driver-side Kosaraju on a random digraph") {
    val rnd = new scala.util.Random(31)
    val n = 24
    val es = (1 to 55).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
    // Kosaraju: order by first-DFS finish time, then reverse-graph DFS
    val fwd = es.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val rev = es.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    var seen = Set.empty[Long]
    var order = List.empty[Long]
    def dfs1(v: Long): Unit = if (!seen(v)) {
      seen += v
      fwd.getOrElse(v, Nil).foreach(dfs1)
      order ::= v
    }
    nodes.foreach(dfs1)
    seen = Set.empty
    var comp = Map.empty[Long, Long]
    def dfs2(v: Long, root: Long): Unit = if (!seen(v)) {
      seen += v; comp += v -> root
      rev.getOrElse(v, Nil).foreach(dfs2(_, root))
    }
    order.foreach(v => dfs2(v, v))
    val trueScc = nodes.groupBy(comp).values
      .flatMap(g => g.map(_ -> g.min)).toMap
    val out = GraphAlgos.sccColoring(es.toDF("src", "dst"), rounds = 30)
      .as[(Long, Long, Long)].collect()
    for ((id, scc, resolved) <- out) {
      if (resolved == 1L) {
        // a resolved node's id must be its true SCC's minimum member
        assert(trueScc(id) == scc && trueScc(scc) == scc,
          s"node $id resolved to $scc but true SCC min is ${trueScc(id)}")
      }
    }
    // resolved-ness is uniform per true SCC at fixpoint
    val byScc = out.groupBy(t => trueScc(t._1))
    for ((_, members) <- byScc)
      assert(members.map(_._3).distinct.length == 1)
  }

  test("misLuby is independent and maximal on a random graph at fixpoint") {
    val rnd = new scala.util.Random(17)
    val n = 14
    val es = (1 to 26).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val g = es.map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val mis = GraphAlgos.misLuby(g, Seq("E"), rounds = n)
      .as[(Long, Long)].collect().map(_._1).toSet
    assert(!es.exists { case (a, b) => mis(a) && mis(b) }, "not independent")
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    assert(nodes.forall(v => mis(v) || es.exists { case (a, b) =>
      (a == v && mis(b)) || (b == v && mis(a)) }), "not maximal")
  }

  test("richClub: triangle club at k=1, degenerate singleton at k=2") {
    // triangle {1,2,3} + pendant 4—1: degrees 3,2,2,1.
    // k=1 club {1,2,3}: all 3 club edges present -> phi = 1e6
    // k=2 club {1}: no possible pairs -> phi 0 via the guard
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
      .map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val r = GraphAlgos.richClub(g, Seq("E"), ks = Seq(1L, 2L))
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 3L, 3L, 1000000L)))
    assert(r(2L) == ((2L, 1L, 0L, 0L)))
  }

  test("linkPredAuc: hand-computed rank-sum with ties") {
    // train {(1,10),(2,10),(3,11)}; test {(4,10)} -> pos score deg(10)=2
    // negs (domain [10,12), k=2, hash slots, true edges dropped):
    // (1,11) s=1, (2,11) s=1, (3,10) s=2, (4,11) s=1
    // concordant = 1·3, ties = 1·1 -> AUC = (3e6 + 5e5)/4 = 875000
    val e = Seq((1L, 10L), (2L, 10L), (3L, 11L), (4L, 10L))
      .toDF("src", "dst")
    val r = GraphAlgos.linkPredAuc(e, testPred = col("src") === 4,
        k = 2, domainBase = 10L, domainSize = 2L)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((1L, 4L, 3L, 1L, 875000L)))
  }

  test("hyperBall matches a driver-side exact-ball HLL reference") {
    val rnd = new scala.util.Random(31)
    val n = 12
    val es = (1 to 22).map(_ =>
      (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
      .filter { case (a, b) => a != b }.distinct
    val g = es.map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val m = 16
    val got = GraphAlgos.hyperBall(g, Seq("E"), hops = 2, m = m)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3)))
      .toMap
    // reference: exact balls by BFS, then the identical register math
    val p = 1000000007L
    def regs(ball: Set[Long]): Map[Long, Long] =
      ball.groupBy { k =>
        val x = k % p; val y = (x * x + x * 31 + 7) % p
        val z = (y * y + y * 37 + 11) % p
        z % m
      }.map { case (b, ks) =>
        b -> ks.map { k =>
          val x = k % p; val y = (x * x + x * 31 + 7) % p
          val z = (y * y + y * 37 + 11) % p
          val h2 = (z * z + z * 41 + 13) % p
          if (h2 == 0) 40L
          else math.min(java.lang.Long.numberOfTrailingZeros(h2) + 1L, 40L)
        }.max
      }
    def est(ball: Set[Long]): Long = {
      val r = regs(ball)
      val np = r.size
      val sumTerm = r.values.map(v => 1L << (40 - v)).sum +
        (m - np).toLong * (1L << 40)
      if (np == m)
        math.floor(graft.operators.Sketches.hllAlphaNumerator(m) /
          sumTerm * 1000.0).toLong
      else math.floor(m * math.log(m.toDouble / (m - np)) * 1000.0).toLong
    }
    val nbr = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val nodes = nbr.keySet
    var balls: Map[Long, Set[Long]] = nodes.map(v => v -> Set(v)).toMap
    for (h <- 0 to 2) {
      val expSum = nodes.toSeq.map(v => est(balls(v))).sum
      assert(got(h.toLong) == ((nodes.size.toLong, expSum)), s"hop $h")
      balls = balls.map { case (v, s) =>
        v -> (s ++ s.flatMap(u => nbr(u)))
      }
    }
  }

  test("jpColoring matches a driver-side JP reference and is proper") {
    val rnd = new scala.util.Random(23)
    val n = 14
    val es = (1 to 26).map(_ =>
      (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val g = es.map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val got = GraphAlgos.jpColoring(g, Seq("E"), rounds = n)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3)))
      .toMap
    // driver-side reference: same priorities, same mex, sequential rounds
    def key(id: Long) =
      ((id % 1000003) * (id % 1000003) % 1000003 * 31 +
        id % 1000003) % 1000003 * 10000000000L + id
    val nbr = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var uncolored = nbr.keySet
    val ref = scala.collection.mutable.Map[Long, (Long, Long)]()
    var r = 0L
    while (uncolored.nonEmpty) {
      r += 1
      val ready = uncolored.filter(v =>
        nbr(v).filter(uncolored).forall(u => key(u) < key(v)))
      for (v <- ready) {
        val used = nbr(v).flatMap(u => ref.get(u).map(_._1))
        val mex = (0L to used.size.toLong).find(!used.contains(_)).get
        ref(v) = (mex, r)
      }
      uncolored = uncolored -- ready
    }
    assert(got == ref.toMap)
    // proper coloring: no edge shares a color
    assert(!es.exists { case (a, b) => got(a)._1 == got(b)._1 })
  }

  test("jpColoring: path graph hand trace") {
    // keys ordered 1 < 2 < 3 (same hash family as misLuby's path test):
    // round 1: node 3 is the only local max -> color 0; round 2: node 2
    // (neighbor 3 colored, beats 1) -> mex{0} = 1; round 3: node 1 ->
    // neighbor colors {1} -> mex = 0
    val g = Seq((1L, 2L, "E"), (2L, 3L, "E"))
      .toDF("START_ID", "END_ID", "TYPE")
    val r = GraphAlgos.jpColoring(g, Seq("E"), rounds = 3)
      .as[(Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3)))
      .toMap
    assert(r == Map(3L -> ((0L, 1L)), 2L -> ((1L, 2L)), 1L -> ((0L, 3L))))
  }

  test("negativeSample: hash-indexed candidates, positives excluded") {
    // domain [10,12): src 1 draws 11,10,11 for i=0,1,2 — slot i=1 hits
    // its true edge (1→10) and drops; src 2 draws 10,11,10 — slot i=1
    // hits (2→11) and drops
    val edges = Seq((1L, 10L), (2L, 11L)).toDF("src", "dst")
    val r = GraphAlgos.negativeSample(edges, k = 3, domainBase = 10L,
      domainSize = 2L).as[(Long, Long, Long)].collect().toSet
    assert(r == Set((1L, 0L, 11L), (1L, 2L, 11L), (2L, 0L, 10L),
      (2L, 2L, 10L)))
  }

  test("misLuby: path graph — min-key endpoint first, far end next round") {
    // keys: pr(id)=(id²·31+id) mod 1000003 → 1:32, 2:126, 3:282 (×10¹⁰+id)
    // round 1: node 1 wins (beats 2), nodes 2,3 lose to a neighbor;
    // {1,2} leave. round 2: 3 alone → wins. MIS = {1@r1, 3@r2}
    val g = Seq((1L, 2L, "E"), (2L, 3L, "E"))
      .toDF("START_ID", "END_ID", "TYPE")
    val r = GraphAlgos.misLuby(g, Seq("E"), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 3L -> 2L))
  }

  test("misLuby result is independent and maximal on a clique plus tail") {
    // K3 {1,2,3} with tail 3—4: exactly one clique member enters, and
    // 4 enters unless adjacent member 3 did
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val mis = GraphAlgos.misLuby(g, Seq("E"), rounds = 3)
      .as[(Long, Long)].collect().map(_._1).toSet
    val edges = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(!edges.exists { case (a, b) => mis(a) && mis(b) })
    assert(Seq(1L, 2L, 3L, 4L).forall(v =>
      mis(v) || edges.exists { case (a, b) =>
        (a == v && mis(b)) || (b == v && mis(a)) }))
  }

  test("linkPredict: path graph predicts the closing edge") {
    // 1—2—3: only candidate pair (1,3) via center 2 (deg 2):
    // cn = 1, ra = ⌊1e6/2⌋ = 500000; edge (1,2) itself is excluded
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val r = GraphAlgos.linkPredict(edges, maxDf = 10, k = 5)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(r == List((1L, 3L, 1L, 500000L)))
  }

  test("linkPredict: hub cap drops wedges centered on hot nodes") {
    // star center 1 with leaves 2..5: all wedges center on 1 (deg 4);
    // maxDf = 3 excludes it → no candidates
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("a", "b")
    assert(GraphAlgos.linkPredict(edges, maxDf = 3, k = 5).count() == 0L)
  }

  test("degreeAssortativity: star K1,3 is perfectly disassortative") {
    // stubs M=6, du over stubs [3,3,3,1,1,1]: sx=12, sxy=18, sxx=30
    // r = (6·18 − 144) / (6·30 − 144) = −36/36 = −1
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val row = GraphAlgos.degreeAssortativity(edges)
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(row == ((6L, 12L, 18L, 30L, -1.0)))
  }

  test("modularity: two triangles joined by a bridge") {
    // communities {1,2,3} and {4,5,6}; 7 undirected edges (two_m = 14)
    // per community: e_c = 3, deg_sum = 7
    //   q = 6*1e6 div 14 - (7*1e6 div 14)*7 div 14 = 428571-250000 = 178571
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L),
      (4L, 6L), (3L, 4L)).map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "lbl")
    val m = GraphAlgos.modularity(g, Seq("E"), labels)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(m == Map(
      1L -> ((3L, 3L, 7L, 178571L)), 4L -> ((3L, 3L, 7L, 178571L))))
  }

  test("maximalMatching is a matching and maximal on a random graph") {
    // deterministic pseudo-random graph: 60 edges over 30 nodes
    val es = (0L until 60L)
      .map(i => (i * 37L % 30L, i * 53L % 30L))
      .filter { case (a, b) => a != b }
    val out = GraphAlgos.maximalMatching(es.toDF("a", "b"), rounds = 10)
      .as[(Long, Long, Long)].collect()
    val touched = out.flatMap(e => Seq(e._1, e._2))
    // matching: no vertex appears twice
    assert(touched.distinct.length == touched.length)
    // maximal: every edge has a matched endpoint
    val t = touched.toSet
    es.foreach { case (a, b) =>
      assert(t.contains(a) || t.contains(b), s"augmenting edge ($a,$b)")
    }
  }

  test("loop operators release every checkpoint their result does not read") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.LogicalRDD
    // triangle 1-2-3 with tail 3-4: as typed rels, weighted and a<b edges
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val g = pairs.map { case (a, b) => (a, b, "E") }
      .toDF("START_ID", "END_ID", "TYPE")
    val e = pairs.toDF("src", "dst").withColumn("w", lit(1L))
    val ab = pairs.toDF("a", "b")
    val seeds = col("id") === 1L || col("id") === 4L
    val E = Seq("E")
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "pageRank" -> (() => GraphAlgos.pageRank(g, E, iters = 2)),
      "pageRankWeighted" -> (() => GraphAlgos.pageRankWeighted(e, iters = 2)),
      "labelPropagation" -> (() => GraphAlgos.labelPropagation(g, E, 2)),
      "fastRP" -> (() => GraphAlgos.fastRP(g, E, dim = 2, iters = 2)),
      "louvainMove" -> (() => GraphAlgos.louvainMove(g, E, rounds = 2)),
      "eigenvectorCentrality" ->
        (() => GraphAlgos.eigenvectorCentrality(g, E, iters = 2)),
      "dagLevels" -> (() => GraphAlgos.dagLevels(e, rounds = 3)),
      "sssp" -> (() => GraphAlgos.sssp(e, source = 1L, rounds = 3)),
      "sccColoring" -> (() => GraphAlgos.sccColoring(e, rounds = 3)),
      "bfsHops" -> (() => GraphAlgos.bfsHops(g, E, 1L, maxHops = 3)),
      "kCore" -> (() => GraphAlgos.kCore(g, E, k = 2, rounds = 3)),
      "kTruss" -> (() => GraphAlgos.kTruss(ab, k = 3, rounds = 2)),
      "hits" -> (() => GraphAlgos.hits(g, E, iters = 2)),
      "harmonicCentrality" ->
        (() => GraphAlgos.harmonicCentrality(g, E, seeds, maxHops = 3)),
      "closenessCentrality" ->
        (() => GraphAlgos.closenessCentrality(g, E, seeds, maxHops = 3)),
      "betweenness" -> (() => GraphAlgos.betweenness(g, E, seeds, 3)),
      "randomWalks" -> (() => GraphAlgos.randomWalks(g, E, 2, length = 3)),
      "node2vecWalks" -> (() => GraphAlgos.node2vecWalks(g, E, starts = 2,
        length = 3, wReturn = 2L, wStay = 8L, wFar = 4L)),
      "misLuby" -> (() => GraphAlgos.misLuby(g, E, rounds = 3)),
      "hyperBall" -> (() => GraphAlgos.hyperBall(g, E, hops = 2)),
      "jpColoring" -> (() => GraphAlgos.jpColoring(g, E, rounds = 3)),
      "maximalMatching" -> (() => GraphAlgos.maximalMatching(ab, rounds = 3)))
    val sc = spark.sparkContext
    for ((name, op) <- ops) {
      val before = sc.getPersistentRDDs.keySet
      val df = op()
      assert(df.count() > 0, name)
      val added = sc.getPersistentRDDs.keySet -- before
      val leaves = df.queryExecution.logical
        .collect { case l: LogicalRDD => l.rdd.id }.toSet
      assert(leaves.nonEmpty && added == leaves, name)
    }
  }
}
