package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions.round6

/** Graph algorithms over the long-form relationship table — the analytics
  * the reference's GDS consumers run on the graphs it serves (the
  * reference streams graphs INTO GDS for exactly this, e.g.
  * `plugin/.../gds/GdsReadJob.java`; here the engine computes them
  * in-place, Spark-first).
  *
  * Every algorithm keeps ALL arithmetic in int64 (scaled ranks, integer
  * weights, floor division) so a DuckDB oracle replays it bit-for-bit —
  * the same cross-engine exactness recipe as the trained-IVF and
  * connected-components gates (Similarity.ivfTrained, Dedup.clusters).
  *
  * Scale design (100 TB):
  *  - Iterative loops run on the [[Rounds]] driver: each round's state is
  *    pinned by an eager localCheckpoint (O(|V|) rows, the small side)
  *    and released once nothing can read it; the driver also owns the
  *    frontier count, the broadcast hint and the loop-body plan dump.
  *  - Each round is one equi-join (edges ⋈ state on src) + one hash
  *    aggregate — the canonical Pregel step as Catalyst sees it. Edges
  *    stay partitioned by src across rounds; no driver-side collection.
  *  - PageRank contributions use map-side partial aggregation (sum is
  *    associative); rank updates join per-node, never per-edge.
  *  - Triangle counting orients edges by DEGREE (lower-degree endpoint
  *    first, ties by id), bounding per-node out-degree at O(√m) and the
  *    wedge set at O(m^1.5); the triangle set is orientation-invariant,
  *    so the exact oracle verifies the plan without replicating it.
  */
object GraphAlgos {
  import Rounds.{hintIfSmall, PageRankBroadcastMinEdges,
    PerRoundBroadcastMinEdges}

  private def undirected(edges: DataFrame, a: String, b: String): DataFrame =
    edges.select(col(a).as("u"), col(b).as("v"))
      .union(edges.select(col(b).as("u"), col(a).as("v")))

  /** Explicit parallelism floor before an EXPLODING join (r11 opt, guide
    * §2.5): AQE sizes post-shuffle partitions by input BYTES, so a
    * small-input wedge/self join coalesces to one task and its blown-up
    * output (the quadratic part) is produced serially — measured: the
    * wedge-join operators ran with wall ≈ single-core CPU. A user
    * repartition with an explicit partition count is exempt from AQE
    * coalescing; keying it by the join key means the join reuses the
    * exchange instead of adding one. At scale the inputs are large and
    * the planner would shuffle by this key anyway — this only stops the
    * small-input case from serializing. */
  private def spreadBy(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, keys: _*)

  /** Integer-quantized PageRank, fixed iteration count.
    *
    * rank_0 = scale (1e6); rank_{k+1}(v) = base + damp * Σ_{u→v} ⌊rank_k(u)
    * / outdeg(u)⌋ where base = 0.15·scale and damp·x = ⌊85·x/100⌋. All
    * int64, floor division — deterministic in any engine. Sink nodes
    * contribute nothing (no dangling redistribution; same simplification
    * as Spark's own graph examples), nodes with no in-edges hold `base`.
    *
    * @param rels long-form rel table (START_ID, END_ID, TYPE)
    */
  def pageRank(rels: DataFrame, types: Seq[String], iters: Int,
               scale: Long = 1000000L,
               seedPred: Option[Column] = None): DataFrame = Rounds.run { r =>
    val e = rels.where(col("TYPE").isin(types: _*))
      .select(col("START_ID").as("src"), col("END_ID").as("dst"))
    val nodes = r.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    // out-degree fused onto each edge once — reused by every iteration
    val eOd = r.pin(e.join(
        e.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .withColumnRenamed("src", "od_src"),
        col("src") === col("od_src"))
      .select(col("src"), col("dst"), col("d")))
    val base = (scale * 15L) / 100L
    // personalized variant: teleport mass (the `base` term and the initial
    // rank) only at seed nodes — everything else identical
    def baseCol: Column = seedPred match {
      case None => lit(base)
      case Some(p) => when(p, lit(base)).otherwise(lit(0L))
    }
    val ranks0 = nodes.withColumn("rank", seedPred match {
      case None => lit(scale)
      case Some(p) => when(p, lit(scale)).otherwise(lit(0L))
    })
    // r11 opt: the rank table is |V| rows and both loop tables are
    // checkpointed (no stats), so the planner re-shuffles the edge list
    // every iteration. |V| is known exactly — broadcast the rank side
    // (and the ≤|V|-row contribs) while it fits AND the edge list is big
    // enough for the per-iteration broadcast build to pay: measured at
    // sf0.1, a 600k-edge graph is ~0.2 s FASTER without the hint (the
    // broadcast-build job per iteration outweighs the small shuffle), so
    // the crossover sits at several million edge rows — scale posture
    // with a local default that leaves the bench plan unchanged.
    val nodesN = nodes.count()
    val eN = eOd.count()
    def hinted(df: DataFrame): DataFrame =
      if (eN >= PageRankBroadcastMinEdges) hintIfSmall(df, nodesN) else df
    r.fixed(ranks0, iters, "pagerank_loop_body") { ranks =>
      val contribs = eOd
        .join(hinted(ranks.withColumnRenamed("id", "r_id")),
          col("src") === col("r_id"))
        .select(col("dst"), expr("rank div d").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      nodes
        .join(hinted(contribs), col("id") === col("dst"), "left")
        .select(col("id"),
          (baseCol + expr("85 * coalesce(csum, 0L) div 100")).as("rank"))
    }
  }

  /** Weighted PageRank: contribution of u→v is ⌊rank(u)·w(u,v) /
    * Σw(u,·)⌋ — per-edge floor (replayable) instead of a float fraction.
    * Same teleport/damping integer scheme as [[pageRank]]; weights are
    * int64 (quantize floats upstream). */
  def pageRankWeighted(edges: DataFrame, iters: Int,
                       scale: Long = 1000000L): DataFrame = Rounds.run { r =>
    val e = edges.select(col("src"), col("dst"), col("w"))
    val nodes = r.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    val eW = r.pin(e.join(
        e.groupBy(col("src")).agg(sum(col("w")).as("wsum"))
          .withColumnRenamed("src", "ws_src"),
        col("src") === col("ws_src"))
      .select(col("src"), col("dst"), col("w"), col("wsum")))
    val base = (scale * 15L) / 100L
    // known-size broadcast hints + crossover — see pageRank
    val nodesN = nodes.count()
    val eN = eW.count()
    def hinted(df: DataFrame): DataFrame =
      if (eN >= PageRankBroadcastMinEdges) hintIfSmall(df, nodesN) else df
    r.fixed(nodes.withColumn("rank", lit(scale)), iters,
        "pagerank_weighted_loop_body") { ranks =>
      val contribs = eW
        .join(hinted(ranks.withColumnRenamed("id", "r_id")),
          col("src") === col("r_id"))
        .select(col("dst"), expr("(rank * w) div wsum").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("csum"))
      nodes
        .join(hinted(contribs), col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(base) + expr("85 * coalesce(csum, 0L) div 100")).as("rank"))
    }
  }

  /** GDS nodeSimilarity analog: Jaccard similarity of neighbor sets over
    * a bipartite projection — for parts sharing suppliers, documents
    * sharing shingles, users sharing items. Inverted-index shape (join
    * through the shared neighbor, never node×node), with a frequency cap
    * on hub neighbors exactly like `Dedup.ngramJaccard`'s DF cap: a
    * neighbor shared by n nodes contributes n² candidate pairs, so hubs
    * above `maxDf` are dropped from CANDIDATE GENERATION while degrees
    * stay pre-cap — pairs whose overlap survives the cap keep exact
    * denominators. Returns (a, b, inter, jac) for jac ≥ threshold. */
  def nodeSimilarity(edges: DataFrame, threshold: Double,
                     maxDf: Int): DataFrame = {
    val e = edges.select(col("node"), col("nb")).distinct()
      .localCheckpoint(true)
    val deg = e.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val hot = e.groupBy(col("nb")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select(col("nb"))
    val capped = e.join(hot, Seq("nb"), "left_anti")
    val inter = capped.as("x")
      .join(capped.as("y"),
        col("x.nb") === col("y.nb") && col("x.node") < col("y.node"))
      .groupBy(col("x.node").as("a"), col("y.node").as("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("inter"),
        round6(col("inter").cast("double") /
          (col("da") + col("db") - col("inter"))).as("jac"))
      .where(col("jac") >= threshold)
  }

  /** k-core: iteratively peel nodes with degree < k (fixed rounds — at
    * convergence this is the exact k-core; bounded rounds are the
    * deterministic, oracle-replayable prefix). Returns surviving (id,
    * deg) after `rounds` peels of the undirected graph. */
  def kCore(rels: DataFrame, types: Seq[String], k: Int,
            rounds: Int): DataFrame = Rounds.run { r =>
    var und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    // same monotone early exit as kTruss: an unchanged count after a
    // peel round means an unchanged set, so remaining rounds are no-ops
    var prev = und.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      // r11 opt: the survivor set is ≤ the (shrinking) node count while
      // the edge list is the big side, but both derive from checkpointed
      // tables with no stats, so the planner shuffled the edge list for
      // both endpoint filters. Materialize surv once (checkpoint — it is
      // consumed twice) and broadcast it while small: the edge list then
      // streams through BOTH endpoint filters in one scan.
      val surv = r.pin(und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("u")))
      val survN = surv.count()
      und = r.pin(und
        .join(hintIfSmall(surv.withColumnRenamed("u", "su"), survN),
          col("u") === col("su"))
        .drop("su")
        .join(hintIfSmall(surv.withColumnRenamed("u", "sv"), survN),
          col("v") === col("sv"))
        .drop("sv"), "kcore_loop_body")
      val n = und.count()
      converged = n == prev
      prev = n
    }
    und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** Triangle count over an undirected simple graph given as distinct
    * low→high edges (a < b). DEGREE-ORDERED orientation: each edge points
    * from its lower-degree endpoint to the higher (ties by id), so every
    * node's out-degree is O(√m) and the wedge set is O(m^1.5) — the
    * classic bound; orienting by raw id instead lets one high-id hub
    * hold Θ(n) out-edges and the wedge join go quadratic. Each triangle
    * has exactly one pivot with both edges outgoing, so counting
    * pivot-wedges closed by a canonical edge counts each triangle once.
    * The triangle SET is orientation-invariant — the same exact oracle
    * verifies either plan. Returns one row: n_edges, n_triangles. */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).localCheckpoint(true)
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    // orient lower-(deg, id) → higher-(deg, id)
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("x"), col("b").as("y")))
          .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("o"))
      .select(col("o.x").as("x"), col("o.y").as("y"))
      .localCheckpoint(true)
    val or1 = spreadBy(oriented, col("x"))
    val wedges = or1.as("o1")
      .join(or1.as("o2"),
        col("o1.x") === col("o2.x") && col("o1.y") < col("o2.y"))
      .select(col("o1.y").as("wa"), col("o2.y").as("wb"))
    val tri = wedges.join(e.as("e3"),
      col("wa") === col("e3.a") && col("wb") === col("e3.b"))
    // both counts in ONE aggregate over a tagged union — no 1×1 join
    e.select(lit(1L).as("is_edge"), lit(0L).as("is_tri"))
      .union(tri.select(lit(0L).as("is_edge"), lit(1L).as("is_tri")))
      .agg(sum(col("is_edge")).as("n_edges"),
        sum(col("is_tri")).as("n_triangles"))
  }

  /** 4-cycle (rectangle) count over an undirected simple graph given as
    * distinct low→high edges (a < b) — the quadrilateral-motif statistic
    * (bipartite-ish community signal where triangles are rare).
    *
    * Chiba–Nishizeki-shaped orientation bound: every rectangle is
    * counted exactly once at its degree-order-MINIMAL vertex x — wedges
    * x→v–c are generated only from oriented edges x→v (so v > x in
    * (deg, id) order) into the center's full adjacency filtered to
    * c > x, and Σ_{(x,c)} C(paths, 2) then counts each rectangle once
    * (its two centers both rank above the minimal vertex, its diagonal
    * partner too — no other vertex can claim the cycle). The wedge set
    * is the neighbors-of-out-neighbors scan that underlies the classic
    * O(α·m) bound, instead of the Σ deg² blowup of naive all-wedge
    * generation from hub centers. Returns one row: (n_edges,
    * n_rectangles). */
  def fourCycleCount(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).localCheckpoint(true)
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    // orient lower-(deg, id) → higher, keeping the tail's degree for the
    // endpoint-order filter below
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("x"), col("da").as("dx"), col("b").as("y")))
          .otherwise(
            struct(col("b").as("x"), col("db").as("dx"), col("a").as("y")))
          .as("o"))
      .select(col("o.x").as("x"), col("o.dx").as("dx"), col("o.y").as("y"))
    val und = e.select(col("a").as("u"), col("b").as("c"))
      .union(e.select(col("b").as("u"), col("a").as("c")))
      .join(deg.select(col("n").as("c"), col("deg").as("dc")), "c")
    val wedges = spreadBy(oriented, col("y"))
      .join(spreadBy(und, col("u")), col("y") === col("u"))
      .where(col("c") =!= col("x") &&
        struct(col("dc"), col("c")) > struct(col("dx"), col("x")))
      .select(col("x"), col("c"))
    val cnts = wedges.groupBy(col("x"), col("c"))
      .agg(count(lit(1)).as("cnt"))
    // both counts in ONE aggregate over a tagged union — no 1×1 join
    e.select(lit(1L).as("is_edge"), lit(0L).as("r"))
      .union(cnts.select(lit(0L).as("is_edge"),
        expr("cnt * (cnt - 1) div 2").as("r")))
      .agg(sum(col("is_edge")).as("n_edges"),
        sum(col("r")).as("n_rectangles"))
  }

  /** Local clustering coefficient per node — triangles(v) against the
    * wedge capacity deg(v)·(deg(v)−1)/2, the per-node cohesion score
    * (GDS exposes it as localClusteringCoefficient). Input: canonical
    * a<b undirected edges, like [[triangleCount]].
    *
    * Same degree-ordered orientation and O(m^1.5) wedge join as
    * [[triangleCount]]; each closed wedge yields its 3 corners through
    * one explode (3 rows per triangle — no second pass, no per-corner
    * join), then one count aggregate. The coefficient is exact ppm via
    * integer division, so any engine agrees bit-for-bit. Returns
    * (node, deg, n_tri, cc_ppm). */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).localCheckpoint(true)
    val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("x"), col("b").as("y")))
          .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("o"))
      .select(col("o.x").as("x"), col("o.y").as("y"))
      .localCheckpoint(true)
    val or1 = spreadBy(oriented, col("x"))
    val wedges = or1.as("o1")
      .join(or1.as("o2"),
        col("o1.x") === col("o2.x") && col("o1.y") < col("o2.y"))
      .select(col("o1.x").as("piv"), col("o1.y").as("wa"),
        col("o2.y").as("wb"))
    val triPerNode = wedges.join(e.as("e3"),
        col("wa") === col("e3.a") && col("wb") === col("e3.b"))
      .select(explode(array(col("piv"), col("wa"), col("wb"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          expr("coalesce(n_tri, 0) * 2000000 div (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("cc_ppm"))
  }

  /** BFS hop distance from a single source over the undirected projection
    * of the given rel types; nodes beyond maxHops are omitted. Classic
    * frontier expansion: visited ∪= neighbors(frontier) \ visited. */
  def bfsHops(rels: DataFrame, types: Seq[String], source: Long,
              maxHops: Int): DataFrame = Rounds.run { r =>
    val spark = rels.sparkSession
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    var visited = r.pin(spark.range(1)
      .select(lit(source).as("id"), lit(0L).as("dist")))
    var frontier = visited.select(col("id"))
    // conditional broadcast hints (r11 opt): the frontier and visited
    // counts are known exactly in the driver, but the checkpointed
    // tables carry no stats, so the planner re-shuffled the whole edge
    // list every hop. Broadcasting the (small) frontier/visited sides
    // lets the edge list stream map-side.
    var frontierN = 1L
    var visitedN = 1L
    for (k <- 1 to maxHops if frontierN > 0) {
      val next = r.pin(und
        .join(hintIfSmall(frontier.withColumnRenamed("id", "f_id"), frontierN),
          col("u") === col("f_id"))
        .select(col("v").as("id")).distinct()
        .join(hintIfSmall(visited, visitedN), Seq("id"), "left_anti")
        .select(col("id"), lit(k.toLong).as("dist")))
      visited = r.pin(visited.union(next))
      frontier = next.select(col("id"))
      // an empty frontier cannot grow again — remaining hops are no-ops
      frontierN = next.count()
      visitedN += frontierN
    }
    visited
  }

  /** Diameter lower bound by the classic double BFS sweep: BFS from
    * `source`, take the farthest reached node (max dist, ties by min
    * id), BFS again from it — the second sweep's eccentricity is a
    * tight diameter lower bound (exact on trees, near-exact on most
    * real graphs; the exact diameter is all-pairs, which does not exist
    * at 100 TB). The single-row `first()` between sweeps is an
    * algorithm-level sequential dependency (one scalar), not a data
    * collection. Returns one row (far_node, diameter_lb, n_reached). */
  def diameterEstimate(rels: DataFrame, types: Seq[String], source: Long,
                       maxHops: Int): DataFrame = {
    val b1 = bfsHops(rels, types, source, maxHops)
    val far = b1.orderBy(col("dist").desc, col("id")).limit(1)
      .select(col("id")).first().getLong(0)
    bfsHops(rels, types, far, maxHops)
      .agg(max(col("dist")).as("diameter_lb"),
        count(lit(1)).as("n_reached"))
      .select(lit(far).as("far_node"), col("diameter_lb"),
        col("n_reached"))
  }

  /** FastRP-shaped node embeddings, integer-exact. The reference's
    * headline payload IS FastRP vectors streamed out of GDS
    * (speed/26-aug-2021/README.md — "PaySim + FastRP"); this computes the
    * same random-projection + iterated-neighbor-averaging shape in the
    * engine. Deterministic analog of the float algorithm:
    *
    *  - init: e₀(v)[j] = hash(v, j) mapped into [-100, 100] (the sparse
    *    random projection, seedless integer hash);
    *  - iterate: e_k(v)[j] = ⌊ Σ_{u∈N(v)} e_{k-1}(u)[j] / deg(v) ⌋ — the
    *    neighbor-mean smoothing. Floor division over SIGNED sums diverges
    *    between engines (Spark `div` truncates, DuckDB `//` floors), so
    *    the quotient is computed as (s + C·deg) div deg − C with
    *    C = 10⁶ ≫ |values| — argument positive, trunc ≡ floor in both.
    *
    * Embeddings are kept LONG-FORM (id, j, ev) — each iteration is one
    * edge⋈state equi-join + one (node, dim) hash aggregate, partitioned
    * by node, no arrays crossing shuffles and no per-node width limit.
    * Production FastRP adds float weights and L2 normalization per
    * iterate; the integer analog keeps the dataflow identical while
    * every value stays oracle-replayable. */
  def fastRP(rels: DataFrame, types: Seq[String], dim: Int,
             iters: Int): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("d"))
    val nodes = und.select(col("u").as("id")).distinct()
    val emb0 = r.pin(nodes
      .select(col("id"), explode(sequence(lit(0), lit(dim - 1))).as("j"))
      .withColumn("ev",
        ((col("id") % 1000003L) * (col("j") + 31L) + col("j") * 7919L)
          % 1000003L % 201L - 100L))
    r.fixed(emb0, iters, "fastrp_loop_body") { emb =>
      und
        .join(emb.withColumnRenamed("id", "e_id"), col("u") === col("e_id"))
        .groupBy(col("v").as("id"), col("j")).agg(sum(col("ev")).as("s"))
        .join(deg.withColumnRenamed("u", "d_id"), col("id") === col("d_id"))
        .select(col("id"), col("j"),
          (expr("(s + 1000000 * d) div d") - 1000000L).as("ev"))
    }
  }

  /** Deterministic per-node neighbor sampling (the GraphSAGE-style fanout
    * cap a GNN training pipeline applies before neighborhood aggregation,
    * and the standard supernode tamer): for each source keep the `fanout`
    * edges with the smallest mixed hash h = (((src·1000003 + dst) mod
    * 1e9+7) · 2654435761) mod 1e9+7 — the inner mod keeps every
    * intermediate below 2^63 (DuckDB errors on BIGINT overflow; Spark
    * silently wraps — the reduced form is exact in both). Seedless,
    * uniform-ish, reproducible under retries (a rand() sample is
    * neither). Ranking goes through the
    * bounded [[TopK]] aggregate: fanout rows per node per partition
    * cross the shuffle, never a per-node window over full adjacency.
    * Returns (src, dst, rn), rn = 1..fanout in hash order. */
  def neighborSample(rels: DataFrame, types: Seq[String],
                     fanout: Int): DataFrame = {
    val e = rels.where(col("TYPE").isin(types: _*))
      .select(col("START_ID").as("src"), col("END_ID").as("dst"))
    val h = ((col("src") * 1000003L + col("dst")) % 1000000007L *
      2654435761L) % 1000000007L
    // TopK.perKey keeps the k LARGEST by ord — negate for smallest-hash
    val ranked = TopK.perKey(
      e.withColumn("negh", -h.cast("double")),
      key = "src", ord = "negh", tiebreak = "dst", payload = "dst",
      k = fanout)
    ranked.select(col("src"), col("dst"), col("rn"))
  }

  /** Synchronous label propagation (community detection), fixed rounds.
    * Init label = node id; each round every node adopts the most frequent
    * label among its undirected neighbors, ties → smallest label. The
    * synchronous schedule + integer tie-break make it deterministic (async
    * LPA famously isn't), so a DuckDB twin replays it exactly. Each round
    * is one join (edges ⋈ labels) + two hash aggregates (label counts,
    * then per-node argmax via min(struct(-cnt, lbl))). */
  def labelPropagation(rels: DataFrame, types: Seq[String],
                       rounds: Int): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val labels0 = r.pin(und.select(col("u").as("id")).distinct()
      .withColumn("lbl", col("id")))
    r.fixed(labels0, rounds, "label_prop_loop_body") { labels =>
      und
        .join(labels.withColumnRenamed("id", "l_id"), col("u") === col("l_id"))
        .groupBy(col("v"), col("lbl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("v"))
        .agg(min(struct((-col("cnt")).as("neg"), col("lbl").as("lbl")))
          .as("best"))
        .select(col("v").as("id"), col("best.lbl").as("lbl"))
    }
  }

  /** Graph contraction by a community assignment — the coarsening phase
    * that follows [[labelPropagation]]/[[louvainMove]] in multi-level
    * community pipelines: every edge maps its endpoints to their
    * community labels and the community-level multigraph aggregates to
    * (src_c, dst_c, w = Σ edge weights, n_edges). Self-rows (src_c =
    * dst_c) carry each community's internal weight — the quantity
    * modularity tracks across levels.
    *
    * Scale: two equi-joins against the (node → label) table + one hash
    * aggregate to the community graph (communities², sparse). The next
    * coarsening level runs the same operator on its own output. */
  def contractGraph(edges: DataFrame, labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("src"), col("lbl").as("src_c")),
        "src")
      .join(labels.select(col("id").as("dst"), col("lbl").as("dst_c")),
        "dst")
      .groupBy(col("src_c"), col("dst_c"))
      .agg(sum(col("w")).as("w"), count(lit(1)).as("n_edges"))

  /** HITS hubs & authorities, integer-quantized, fixed iterations.
    *
    * auth_k(v) = norm(Σ_{u→v} hub_{k-1}(u)); hub_k(u) = norm(Σ_{u→v}
    * auth_k(v)); norm(x) = ⌊x·scale / max(x)⌋ — max-normalization keeps
    * every score in [0, scale] as int64 (the usual L2 norm is float;
    * max-norm preserves the ranking HITS is used for and replays exactly
    * in any engine). hub_0 = scale everywhere. The per-round max is a
    * 1-row aggregate broadcast back with a scalar cross-join — O(1) data
    * to the driver-side plan, never a collect.
    *
    * Each half-step is the canonical Pregel round: one edges⋈state
    * equi-join + one map-side-combining sum per target. */
  def hits(rels: DataFrame, types: Seq[String], iters: Int,
           scale: Long = 1000000L): DataFrame = Rounds.run { r =>
    val e = r.pin(rels.where(col("TYPE").isin(types: _*))
      .select(col("START_ID").as("src"), col("END_ID").as("dst"))
      .distinct())
    val nodes = r.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct())
    var hub = nodes.withColumn("hub", lit(scale))
    var auth = nodes.withColumn("auth", lit(0L))
    for (_ <- 1 to iters) {
      // pinned: read twice per round (normalize join + its max)
      val araw = r.pin(e
        .join(hub.withColumnRenamed("id", "h_id"), col("src") === col("h_id"))
        .groupBy(col("dst").as("id")).agg(sum(col("hub")).as("raw")))
      auth = r.pin(nodes.join(araw, Seq("id"), "left")
        .crossJoin(broadcast(araw.agg(max(col("raw")).as("mx"))))
        .select(col("id"),
          expr(s"coalesce(raw, 0L) * ${scale}L div mx").as("auth")))
      val hraw = r.pin(e
        .join(auth.withColumnRenamed("id", "a_id"), col("dst") === col("a_id"))
        .groupBy(col("src").as("id")).agg(sum(col("auth")).as("raw")))
      hub = r.pin(nodes.join(hraw, Seq("id"), "left")
        .crossJoin(broadcast(hraw.agg(max(col("raw")).as("mx"))))
        .select(col("id"),
          expr(s"coalesce(raw, 0L) * ${scale}L div mx").as("hub")))
    }
    hub.join(auth, "id").select(col("id"), col("hub"), col("auth"))
  }

  /** Eigenvector centrality by max-normalized integer power iteration
    * over the SYMMETRIZED graph (the GDS `eigenvector` consumer): x⁰ =
    * scale everywhere; x^k(v) = ⌊scale·Σ_{u~v} x^{k-1}(u) / max_w
    * Σ_{u~w} x^{k-1}(u)⌋. Max-normalization (the same integer trick as
    * [[hits]]) keeps every score in [0, scale] exactly — the usual L2
    * norm is float and would drift cross-engine. Fixed iterations:
    * power iteration converges to the principal adjacency eigenvector
    * at the |λ₂/λ₁| rate (bipartite components oscillate with period 2
    * — deterministic either way, and the oracle replays the SAME
    * rounds). Symmetrized because a DAG-shaped directed graph (our
    * supplier→nation→region projection) drains to zero under Aᵀ-power
    * — eigenvector centrality is an undirected-connectivity notion
    * here, like GDS's default orientation handling.
    *
    * Each round is one edges⋈state equi-join + a map-side-combining sum
    * + a 1-row broadcast max — the Pregel shape, no windows, no
    * collects. */
  def eigenvectorCentrality(rels: DataFrame, types: Seq[String],
                            iters: Int, scale: Long = 1000000L)
      : DataFrame = Rounds.run { r =>
    val e0 = rels.where(col("TYPE").isin(types: _*))
      .select(col("START_ID").as("src"), col("END_ID").as("dst"))
    val e = r.pin(e0.unionByName(e0.select(col("dst").as("src"),
        col("src").as("dst")))
      .distinct())
    // symmetric: src covers every node
    val nodes = r.pin(e.select(col("src").as("id")).distinct())
    r.fixed(nodes.withColumn("score", lit(scale)), iters,
        "eigenvector_loop_body") { x =>
      // pinned: read twice (normalize + its max)
      val c = r.pin(e
        .join(x.withColumnRenamed("id", "x_id"), col("src") === col("x_id"))
        .groupBy(col("dst").as("id")).agg(sum(col("score")).as("raw")))
      nodes.join(c, Seq("id"), "left")
        .crossJoin(broadcast(c.agg(max(col("raw")).as("mx"))))
        .select(col("id"),
          expr(s"coalesce(raw, 0L) * ${scale}L div mx").as("score"))
    }
  }

  /** Shared multi-source BFS over the undirected projection of `types`
    * edges: exact hop distances d(s, v) ≤ maxHops from every seed
    * (selected by `seedPred` over the node set). Frontier state is
    * (seed, node) keyed — |seeds|·|reached| rows, each level one join +
    * one anti-join, level results pinned by localCheckpoint so the
    * lineage never re-runs earlier levels. The single BFS engine behind
    * [[harmonicCentrality]] and [[closenessCentrality]] (r7 verdict: the
    * two loops had diverged into copy-paste); both consumers are folds
    * over the returned (s, id, dist) table. */
  private def multiSourceBfs(rels: DataFrame, types: Seq[String],
                             seedPred: Column, maxHops: Int)
      : DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val seeds = und.select(col("u").as("id")).distinct().where(seedPred)
    var visited = r.pin(seeds
      .select(col("id").as("s"), col("id"), lit(0L).as("dist")))
    var frontier = visited.select(col("s"), col("id"))
    for (k <- 1 to maxHops) {
      val next = r.pin(und
        .join(frontier.withColumnRenamed("id", "f_id"),
          col("u") === col("f_id"))
        .select(col("s"), col("v").as("id")).distinct()
        .join(visited, Seq("s", "id"), "left_anti")
        .withColumn("dist", lit(k.toLong)))
      visited = r.pin(visited.union(next))
      frontier = next.select(col("s"), col("id"))
    }
    visited
  }

  /** Harmonic centrality from a bounded seed set: harm(v) = Σ_{s∈seeds,
    * 0<d(s,v)≤maxHops} ⌊scale/d(s,v)⌋ over the undirected projection.
    * Computing from ALL nodes is O(n·BFS) — the standard scale play is a
    * sampled/bounded source set (seeds here; HyperBall's sketches are the
    * probabilistic alternative), which is exactly how GDS sizes closeness
    * at scale. One fold over [[multiSourceBfs]] — distances are exact,
    * so ⌊scale/d⌋ sums replay in any engine.
    * Returns (id, harmonic, n_reached). */
  def harmonicCentrality(rels: DataFrame, types: Seq[String],
                         seedPred: Column, maxHops: Int,
                         scale: Long = 1000000L): DataFrame =
    multiSourceBfs(rels, types, seedPred, maxHops)
      .where(col("dist") > 0)
      .groupBy(col("id"))
      .agg(sum(expr(s"${scale}L div dist")).as("harmonic"),
        count(lit(1)).as("n_reached"))

  /** Seed-bounded CLOSENESS centrality — the companion GDS consumer to
    * [[harmonicCentrality]] (same bounded-source discipline: all-pairs
    * closeness is O(n·BFS); production sizes it from a seed sample):
    * for each node v reached within `maxHops` of the seed set,
    *   closeness(v) = ⌊n_reached(v)·scale / Σ_{s} d(s, v)⌋
    * — the Wasserman–Faust reachable-set normalization, exact int64.
    * Nodes reached by more seeds over shorter paths rank higher;
    * 1-row-per-reached-node output carries (sum_dist, n_reached,
    * closeness) so the raw moments replay too. The second fold over
    * [[multiSourceBfs]]. */
  def closenessCentrality(rels: DataFrame, types: Seq[String],
                          seedPred: Column, maxHops: Int,
                          scale: Long = 1000000L): DataFrame =
    multiSourceBfs(rels, types, seedPred, maxHops)
      .where(col("dist") > 0)
      .groupBy(col("id"))
      .agg(sum(col("dist")).as("sum_dist"), count(lit(1)).as("n_reached"))
      .select(col("id"), col("sum_dist"), col("n_reached"),
        expr(s"n_reached * ${scale}L div sum_dist").as("closeness"))

  /** Modularity of a community assignment (the quality score label
    * propagation / Louvain optimize): per community c,
    * Q_c = e_c/m − (deg_c/2m)² with e_c = internal edges, deg_c = degree
    * sum, m = total undirected edges. Integer-quantized per community as
    * q_scaled = ⌊2e_c·scale/2m⌋ − ⌊⌊deg_c·scale/2m⌋·deg_c/2m⌋ — nested
    * floors keep every intermediate ≤ scale·deg_c (no deg_c²·scale
    * overflow at large m) and replay exactly with `//`. Σ_c q_scaled ≈
    * Q·scale within |communities| ulps of 1/scale.
    *
    * One labels⋈labels-through-edges join + two hash aggregates; the
    * 1-row edge total broadcasts back via scalar cross-join. */
  def modularity(rels: DataFrame, types: Seq[String],
                 labels: DataFrame,
                 scale: Long = 1000000L): DataFrame = {
    val und = undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct().localCheckpoint(true)
    val deg = und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    // internal DIRECTED pairs per community (= 2·e_c: und holds both
    // directions of every edge and self-loops are impossible here)
    val internal = und
      .join(labels.select(col("id").as("u2"), col("lbl").as("lu")),
        col("u") === col("u2"))
      .join(labels.select(col("id").as("v2"), col("lbl").as("lv")),
        col("v") === col("v2"))
      .where(col("lu") === col("lv"))
      .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("int_dir"))
    val stats = labels
      .join(deg, "id")
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      .join(internal, Seq("lbl"), "left")
      .withColumn("int_dir", coalesce(col("int_dir"), lit(0L)))
    stats
      .crossJoin(broadcast(und.agg(count(lit(1)).as("two_m"))))
      .select(col("lbl").as("community"), col("n_nodes"),
        expr("int_dir div 2").as("internal_edges"), col("deg_sum"),
        (expr(s"int_dir * ${scale}L div two_m") -
          expr(s"(deg_sum * ${scale}L div two_m) * deg_sum div two_m"))
          .as("q_scaled"))
  }

  /** Seeded Brandes betweenness centrality, integer-quantized. Exact
    * all-pairs betweenness is O(n·m) — the scale play (identical to GDS's
    * sampled betweenness and [[harmonicCentrality]]'s bounded seeds) is a
    * bounded source set and hop radius.
    *
    * Forward phase: multi-source BFS keyed (seed, node) carrying σ = the
    * number of shortest paths from the seed (σ(v) = Σ σ(u) over
    * predecessors — one join + hash aggregate per level, the textbook
    * level-synchronous path-count recurrence). Backward phase: dependency
    * accumulation per level d = maxHops−1 … 1,
    * δ(u) = Σ_w ⌊σ(u)·(scale + δ(w)) / σ(w)⌋ over successors w — the
    * per-edge floor replaces Brandes' rational accumulation so every
    * value is int64 and replays exactly in any engine (the float version
    * is order-sensitive). BC(v) = Σ_seeds δ_s(v); seeds themselves
    * accumulate only as intermediates of OTHER seeds, as in Brandes.
    *
    * Every level (both directions) is one equi-join through the edge list
    * + one hash aggregate; state is (seed, node) rows — |seeds|·|reach|,
    * the deliberate bound. Returns (id, bc_scaled) for nodes with a
    * nonzero dependency row. */
  def betweenness(rels: DataFrame, types: Seq[String], seedPred: Column,
                  maxHops: Int, scale: Long = 1000000L)
      : DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val seeds = und.select(col("u").as("id")).distinct().where(seedPred)
    // forward: levels(d) = (s, id, sigma) at exact distance d
    var levels = Vector(r.pin(seeds
      .select(col("id").as("s"), col("id"), lit(1L).as("sigma"))))
    var visited = levels(0).select(col("s"), col("id"))
    for (_ <- 1 to maxHops) {
      val next = r.pin(und
        .join(levels.last.withColumnRenamed("id", "f_id"),
          col("u") === col("f_id"))
        .groupBy(col("s"), col("v").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("s", "id"), "left_anti"))
      visited = r.pin(visited.union(next.select(col("s"), col("id"))))
      levels = levels :+ next
    }
    // backward: dep carries (s, id, sigma, dep) for ONE level at a time,
    // starting all-zero at the deepest; each step joins level d to its
    // successors' dep rows and zero-fills nodes without successors (their
    // scale term must still flow up on the next step)
    val undE = und.select(col("u").as("eu"), col("v").as("ev"))
    var dep = levels.last.withColumn("dep", lit(0L))
    var acc = Vector.empty[DataFrame]
    for (d <- (maxHops - 1) to 1 by -1) {
      val contrib = levels(d)
        .join(undE, col("id") === col("eu"))
        .join(dep.select(col("s").as("ws"), col("id").as("wid"),
            col("sigma").as("wsigma"), col("dep").as("wdep")),
          col("s") === col("ws") && col("ev") === col("wid"))
        .select(col("s"), col("id"),
          expr(s"sigma * (${scale}L + wdep) div wsigma").as("c"))
        .groupBy(col("s"), col("id")).agg(sum(col("c")).as("c"))
      dep = r.pin(levels(d)
        .join(contrib.withColumnRenamed("c", "dep"), Seq("s", "id"), "left")
        .select(col("s"), col("id"), col("sigma"),
          coalesce(col("dep"), lit(0L)).as("dep")))
      acc = acc :+ dep.select(col("s"), col("id"), col("dep"))
    }
    acc.reduceOption(_ union _)
      .getOrElse(dep.select(col("s"), col("id"), col("dep")).limit(0))
      .groupBy(col("id")).agg(sum(col("dep")).as("bc_scaled"))
  }

  /** Louvain-style local-move community detection: the move phase of
    * Louvain/Leiden run as synchronous rounds (GDS louvain's inner loop).
    * Communities start as singletons; each round every node considers its
    * neighbors' communities plus its own and adopts the one maximizing
    * modularity gain.
    *
    * The gain comparison needs NO quantization: for candidate community c
    * of node v, ΔQ(v→c) differs from a constant by (k_vc − deg_v·tot_c /
    * 2m) / m, so comparing g(c) = 2m·k_vc − deg_v·tot_c (with tot reduced
    * by deg_v for v's own community — v must not count itself) ranks
    * candidates exactly in int64. Ties break toward the smallest
    * community id; the synchronous schedule makes the result
    * deterministic and oracle-replayable (sequential Louvain is neither).
    *
    * Each round = two equi-joins through the edge list + three hash
    * aggregates (community totals, neighbor-community counts, per-node
    * argmax) — the Pregel step shape; state (labels) is O(|V|) and
    * checkpointed per round. Overflow bound: 2m·k_vc ≤ 2m·deg_max —
    * fine in int64 until m·deg_max ~ 4·10^18 (document at ingest).
    *
    * Returns (id, lbl) after `rounds` synchronous move rounds. */
  def louvainMove(rels: DataFrame, types: Seq[String],
                  rounds: Int): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val deg = r.pin(
      und.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg")))
    val twoM = und.agg(count(lit(1)).as("two_m"))
    val labels0 = r.pin(deg.select(col("id"), col("id").as("lbl")))
    r.fixed(labels0, rounds, "louvain_move_loop_body") { labels =>
      val tot = labels
        .join(deg.withColumnRenamed("id", "d_id"), col("id") === col("d_id"))
        .groupBy(col("lbl")).agg(sum(col("deg")).as("tot"))
      // k_vc: how many of v's neighbors sit in community c
      val nbl = und
        .join(labels.withColumnRenamed("id", "l_id"), col("v") === col("l_id"))
        .groupBy(col("u").as("id"), col("lbl"))
        .agg(count(lit(1)).as("kc"))
      // candidates = neighbor communities ∪ own (own may have kc = 0
      // after round 1; max() keeps the real count when both rows exist)
      val cand = nbl
        .union(labels.select(col("id"), col("lbl"), lit(0L).as("kc")))
        .groupBy(col("id"), col("lbl")).agg(max(col("kc")).as("kc"))
      cand
        .join(labels.select(col("id"), col("lbl").as("own")), "id")
        .join(deg.select(col("id"), col("deg")), "id")
        .join(tot, "lbl")
        .crossJoin(broadcast(twoM))
        .select(col("id"), col("lbl"),
          (col("two_m") * col("kc") - col("deg") *
            when(col("lbl") === col("own"), col("tot") - col("deg"))
              .otherwise(col("tot"))).as("score"))
        .groupBy(col("id"))
        .agg(min(struct((-col("score")).as("neg"), col("lbl").as("lbl")))
          .as("best"))
        .select(col("id"), col("best.lbl").as("lbl"))
    }
  }

  /** k-truss decomposition (bounded peel rounds): iteratively drop edges
    * supported by fewer than k−2 triangles — the cohesive-subgraph
    * refinement of k-core (every surviving edge sits in ≥ k−2 triangles
    * of the surviving graph). At convergence this is the exact k-truss;
    * bounded rounds are the deterministic, oracle-replayable prefix
    * (same contract as [[kCore]]).
    *
    * Each round re-enumerates triangles with the DEGREE-ORDERED wedge
    * join of [[triangleCount]] — per-pivot out-degree O(√m), wedge set
    * O(m^1.5) — then counts support per canonical edge with one explode
    * + hash aggregate. The triangle SET is orientation-invariant, so an
    * id-oriented oracle verifies the degree-oriented plan. Input must be
    * distinct canonical edges (a < b); returns the surviving edges. */
  def kTruss(edges: DataFrame, k: Int,
             rounds: Int): DataFrame = Rounds.run { r =>
    require(k >= 3, "k-truss needs k >= 3")
    var e = r.pin(edges.select(col("a"), col("b")).distinct())
    // early exit once a round peels nothing: peeling is monotone
    // (edges only leave), so an unchanged count means an unchanged SET
    // and every further round is an identity — the result is exactly
    // the fixed-`rounds` result without paying the remaining wedge
    // joins. The count is O(1) on the checkpointed edge list.
    var prev = e.count()
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val deg = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val oriented = r.pin(e
        .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
        .select(
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            struct(col("a").as("x"), col("b").as("y")))
            .otherwise(struct(col("b").as("x"), col("a").as("y"))).as("o"))
        .select(col("o.x").as("x"), col("o.y").as("y")))
      val or1 = spreadBy(oriented, col("x"))
      val tri = or1.as("o1")
        .join(or1.as("o2"),
          col("o1.x") === col("o2.x") && col("o1.y") < col("o2.y"))
        .select(col("o1.x").as("p"), col("o1.y").as("q"), col("o2.y").as("r"))
        .join(e.as("e3"),
          col("q") === col("e3.a") && col("r") === col("e3.b"))
        .select(col("p"), col("q"), col("r"))
      val sup = tri
        .select(explode(array(
          struct(least(col("p"), col("q")).as("a"),
            greatest(col("p"), col("q")).as("b")),
          struct(least(col("p"), col("r")).as("a"),
            greatest(col("p"), col("r")).as("b")),
          struct(col("q").as("a"), col("r").as("b")))).as("pe"))
        .groupBy(col("pe.a").as("a"), col("pe.b").as("b"))
        .agg(count(lit(1)).as("support"))
      e = r.pin(e.join(sup, Seq("a", "b"))
        .where(col("support") >= k - 2)
        .select(col("a"), col("b")))
      val n = e.count()
      converged = n == prev
      prev = n
    }
    e
  }

  /** Deterministic random-walk corpus (the DeepWalk/node2vec data-prep
    * step: walk sequences that feed a skip-gram embedding trainer).
    * Instead of RNG state — which task retries and repartitioning both
    * corrupt — the next hop INDEXES into the node's sorted neighbor
    * array at a seedless mixed hash of (walk, step) mod degree:
    * uniform over neighbors, reproducible, replayable by any engine.
    *
    * This is the alias-table shape every at-scale walk engine uses:
    * adjacency is aggregated ONCE into per-node arrays (the W2 CSR
    * build), and each step is one equi-join of |walks| rows against it —
    * O(1) per walk per step. The previous form scored EVERY neighbor
    * per walk per step (an argmin over a frontier ⋈ adjacency fan-out of
    * Σ deg(cur) rows — a walk parked on a hub re-evaluated the hub's
    * whole adjacency each hop; measured 2× slower at sf0.1). A hub's
    * array row is the standard CSR hub tradeoff — see
    * `GraphRef.adjacencyChunked` for the bounded variant.
    *
    * Walks start `starts` times per origin node and run `length` hops
    * (stopping only if a node has no out-edges — impossible on an
    * undirected projection). Returns long-form (walk_id, step, node). */
  def randomWalks(rels: DataFrame, types: Seq[String], starts: Int,
                  length: Int): DataFrame = Rounds.run { r =>
    val und = undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct()
    val nbArr = r.pin(und.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("nb"))
      .select(col("u").as("node"), col("nb")))
    val origins = nbArr.select(col("node").as("id"))
    var cur = r.pin(origins
      .select(explode(sequence(lit(0), lit(starts - 1))).as("w"),
        col("id"))
      .select((col("id") * starts + col("w")).as("walk_id"),
        col("id").as("node")))
    var out = cur.withColumn("step", lit(0L))
    for (k <- 1 to length) {
      val h = ((col("walk_id") * 31L + lit(k.toLong)) % 1000000007L *
        2654435761L) % 1000000007L
      cur = r.pin(cur
        .join(nbArr, Seq("node"))
        .select(col("walk_id"),
          element_at(col("nb"), (h % size(col("nb")) + 1L).cast("int"))
            .as("node")))
      out = out.union(cur.withColumn("step", lit(k.toLong)))
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** node2vec second-order biased walks (Grover & Leskovec, KDD 2016 —
    * public literature): the hop out of `cur`, given the walk arrived
    * from `prev`, draws candidate c with unnormalized weight 1/p if
    * c = prev (return), 1 if c ∈ N(prev) (triangle edge — BFS-ish), 1/q
    * otherwise (explore outward — DFS-ish). Weights are INTEGER
    * literals (wReturn, wStay, wFar) = (q, p·q, p) pre-scaled by p·q so
    * the cumulative-weight draw replays exactly in SQL. Step 1 has no
    * second-order context and is the uniform [[randomWalks]] hop.
    *
    * The draw r = mix(walk_id, k) mod Σw picks the first candidate
    * whose cumulative weight exceeds r — ONE O(deg) array fold per walk
    * per step (no explode, no window, no per-candidate rows): weights
    * via `transform` + `array_contains` against N(prev), the pick via
    * an `aggregate` fold carrying (cumsum, chosen).
    *
    * Scale: each step is two nbArr equi-joins (cur side and prev side)
    * plus the narrow fold; walk state is (walk_id, prev, cur). The
    * membership test costs O(deg(cur)·deg(prev)) per hub step — the
    * usual supernode caveat. `maxNb` is the cap: ≤ maxNb neighbors per
    * node survive (smallest deterministic per-edge hash draw first), so
    * both the adjacency row width and the per-step fold are bounded —
    * the sampled-fan-out walk the literature prescribes for hubs, and
    * exactly replayable by an oracle applying the same hash rank.
    * Returns (walk_id, step, node). */
  def node2vecWalks(rels: DataFrame, types: Seq[String], starts: Int,
                    length: Int, wReturn: Long, wStay: Long,
                    wFar: Long,
                    originPred: Option[Column] = None,
                    maxNb: Int = Int.MaxValue): DataFrame = Rounds.run { r =>
    val und = undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct()
    // Hub-proofing (r7 verdict #4): uncapped, a 10⁷-degree hub
    // materializes its WHOLE adjacency in one row. maxNb keeps the
    // per-node array bounded by sampling ≤ maxNb neighbors with the
    // smallest deterministic per-edge hash draw — the node2vec
    // neighbor-sampling norm (GraphSAGE-style fan-out), replayable
    // exactly in SQL (hash asc, id asc through the bounded TopK
    // partial aggregate — k rows per node per partition cross the
    // shuffle, never the hub's degree).
    val nbEdges =
      if (maxNb == Int.MaxValue) und
      else TopK.perKey(
        und.withColumn("neg_hv",
          -((((col("u") * 1000003L + col("v")) % 1000000007L) *
            2654435761L) % 1000000007L)),
        key = "u", ord = "neg_hv", tiebreak = "v", payload = "v",
        k = maxNb)
        .select(col("u"), col("v"))
    val nbArr = r.pin(nbEdges.groupBy(col("u"))
      .agg(sort_array(collect_set(col("v"))).as("nb"))
      .select(col("u").as("node"), col("nb")))
    // originPred bounds the WALK SET (sampled-origin training is the
    // norm); per-step cost still rides hub degrees — see class note
    val origins0 = nbArr.select(col("node").as("id"))
    var cur = r.pin(originPred.fold(origins0)(p => origins0.where(p))
      .select(explode(sequence(lit(0), lit(starts - 1))).as("w"), col("id"))
      .select((col("id") * starts + col("w")).as("walk_id"),
        col("id").as("prev"), col("id").as("node")))
    var out = cur.select(col("walk_id"), lit(0L).as("step"), col("node"))
    for (k <- 1 to length) {
      val h = ((col("walk_id") * 31L + lit(k.toLong)) % 1000000007L *
        2654435761L) % 1000000007L
      val stepped =
        if (k == 1)
          cur.join(nbArr, Seq("node"))
            .select(col("walk_id"), col("node").as("prev"),
              element_at(col("nb"),
                (h % size(col("nb")) + 1L).cast("int")).as("node"))
        else {
          val nbPrev = nbArr.select(col("node").as("prev"),
            col("nb").as("nbp"))
          // LAMBDA-BINDING RULE (hard-won): `transform` lambdas resolve
          // outer ARRAY columns (nbi) correctly; `aggregate` lambdas do
          // NOT — an outer array referenced inside an aggregate's merge
          // mis-binds (observed: nbp resolving to nb, inflating stay
          // weights). So the ONE transform below builds the (c, w)
          // struct array — weights computed inline, no separate weight
          // or zip arrays — and both folds touch only that array plus
          // SCALAR staged columns (tot, r), which bind fine.
          //
          // r11 opt, two parts. (1) The triangle test is ONE hash
          // intersection per row (nbi = nb ∩ nbp) instead of an
          // O(deg(cur)·deg(prev)) array_contains per candidate — a
          // hub→hub step went quadratic in the hub degrees. c ranges
          // over nb, so c ∈ nbp ⟺ c ∈ nbi. nbp is dropped before the
          // shuffle (project early). (2) The explicit dp-way repartition
          // between the nbi projection and the fold: AQE sizes
          // post-shuffle partitions by input BYTES, so the tiny walk
          // set coalesced to one task and the whole per-row fold ran
          // serially (measured: wall ≈ executor CPU ≈ 13 s on one
          // core); a user repartition with explicit N is exempt. It
          // also blocks CollapseProject from re-inlining nbi into the
          // per-element lambda. At scale the walk set is large and
          // this is a parallelism floor, not a reorg.
          val dp = rels.sparkSession.sparkContext.defaultParallelism
          val staged = cur.join(nbArr, Seq("node")).join(nbPrev, Seq("prev"))
            .withColumn("nbi", array_intersect(col("nb"), col("nbp")))
            .select(col("walk_id"), col("prev"), col("node"),
              col("nb"), col("nbi"))
            .repartition(dp, col("walk_id"))
            .withColumn("z", transform(col("nb"), c => struct(
              c.as("c"),
              when(c === col("prev"), lit(wReturn))
                .when(array_contains(col("nbi"), c), lit(wStay))
                .otherwise(lit(wFar)).as("w"))))
            .withColumn("tot", aggregate(col("z"), lit(0L),
              (a, x) => a + x.getField("w")))
            .withColumn("r", h % col("tot")) // h ≥ 0, tot ≥ 1
          // fold carries (cumsum s, chosen c); r < Σw guarantees a pick
          val pick = aggregate(col("z"),
            struct(lit(0L).as("s"), lit(-1L).as("c")),
            (acc, x) => struct(
              (acc.getField("s") + x.getField("w")).as("s"),
              when(acc.getField("c") =!= -1L, acc.getField("c"))
                .otherwise(when(
                  acc.getField("s") + x.getField("w") > col("r"),
                  x.getField("c")).otherwise(lit(-1L))).as("c")),
            a => a.getField("c"))
          staged.select(col("walk_id"), col("node").as("prev"),
            pick.as("node"))
        }
      cur = r.pin(stepped)
      out = out.union(cur.select(col("walk_id"),
        lit(k.toLong).as("step"), col("node")))
    }
    out.select(col("walk_id"), col("step"), col("node"))
  }

  /** Longest-path levels on a DAG — "topological layers", the
    * scheduling depth of every node in a dependency graph (build
    * systems, dbt lineage, task DAGs): level(v) = 0 at sources, else
    * 1 + max over incoming edges. Iterated max-plus over int64 for
    * `rounds` rounds — exact once rounds ≥ the DAG's depth (caller's
    * bound; on a cyclic input levels inside cycles keep growing, which
    * is also the standard cycle detector: a level > rounds−1 ⇒ cycle).
    * Each round is one equi-join + one max aggregate, map-side
    * combined. Returns (id, lvl). */
  def dagLevels(edges: DataFrame, rounds: Int): DataFrame = Rounds.run { r =>
    val e = r.pin(edges.select(col("src"), col("dst")).distinct())
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
    val lvl0 = r.pin(nodes.select(col("id"), lit(0L).as("lvl")))
    // delta iteration: max-merge is idempotent, so a node whose level did
    // NOT change in round r−1 contributes exactly what it already
    // contributed — only the CHANGED frontier joins the edge list.
    // Identical per-round levels by induction; round 1 touches every node
    // and later rounds shrink geometrically.
    r.delta(lvl0, rounds, "dag_levels_loop_body") { (lvl, f) =>
      val contrib = e
        .join(f.select(col("id").as("src"), col("lvl").as("sl")),
          "src")
        .groupBy(col("dst").as("id"))
        .agg((max(col("sl")) + 1L).as("cand"))
      lvl.join(contrib, Seq("id"), "left")
        .select(col("id"),
          greatest(col("lvl"), coalesce(col("cand"), col("lvl")))
            .as("nl"),
          (coalesce(col("cand"), col("lvl")) > col("lvl")).as("chg"))
    }
  }

  /** Bellman-Ford single-source shortest path, fixed relaxation rounds,
    * integer weights. dist_{k+1} = min(dist_k, min over edges (u,v,w) of
    * dist_k(u)+w) — pure min/+ on int64, exact in any engine. Nodes not
    * reached within `rounds` relaxations are omitted (standard BF gives
    * exact distances for paths of ≤ rounds edges). */
  def sssp(edges: DataFrame, source: Long,
           rounds: Int): DataFrame = Rounds.run { r =>
    val spark = edges.sparkSession
    // both directions with the weight carried (undirected() drops extras)
    val e2 = r.pin(edges
      .select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(edges.select(col("dst").as("u"), col("src").as("v"), col("w"))))
    val dist0 = r.pin(spark.range(1)
      .select(lit(source).as("id"), lit(0L).as("d")))
    // delta Bellman-Ford (the dagLevels induction with min): only the
    // IMPROVED frontier re-joins the edge list; same dist_k per round.
    r.delta(dist0, rounds, "sssp_loop_body") { (dist, f) =>
      val relaxed = e2
        .join(f.withColumnRenamed("id", "d_id"), col("u") === col("d_id"))
        .groupBy(col("v").as("id"))
        .agg(min(col("d") + col("w")).as("nd"))
      val inf = Long.MaxValue
      dist.join(relaxed, Seq("id"), "full")
        .select(col("id"),
          least(coalesce(col("d"), lit(inf)), coalesce(col("nd"), lit(inf)))
            .as("ndist"),
          (coalesce(col("nd"), lit(inf)) < coalesce(col("d"), lit(inf)))
            .as("chg"))
    }
  }

  /** One forward–backward coloring pass of distributed SCC decomposition
    * (the inner step of FW-BW / the coloring algorithm, the standard
    * MapReduce-era SCC recipe — gated the way `louvainMove` gates
    * Louvain's move phase).
    *
    * F(v) = min id reaching v along edge direction within `rounds`
    * min-label rounds; B(v) = the same over reversed edges. F(v) = B(v)
    * = m means m both reaches and is reached from v, i.e. v lies on a
    * cycle through m, so v ∈ SCC(m) — and once propagation covers the
    * component (rounds ≥ its directed diameter) m is exactly that SCC's
    * minimum reachable pivot. Nodes with F ≠ B keep scc = id,
    * resolved = 0 — the remainder the full algorithm recurses on.
    *
    * All labels are int64 node ids, min-combined — exact in any engine.
    * Scale: each direction-round is one edges⋈labels equi-join + one
    * map-side-combining min per target (the canonical Pregel step);
    * labels are pinned per round ([[Rounds.delta]]) so round k never
    * re-executes rounds 1..k-1; an empty changed frontier is the
    * fixpoint.
    *
    * Reference analog: GDS scc consumer over streamed graphs
    * (plugin/.../gds/GdsReadJob.java). Returns (id, scc, resolved 0/1).
    */
  def sccColoring(edges: DataFrame,
                  rounds: Int): DataFrame = Rounds.run { r =>
    val e = r.pin(edges.select(col("src"), col("dst")).distinct())
    // broadcast hints only pay when the edge list they keep un-shuffled
    // is big; on a small graph the per-round broadcast-build job is pure
    // overhead (measured +1.2 s on the 24k-edge scc gate). One count on
    // the checkpointed table.
    val eN = e.count()
    val nodes = r.pin(e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct())
    // delta iteration — the dagLevels induction with min
    def minLabel(rev: Boolean): DataFrame = {
      val (from, to) = if (rev) ("dst", "src") else ("src", "dst")
      r.delta(r.pin(nodes.withColumn("lbl", col("id"))), rounds,
          "scc_coloring_loop_body",
          hint = eN >= PerRoundBroadcastMinEdges) { (lbl, f) =>
        val prop = e
          .join(f.select(col("id").as(from), col("lbl").as("in_lbl")), from)
          .groupBy(col(to).as("id")).agg(min(col("in_lbl")).as("p"))
        lbl.join(prop, Seq("id"), "left")
          .select(col("id"),
            least(col("lbl"), coalesce(col("p"), col("lbl"))).as("nl"),
            (coalesce(col("p"), col("lbl")) < col("lbl")).as("chg"))
      }
    }
    val fwd = minLabel(rev = false).withColumnRenamed("lbl", "f")
    val bwd = minLabel(rev = true).withColumnRenamed("lbl", "b")
    fwd.join(bwd, Seq("id"))
      .select(col("id"),
        when(col("f") === col("b"), col("f")).otherwise(col("id"))
          .as("scc"),
        when(col("f") === col("b"), 1L).otherwise(0L).as("resolved"))
  }

  /** Negative sampling for link-prediction / contrastive training:
    * for each distinct source node, k hash-indexed candidates from the
    * target id domain [domainBase, domainBase + domainSize), with TRUE
    * positives excluded by an anti-join — the corruption step of every
    * GNN/KG-embedding trainer (TransE, GraphSAGE), made deterministic
    * (reproducible under retries) by replacing the RNG with quadratic
    * mod-p mixing of (src, i).
    *
    * Scale: one narrow k-way explode of the distinct source set + one
    * anti-join against the edge list on (src, neg) — never a sample
    * loop, never a collect. Slots whose candidate collides with a real
    * edge drop (k is a budget, not a guarantee — the standard trade;
    * re-draw rounds would compose the same way). Returns (src, i, neg).
    */
  def negativeSample(edges: DataFrame, k: Int, domainBase: Long,
                     domainSize: Long): DataFrame = {
    val cands = edges.select(col("src")).distinct()
      .select(col("src"),
        explode(sequence(lit(0L), lit(k.toLong - 1L))).as("i"))
      .select(col("src"), col("i"),
        (lit(domainBase) +
          (col("src") % 1000003L * 31L + col("i") * 7L) % domainSize)
          .as("neg"))
    cands.join(edges.select(col("src"), col("dst").as("neg")),
      Seq("src", "neg"), "left_anti")
      .select(col("src"), col("i"), col("neg"))
  }

  /** Luby-style maximal independent set with deterministic hash
    * priorities — the symmetry-breaking primitive under distributed
    * coloring/scheduling. pr(id) = ((id mod p)² mod p · 31 + id mod p)
    * mod p with p = 1000003 (quadratic mod-p mixing; an affine chain
    * correlates with id order and stalls rounds), folded with the id
    * into ONE strict total order key = pr·10¹⁰ + id (ids < 10¹⁰ keep it
    * int64-exact, ties impossible). Each round, a live node whose key is
    * strictly below every live neighbor's joins the set; members and
    * their neighbors leave the live set. `rounds` is bounded — the
    * deterministic prefix the oracle replays; at convergence the set is
    * maximal by construction.
    *
    * Scale: per round one edges⋈live join + min-aggregate (Pregel step)
    * and one anti-join shrink; live/mis localCheckpoint per round.
    * Returns (id, mis_round). */
  def misLuby(rels: DataFrame, types: Seq[String],
              rounds: Int): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .distinct())
    val keyExpr = expr(
      "((id % 1000003) * (id % 1000003) % 1000003 * 31 + id % 1000003)" +
        " % 1000003 * 10000000000 + id")
    var live = r.pin(und.select(col("u").as("id")).distinct()
      .withColumn("key", keyExpr))
    var mis: DataFrame = null
    for (k <- 1 to rounds) {
      val nbMin = und
        .join(live.select(col("id").as("u"), col("key").as("nk")), "u")
        .groupBy(col("v").as("id")).agg(min(col("nk")).as("mk"))
      val won = r.pin(live.join(nbMin, Seq("id"), "left")
        .where(col("mk").isNull || col("key") < col("mk"))
        .select(col("id"), lit(k.toLong).as("mis_round")))
      mis = if (mis == null) won else mis.union(won)
      val removed = won.select(col("id").as("u"))
        .join(und, "u").select(col("v").as("id"))
        .union(won.select(col("id"))).distinct()
      live = r.pin(live.join(removed, Seq("id"), "left_anti"))
    }
    mis
  }

  /** Rich-club coefficient φ(k) (Zhou & Mondragón 2004 — public
    * literature): among nodes of degree > k, the fraction of possible
    * edges actually present — do the hubs form their own club? One
    * degree aggregate + two semi-joins of the edge list against the
    * (small) club per k; exact integer ppm with the n_k ≤ 1 degenerate
    * guarded. Returns (k, n_k, e_k, phi_ppm) per requested k. */
  def richClub(rels: DataFrame, types: Seq[String],
               ks: Seq[Long]): DataFrame = {
    val und = undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val e = und.where(col("u") < col("v"))
    val deg = und.groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    ks.map { k =>
      val club = deg.where(col("d") > k).select(col("node"))
      val nk = club.agg(count(lit(1)).as("n_k"))
      val ek = e.join(club.select(col("node").as("u")), "u")
        .join(club.select(col("node").as("v")), "v")
        .agg(count(lit(1)).as("e_k"))
      nk.join(ek, lit(true))
        .select(lit(k).as("k"), col("n_k"), col("e_k"),
          expr("e_k * 2000000 div greatest(n_k * (n_k - 1), 1)")
            .as("phi_ppm"))
    }.reduce(_.unionByName(_))
  }

  /** Link-prediction AUC by exact rank-sum — the evaluation loop for
    * any edge scorer: hold out the test edges, score them and a pool
    * of hash-sampled non-edges by TRAIN-graph target popularity
    * (deg(dst) — the standard recommendation baseline; a source-side
    * factor would zero out every held-out degree-1 source and measure
    * the split, not the scorer), and compute AUC with proper tie
    * handling:
    *
    *   AUC = (concordant + ties/2) / (n_pos · n_neg)
    *
    * WITHOUT materializing pos×neg pairs: scores collapse to a
    * (score → n_pos, n_neg) table first (hash aggregate, map-side
    * combined; distinct degree products are few), and the rank-sum
    * reads off a cumulative window over THAT bounded table — the same
    * trick that makes exact AUC computable over billions of instances.
    * Missing train degree scores 0 (a held-out node's edges can all be
    * in test). One row: (n_pos, n_neg, concordant, ties, auc_ppm). */
  def linkPredAuc(edges: DataFrame, testPred: Column, k: Int,
                  domainBase: Long, domainSize: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val test = e.where(testPred)
    val train = e.where(!testPred)
    val deg = train.select(col("src").as("node"))
      .union(train.select(col("dst")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    def scored(pairs: DataFrame, isPos: Int): DataFrame = pairs
      .join(deg.select(col("node").as("dst"), col("d").as("db")),
        Seq("dst"), "left")
      .select(coalesce(col("db"), lit(0L)).as("s"),
        lit(isPos.toLong).as("isp"))
    val negPairs = negativeSample(e, k, domainBase, domainSize)
      .select(col("src"), col("neg").as("dst")).distinct()
    rankSumAuc(scored(test, 1).unionByName(scored(negPairs, 0)))
  }

  /** Exact Mann–Whitney AUC with tie credit over (s, isp∈{0,1}) rows,
    * in ppm integers: concordant = positives above each negative, ties
    * credited ½. One aggregate per distinct score, then a window over
    * the DISTINCT-score table (bounded by score cardinality, never
    * instances). Shared by the link-prediction and classifier-eval
    * (perceptron_auc) gates — ONE copy of the formula. */
  def rankSumAuc(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = scored.groupBy(col("s"))
      .agg(sum(col("isp")).as("np"), sum(lit(1L) - col("isp")).as("nn"))
    val c = g.withColumn("cumneg",
      coalesce(sum(col("nn")).over(Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    c.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("np") * col("cumneg")).as("concordant"),
        sum(col("np") * col("nn")).as("ties"))
      .select(col("n_pos"), col("n_neg"), col("concordant"), col("ties"),
        expr("(concordant * 1000000 + ties * 500000) div " +
          "greatest(n_pos * n_neg, 1)").as("auc_ppm"))
  }

  /** HyperBall / ANF — the approximate neighborhood function (Boldi,
    * Rosa & Vigna 2011, "HyperANF"; Palmer et al. 2002, "ANF" — public
    * literature): every node carries an HLL register set sketching its
    * h-hop ball; one round max-merges each node's registers with its
    * neighbors' — registers are a max-monoid, so a round is ONE edge
    * join + ONE (node, bucket) max aggregate, m rows per node, and the
    * whole reachability structure is never materialized. THE way to get
    * neighborhood-growth / effective-diameter curves on graphs where
    * per-node BFS is impossible.
    *
    * Estimates are integer-deterministic cross-engine: raw HLL when all
    * m registers fill, else linear counting via the precomputed lookup
    * ([[Sketches.ballEstimateCaseSql]] — identical CASE text in both
    * engines). Returns one row per hop 0..hops:
    * (hop, n_nodes, sum_ball_x1000) — the ANF curve as exact int64. */
  def hyperBall(rels: DataFrame, types: Seq[String], hops: Int,
                m: Int = 16): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .where(col("u") =!= col("v")).distinct())
    val nodes = und.select(col("u").as("node")).distinct()
    var reg = r.pin(Sketches.hllBuildGrouped(
      nodes.select(col("node"), col("node").as("k")), Seq("node"), "k", m))
    def summarize(h: Int, reg: DataFrame): DataFrame =
      reg.groupBy(col("node"))
        .agg(count(lit(1)).as("n_present"),
          sum(expr("shiftleft(1L, cast(40 - register as int))"))
            .as("sum_present"))
        .withColumn("sum_term", col("sum_present") +
          (lit(m.toLong) - col("n_present")) * lit(1L << 40))
        .withColumn("ball_x1000", expr(Sketches.ballEstimateCaseSql(m)))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("ball_x1000")).as("sum_ball_x1000"))
        .select(lit(h.toLong).as("hop"), col("n_nodes"),
          col("sum_ball_x1000"))
    var out = summarize(0, reg)
    for (h <- 1 to hops) {
      val prop = und.join(reg.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), col("bucket"), col("register"))
      reg = r.pin(reg.unionByName(prop)
        .groupBy(col("node"), col("bucket"))
        .agg(max(col("register")).as("register")))
      out = out.unionByName(summarize(h, reg))
    }
    out
  }

  /** Jones–Plassmann greedy graph coloring (Jones & Plassmann 1993,
    * "A parallel graph coloring heuristic" — public literature): a node
    * colors itself in the round where it holds the highest priority
    * among its still-uncolored neighbors, taking the smallest color
    * absent from its already-colored neighborhood (mex). Priorities are
    * the same deterministic quadratic hash as [[misLuby]] with id as
    * total-order tie-break, so winners of one round are adjacent-free
    * by construction and the result is a PROPER coloring — no two
    * adjacent colored nodes ever share a color, in any round count.
    *
    * Scale: per round one per-vertex max aggregate over live edges
    * (who's ready), one neighbor-color collect bounded by the colors
    * used so far (≤ max degree + 1, tiny even for hubs), and anti-join
    * removal; rounds are localCheckpoint barriers like every iterative
    * algorithm here. Like [[misLuby]], a fixed round budget colors the
    * top of the priority order; uncolored remainder is simply absent
    * (same bounded-round contract as the mis_round gate). Returns
    * (id, color, color_round). */
  def jpColoring(rels: DataFrame, types: Seq[String],
                 rounds: Int): DataFrame = Rounds.run { r =>
    val und = r.pin(undirected(
        rels.where(col("TYPE").isin(types: _*)), "START_ID", "END_ID")
      .where(col("u") =!= col("v")).distinct())
    val keyExpr = expr(
      "((id % 1000003) * (id % 1000003) % 1000003 * 31 + id % 1000003)" +
        " % 1000003 * 10000000000 + id")
    var uncolored = r.pin(und.select(col("u").as("id")).distinct()
      .withColumn("key", keyExpr))
    var colored: DataFrame = null
    for (k <- 1 to rounds) {
      val nbMax = und
        .join(uncolored.select(col("id").as("u"), col("key").as("nk")),
          "u")
        .groupBy(col("v").as("id")).agg(max(col("nk")).as("mk"))
      val ready = uncolored.join(nbMax, Seq("id"), "left")
        .where(col("mk").isNull || col("key") > col("mk"))
        .select(col("id"))
      val ncs =
        if (colored == null) ready.limit(0)
          .select(col("id"), array().cast("array<bigint>").as("cs"))
        else und.select(col("v").as("id"), col("u").as("nb"))
          .join(ready, Seq("id"))
          .join(colored.select(col("id").as("nb"), col("color")),
            Seq("nb"))
          .groupBy(col("id"))
          .agg(array_sort(collect_set(col("color"))).as("cs"))
      val won = r.pin(ready.join(ncs, Seq("id"), "left")
        .withColumn("cs",
          coalesce(col("cs"), array().cast("array<bigint>")))
        // mex: sequence(0, size) always holds >= 1 value missing from a
        // size-element distinct set; filter keeps them, [0] is least
        .select(col("id"),
          expr("filter(transform(sequence(0, size(cs)), " +
            "c -> CAST(c AS BIGINT)), c -> NOT array_contains(cs, c))[0]")
            .as("color"),
          lit(k.toLong).as("color_round")))
      colored = if (colored == null) won else colored.union(won)
      uncolored = r.pin(uncolored.join(won.select(col("id")), Seq("id"),
        "left_anti"))
    }
    colored
  }

  /** Parallel greedy maximal matching (Israeli–Itai shape): per round an
    * edge joins the matching iff it is the minimum-priority incident
    * edge of BOTH its endpoints — such local minima are vertex-disjoint
    * by construction, so a whole round commits with no coordination;
    * matched vertices and their edges then drop out. Priority is a
    * deterministic quadratic hash with (a, b) as the total-order
    * tie-break, same symmetry-breaking family as [[misLuby]].
    *
    * Scale: each round is one per-vertex min aggregate + two equi-joins
    * over the live edge set, which shrinks monotonically; rounds are
    * localCheckpoint barriers like every iterative algorithm here.
    * Input (a, b) directed or undirected — canonicalized and
    * deduplicated internally. Returns (a, b, match_round). */
  def maximalMatching(edges: DataFrame,
                      rounds: Int): DataFrame = Rounds.run { r =>
    val p = 1000003L
    var live = r.pin(edges
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .where(col("a") =!= col("b")).distinct()
      .withColumn("key",
        expr(s"((a % $p) * (b % $p) % $p * 31 + (a + b) % $p) % $p")))
    var matched: DataFrame = null
    for (k <- 1 to rounds) {
      val inc = live.select(col("a").as("n"), col("key"), col("a"),
          col("b"))
        .union(live.select(col("b").as("n"), col("key"), col("a"),
          col("b")))
      val vmin = inc.groupBy(col("n"))
        .agg(min(struct(col("key"), col("a"), col("b"))).as("m"))
      val me = struct(col("key"), col("a"), col("b"))
      val won = r.pin(live
        .join(vmin.select(col("n").as("a"), col("m").as("ma")), "a")
        .join(vmin.select(col("n").as("b"), col("m").as("mb")), "b")
        .where(me === col("ma") && me === col("mb"))
        .select(col("a"), col("b"), lit(k.toLong).as("match_round")))
      matched = if (matched == null) won else matched.union(won)
      val mv = won.select(col("a").as("n"))
        .union(won.select(col("b").as("n"))).distinct()
      live = r.pin(live
        .join(mv.select(col("n").as("a")), Seq("a"), "left_anti")
        .join(mv.select(col("n").as("b")), Seq("b"), "left_anti"))
    }
    matched
  }

  /** Link prediction by the Resource-Allocation index: for each
    * non-adjacent pair (a, b) with common neighbors,
    * ra = Σ_{c ∈ Γ(a)∩Γ(b)} ⌊scale / deg(c)⌋ (Zhou–Lü–Zhang 2009;
    * Adamic-Adar's 1/log deg is not engine-exact, 1/deg is) and
    * cn = |Γ(a)∩Γ(b)|.
    *
    * Wedge centers with degree > maxDf are skipped — the hub cap that
    * bounds the wedge set at O(m·maxDf) (same DF cap as
    * [[nodeSimilarity]]); each skipped hub's contribution is
    * ≤ scale/maxDf per pair, the quantified truncation. Top-k by
    * (ra DESC, a, b) via orderBy+limit — Spark plans
    * TakeOrderedAndProject, so O(k) rows per partition cross the
    * shuffle, never the candidate set. */
  def linkPredict(edges: DataFrame, maxDf: Int, k: Int,
                  scale: Long = 1000000L): DataFrame = {
    val und = edges.select(col("a").as("u"), col("b").as("v"))
      .union(edges.select(col("b"), col("a"))).distinct()
      .localCheckpoint(true)
    val deg = und.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val cent = und.select(col("u").as("c"), col("v").as("n"))
      .join(deg.select(col("u").as("c"), col("deg")), "c")
      .where(col("deg") <= maxDf)
      .withColumn("share", expr(s"$scale div deg"))
    val cand = cent.as("x").join(cent.as("y"),
        col("x.c") === col("y.c") && col("x.n") < col("y.n"))
      .groupBy(col("x.n").as("a"), col("y.n").as("b"))
      .agg(count(lit(1)).as("cn"), sum(col("x.share")).as("ra"))
    cand.join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("cn"), col("ra"))
      .orderBy(col("ra").desc, col("a"), col("b"))
      .limit(k)
  }

  /** Degree assortativity (Newman's r) of an undirected graph: the
    * Pearson correlation of endpoint degrees over directed edge stubs.
    * With M = |stubs| (2m), Sx = Σ deg(u), Sxy = Σ deg(u)·deg(v),
    * Sxx = Σ deg(u)² (symmetric stubs make Sy = Sx, Syy = Sxx):
    * r = (M·Sxy − Sx²) / (M·Sxx − Sx²).
    *
    * All five sums are int64 (exact in any engine); r is one final
    * double division over int64-exact operands, bit-identical
    * cross-engine. Overflow bound: M·Sxx ≤ 2m·Σdeg³ — fits int64 up to
    * ~10⁹ edges with kilodegree hubs; beyond that the sums shard into
    * per-range partial rows (same associative aggregate), not floats.
    *
    * Scale: one degree aggregate, one broadcast-sized join of degrees
    * onto stubs (degrees table is O(|V|) — joined by src then dst as
    * plain equi-joins), one global aggregate. No window, no collect. */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val stubs = edges.select(col("src").as("u"), col("dst").as("v"))
      .union(edges.select(col("dst").as("u"), col("src").as("v")))
      .distinct().localCheckpoint(true)
    val deg = stubs.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    val joined = stubs
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
    joined.agg(
        count(lit(1)).as("m2"),
        sum(col("du")).as("sx"),
        sum(col("du") * col("dv")).as("sxy"),
        sum(col("du") * col("du")).as("sxx"))
      .select(col("m2"), col("sx"), col("sxy"), col("sxx"),
        ((col("m2") * col("sxy") - col("sx") * col("sx"))
          .cast("double") /
          (col("m2") * col("sxx") - col("sx") * col("sx"))
            .cast("double")).as("r"))
  }
}
