package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's one nontrivial query operator (SURVEY.md §2.3,
  * plugin/.../gds/KHop.java:21-163, KHOP.md): for every origin node O, the
  * de-duplicated, orientation-normalized edge set of O's 2-hop
  * neighborhood. Golden semantics (verified against KHOP.md:105-124): with E
  * the natural directed edge set and N(O) the undirected neighbor set of O,
  *
  *   khop2(O) = { distinct (s, d) ∈ E : s ∈ N(O) or d ∈ N(O) }
  *
  * The reference realizes this imperatively (per-origin bitsets, packed
  * 60-bit edges, supernode adjacency cache, semaphore throttling —
  * KHop.java, Edge.java, NodeHistory.java, SuperNodeCache.java). Spark-first,
  * the same set is two shuffled equi-joins + a distinct:
  *
  *  - neighbor pairs are |E|·2 rows, deduped by (origin, n) — a partial
  *    (map-side) aggregate before one shuffle;
  *  - the OR-predicate join is decomposed into two equi-joins (on n = src
  *    and n = dst) so both stay hash joins rather than a nested loop;
  *  - skew (the reference's "supernode" problem — KHOP.md:159-185) is
  *    handled by AQE skew-join splitting, since the join keys are node ids
  *    whose adjacency fan-out is exactly the skewed quantity. At cluster
  *    scale enable spark.sql.adaptive.skewJoin (on by default with AQE).
  */
object KHop {

  /** Generalized k-hop (the reference's KHopMessage carries k but its
    * implementation is fixed at 2 — KHopMessage.java:83-88, KHop.java; we
    * implement the general contract): the distinct natural edges with an
    * endpoint within undirected distance k-1 of the origin. For k=2 this
    * reduces exactly to the golden [[twoHopEdges]] semantics.
    *
    * The reach set is built by k-1 frontier-expansion joins (each one
    * shuffle on the node id, deduped with a partial aggregate before the
    * shuffle); the final incidence test is the same two equi-joins +
    * distinct as the 2-hop plan. Frontier growth is the inherent output
    * complexity of the operator — AQE skew handling covers hub nodes.
    */
  def kHopEdges(rels: DataFrame, k: Int,
                originPred: Option[Column] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = rels.select(col("START_ID").as("src"), col("END_ID").as("dst"))
    val adj = e.union(e.select(col("dst"), col("src"))).distinct()
      .toDF("a", "b")
    // optional origin restriction, applied at the root of the reach build
    // so every downstream join shrinks proportionally (the reference
    // streams all origins; a bounded origin set is the practical form)
    val allOrigins = adj.select(col("a").as("origin")).distinct()
    val origins = originPred.fold(allOrigins)(p => allOrigins.where(p))
    var reach = origins.select(col("origin"), col("origin").as("node"))
    for (_ <- 1 until k) {
      reach = reach
        .union(reach.join(adj, col("node") === col("a"))
          .select(col("origin"), col("b").as("node")))
        .distinct()
    }
    val bySrc = reach.join(e, col("src") === col("node"))
      .select(col("origin"), col("src"), col("dst"))
    val byDst = reach.join(e, col("dst") === col("node"))
      .select(col("origin"), col("src"), col("dst"))
    bySrc.union(byDst).distinct()
  }

  /** Skew-aware generalized k-hop: the [[kHopEdges]] semantics with the
    * 2-hop hot/cold supernode split ([[withTwoHopEdgesSkew]], the
    * reference's SuperNodeCache scenario — KHOP.md:159-185) applied to
    * EVERY join that keys on a node id: the k-1 frontier-expansion joins
    * and the two final incidence joins. At k≥3 a hub is hit twice over —
    * its fan-out both explodes a frontier step and skews the incidence
    * join — and AQE alone only rebalances partitions after the skewed
    * shuffle has already moved the hub's adjacency to one reducer.
    *
    * The split: hub-ness is the adjacency fan-out (a degree count,
    * broadcast as a small hot-key set). Each join is then two joins —
    *
    *  - COLD × COLD: ordinary shuffle equi-join; by construction no key
    *    exceeds `hotThreshold` fan-out, so no partition can be hub-skewed;
    *  - HOT: the big hub-adjacency (or hub-incident-edge) side STREAMS
    *    map-side against a broadcast of the small side restricted to hot
    *    keys — reach rows at hot nodes, bounded by |hot|·|origins| — so a
    *    hub's rows never shuffle to a single reducer at all.
    *
    * The two classes partition the rows of each join, so unions need no
    * cross-class dedup beyond the semantics' own distincts.
    *
    * Release bracket: the shared scan/dedup inputs are persisted (every
    * frontier step and both incidence joins re-read them) and the reach
    * rounds are checkpointed; `f` runs on the result, then every cache
    * and checkpoint the build made is released. Materialize the result
    * inside `f` — the DataFrame is lazy, so plans executed after the
    * bracket recompute the cached inputs from source. */
  def withKHopEdgesSkew[A](rels: DataFrame, k: Int, hotThreshold: Long,
                           originPred: Option[Column] = None)
                          (f: DataFrame => A): A =
    bracket(r => kHopSkewPlan(
      new SkewCore(rels, k, hotThreshold, originPred, r)))(f)

  /** Aggregate-pushdown twin of [[withKHopEdgesSkew]] (optimization round
    * 11, guide §1.2 "don't compute things you throw away"): when the
    * consumer only needs per-origin COUNT and an edge-checksum SUM over
    * the k-hop incidence set, the set itself never has to be materialized
    * or globally deduplicated. With A(o) = {e : src ∈ R(o)}, B(o) = {e :
    * dst ∈ R(o)} over the distinct edge set E and reach R(o):
    *
    *   |S(o)|  = |A| + |B| − |A∩B|      (inclusion–exclusion; E distinct
    *   Σf(S)   = Σf(A) + Σf(B) − Σf(A∩B)   ⇒ A,B carry no duplicates)
    *
    * and every term is computable WITHOUT shuffling the incidence rows:
    * group R by node into per-node origin arrays (bounded by |origins| —
    * a hub's array is its qualifying-ORIGIN set, not its adjacency), join
    * E to the arrays of its two endpoints (node-keyed, multiplicity-1
    * build side), then explode os(src) for the A-term, os(dst) for the
    * B-term and array_intersect for the A∩B-term straight into a
    * map-side-combined per-origin aggregate. The ~|origins|·|E| incidence
    * rows are generated and partially aggregated INSIDE each task — they
    * never cross an exchange, versus the materializing plan's
    * union+distinct which shuffles 2·|S| rows twice (measured on
    * khop_3_dense at sf0.1: a 287 MB exchange + 105 s of distinct CPU).
    *
    * The reach R is built by the same hot/cold skew frontier as
    * [[withKHopEdgesSkew]]. Overflow note: per-origin Σf(A)+Σf(B) ≤ 2×
    * the materializing plan's checksum magnitude — the mod-100003
    * checksum terms the dense gates use keep that far inside int64 (≤
    * ~1e17 at a 10× blowup).
    *
    * `fn` receives (origin, n_edges, checksum) — bit-identical to the
    * materializing build aggregated by
    * `groupBy(origin).agg(count(1), sum(f(src,dst)))` (KHopSpec pins the
    * equivalence; the khop_3_dense oracle gate pins it against DuckDB at
    * all SFs). Same release bracket as [[withKHopEdgesSkew]]: materialize
    * the result inside `fn`. */
  def withKHopStatsSkew[A](rels: DataFrame, k: Int, hotThreshold: Long,
                           originPred: Option[Column],
                           f: (Column, Column) => Column)
                          (fn: DataFrame => A): A =
    bracket(r => kHopStatsPlan(
      new SkewCore(rels, k, hotThreshold, originPred, r), f))(fn)

  /** The release bracket shared by the skew builds: `build` caches and
    * checkpoints on a fresh [[Rounds]] tracker, `f` runs on the plan it
    * returns, and every table and checkpoint it tracked is released
    * afterwards (also when `build` or `f` throws). */
  private def bracket[A](build: Rounds => DataFrame)(f: DataFrame => A): A = {
    val rounds = new Rounds
    try f(build(rounds)) finally rounds.release()
  }

  /** Broadcast cap for the per-node origin-array table in the stats
    * build, in ESTIMATED bytes (rows·24 B of node/row overhead + total
    * array elements·8 B). 64 MB: comfortably inside any executor profile
    * while covering the dense gates (sf0.1: ~9 MB). The size is measured
    * with one aggregate over the already-persisted table — the exact
    * statistic the planner lacks because the reach side comes out of
    * checkpoints. Above the cap every consumer falls back to the shuffle
    * join, which is the prior (scale-safe) behavior. */
  private[graft] val OsBroadcastMaxBytes = 64L << 20

  private def kHopStatsPlan(core: SkewCore,
                            f: (Column, Column) => Column): DataFrame = {
    val (reach, e) = (core.reach, core.e)
    val fe = f(col("src"), col("dst"))
    // per-node origin arrays: bounded by the qualifying-origin count, so
    // no hot/cold split is needed here — a supernode's array is its
    // origin set, never its adjacency. Persisted (bracket-released): four
    // consumers below (two term joins + both endpoints of the A∩B join)
    // would otherwise re-run the collect_set shuffle four times
    // (measured: 4 × 48-task stages, ~60 s of the query's CPU).
    val os0 = core.rounds.persist(
      reach.groupBy(col("node")).agg(collect_set(col("origin")).as("os")))
    // r12 opt (guide §3.1): when the origin-array table is small, hint it
    // broadcast — its four consumers then join map-side and the persisted
    // edge table streams with NO exchange (before: each term join
    // shuffled e by node). Size measured exactly (one aggregate over the
    // cached table, which also warms it for every consumer).
    val osRow = os0.agg(count(lit(1)), sum(size(col("os")))).head()
    val osBytes = osRow.getLong(0) * 24L +
      (if (osRow.isNullAt(1)) 0L else osRow.getLong(1)) * 8L
    val os = if (osBytes <= OsBroadcastMaxBytes) broadcast(os0) else os0
    // per-node incident-edge aggregates (1 row per node and side)
    val srcAgg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("c"), sum(fe).as("fs"))
    val dstAgg = e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("c"), sum(fe).as("fs"))
    // A and B terms: one node-keyed join each, then a narrow explode into
    // the map-side-combined per-origin sum
    def term(agg: DataFrame): DataFrame = agg.join(os, Seq("node"))
      .select(explode(col("os")).as("origin"), col("c"), col("fs"))
    // A∩B term (negative sign): edges with BOTH endpoints in R(o) —
    // array_intersect of the two endpoint origin arrays, per edge
    val osS = os.select(col("node").as("src"), col("os").as("os_s"))
    val osD = os.select(col("node").as("dst"), col("os").as("os_d"))
    val both = e.join(osS, Seq("src")).join(osD, Seq("dst"))
      .select(explode(array_intersect(col("os_s"), col("os_d")))
          .as("origin"),
        lit(-1L).as("c"), (-fe).as("fs"))
    val stats = term(srcAgg).union(term(dstAgg)).union(both)
      .groupBy(col("origin"))
      .agg(sum(col("c")).as("n_edges"), sum(col("fs")).as("checksum"))
    // plan evidence with the os broadcast decided from measured size —
    // no-op unless LoopPlan is on
    graft.tools.LoopPlan.dump("khop_stats_plan", stats)
    stats
  }

  /** Shared skew-aware scaffolding for the k-hop builds: deduped edge set,
    * undirected adjacency, hot-key classification, and the k−1 hot/cold
    * frontier-expansion loop producing the reach set. Extracted (round 11)
    * so [[withKHopStatsSkew]] reuses the exact frontier the materializing
    * [[withKHopEdgesSkew]] runs, instead of duplicating it. Its persisted
    * tables and reach-round checkpoints are tracked on `rounds`, which
    * the bracket releases. All doc comments on the mechanics live on the
    * members below. */
  private final class SkewCore(rels: DataFrame, k: Int, hotThreshold: Long,
                               originPred: Option[Column],
                               val rounds: Rounds) {
    require(k >= 1, "k must be >= 1")
    require(hotThreshold >= 0, "hotThreshold must be >= 0")
    // multi-edges collapse here instead of in the final distinct: every
    // downstream join shrinks and the output set is unchanged
    val e: DataFrame = rounds.persist(
      rels.select(col("START_ID").as("src"), col("END_ID").as("dst"))
        .distinct())
    val adj: DataFrame = rounds.persist(
      e.union(e.select(col("dst"), col("src"))).distinct().toDF("a", "b"))
    // hot = adjacency fan-out above threshold; the set is small by
    // definition, so classification is a broadcast join — no shuffle
    private val hot = adj.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .where(col("deg") > hotThreshold).select(col("a").as("node"))
    private val hotMark = broadcast(hot.withColumn("_hot", lit(true)))
    def mark(df: DataFrame, key: String, flag: String): DataFrame =
      df.join(hotMark.select(col("node").as(key), col("_hot").as(flag)),
          Seq(key), "left")
        // a using-join moves the key column first — restore the input
        // order (downstream unions are positional)
        .select(df.columns.map(col) :+ col(flag): _*)
    // MARK ONCE, THEN FILTER: a (cold, hot) pair built as two `.where`
    // consumers of one un-materialized join evaluates that join TWICE —
    // and the old shape paid it per split (adj once, reach per
    // iteration, e per endpoint ≈ 10 broadcast-join evaluations;
    // measured 3.6× the plain plan's wall time at sf0.1). Each table is
    // marked once, persisted, and both branches filter the materialized
    // rows. e carries both endpoint flags in ONE marked table.
    // (lazy: the stats path never touches the marked tables)
    private val adjM = rounds.persist(mark(adj, "a", "_hot_a"))
    val adjCold: DataFrame = adjM.where(col("_hot_a").isNull).drop("_hot_a")
    val adjHot: DataFrame = adjM.where(col("_hot_a").isNotNull).drop("_hot_a")
    lazy val eM: DataFrame =
      rounds.persist(mark(mark(e, "src", "_hot_s"), "dst", "_hot_d"))
    val reach: DataFrame = {
      val allOrigins = adj.select(col("a").as("origin")).distinct()
      val origins = originPred.fold(allOrigins)(p => allOrigins.where(p))
      var r = origins.select(col("origin"), col("origin").as("node"))
      for (step <- 1 until k) {
        // lineage truncation per round (r11 opt, guide §5/§7.3): with the
        // old per-round persist the logical tree kept every prior round
        // alive, and at k=3 the driver spent ~8 s per action just
        // analyzing/canonicalizing it (measured gap before the first
        // stage). An eager localCheckpoint makes each round a LogicalRDD
        // leaf; the mark join's two filter branches then re-evaluate a
        // cheap broadcast join over in-memory blocks, so the mark-once
        // persist is dropped along with its cache-lookup cost. Eagerness
        // costs nothing extra: the rounds are a sequential frontier
        // anyway (each distinct consumes the previous one fully).
        val rc = rounds.pin(r)
        // r12 opt (VERDICT r11 #3, guide §3.1): the materialized round's
        // exact row count is one cheap job over the checkpoint blocks —
        // while the whole round fits the frontier cap, broadcast the COLD
        // reach side too, so the (large, persisted) cold adjacency streams
        // map-side instead of both sides shuffling every round. Same cap
        // and rationale as the delta loops (GraphAlgos broadcast gates).
        val rcN = rc.count()
        val rM = mark(rc, "node", "_hot_n")
        val reachCold = rM.where(col("_hot_n").isNull).drop("_hot_n")
        val reachHot = rM.where(col("_hot_n").isNotNull).drop("_hot_n")
        // cold×cold join: every key's fan-out ≤ hotThreshold; the reach
        // side is broadcast while it fits (else ordinary shuffle join).
        // hot: hub adjacency STREAMS against the broadcast hot reach rows.
        val expanded = adjCold
          .join(Rounds.hintIfSmall(reachCold, rcN),
            col("node") === col("a"))
          .select(col("origin"), col("b").as("node"))
          .union(adjHot.join(broadcast(reachHot), col("a") === col("node"))
            .select(col("origin"), col("b").as("node")))
        // dedup on (origin, node): the composite key dilutes hub skew
        r = rc.union(expanded).distinct()
        graft.tools.LoopPlan.dump(s"khop_reach_round$step", r)
      }
      r
    }
  }

  private def kHopSkewPlan(core: SkewCore): DataFrame = {
    val reachM = core.rounds.persist(core.mark(core.reach, "node", "_hot_n"))
    val reachCold = reachM.where(col("_hot_n").isNull).drop("_hot_n")
    val reachHot = reachM.where(col("_hot_n").isNotNull).drop("_hot_n")
    def incidence(endpoint: String, flag: String): DataFrame = {
      val eCold = core.eM.where(col(flag).isNull)
        .drop("_hot_s", "_hot_d")
      val eHot = core.eM.where(col(flag).isNotNull)
        .drop("_hot_s", "_hot_d")
      eCold.join(reachCold, col(endpoint) === col("node"))
        .select(col("origin"), col("src"), col("dst"))
        .union(eHot.join(broadcast(reachHot), col(endpoint) === col("node"))
          .select(col("origin"), col("src"), col("dst")))
    }
    // an edge can qualify via both endpoints — the final distinct is the
    // semantics' own dedup (NodeHistory bitsets, KHop.java:151-154)
    val out =
      incidence("src", "_hot_s").union(incidence("dst", "_hot_d")).distinct()
    graft.tools.LoopPlan.dump("khop_edges_skew_plan", out)
    out
  }

  /** CSR-style 2-hop: same result set as [[twoHopEdges]], different plan.
    * For an edge (s,d) the qualifying origins are exactly N(s) ∪ N(d), so:
    * build per-node undirected neighbor arrays (one aggregate — the W2
    * adjacency/CSR build, the Spark form of the reference's supernode
    * adjacency cache, SuperNodeCache.java:11-44), join each edge to the
    * arrays of its two endpoints, and explode array_union(N(s), N(d)).
    * Dedup happens per edge locally in array_union instead of a global
    * 2|output|-row distinct — one exchange fewer on the hot path. */
  def twoHopEdgesCsr(rels: DataFrame): DataFrame = {
    // dedup the (small) edge list up front: multi-edges would otherwise
    // duplicate output rows that twoHopEdges' global distinct removes
    val e = rels.select(col("START_ID").as("src"), col("END_ID").as("dst"))
      .distinct()
    val nbArr = e.select(col("src").as("node"), col("dst").as("n"))
      .union(e.select(col("dst"), col("src")))
      .groupBy(col("node")).agg(collect_set(col("n")).as("nb"))
    e.join(nbArr.select(col("node").as("src"), col("nb").as("nb_s")), "src")
      .join(nbArr.select(col("node").as("dst"), col("nb").as("nb_d")), "dst")
      .select(col("src"), col("dst"),
        explode(array_union(col("nb_s"), col("nb_d"))).as("origin"))
      .select(col("origin"), col("src"), col("dst"))
  }

  /** Skew-aware 2-hop: same result set as [[twoHopEdges]], with the
    * reference's supernode split (SuperNodeCache.java:11-44,
    * KHop.java:59-81) made Spark-shaped. [[twoHopEdgesCsr]] buffers each
    * node's full neighbor set in one `collect_set` row — on a supernode
    * graph one hub row is the hub's entire adjacency (100 TB: an OOM).
    * Here hubness is measured first (a degree count — the data statistic
    * Catalyst cannot know in advance), then:
    *
    *  - the hot-node SET (small by definition) is broadcast and every edge
    *    is classified by a broadcast join — no shuffle to split;
    *  - edges with both endpoints cold take the CSR path with arrays
    *    bounded by `hotThreshold` (local per-edge dedup, no global
    *    distinct);
    *  - edges incident to a hot node fall back to the flat two-equi-join
    *    plan (neighbor rows, never arrays) + distinct — the join keys are
    *    skewed by exactly the hub fan-out, which is the output's inherent
    *    size; AQE skew-join splitting handles the partition imbalance at
    *    cluster scale.
    *
    * Hubness is the node's QUALIFYING-origin count — its neighbor count
    * after `originPred` — because that is precisely what the CSR path
    * buffers per node. A raw-degree hub whose qualifying origin set is
    * small has a small array and belongs on the CSR path; classifying on
    * raw degree would needlessly push its edges through the flat join,
    * whose global distinct costs a full extra shuffle of the (large)
    * output (measured: the distinct was 24 s of a 27 s dense-graph run
    * while deduplicating 0.05% of rows).
    *
    * The two edge classes partition the edge set, so the union needs no
    * cross-class dedup.
    *
    * Release bracket: `f` runs on the result, then every table the build
    * cached is unpersisted — fire-and-forget persists would otherwise
    * accumulate MEMORY_AND_DISK leftovers in a long-lived session until
    * eviction. Materialize the result inside `f`: the DataFrame is lazy,
    * so plans executed after the bracket recompute the cached inputs from
    * source (correct, just unaccelerated).
    *
    * @param originPred optional predicate over `origin` applied to the
    *   neighbor side BEFORE the per-edge join, so a bounded origin set
    *   shrinks every downstream operator (not just the output).
    */
  def withTwoHopEdgesSkew[A](rels: DataFrame, hotThreshold: Long,
                             originPred: Option[Column] = None)
                            (f: DataFrame => A): A = bracket { rounds =>
    // e and the neighbor table are each consumed by 4-5 downstream
    // branches (classification, cold arrays, two hot joins). Persist them
    // — the GraphX idiom for exactly this shape — or every branch re-runs
    // the source scan + dedup shuffle (measured: 78 parquet scans in the
    // unpersisted plan, ~3× the runtime).
    val e = rounds.persist(
      rels.select(col("START_ID").as("src"), col("END_ID").as("dst"))
        .distinct())
    val nbFlat = rounds.persist(
      e.select(col("src").as("node"), col("dst").as("n"))
        .union(e.select(col("dst"), col("src")))
        .distinct())
    // the neighbor side becomes the origin: restrict it up front
    val nbOrig = nbFlat.select(col("node"), col("n").as("origin"))
    val nbo = originPred.fold(nbOrig)(p => nbOrig.where(p))
    // hotness = qualifying-origin fan-in (post-restriction): exactly the
    // per-node buffer the CSR path would collect
    val hot = nbo.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      .where(col("deg") > hotThreshold)
      .select(col("node"))
    // classify edges by hot endpoints — two broadcast joins, zero shuffle.
    // MARK ONCE, THEN FILTER (r11 opt — the k-hop skew build's lesson applied
    // here too): flagged has THREE consumers (eCold once, eHot via both
    // incidence joins), so unpersisted it re-ran the classification scan
    // per consumer (profiler: a run of repeated 32-task stages re-reading
    // the cached edge table).
    val hotMark = broadcast(hot.withColumn("_hot", lit(true)))
    val flagged = rounds.persist(e
      .join(hotMark.select(col("node").as("src"), col("_hot").as("hs")),
        Seq("src"), "left")
      .join(hotMark.select(col("node").as("dst"), col("_hot").as("hd")),
        Seq("dst"), "left"))
    val eCold = flagged.where(col("hs").isNull && col("hd").isNull)
      .select(col("src"), col("dst"))
    val eHot = flagged.where(col("hs").isNotNull || col("hd").isNotNull)
      .select(col("src"), col("dst"))
    // cold CSR: arrays bounded by hotThreshold. Left joins + empty-array
    // coalesce: with an origin restriction an endpoint can have zero
    // qualifying origins yet its edge may still qualify via the OTHER
    // endpoint (an inner join would drop it).
    val emptyArr = array().cast("array<bigint>")
    // persisted (bracket-released): the src- and dst-side joins below
    // would otherwise run this collect_set shuffle twice
    val nbArrCold = rounds.persist(
      nbo.join(broadcast(hot), Seq("node"), "left_anti")
        .groupBy(col("node")).agg(collect_set(col("origin")).as("nb")))
    val coldPart = eCold
      .join(nbArrCold.select(col("node").as("src"), col("nb").as("nb_s")),
        Seq("src"), "left")
      .join(nbArrCold.select(col("node").as("dst"), col("nb").as("nb_d")),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        explode(array_union(coalesce(col("nb_s"), emptyArr),
          coalesce(col("nb_d"), emptyArr))).as("origin"))
      .select(col("origin"), col("src"), col("dst"))
    // hot fallback: flat joins (neighbor ROWS — a hub never materializes
    // its adjacency in one buffer), dedup with distinct. Only hot-incident
    // edges pay this exchange.
    val bySrc = eHot.join(nbo.select(col("node").as("src"), col("origin")),
      "src")
    val byDst = eHot.join(nbo.select(col("node").as("dst"), col("origin")),
      "dst")
    val hotPart = bySrc.select(col("origin"), col("src"), col("dst"))
      .union(byDst.select(col("origin"), col("src"), col("dst")))
      .distinct()
    coldPart.unionByName(hotPart)
  }(f)

  /** Long-form 2-hop: one row per (origin, src, dst). */
  def twoHopEdges(rels: DataFrame): DataFrame = {
    val e = rels.select(col("START_ID").as("src"), col("END_ID").as("dst"))
    // undirected neighbor map: origin -> n (deduped; parallel/reciprocal
    // edges collapse here, matching NodeHistory's first-seen semantics)
    val nb = e.select(col("src").as("origin"), col("dst").as("n"))
      .union(e.select(col("dst").as("origin"), col("src").as("n")))
      .distinct()
    // r11 opt: explicit-N repartition of the neighbor side by the join
    // key — AQE sizes partitions by input bytes, so this small-input,
    // high-fan-out incidence join coalesced to ONE task that produced
    // the whole ~|N|·deg output serially (measured: a single 4 s task
    // writing 74 MB of shuffle ahead of ChunkedCollect). A user
    // repartition with explicit N is exempt from coalescing and the
    // join reuses it; at scale it is only a parallelism floor.
    val dp = rels.sparkSession.sparkContext.defaultParallelism
    val nbSpread = nb.repartition(dp, col("n"))
    val bySrc = nbSpread.join(e, col("n") === e("src"))
      .select(col("origin"), col("src"), col("dst"))
    val byDst = nbSpread.join(e, col("n") === e("dst"))
      .select(col("origin"), col("src"), col("dst"))
    // distinct: an edge can qualify via both endpoints; the reference's
    // NodeHistory bitset dedup (KHop.java:151-154) is this set semantics.
    bySrc.union(byDst).distinct()
  }

  /** Chunk long-form (origin, src, dst) into the reference's list output
    * (SubGraphRecord.java:12-31): ≤ maxListSize edges per row, columns
    * ID, START_ID (list), END_ID (list). Chunk assignment uses a windowed
    * row_number per origin — one shuffle on origin; at scale the window and
    * the subsequent groupBy share the same hash partitioning so Catalyst
    * plans a single exchange. */
  /** Chunked output via the custom physical operator
    * (graft.plans.ChunkedCollect): ONE exchange + in-partition sort, then a
    * streaming chunk emitter with constant memory per group — versus
    * [[chunk]]'s window + groupBy (two wide stages, whole groups buffered
    * in the hash aggregate). Identical chunk multiset; preferred at scale. */
  def chunkNative(edges: DataFrame, maxListSize: Int = 2048): DataFrame =
    graft.plans.ChunkedCollect(
      edges.select(col("origin").as("ID"), col("src").as("START_ID"),
        col("dst").as("END_ID")),
      group = "ID", values = Seq("START_ID", "END_ID"), maxSize = maxListSize)

  def chunk(edges: DataFrame, maxListSize: Int = 2048): DataFrame = {
    val w = Window.partitionBy(col("origin")).orderBy(col("src"), col("dst"))
    edges
      .withColumn("chunk",
        ((row_number().over(w) - 1) / maxListSize).cast("long"))
      .groupBy(col("origin").as("ID"), col("chunk"))
      .agg(collect_list(col("src")).as("START_ID"),
        collect_list(col("dst")).as("END_ID"))
      .drop("chunk")
  }

  /** Incremental 2-hop maintenance over a BATCH edge delta — the
    * delta-join rule for materialized join views:
    *
    *   hop2(B ∪ Δ) = hop2(B) ∪ (Δ⋈B) ∪ (B⋈Δ) ∪ (Δ⋈Δ)
    *
    * so when a day's edges land, yesterday's (already materialized)
    * hop2(B) is UNIONED with three joins that each touch the small
    * delta — B⋈B, the 100 TB term, is never recomputed. Set semantics
    * (distinct pairs) make the union exact. This is the batch twin of
    * `streaming/GraphStreams`' continuous maintenance (there Spark's
    * stream-stream join state plays the role of B).
    *
    * `base2hop` is hop2(B) as previously materialized — pass the stored
    * table, not a recompute, to get the incremental cost profile.
    * Returns the distinct 2-hop pair set (a, c) of the combined graph.
    * a ⋈-key shuffle on the delta's endpoints dominates; the base is
    * touched only through the two delta-keyed joins (at scale: bucketed
    * on src/dst so even those are exchange-free — see Bucketing). */
  def incrementalTwoHop(base: DataFrame, delta: DataFrame,
                        base2hop: DataFrame): DataFrame = {
    def hop(l: DataFrame, r: DataFrame): DataFrame =
      l.select(col("src").as("a"), col("dst").as("m"))
        .join(r.select(col("src").as("m"), col("dst").as("c")), "m")
        .select(col("a"), col("c"))
    base2hop.select(col("a"), col("c"))
      .unionByName(hop(delta, base))
      .unionByName(hop(base, delta))
      .unionByName(hop(delta, delta))
      .distinct()
  }

  /** Full 2-hop pair recompute — the thing [[incrementalTwoHop]] avoids;
    * exposed for the gate/spec equivalence check. */
  def twoHopPairs(edges: DataFrame): DataFrame =
    edges.select(col("src").as("a"), col("dst").as("m"))
      .join(edges.select(col("src").as("m"), col("dst").as("c")), "m")
      .select(col("a"), col("c")).distinct()

  /** Property-WEIGHTED bounded-cost k-hop — the reference's khop carries a
    * rel-property sentinel only for edge ORIENTATION (KHOP.md:55-70); this
    * is the weighted generalization that closes the gap to the weighted
    * GDS consumers (pagerank_weighted, sssp_bf): an edge property is a
    * per-edge traversal cost, the reach set is every node whose min-cost
    * undirected path of ≤ k−1 hops from the origin stays within `budget`,
    * and the output is [[kHopEdges]]' incidence semantics over that reach
    * — the distinct natural edges with an endpoint in reach.
    *
    * Exactness: costs go through ⌊·⌋→int64 once at the scan (a double
    * cast would ROUND in DuckDB and TRUNCATE in Spark — floor is pinned),
    * parallel edges collapse to their min cost, and the hop recursion is
    * min-plus over int64 — every engine replays it bit-for-bit.
    *
    * Scale: identical join shape to [[kHopEdges]] — k−1 frontier
    * expansions each one equi-join + one (origin, node) min-aggregate
    * (map-side combined), then the two incidence equi-joins + distinct.
    * The budget predicate prunes INSIDE the expansion (applied before the
    * aggregate), so a tight budget shrinks every downstream join; hub
    * skew is AQE's skew-join case exactly as in [[kHopEdges]]. */
  def kHopEdgesWeighted(rels: DataFrame, types: Seq[String], cost: Column,
                        k: Int, budget: Long,
                        originPred: Option[Column] = None): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e = rels.where(col("TYPE").isin(types: _*))
      .select(col("START_ID").as("src"), col("END_ID").as("dst"),
        coalesce(floor(cost).cast("long"), lit(1L)).as("w"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    val eNat = e.select(col("src"), col("dst"))
    val adj = e.select(col("src").as("a"), col("dst").as("b"), col("w"))
      .union(e.select(col("dst"), col("src"), col("w")))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val allOrigins = adj.select(col("a").as("origin")).distinct()
    val origins = originPred.fold(allOrigins)(p => allOrigins.where(p))
    var reach = origins
      .select(col("origin"), col("origin").as("node"), lit(0L).as("cost"))
    for (_ <- 1 until k) {
      val step = reach.join(adj, col("node") === col("a"))
        .select(col("origin"), col("b").as("node"),
          (col("cost") + col("w")).as("cost"))
        .where(col("cost") <= budget)
      reach = reach.union(step)
        .groupBy(col("origin"), col("node")).agg(min(col("cost")).as("cost"))
    }
    val nodes = reach.select(col("origin"), col("node"))
    val bySrc = nodes.join(eNat, col("src") === col("node"))
      .select(col("origin"), col("src"), col("dst"))
    val byDst = nodes.join(eNat, col("dst") === col("node"))
      .select(col("origin"), col("src"), col("dst"))
    bySrc.union(byDst).distinct()
  }
}
