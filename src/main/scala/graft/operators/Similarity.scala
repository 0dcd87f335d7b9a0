package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column — the
  * north-star similarity operators. Two paths:
  *
  *  - [[bruteTopK]]: exact cosine top-k. The query side is broadcast, so
  *    the candidate scan is a single narrow pass over the (arbitrarily
  *    large) corpus — no shuffle until the final per-query top-k, which
  *    aggregates only k rows per query per partition (window over a
  *    pre-filtered candidate set would shuffle everything; instead we rank
  *    after a partial top-k reduction via groupBy when k is small).
  *  - [[ivfTopK]]: IVF-style two-level search — deterministic centroid
  *    subset, vectors assigned to their nearest centroid (one broadcast
  *    join), queries probe the `nprobe` nearest centroid cells. At 100 TB
  *    the assignment is a narrow map (centroids broadcast) and the probe
  *    join hits only nprobe/|C| of the corpus — the classic IVF pruning,
  *    expressed relationally so Catalyst handles partitioning.
  */
object Similarity {

  /** Exact top-k: for each row of `queries`, the k most-cosine-similar
    * rows of `corpus` (excluding the query itself). Similarities are
    * rounded to 6 decimals before ranking so results are reproducible
    * across engines; ties break by ascending candidate id.
    *
    * Ranking goes through [[TopK.perKey]] — a bounded partial aggregate
    * that keeps k rows per query per partition map-side and ships k·|q|
    * rows total across the shuffle. The window formulation
    * (`row_number().over(partitionBy(qid))`) would send every query's
    * ENTIRE scored corpus to one partition — the one plan shape that
    * cannot survive a large corpus. Null sims (zero-norm vectors) are
    * dropped: a zero vector is similar to nothing, and the typed
    * aggregator buffers primitive doubles. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qe")))
    val c = corpus.select(col("vec_id").as("nid"),
      asDouble(col("embedding")).as("ce"))
    val scored = c.join(q, col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round6(cosineFast(col("qe"), col("ce"))).as("sim"))
      .where(col("sim").isNotNull)
    TopK.perKey(scored, key = "qid", ord = "sim", tiebreak = "nid",
        payload = "nid", k = k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** IVF: centroids = deterministic corpus subset (`vec_id % centroidMod
    * == 0`); each corpus vector is assigned to its nearest centroid; each
    * query probes the `nprobe` nearest cells and ranks exactly within
    * them. Returns (qid, nid, sim, rn) like [[bruteTopK]] — approximate
    * recall, scale-path runtime. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroidMod: Int = 97, nprobe: Int = 2): DataFrame = {
    val cent = broadcast(
      corpus.where(col("vec_id") % centroidMod === 0)
        .select(col("vec_id").as("cid"), asDouble(col("embedding")).as("cv")))

    // corpus→cell assignment: broadcast cross + argmax as max(struct(sim,
    // -cid)) under groupBy. After a broadcast join all rows of one nid stay
    // in one partition, so the map-side partial aggregate collapses N×C
    // candidate rows to N before the shuffle — a window(row_number) here
    // would shuffle and sort the full N×C cross product.
    val corp = corpus.select(col("vec_id").as("nid"),
      asDouble(col("embedding")).as("ce"))
    val assigned = corp.join(cent, lit(true))
      .groupBy(col("nid"))
      .agg(
        max(struct(round6(cosineFast(col("ce"), col("cv"))).as("sim"),
          (-col("cid")).as("negcid"))).as("best"),
        first(col("ce")).as("ce"))
      .select(col("nid"), col("ce"), (-col("best.negcid")).as("cid"))

    // query→probed cells: queries are few and broadcast anyway; the
    // window top-n over |q|×C rows is negligible
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qe"))
    val probed = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(round6(cosineFast(col("qe"), col("cv"))).desc, col("cid"))
      q.join(cent, lit(true))
        .withColumn("crn", row_number().over(w))
        .where(col("crn") <= nprobe)
        .drop("cv", "crn")
    }

    val scored = probed.join(assigned, Seq("cid"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round6(cosineFast(col("qe"), col("ce"))).as("sim"))
      .where(col("sim").isNotNull)
      // a candidate can sit in several probed cells only if duplicated —
      // cells partition the corpus, so no dedup needed
    // final ranking: same bounded partial top-k as [[bruteTopK]] — the
    // probed subset is nprobe/|C| of the corpus but still grows with N
    TopK.perKey(scored, key = "qid", ord = "sim", tiebreak = "nid",
        payload = "nid", k = k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Integer quantization shared by the trained-IVF path (and by
    * `Dedup.embeddingNearDupLsh`): ⌊x·1000 + ½⌋ per component. All
    * downstream k-means arithmetic stays in exact int64, which is what
    * lets the WHOLE training loop sit under an exact cross-engine
    * oracle — float centroid means would differ in the last ulp between
    * engines (summation order) and flip assignments.
    *
    * Engine-exactness: floor(+½), never round() — round() on a double is
    * the one op whose tie convention and implementation (BigDecimal
    * re-expansion vs multiply-and-round) varies across engines and
    * versions; floor of a correctly-rounded product is pinned by IEEE 754
    * everywhere (same rule as [[quantizeInt8]]). */
  def quantized(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))

  /** Per-vector symmetric int8 quantization — the storage/serving format
    * for embedding corpora (4× smaller than float32, SIMD int8 dot
    * kernels downstream): scale = max|x_i|, q_i = ⌊x_i·127/scale + ½⌋ ∈
    * [−127, 127]. A narrow per-row projection — no shuffle, no state —
    * so it composes under any corpus partitioning at 100 TB.
    *
    * Engine-exactness: ⌊x+½⌋ instead of round() (engines disagree on
    * round's tie convention for negatives, floor is unambiguous); the
    * float32→double promotion, ·127.0, /scale chain is correctly rounded
    * identically everywhere, and scale itself (a max over promoted
    * float32 values) is bit-exact. Zero vectors quantize to all-zeros.
    * Returns (id, scale, qv: array<long>). */
  def quantizeInt8(embeddings: DataFrame, id: String = "vec_id",
                   emb: String = "embedding"): DataFrame =
    embeddings
      .select(col(id), asDouble(col(emb)).as("xs"))
      .select(col(id), col("xs"),
        array_max(transform(col("xs"), x => abs(x))).as("scale"))
      .select(col(id), col("scale"),
        when(col("scale") === 0.0,
          transform(col("xs"), _ => lit(0L)))
          .otherwise(transform(col("xs"),
            x => floor(x * 127.0 / col("scale") + 0.5).cast("long")))
          .as("qv"))

  /** Exact integer squared L2 distance between quantized vectors — the
    * codegen kernel (graft.plans.LongSqDistance), null-semantics-identical
    * to the interpreted zip_with/aggregate form it replaced. */
  private def qdist(a: Column, b: Column): Column = longSqDist(a, b)

  /** Nearest-centroid assignment over quantized vectors: broadcast the
    * (small) centroid table, map-side argmin via min(struct(dist, cid))
    * — rows of one vec_id never cross a partition after a broadcast
    * join, so the partial aggregate collapses N×C to N pre-shuffle. */
  private def assignQuantized(q: DataFrame, cent: DataFrame): DataFrame =
    q.join(broadcast(cent), lit(true))
      .groupBy(col("vec_id"))
      .agg(min(struct(qdist(col("qv"), col("qc")).as("d"),
        col("cid").as("cid"))).as("best"),
        first(col("qv")).as("qv"))
      .select(col("vec_id"), col("qv"), col("best.cid").as("cid"))

  /** Lloyd k-means over integer-quantized embeddings. Deterministic init
    * (vec_id % initMod == 0); each iteration is one broadcast-assign +
    * one per-dimension integer mean (floor of the correctly-rounded
    * double quotient — exact and identical cross-engine at these
    * magnitudes). Cells that lose all members drop out (k may shrink;
    * deterministic, since assignments are exact). Returns (cid, qc).
    *
    * Scale shape: the centroid table is k rows (broadcast); assignment
    * is a narrow map over the corpus; the update is one shuffle keyed by
    * (cid, dim) with map-side partial sums — the standard distributed
    * Lloyd step. */
  def kmeansQuantized(corpus: DataFrame, iters: Int,
                      initMod: Int = 97): DataFrame = {
    val q = quantized(corpus)
    var cent = q.where(col("vec_id") % initMod === 0)
      .select(col("vec_id").as("cid"), col("qv").as("qc"))
    for (_ <- 1 to iters) {
      val assigned = assignQuantized(q, cent)
      cent = assigned
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .groupBy(col("cid"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("c")))),
          s => s.getField("c")).as("qc"))
    }
    cent
  }

  /** Broadcast-free nearest-centroid assignment for HUGE k — the regime
    * where the centroid table itself no longer fits an executor broadcast
    * (k in the millions; [[assignQuantized]]'s broadcast-cross is the
    * right shape only while k is small). Both sides hash into hyperplane
    * sign-bit buckets (the same fixed integer hyperplanes as
    * `Dedup.embeddingNearDupLsh`, so the bucket key is exact int64 and
    * cross-engine deterministic), then a SHUFFLE equi-join on the bucket
    * key pairs each vector only with the centroids in its bucket, and an
    * integer argmin picks the nearest. The join is hinted shuffle-hash:
    * no broadcast anywhere, both sides partition by bucket — at 100 TB
    * each bucket is ~k/2^nbits centroids × its share of the corpus.
    *
    * Approximation contract (same as IVF probing): a vector only sees
    * centroids in ITS bucket — empty-bucket vectors drop out, near-plane
    * vectors may miss their true nearest. Deterministic, so the DuckDB
    * twin replays it exactly.
    *
    * @param centroids (cid, qc) with qc already integer-quantized
    * @return (vec_id, cid, d) — assigned cell + exact integer distance
    */
  def assignHugeK(corpus: DataFrame, centroids: DataFrame,
                  nbits: Int = 4, dim: Int = 64): DataFrame = {
    val hp = Dedup.hyperplanes(nbits, dim)
    def bucketOf(v: Column): Column =
      (0 until nbits).map { i =>
        when(longDot(v, typedlit(hp(i))) >= 0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ + _)
    val corp = quantized(corpus)
      .select(col("vec_id"), col("qv"), bucketOf(col("qv")).as("bucket"))
    val cent = centroids
      .select(col("cid"), col("qc"), bucketOf(col("qc")).as("bucket"))
    corp.join(cent.hint("shuffle_hash"), "bucket")
      // one vector's candidates all share its (single) bucket partition,
      // so this aggregate collapses map-side before any further shuffle
      .groupBy(col("vec_id"))
      .agg(min(struct(qdist(col("qv"), col("qc")).as("d"),
        col("cid").as("cid"))).as("best"))
      .select(col("vec_id"), col("best.cid").as("cid"), col("best.d").as("d"))
  }

  /** Product quantization (PQ) top-k — the memory-side ANN scale play
    * (IVF prunes WHICH vectors are scanned; PQ shrinks WHAT is scanned:
    * m small codes per vector instead of the full embedding, so the
    * candidate scan reads m·log2(k') bits per vector instead of dim
    * floats).
    *
    *  - Train: split each integer-quantized vector into m contiguous
    *    subspaces and run the SAME deterministic Lloyd step as
    *    [[kmeansQuantized]] independently per subspace — one DataFrame
    *    program keyed by (subspace, cid), not a per-subspace loop.
    *  - Encode: per (vector, subspace), the nearest codeword id by exact
    *    integer distance (broadcast codebooks, map-side argmin — same
    *    collapse-before-shuffle shape as [[assignQuantized]]).
    *  - Query (ADC): per query, a distance TABLE to every codeword
    *    (|q|·m·k' rows — tiny, broadcast); approx distance of a candidate
    *    = Σ_m table[s, code_s] via one (s, code) equi-join + a (qid, nid)
    *    sum; ranking through the bounded [[TopK.perKey]] aggregate.
    *
    * Everything is exact int64 (quantization, distances, floor means),
    * so the WHOLE train→encode→ADC pipeline replays bit-identically in
    * the DuckDB oracle. Returns (qid, nid, adc, rn) with rn = 1..k by
    * ascending approximate distance, ties by nid. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, m: Int = 4,
             dim: Int = 64, iters: Int = 1,
             initMod: Int = 97): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val w = dim / m
    def subSplit(df: DataFrame): DataFrame =
      df.select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(col("qv"), s * w + 1, lit(w)))).as(Seq("s", "sv")))
    val sub = subSplit(quantized(corpus)).localCheckpoint(true)
    var cent = sub.where(col("vec_id") % initMod === 0)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("sc"))
    for (_ <- 1 to iters) {
      val assigned = sub.join(broadcast(cent), "s")
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(qdist(col("sv"), col("sc")).as("d"),
          col("cid").as("cid"))).as("best"),
          first(col("sv")).as("sv"))
        .select(col("vec_id"), col("s"), col("sv"),
          col("best.cid").as("cid"))
      cent = assigned
        .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("s"), col("cid"), col("pos"))
        .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
          .cast("long").as("c"))
        .groupBy(col("s"), col("cid"))
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("c")))),
          t => t.getField("c")).as("sc"))
    }
    val codes = sub.join(broadcast(cent), "s")
      .groupBy(col("vec_id"), col("s"))
      .agg(min(struct(qdist(col("sv"), col("sc")).as("d"),
        col("cid").as("cid"))).as("best"))
      .select(col("vec_id").as("nid"), col("s"), col("best.cid").as("code"))
    val qsub = subSplit(quantized(queries))
      .select(col("vec_id").as("qid"), col("s"), col("sv"))
    val dt = qsub.join(cent, "s")
      .select(col("qid"), col("s"), col("cid").as("code"),
        qdist(col("sv"), col("sc")).as("d"))
    val scored = codes.join(broadcast(dt), Seq("s", "code"))
      .where(col("nid") =!= col("qid"))
      .groupBy(col("qid"), col("nid"))
      .agg(sum(col("d")).as("adc"))
    TopK.perKey(
        scored.withColumn("nord", -col("adc").cast("double")),
        key = "qid", ord = "nord", tiebreak = "nid", payload = "nid",
        k = k)
      .select(col("qid"), col("nid"),
        (-col("nord")).cast("long").as("adc"), col("rn"))
  }

  /** IVF with TRAINED centroids: quantized k-means (exact, see
    * [[kmeansQuantized]]), corpus assigned to trained cells by integer
    * distance, queries probe the `nprobe` nearest cells by the same
    * integer distance (deterministic probe selection — no float
    * tie ambiguity), exact cosine ranking within the probed cells via
    * the bounded [[TopK.perKey]] aggregate. */
  def ivfTrainedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     iters: Int = 2, initMod: Int = 97,
                     nprobe: Int = 2): DataFrame = {
    val cent = kmeansQuantized(corpus, iters, initMod)
    val assigned = assignQuantized(quantized(corpus), cent)
      .select(col("vec_id").as("nid"), col("cid"))
      .join(corpus.select(col("vec_id").as("nid"),
        asDouble(col("embedding")).as("ce")), "nid")
    val qq = quantized(queries)
      .join(queries.select(col("vec_id"),
        asDouble(col("embedding")).as("qe")), "vec_id")
      .select(col("vec_id").as("qid"), col("qv"), col("qe"))
    val probed = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(qdist(col("qv"), col("qc")), col("cid"))
      qq.join(broadcast(cent), lit(true))
        .withColumn("crn", row_number().over(w))
        .where(col("crn") <= nprobe)
        .select(col("qid"), col("qe"), col("cid"))
    }
    val scored = probed.join(assigned, Seq("cid"))
      .where(col("nid") =!= col("qid"))
      .select(col("qid"), col("nid"),
        round6(cosineFast(col("qe"), col("ce"))).as("sim"))
      .where(col("sim").isNotNull)
    TopK.perKey(scored, key = "qid", ord = "sim", tiebreak = "nid",
        payload = "nid", k = k)
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Embedding outlier detection — the corpus-hygiene filter that flags
    * mis-embedded or off-distribution rows before training: distance of
    * every vector to the GLOBAL integer centroid (per-dimension floor
    * mean over [[quantized]] vectors, the same exact-mean idiom as the
    * k-means update), ranked top-k by exact int64 squared L2 (ties →
    * smaller vec_id). Returns (rn 1..k, vec_id, d).
    *
    * Scale: the centroid is one (dim-keyed) aggregate; distances are a
    * narrow map with the 1-row centroid broadcast; the final rank is
    * orderBy+limit — Spark plans TakeOrdered (per-partition heap of k,
    * k rows per partition to the driver-side merge), never a full sort
    * shuffle. */
  def embeddingOutliers(embeddings: DataFrame, k: Int): DataFrame = {
    val q = quantized(embeddings)
    val cent = q.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("qc"))
    val top = q.join(broadcast(cent), lit(true))
      .select(col("vec_id"), longSqDist(col("qv"), col("qc")).as("d"))
      .orderBy(col("d").desc, col("vec_id")).limit(k)
    top.withColumn("rn", row_number().over(
        Window.orderBy(col("d").desc, col("vec_id"))).cast("long"))
      .select(col("rn"), col("vec_id"), col("d"))
  }

  /** Greedy k-center (farthest-point) diverse-subset selection — the
    * coverage-maximizing counterpart of dedup: pick the corpus row with
    * the smallest id as the seed, then k−1 times pick the row whose
    * nearest already-selected center is FARTHEST (exact int64 squared L2
    * over [[quantized]] vectors; ties → smaller vec_id). The classic
    * 2-approximation for diverse data selection (coreset seeding,
    * eval-set picking, k-means++-style init without randomness).
    * Returns (rn 1..k, vec_id, mind) — mind is the selected row's
    * distance to its nearest prior center (0 for the seed), a useful
    * coverage-radius diagnostic.
    *
    * Scale: each round is ONE narrow scan + ONE argmax aggregate over
    * the corpus — the r selected centers ride along as broadcast
    * literals, and only a single (mind, id, qv) row returns to the
    * driver per round (bounded by k, never data-sized). The quantized
    * corpus is persisted across the k scans and released before
    * returning; the result itself is a k-row local DataFrame. */
  def kcenterSelect(embeddings: DataFrame, k: Int): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantized(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // (vec_id, mind-at-selection, qv)
      val selected = scala.collection.mutable.ArrayBuffer.empty[
        (Long, Long, Seq[Long])]
      q.agg(min(struct(col("vec_id"), col("qv"))).as("s"))
        .where(col("s").isNotNull)           // empty corpus → empty result
        .select(col("s.vec_id"), col("s.qv"))
        .as[(Long, Seq[Long])].collect()
        .foreach { case (id, qv) => selected += ((id, 0L, qv)) }
      var r = selected.size
      while (r > 0 && r < k) {
        val ids = selected.map(_._1).toSeq
        val mind = selected.map(s => longSqDist(col("qv"), typedlit(s._3)))
          .reduce(least(_, _))
        val best = q.where(!col("vec_id").isInCollection(ids))
          .select(col("vec_id"), col("qv"), mind.as("mind"))
          .agg(max(struct(col("mind"), (-col("vec_id")).as("nid"),
            col("qv"))).as("b"))
          .where(col("b").isNotNull)
          .select(col("b.mind"), (-col("b.nid")).as("vec_id"), col("b.qv"))
          .as[(Long, Long, Seq[Long])].collect()
        if (best.isEmpty) r = 0              // corpus exhausted before k
        else {
          selected += ((best.head._2, best.head._1, best.head._3))
          r = selected.size
        }
      }
      selected.toSeq.zipWithIndex
        .map { case ((id, mind, _), i) => (i + 1L, id, mind) }
        .toDF("rn", "vec_id", "mind")
    } finally q.unpersist(blocking = false)
  }

  /** Nearest-class-mean (prototype) classification over the embedding
    * corpus: one integer floor-mean prototype per label (the same exact
    * Lloyd-update arithmetic as [[kmeansQuantized]], keyed by the GIVEN
    * label instead of a learned cell), every vector assigned to its
    * nearest prototype by exact integer L2, and the label×prediction
    * confusion matrix returned — the standard embedding-quality probe
    * (how linearly separable are the classes?) and the cheapest useful
    * classifier over a labeled corpus.
    *
    * Scale: prototypes are |labels| rows (broadcast); assignment is one
    * narrow map with a map-side argmin collapse; the confusion matrix is
    * one hash aggregate. Nothing pairwise anywhere. */
  def nearestClassMean(embeddings: DataFrame): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    val proto = q
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("label"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("qc"))
      .withColumnRenamed("label", "plabel")
    q.join(broadcast(proto), lit(true))
      .groupBy(col("vec_id"))
      .agg(min(struct(qdist(col("qv"), col("qc")).as("d"),
        col("plabel").as("pred"))).as("best"),
        first(col("label")).as("label"))
      .select(col("label"), col("best.pred").as("pred"))
      .groupBy(col("label"), col("pred"))
      .agg(count(lit(1)).as("n"))
  }

  /** Hard-negative mining: for every query vector, the k nearest corpus
    * vectors carrying a DIFFERENT label — the contrastive-training
    * companion of [[bruteTopK]] (easy negatives are free; the hard ones
    * near the decision boundary are what the loss needs). Exact integer
    * distances, ranked ascending with nid tie-break through the bounded
    * [[TopK.perKey]] aggregate — k rows per query per partition cross
    * the shuffle, never the scored corpus. Queries broadcast, corpus
    * streams: the 100 TB shape. Returns (qid, nid, d, rn). */
  def hardNegatives(embeddings: DataFrame, queryPred: Column,
                    k: Int): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    val queries = q.where(queryPred)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("qv").as("qq"))
    val scored = q.join(broadcast(queries),
        col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id").as("nid"),
        (-qdist(col("qv"), col("qq"))).as("negd"))
    TopK.perKey(scored, key = "qid", ord = "negd", tiebreak = "nid",
        payload = "nid", k = k)
      .select(col("qid"), col("nid"), (-col("negd")).cast("long").as("d"),
        col("rn"))
  }

  /** Top principal direction of the embedding corpus by fixed-round
    * power iteration over the UNCENTERED second-moment matrix — WITHOUT
    * materializing the d×d matrix: C·v = Σ_rows (qv·v)·qv, so a round
    * is one codegen dot per row, one positional explode, and one d-row
    * aggregate; the d-row collect per round is bounded driver data
    * (same contract as [[kmeansQuantized]]'s centroid table). The
    * anisotropy/drift diagnostic for embedding corpora.
    *
    * Integer-exact normalization: v ← ((a + m)·1000 div m) − 1000 with
    * m = max|a| — the shift keeps the division non-negative, where
    * truncating (Spark div) and flooring (DuckDB //) integer division
    * agree, so both engines iterate bit-identically. int64 bounds hold
    * for |x|≤2·10³ quantized components and corpora to ~10⁷ rows per
    * power step; beyond that, rescale s (documented, not silent).
    * Returns (pos, v) with ‖v‖∞ = 1000, pos 0-based. */
  def pcaPowerDirection(embeddings: DataFrame, iters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val q = quantized(embeddings).localCheckpoint(true)
    try {
      val dim = q.select(size(col("qv"))).head().getInt(0)
      var v: Seq[Long] = Seq.fill(dim)(1000L)
      for (_ <- 1 to iters) {
        val acc = q
          .select(col("qv"), longDot(col("qv"), typedlit(v)).as("s"))
          .select(posexplode(col("qv")).as(Seq("pos", "x")), col("s"))
          .groupBy(col("pos")).agg(sum(col("x") * col("s")).as("acc"))
          .orderBy(col("pos")).collect().map(_.getLong(1))
        val m = math.max(acc.map(math.abs).max, 1L)
        v = acc.toSeq.map(a => ((a + m) * 1000L) / m - 1000L)
      }
      v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("pos", "v")
    } finally { q.unpersist(blocking = false); () }
  }

  /** Pairs-free class-separation statistics: the exact sum of squared
    * distances over ALL within-label pairs via the moment identity
    *
    *   Σ_{i<j} ‖x_i − x_j‖² = n·Σ‖x_i‖² − ‖Σ x_i‖²
    *
    * so the O(n²) pairwise panel collapses to two aggregates per label
    * (second moment + per-dimension sums) — THE way to measure
    * intra/inter-class spread at 100 TB, where a pair join is
    * impossible by construction. A label = −1 row carries the same
    * statistics over the whole corpus; inter-class spread is the
    * difference. All int64-exact on quantized embeddings. Returns
    * (label, n, n_pairs, sqdist_sum, mean_sqdist). */
  def classSeparation(embeddings: DataFrame): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    def sep(keys: Seq[String], tag: Column): DataFrame = {
      val kc = keys.map(col)
      val m2 = q.select(kc :+ longDot(col("qv"), col("qv")).as("sq"): _*)
        .groupBy(kc: _*)
        .agg(count(lit(1)).as("n"), sum(col("sq")).as("s2"))
      val m1 = q
        .select(kc :+ posexplode(col("qv")).as(Seq("pos", "x")): _*)
        .groupBy((keys :+ "pos").map(col): _*)
        .agg(sum(col("x")).as("sx"))
        .groupBy(kc: _*)
        .agg(sum(col("sx") * col("sx")).as("s1sq"))
      val j = if (keys.isEmpty) m2.join(m1, lit(true))
        else m2.join(m1, keys)
      j.select(tag.as("label"), col("n"),
          expr("n * (n - 1) div 2").as("n_pairs"),
          (col("n") * col("s2") - col("s1sq")).as("sqdist_sum"))
        .withColumn("mean_sqdist",
          when(col("n_pairs") > 0, expr("sqdist_sum div n_pairs"))
            .otherwise(lit(0L)))
    }
    sep(Seq("label"), col("label"))
      .unionByName(sep(Nil, lit(-1L)))
  }

  /** Per-class embedding drift between two deterministic corpus halves
    * (vec_id parity — in production, two model versions or two time
    * windows): exact integer squared distance between the halves'
    * floor-mean centroids per label. The embedding regression test: a
    * re-embedding that moves a class centroid beyond tolerance fails
    * CI before it poisons an index. Two aggregates and a |labels|-row
    * join; labels missing a half drop out (inner join — no centroid,
    * no comparison). Returns (label, n_a, n_b, drift_sq). */
  def embedDrift(embeddings: DataFrame): DataFrame = {
    val q = embeddings.select(col("label").cast("long").as("label"),
      (col("vec_id") % 2).as("half"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    val cent = q
      .select(col("label"), col("half"),
        posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("half"), col("pos"))
      .agg(floor(sum(col("x")).cast("double") / count(lit(1)))
        .cast("long").as("c"))
      .groupBy(col("label"), col("half"))
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("qc"))
    val n = q.groupBy(col("label"), col("half"))
      .agg(count(lit(1)).as("n"))
    cent.where(col("half") === 0)
      .select(col("label"), col("qc").as("qa"))
      .join(cent.where(col("half") === 1)
        .select(col("label"), col("qc").as("qb")), "label")
      .join(n.where(col("half") === 0)
        .select(col("label"), col("n").as("n_a")), "label")
      .join(n.where(col("half") === 1)
        .select(col("label"), col("n").as("n_b")), "label")
      .select(col("label"), col("n_a"), col("n_b"),
        longSqDist(col("qa"), col("qb")).as("drift_sq"))
  }

  /** k-NN label-noise screening (confident-learning-lite): for every
    * vector, the share of its k nearest SAME-CELL neighbors carrying a
    * different label — high disagreement flags probable mislabels, the
    * cheap first pass before any human re-annotation. Neighborhoods are
    * cell-local (same [[kmeansQuantized]] cells as [[semanticDedup]]),
    * so the pair work is n/cells per row, tuned by k-means granularity
    * — never a global pair join; ranking through the bounded
    * [[TopK.perKey]] aggregate. Vectors alone in their cell report
    * n_nbrs = 0 (no evidence, not clean). Exact integer distances,
    * nid tie-breaks. Returns (vec_id, label, n_nbrs, n_diff, diff_ppm). */
  def labelNoiseKnn(embeddings: DataFrame, k: Int = 5,
                    iters: Int = 1, initMod: Int = 97): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      col("label").cast("long").as("label"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    val cent = kmeansQuantized(embeddings, iters, initMod)
    val assigned = assignQuantized(quantized(embeddings), cent)
      .join(q.select(col("vec_id"), col("label")), "vec_id")
    val pairs = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vid"), col("b.vec_id").as("nid"),
        (-qdist(col("a.qv"), col("b.qv"))).as("negd"))
    val knn = TopK.perKey(pairs, key = "vid", ord = "negd",
      tiebreak = "nid", payload = "nid", k = k)
    val scored = knn
      .join(q.select(col("vec_id").as("nid"), col("label").as("nlabel")),
        "nid")
      .join(q.select(col("vec_id").as("vid"), col("label")), "vid")
      .groupBy(col("vid"), col("label"))
      .agg(count(lit(1)).as("n_nbrs"),
        sum(when(col("nlabel") =!= col("label"), 1L).otherwise(0L))
          .as("n_diff"))
    q.select(col("vec_id").as("vid"), col("label"))
      .join(scored.drop("label"), Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("label"),
        coalesce(col("n_nbrs"), lit(0L)).as("n_nbrs"),
        coalesce(col("n_diff"), lit(0L)).as("n_diff"))
      .withColumn("diff_ppm",
        when(col("n_nbrs") > 0, expr("n_diff * 1000000 div n_nbrs"))
          .otherwise(lit(0L)))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public paper): k-means-cluster the embedding
    * corpus, call two documents semantic duplicates when their
    * embeddings are close WITHIN a cluster, and keep exactly one per
    * duplicate group — the one FARTHEST from its centroid (the paper's
    * choice: the most atypical copy preserves diversity; the near-
    * centroid copies are the redundant mass).
    *
    * Everything is exact int64: [[kmeansQuantized]] centroids,
    * assignment and closeness by integer squared L2 ([[quantized]]
    * space), so the full train→assign→pair→component→argmax pipeline
    * replays bit-identically in the DuckDB oracle.
    *
    * Scale shape (the paper's own): pairwise comparison happens ONLY
    * inside a cluster — the self-join keys on cid, so each cluster is an
    * independent partition-local quadratic of size n/k, tuned by k; the
    * components and the per-group argmax window are bounded by duplicate
    * -group size. Returns (vec_id, cid, grp, dc, keep) — cluster,
    * duplicate group (singleton ⇒ own id), distance-to-centroid, and
    * the keep verdict. */
  def semanticDedup(embeddings: DataFrame, maxSqDist: Long,
                    iters: Int = 1, initMod: Int = 97): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r12 opt (guide §5 re-evaluation): cent is consumed by TWO broadcast
    // builds (assignment + the dc join) and withD by THREE plans (both
    // pair sides + the final join) — un-materialized, each consumer re-ran
    // the whole k-means train / assignment pipeline (measured: the gate
    // was ~20 driver-sequenced jobs of which half were repeats). Both
    // tables are tiny (k centroids / n assigned rows); one eager
    // localCheckpoint each runs the pipeline once and truncates the plan
    // the later jobs must re-analyze. Same rows, same semantics.
    val cent = kmeansQuantized(embeddings, iters, initMod)
      .localCheckpoint(true)
    val assigned = assignQuantized(quantized(embeddings), cent)
    val withD = assigned.join(broadcast(cent), "cid")
      .select(col("vec_id"), col("qv"), col("cid"),
        qdist(col("qv"), col("qc")).as("dc"))
      .localCheckpoint(true)
    val pairs = withD.as("a").join(withD.as("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .where(qdist(col("a.qv"), col("b.qv")) <= maxSqDist)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
    val comp = Dedup.clusters(pairs, "vec_a", "vec_b")
      .select(col("doc_id").as("vec_id"), col("rep").as("grp"))
    withD.join(comp, Seq("vec_id"), "left")
      .withColumn("grp", coalesce(col("grp"), col("vec_id")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("dc").desc, col("vec_id"))))
      .select(col("vec_id"), col("cid"), col("grp"), col("dc"),
        (col("rn") === 1).as("keep"))
  }

  /** Cross-corpus pair MINING by CSLS (cross-domain similarity local
    * scaling, Conneau et al. 2018) — the margin criterion behind
    * Artetxe & Schwenk-style bitext mining, in its SUBTRACTION form so
    * every quantity stays an exact int64 (the ratio-margin form divides
    * by a kNN mean and re-introduces float tie hazards):
    *
    *   csls(x, y) = 2k·dot(x, y) − Σ_{z∈NNk(x,B)} dot(x, z)
    *                             − Σ_{w∈NNk(y,A)} dot(y, w)
    *
    * over the two corpus sides A = `label % 2 == 0`, B = the rest (the
    * synthetic stand-in for source/target languages). The local terms
    * cancel hubness: a y close to EVERYTHING has a large kNN sum and
    * must beat its own neighborhood, not just the global scale. A pair
    * is MINED when each member is the other's csls-argmax (mutual best;
    * ties → smaller candidate id). Returns (aid, bid, csls).
    *
    * Scale shape: one broadcast cross-dot (the queries-broadcast shape
    * [[bruteTopK]] uses; compose with [[ivfTopK]]'s cell restriction
    * when |A|·|B| outgrows brute force) + bounded [[TopK.perKey]]
    * aggregates for the kNN sums and both argmaxes — no global window,
    * no driver loop. int64-exact: quantized dots ≤ 64·(10³·|x|_max)²
    * stay far under 2^53, so the TopK double ord is lossless too. */
  def cslsMinePairs(embeddings: DataFrame, k: Int): DataFrame = {
    val q = embeddings.select(col("vec_id"),
      (col("label") % 2 === 0).as("is_a"),
      transform(asDouble(col("embedding")),
        x => floor(x * 1000 + 0.5).cast("long")).as("qv"))
    val a = q.where(col("is_a"))
      .select(col("vec_id").as("aid"), col("qv").as("av"))
    val b = q.where(!col("is_a"))
      .select(col("vec_id").as("bid"), col("qv").as("bv"))
    // dots and scored stay LAZY: each consumer (both kNN sums, the
    // scored join, both argmaxes, the mutual join) re-derives the
    // broadcast cross dot instead of pinning an |A|×|B| table in block
    // storage — recompute is the price of keeping the operator's scale
    // shape (no materialized |A|×|B| intermediate) and one plan the
    // optimizer sees whole.
    val dots = a.join(broadcast(b), lit(true))
      .select(col("aid"), col("bid"),
        longDot(col("av"), col("bv")).as("dot"))
    val ska = TopK.perKey(dots, key = "aid", ord = "dot",
        tiebreak = "bid", payload = "bid", k = k)
      .groupBy(col("aid")).agg(sum(col("dot")).cast("long").as("ska"))
    val skb = TopK.perKey(dots.select(col("bid"), col("aid"), col("dot")),
        key = "bid", ord = "dot", tiebreak = "aid", payload = "aid", k = k)
      .groupBy(col("bid")).agg(sum(col("dot")).cast("long").as("skb"))
    val scored = dots.join(ska, "aid").join(skb, "bid")
      .select(col("aid"), col("bid"),
        (lit(2L * k) * col("dot") - col("ska") - col("skb")).as("csls"))
    val bestA = TopK.perKey(scored, key = "aid", ord = "csls",
        tiebreak = "bid", payload = "bid", k = 1)
      .select(col("aid"), col("bid"))
    val bestB = TopK.perKey(scored.select(col("bid"), col("aid"),
        col("csls")), key = "bid", ord = "csls",
        tiebreak = "aid", payload = "aid", k = 1)
      .select(col("bid"), col("aid"))
    scored.join(bestA, Seq("aid", "bid")).join(bestB, Seq("bid", "aid"))
      .select(col("aid"), col("bid"), col("csls").cast("long").as("csls"))
  }
}
