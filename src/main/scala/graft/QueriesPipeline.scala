package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.functions.VectorFunctions.round6
import graft.functions.TextFunctions._
import graft.operators.{CorpusTools, Dedup, Multimodal, Preference, Quality, Similarity, Skew}
import graft.sources.TpchGraph.table

/** North-star LLM-training-data pipeline operators over the `documents` /
  * `embeddings` tables: deduplication (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding near-dup), similarity search (exact + IVF),
  * text analysis (quality, language id, token counts, fingerprints) and
  * multimodal binary plumbing. Every gate here carries oracle SQL: the
  * minhash/simhash gates run the portable-hash pipelines DuckDB can replay
  * exactly; the xxhash64 fast-path twins are spec-gated (DedupSpec). */
object QueriesPipeline {

  private val EnStop = Seq("the", "a", "of", "and")

  /** Shared CTE block for the unigram-LM tokenizer oracles
    * (CorpusTools.unigramVocab/Segment): word counts over the corpus,
    * all substrings of length 1..4 with multiplicity, top-64 ∪ single
    * chars, integer bit-length surprisal costs. */
  /** Shared streaming-gate scaffold: run `out` to a memory sink with
    * AvailableNow under 8 shuffle partitions, eagerly materialize the
    * sink table, then DROP the temp view (a leaked view per gate run
    * otherwise accumulates on the driver). */
  private def runStreamToMemory(s: SparkSession, out: DataFrame,
                                prefix: String, mode: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val qname = s"${prefix}_${System.nanoTime()}"
    val ck = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(ck)
    s.conf.set(ck, "8")
    try {
      val q = out.writeStream.format("memory").queryName(qname)
        .outputMode(mode).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    } finally s.conf.set(ck, prev)
    val result = s.table(qname).localCheckpoint(true)
    s.catalog.dropTempView(qname)
    result
  }

  /** Recursive delete for a gate's staging directory. */
  private def rmTree(p: java.io.File): Unit = {
    Option(p.listFiles).foreach(_.foreach(rmTree)); p.delete(); ()
  }

  /** Multi-batch file staging — see [[graft.streaming.StageFiles]]. */
  private def stageTimedParquet(df: DataFrame, base: String, src: String,
                                seq: Int): Unit =
    graft.streaming.StageFiles.stageTimedParquet(df, base, src, seq)

  /** The dedup_clusters component chain (3-shingle inverted index +
    * DF cap + Jaccard >= 0.3 pairs + recursive min-label fixpoint),
    * ending in `reach(node, lbl)`. Starts with the RECURSIVE keyword —
    * callers prepend "WITH " only. ONE copy, shared by dedup_clusters /
    * dedup_keep_best / cluster_safe_split. */
  private val dedupClusterCtes: String =
    """RECURSIVE
      |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
      |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
      |       FROM w WHERE len(ws) >= 3),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) t
      |        WHERE df > 50),
      |shp AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |          FROM shp a JOIN shp b
      |            ON a.s = b.s AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b, c * 1.0 / (ca.n + cb.n - c) AS jac
      |      FROM pairs
      |      JOIN cnt ca ON ca.doc_id = doc_a
      |      JOIN cnt cb ON cb.doc_id = doc_b),
      |p2 AS (SELECT doc_a AS x, doc_b AS y FROM j WHERE jac >= 0.3),
      |edges AS (SELECT x AS a, y AS b FROM p2 UNION SELECT y, x FROM p2),
      |nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach(node, lbl) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
      |)""".stripMargin

  private val unigramCtes =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |            FROM documents),
      |tk AS (SELECT doc_id, word FROM tok WHERE word <> ''),
      |wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM tk
      |       GROUP BY word),
      |pc AS (SELECT substr(word, CAST(pp AS INT), CAST(ll AS INT)) AS p, c
      |       FROM wc,
      |            unnest(range(1, CAST(length(word) AS BIGINT) + 1)) AS a(pp),
      |            unnest(range(1, 5)) AS b(ll)
      |       WHERE pp + ll - 1 <= length(word)),
      |pieces AS (SELECT p, CAST(sum(c) AS BIGINT) AS cnt FROM pc GROUP BY p),
      |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM pieces),
      |voc AS (SELECT DISTINCT p, cnt FROM (
      |          SELECT p, cnt FROM pieces ORDER BY cnt DESC, p LIMIT 64
      |        ) top
      |        UNION
      |        SELECT p, cnt FROM pieces WHERE length(p) = 1),
      |vocab AS (SELECT p, cnt,
      |            CAST(length(printf('%b', t // cnt)) AS BIGINT) AS cost
      |          FROM voc, tt)""".stripMargin

  /** Chunk-frequency boilerplate-strip CTE block (Dedup
    * .chunkFrequencyStrip oracle): 8-word chunks, minDf = 2, ending in
    * `agg` (docs with ≥1 surviving chunk: kept_chunks + clean_text) and
    * `tot` (total chunks per doc). No leading WITH — composable. */
  private val chunkStripCtes =
    """cs_d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |cs_n AS (SELECT doc_id, ws, len(ws) AS len,
      |        1 + (greatest(len(ws) - 8, 0) + 7) // 8 AS n_chunks FROM cs_d),
      |ch AS (SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
      |         array_to_string(ws[(i*8+1):(i*8+8)], ' ') AS s
      |       FROM cs_n, unnest(range(0, n_chunks)) AS t(i)),
      |hot AS (SELECT s FROM (SELECT s, count(DISTINCT doc_id) AS df
      |                       FROM ch GROUP BY s) t WHERE df >= 2),
      |kept AS (SELECT * FROM ch WHERE s NOT IN (SELECT s FROM hot)),
      |agg AS (SELECT doc_id, count(*) AS kept_chunks,
      |          string_agg(s, ' ' ORDER BY chunk_idx) AS clean_text
      |        FROM kept GROUP BY doc_id),
      |tot AS (SELECT doc_id, count(*) AS total_chunks FROM ch
      |        GROUP BY doc_id)""".stripMargin

  /** Curriculum-order CTE block (CorpusTools.curriculumOrder oracle)
    * over any `rel` with (doc_id, source, text): ends in `r` carrying
    * (doc_id, source, n_tokens, bucket, src_rank). No leading WITH. */
  private def curriculumCtes(rel: String = "documents"): String =
    s"""cu_b AS (SELECT doc_id, source,
       |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
       |         AS BIGINT) AS n_tokens
       |  FROM $rel),
       |cu_c AS (SELECT doc_id, source, n_tokens,
       |    CAST(length(printf('%b', n_tokens + 1)) AS BIGINT) AS bucket,
       |    (doc_id * 2654435761) % 1000000007 AS h
       |  FROM cu_b),
       |r AS (SELECT doc_id, source, n_tokens, bucket,
       |    CAST(row_number() OVER (PARTITION BY bucket, source
       |                            ORDER BY h, doc_id) AS BIGINT)
       |      AS src_rank
       |  FROM cu_c)""".stripMargin

  /** [[unigramCtes]] + the Viterbi DP: `sw` = per distinct word
    * (word, np = piece count, wcost = total cost). Shared by the
    * unigram_segment and tokenizer_bakeoff oracles. */
  private val unigramSwCtes: String = unigramCtes +
    """,
      |um1 AS (SELECT map(list(p ORDER BY p), list(cost ORDER BY p)) AS m
      |        FROM vocab),
      |seg AS (SELECT word, list_reduce(
      |          list_prepend([CAST(0 AS BIGINT)],
      |            list_transform(
      |              range(1, CAST(length(word) AS BIGINT) + 1),
      |              i -> [i])),
      |          (acc, x) -> list_append(acc,
      |            list_min(list_transform(
      |              range(greatest(1, x[1] - 3), x[1] + 1),
      |              j -> acc[CAST(j AS INT)] +
      |                (COALESCE(m[substr(word, CAST(j AS INT),
      |                                   CAST(x[1] - j + 1 AS INT))][1],
      |                   CASE WHEN x[1] = j THEN 63
      |                        ELSE 1099511627776 END) * 1024 + 1))))
      |          )[-1] AS enc
      |        FROM wc, um1),
      |sw AS (SELECT word, enc % 1024 AS np, enc // 1024 AS wcost
      |       FROM seg)""".stripMargin

  /** [[perceptronCtes]] extended with per-doc final scores: `scored` =
    * (doc_id, y, score, pred) over ALL rows of `rel` (empty docs score
    * 0). Shared by the perceptron_score / perceptron_auc /
    * pipeline_training_order oracles. */
  private def perceptronScoredCtes(rel: String = "documents"): String =
    perceptronCtes(64, 3, rel) +
      s""",
         |sc AS (SELECT h.doc_id, CAST(sum(w3.w) AS BIGINT) AS score
         |       FROM h JOIN w3 ON w3.f = h.f GROUP BY h.doc_id),
         |scored AS (SELECT d.doc_id,
         |    CAST(CASE WHEN d.lang = 'en' THEN 1 ELSE -1 END AS BIGINT) AS y,
         |    COALESCE(sc.score, 0) AS score,
         |    CAST(CASE WHEN COALESCE(sc.score, 0) > 0 THEN 1 ELSE -1 END
         |         AS BIGINT) AS pred
         |  FROM $rel d LEFT JOIN sc ON sc.doc_id = d.doc_id)""".stripMargin

  /** Unrolled-CTE oracle for the batch perceptron (CorpusTools
    * .perceptronTrain/Score): h = token buckets, w0 = zero weights, then
    * per iteration t: per-doc score s_t under w_{t-1}, margin-violator
    * bucket deltas d_t, updated weights w_t. Every sum is CAST to BIGINT
    * (HUGEINT ban). NOTE: no leading WITH — callers prepend "WITH " (so
    * the block composes inside larger pipelines over any `rel` with
    * (doc_id, lang, text)). The caller appends the final SELECT. */
  private def perceptronCtes(d: Int, iters: Int,
                             rel: String = "documents"): String = {
    val head =
      s"""t0 AS (SELECT doc_id,
         |        CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
         |        unnest(string_split(text, ' ')) AS word FROM $rel),
         |h AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(string_split(word, ''),
         |                           c -> CAST(ascii(c) AS BIGINT))),
         |          (a, c) -> (a * 31 + c) % 1000000007) % $d AS f
         |      FROM t0 WHERE word <> ''),
         |w0 AS (SELECT CAST(range AS BIGINT) AS f, CAST(0 AS BIGINT) AS w
         |       FROM range($d))""".stripMargin
    val its = (1 to iters).map { t =>
      s"""s$t AS (SELECT h.doc_id, any_value(h.y) AS y,
         |        CAST(sum(w${t - 1}.w) AS BIGINT) AS s
         |      FROM h JOIN w${t - 1} ON w${t - 1}.f = h.f GROUP BY h.doc_id),
         |d$t AS (SELECT h.f, CAST(sum(h.y) AS BIGINT) AS dw
         |      FROM h JOIN s$t ON s$t.doc_id = h.doc_id AND s$t.y * s$t.s <= 0
         |      GROUP BY h.f),
         |w$t AS (SELECT w${t - 1}.f, w${t - 1}.w + COALESCE(d$t.dw, 0) AS w
         |      FROM w${t - 1} LEFT JOIN d$t ON d$t.f = w${t - 1}.f)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + its
  }

  /** Shared matchup-derivation CTE block (Preference.matchups oracle):
    * consecutive same-user events of different type+value → (w, l)
    * matches (higher value wins) → directed win counts `wl(w, l, c)`.
    * No leading WITH — composable. */
  private val matchupCtes =
    """seq AS (SELECT user_id, event_type, value,
      |          lag(event_type) OVER
      |            (PARTITION BY user_id ORDER BY ts, event_id) AS pt,
      |          lag(value) OVER
      |            (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      |        FROM events),
      |mt AS (SELECT CASE WHEN value > pv THEN event_type ELSE pt END AS w,
      |              CASE WHEN value > pv THEN pt ELSE event_type END AS l
      |       FROM seq
      |       WHERE pt IS NOT NULL AND pt <> event_type AND pv <> value),
      |wl AS (SELECT w, l, CAST(count(*) AS BIGINT) AS c
      |       FROM mt GROUP BY w, l)""".stripMargin

  /** One Bradley–Terry MM round as CTEs d{k}/s{k} reading strengths
    * from `prev` (Preference.btStrength's integer contract: SCALE² =
    * 10^12, denominators floored at 1). */
  private def btRound(k: Int, prev: String): String =
    s"""d$k AS (SELECT n.i AS item,
       |         CAST(sum((n.n * 1000000000000)
       |           // greatest(si.st + sj.st, 1)) AS BIGINT) AS dd
       |       FROM n JOIN $prev si ON si.item = n.i
       |            JOIN $prev sj ON sj.item = n.j
       |       GROUP BY n.i),
       |s$k AS (SELECT items.item,
       |         CAST((items.wins * 1000000000000)
       |           // greatest(d$k.dd, 1) AS BIGINT) AS st
       |       FROM items JOIN d$k ON d$k.item = items.item)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- deduplication ---------------------------------------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(table(s, dir, "documents"), "doc_id", "text")),
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccard(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.3, maxDf = 50)),
    // asymmetric containment — the quote/boilerplate axis Jaccard misses
    "dedup_containment" -> ((s, dir) =>
      Dedup.containment(table(s, dir, "documents"), "doc_id", "text",
        k = 3, threshold = 0.6, maxDf = 50)),
    // CCNet-style sub-document dedup: strip chunks seen in >=2 docs
    "dedup_chunk_strip" -> ((s, dir) =>
      Dedup.chunkFrequencyStrip(table(s, dir, "documents"), "doc_id",
        "text", size = 8, minDf = 2)),
    // DSIR importance selection: most target-like (en) docs from the
    // raw (non-en) pool, integer-exact bit-length surprisal weights
    "dsir_select" -> ((s, dir) =>
      CorpusTools.dsirSelect(table(s, dir, "documents"), "doc_id", "text",
        langCol = "lang", targetLang = "en", d = 1024, k = 100)),
    // trained quality filter: integer batch perceptron over hashed words
    "perceptron_train" -> ((s, dir) =>
      CorpusTools.perceptronTrain(table(s, dir, "documents"), "doc_id",
        "text", positive = col("lang") === "en", d = 64, iters = 3)),
    "perceptron_score" -> ((s, dir) =>
      CorpusTools.perceptronScore(table(s, dir, "documents"), "doc_id",
        "text", positive = col("lang") === "en", d = 64, iters = 3)),
    // exact rank-based AUC of the trained filter (Mann–Whitney with tie
    // credit, ppm integers) — the "is this classifier worth deploying"
    // number, computed over the DISTINCT-score table like link_pred_auc
    "perceptron_auc" -> ((s, dir) => {
      val sc = CorpusTools.perceptronScore(table(s, dir, "documents"),
        "doc_id", "text", positive = col("lang") === "en", d = 64,
        iters = 3)
      graft.operators.GraphAlgos.rankSumAuc(
        sc.select(col("score").as("s"),
          when(col("y") === 1L, 1L).otherwise(0L).as("isp")))
    }),
    // length-curriculum order with round-robin source interleave,
    // ranked via distributed prefix sums (no corpus-scale window)
    "curriculum_order" -> ((s, dir) =>
      CorpusTools.curriculumOrder(table(s, dir, "documents"), "doc_id",
        "text", source = "source", k = 200)),
    // END-TO-END training-order pipeline v3 stitching the r9 stages:
    // boilerplate chunk-strip → perceptron language filter (pred=en) →
    // length-curriculum order with source interleave
    "pipeline_training_order" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // r12 opt: `cleaned` feeds the perceptron scorer AND the kept-join
      // — un-materialized, the chunk-strip pipeline re-ran per consumer
      // (profiler: the same 1.2 MB exchange computed 3×). One eager
      // checkpoint runs it once; rows identical.
      val cleaned = Dedup.chunkFrequencyStrip(docs, "doc_id", "text",
          size = 8, minDf = 2)
        .where(col("kept_chunks") > 0)
        .join(docs.select(col("doc_id"), col("lang"), col("source")),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source"),
          col("clean_text").as("text"))
        .localCheckpoint(true)
      val scored = CorpusTools.perceptronScore(cleaned, "doc_id", "text",
        positive = col("lang") === "en", d = 64, iters = 3)
      val kept = cleaned.join(
        scored.where(col("pred") === 1L).select("doc_id"), "doc_id")
      CorpusTools.curriculumOrder(kept, "doc_id", "text", "source", k = 100)
    }),
    // unigram-LM tokenizer (the other SentencePiece algorithm): substring
    // vocab with integer surprisal costs + per-word Viterbi DP
    "unigram_vocab" -> ((s, dir) =>
      CorpusTools.unigramVocab(table(s, dir, "documents"), "text",
        maxLen = 4, v = 64)),
    "unigram_segment" -> ((s, dir) =>
      CorpusTools.unigramSegment(table(s, dir, "documents"), "doc_id",
        "text", maxLen = 4, v = 64)),
    // tokenizer bakeoff: BPE vs unigram fertility per language on the
    // SAME corpus — the decision table for choosing a tokenizer
    "tokenizer_bakeoff" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val bpe = CorpusTools.bpeEncode(d, "doc_id", "text", rounds = 3)
        .select(col("doc_id"), col("n_words"),
          col("n_tokens").as("bpe_tokens"))
      val uni = CorpusTools.unigramSegment(d, "doc_id", "text",
          maxLen = 4, v = 64)
        .select(col("doc_id"), col("n_pieces").as("uni_pieces"))
      d.select(col("doc_id"), col("lang"))
        .join(bpe, "doc_id").join(uni, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"),
          sum(col("bpe_tokens")).as("bpe_tokens"),
          sum(col("uni_pieces")).as("uni_pieces"))
        .select(col("lang"), col("n_docs"), col("n_words"),
          col("bpe_tokens"), col("uni_pieces"),
          expr("bpe_tokens * 1000 div n_words").as("bpe_milli"),
          expr("uni_pieces * 1000 div n_words").as("uni_milli"))
    }),
    // The gate queries run the PORTABLE hash pipelines (polyHash chains both
    // engines can replay) so DuckDB can verify the full signature/band/join
    // algorithm exactly. The xxhash64 fast paths (Dedup.minhashLsh /
    // Dedup.simhash) are the same pipeline over a codegen'd hash DuckDB
    // lacks — they stay library + spec-gated (DedupSpec cross-checks them
    // against these portable twins on planted duplicates).
    "dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPortable(table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_a"), col("doc_b"),
          round6(col("est_jaccard")).as("est_jaccard"))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPortable(table(s, dir, "documents"), "doc_id", "text")),
    // STREAMING dedup-index maintenance (the continuous form of
    // dedup_incremental): documents replay as a 3-slice changelog, band
    // keys compute narrowly in-stream, and a stream-stream self-join on
    // (band, key) accumulates the LSH index as join state — every
    // arriving doc pairs with ALL prior docs sharing a band, across
    // micro-batches. The final candidate-pair set must equal the batch
    // band joins (shared MinhashCtes text), proving the maintained
    // index ≡ batch recompute.
    "stream_dedup_lsh" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val base = s"/tmp/graft_sdlsh_" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${System.nanoTime()}"
      try {
        val src = s"$base/src"
        Files.createDirectories(Paths.get(src))
        for (i <- 0 until 3)
          stageTimedParquet(d.where(pmod(col("doc_id"), lit(3L)) === i),
            base, src, i + 1)
        // two INDEPENDENT stream derivations (Spark refuses a literal
        // self-join of one streaming DF)
        def feed = graft.operators.Dedup.bandKeyTable(
          s.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1).parquet(src),
          "doc_id", "text")
        val joined = feed.as("a").join(feed.as("b"),
            col("a.band") === col("b.band") &&
              col("a.key") === col("b.key") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        runStreamToMemory(s, joined, "graft_sdlsh", "append").distinct()
          .groupBy(col("doc_a"))
          .agg(count(lit(1)).as("n_pairs"), sum(col("doc_b")).as("checksum"))
          .localCheckpoint(true)
      } finally rmTree(new java.io.File(base))
    }),
    // batch-train / online-score: fit the perceptron on the STATIC
    // corpus, ship the weight vector into a streaming scoring fold
    // (stateless narrow projection — the serving path), confusion
    // counts in complete mode; oracle = the batch scored table grouped
    "stream_quality_score" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val w = CorpusTools.perceptronFit(docs, "doc_id", "text",
        positive = col("lang") === "en", d = 64, iters = 3)
      val base = s"/tmp/graft_sqscore_" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${System.nanoTime()}"
      try {
        docs.coalesce(1).write.mode("overwrite").parquet(base)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(base)
        val scored = CorpusTools.perceptronScoreWith(stream, "doc_id",
          "text", positive = col("lang") === "en", d = 64, weights = w)
        runStreamToMemory(s,
          scored.groupBy(col("y"), col("pred"))
            .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum")),
          "graft_sqscore", "complete")
      } finally rmTree(new java.io.File(base))
    }),
    // ingest-time shape: a new batch (doc_id % 4 = 0) screened against
    // the existing corpus (the rest) — band keys meet in one equi-join,
    // the corpus never self-joins; novel docs report match_id = −1
    "dedup_incremental" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.minhashIncremental(
        d.where(col("doc_id") % 4 =!= 0),
        d.where(col("doc_id") % 4 === 0), "doc_id", "text")
    }),
    // exact-substring dedup's span stage (Lee et al. 2022): mark every
    // 5-token span occurring >1× corpus-wide, per-doc duplication ppm —
    // two hash aggregates, no pair join however hot a boilerplate span is
    "dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(table(s, dir, "documents"), "doc_id", "text", n = 5)),
    // the REMOVAL stage over the same span statistics: drop every
    // non-canonical duplicated 5-token occurrence and reassemble each
    // document's surviving tokens in order — still no pair join anywhere
    "dedup_span_removal" -> ((s, dir) =>
      Dedup.removeDupSpans(table(s, dir, "documents"), "doc_id", "text",
        n = 5)),
    // pairwise matches → dedup groups: connected components over the
    // ngram near-dup pairs (iterative min-label propagation; oracle = the
    // same fixpoint as a recursive CTE)
    "dedup_clusters" -> ((s, dir) =>
      Dedup.clusters(
        Dedup.ngramJaccard(table(s, dir, "documents"), "doc_id", "text",
          k = 3, threshold = 0.3, maxDf = 50))),
    // leakage-safe splitting: near-dup clusters are the split unit, so
    // a duplicate pair can never straddle train and eval; the leak
    // count is MEASURED from the pair list (invariant column, must be 0)
    "cluster_safe_split" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.clusterSafeSplit(d, "doc_id",
        Dedup.ngramJaccard(d, "doc_id", "text", k = 3, threshold = 0.3,
          maxDf = 50))
    }),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingNearDup(table(s, dir, "embeddings"), threshold = 0.4)),
    "dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDupLsh(table(s, dir, "embeddings"), threshold = 0.4)),
    // cluster resolution by QUALITY, not min-id: per near-dup component
    // keep the argmax-n_chars doc (ties → smaller id); singletons kept
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(
        Dedup.ngramJaccard(table(s, dir, "documents"), "doc_id", "text",
          k = 3, threshold = 0.3, maxDf = 50),
        table(s, dir, "documents"), "doc_id", col("n_chars"))),
    // SemDeDup: k-means cells → within-cell near-pairs → components →
    // keep the copy FARTHEST from its centroid; int64-exact end to end
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semanticDedup(table(s, dir, "embeddings"),
        maxSqDist = 1500000L, iters = 1)),
    // nearest-class-mean confusion matrix: one integer prototype per
    // label, broadcast; exact-argmin assignment; label×pred counts
    "class_prototypes" -> ((s, dir) =>
      Similarity.nearestClassMean(table(s, dir, "embeddings"))),
    // contrastive hard negatives: per query (vec_id < 10) the 5 nearest
    // DIFFERENT-label vectors by exact integer distance, bounded top-k
    "hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(table(s, dir, "embeddings"),
        queryPred = col("vec_id") < 10, k = 5)),
    // bitext mining: mutual-best cross-corpus pairs under the CSLS
    // margin (int64-exact subtraction form) — parallel-data extraction
    // for MT/contrastive training
    "bitext_csls" -> ((s, dir) =>
      Similarity.cslsMinePairs(table(s, dir, "embeddings"), k = 5)),
    // per-class centroid drift between the two vec_id-parity halves —
    // the embedding regression test (two model versions in production)
    "embed_drift" -> ((s, dir) =>
      Similarity.embedDrift(table(s, dir, "embeddings"))),
    // top principal direction via 2 matrix-free power-iteration rounds
    // (C·v = Σ (qv·v)·qv) — integer normalization both engines share
    "embed_pca_power" -> ((s, dir) =>
      Similarity.pcaPowerDirection(table(s, dir, "embeddings"),
        iters = 2)),
    // pairs-free intra-class spread: Σ_{i<j}||xi−xj||² per label (and
    // corpus-wide as label −1) via n·S2 − ||S1||² — two aggregates,
    // never a pair join
    "class_separation" -> ((s, dir) =>
      Similarity.classSeparation(table(s, dir, "embeddings"))),
    // label-noise screening: per vector, the share of its 5 nearest
    // same-cell neighbors with a DIFFERENT label — cell-local kNN,
    // never a global pair join
    "label_noise_knn" -> ((s, dir) =>
      Similarity.labelNoiseKnn(table(s, dir, "embeddings"), k = 5)),
    // provenance: WHICH sources duplicate WHICH — near-dup pairs
    // (shared MinHash pipeline, est >= 0.5) joined to both docs'
    // sources, canonical (min, max) source ordering; the
    // cross-source copy matrix a licensing/contamination review reads
    "dup_source_matrix" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val src = docs.select(col("doc_id"), col("source"))
      Dedup.minhashLshPortable(docs, "doc_id", "text", k = 3,
          numHashes = 16, bands = 4, threshold = 0.5)
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("sa")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("sb")), "doc_b")
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
    }),
    // candidate-generation quality of the banded LSH measured against
    // the exact 3-gram Jaccard truth set: recall of collisions,
    // precision after the signature-estimate verify — the number that
    // justifies (or indicts) an LSH config before a 100 TB dedup run
    "lsh_recall" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      // r12 opt: truth (3 consumers) and cand (4 consumers via verified)
      // re-ran their whole pair pipelines per aggregate below — one
      // eager checkpoint each (guide §5); rows identical
      val truth = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3,
          threshold = 0.3, maxDf = 50)
        .select(col("doc_a"), col("doc_b"))
        .localCheckpoint(true)
      val cand = Dedup.minhashLshPortable(docs, "doc_id", "text", k = 3,
          numHashes = 16, bands = 4, threshold = 0.0)
        .localCheckpoint(true)
      val verified = cand.where(col("est_jaccard") >= 0.3)
        .select(col("doc_a"), col("doc_b"))
      def one(df: DataFrame, as: String) =
        df.agg(count(lit(1)).as(as))
      one(truth, "n_truth")
        .join(one(cand, "n_cand"), lit(true))
        .join(one(verified, "n_verified"), lit(true))
        .join(one(cand.select(col("doc_a"), col("doc_b"))
          .join(truth, Seq("doc_a", "doc_b"), "left_semi"), "n_cand_hit"),
          lit(true))
        .join(one(verified
          .join(truth, Seq("doc_a", "doc_b"), "left_semi"), "n_ver_hit"),
          lit(true))
        .select(col("n_truth"), col("n_cand"), col("n_verified"),
          col("n_cand_hit"), col("n_ver_hit"),
          expr("n_cand_hit * 1000000 div greatest(n_truth, 1)")
            .as("recall_ppm"),
          expr("n_ver_hit * 1000000 div greatest(n_verified, 1)")
            .as("precision_ppm"))
    }),
    // per-source percentile calibration: a doc's quality percentile
    // WITHIN its source via a bucketed histogram — the cumulative
    // window runs over #bins rows per source (a constant), never the
    // docs; cross-source quality thresholds become comparable
    "quality_calibrate" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"),
        col("source"), expr("n_chars div 50").as("bin"))
      val hist = d.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n"))
      val cum = hist.withColumn("n_le",
        sum(col("n")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("bin"))))
      val tot = d.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      d.join(cum.select(col("source"), col("bin"), col("n_le")),
          Seq("source", "bin"))
        .join(tot, "source")
        .select(col("doc_id"), col("source"), col("bin"),
          expr("n_le * 1000000 div n_src").as("pct_ppm"))
    }),
    // leave-one-out source influence WITHOUT per-source rescans: the
    // corpus aggregate is a monoid, so LOO(source) = global minus the
    // source's partial — one per-source aggregate + one 1-row broadcast
    // prices every source's removal (data-valuation-lite)
    "loo_source_influence" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("source"), col("n_chars"))
      val per = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n_s"), sum(col("n_chars")).as("sum_s"))
      val tot = d.agg(count(lit(1)).as("n"),
        sum(col("n_chars")).as("sum_all"))
      per.join(broadcast(tot), lit(true))
        .select(col("source"), col("n_s"),
          expr("sum_s * 1000 div n_s").as("mean_milli"),
          expr("(sum_all - sum_s) * 1000 div (n - n_s)")
            .as("loo_mean_milli"),
          (expr("sum_all * 1000 div n") -
            expr("(sum_all - sum_s) * 1000 div (n - n_s)"))
            .as("influence_milli"))
    }),
    // vocabulary coverage curve: share of corpus TOKENS covered by the
    // top-k frequency vocabulary at k = 100/500/1000 — the number that
    // sizes a vocab before training a tokenizer; the rank runs over the
    // SURVIVING vocabulary (bounded), never the corpus
    "vocab_coverage_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wc = table(s, dir, "documents")
        .select(explode(words(col("text"))).as("word"))
        .where(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      val ranked = wc.withColumn("rn", row_number().over(
        Window.orderBy(col("c").desc, col("word"))))
      val tot = wc.agg(sum(col("c")).as("total"))
      import s.implicits._
      Seq(100L, 500L, 1000L).toDF("k")
        .join(ranked, lit(true)).where(col("rn") <= col("k"))
        .groupBy(col("k")).agg(sum(col("c")).as("covered"))
        .join(broadcast(tot), lit(true))
        .select(col("k"), col("covered"), col("total"),
          expr("covered * 1000000 div total").as("coverage_ppm"))
    }),
    // tokenizer fertility by language: tokens-per-word and
    // chars-per-token in exact milli — the tokenizer-equity metric
    "token_fertility" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("lang"), length(col("text")).cast("long").as("chars"),
          size(words(col("text"))).cast("long").as("nw"),
          bpeTokenCount(col("text")).as("nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("chars")).as("n_chars"),
          sum(col("nw")).as("n_words"), sum(col("nt")).as("n_tokens"))
        .select(col("lang"), col("n_docs"), col("n_chars"),
          col("n_words"), col("n_tokens"),
          expr("n_tokens * 1000 div n_words").as("fertility_milli"),
          expr("n_chars * 1000 div n_tokens")
            .as("chars_per_token_milli"))),

    // ---- the full pipeline, end-to-end ----------------------------------
    // quality filter → exact dedup (keep min id per content hash) →
    // near-dup clustering (ngram pairs @0.5 + connected components, keep
    // each cluster's representative) → per-language corpus stats. One
    // oracle-checked query proving the stages compose: the SQL twin
    // replays every stage including the clustering fixpoint.
    "pipeline_corpus" -> ((s, dir) => {
      val q = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          words(col("text")).as("ws"))
        .where(size(col("ws")) >= 5)
      val keepExact = q.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      // persisted: the filtered+deduped corpus feeds the shingle index
      // (consumed by counts, the DF cap, and both self-join sides) AND
      // the final survivor anti-join — unpersisted it re-executes the
      // scan+dedup subtree per consumer (the withTwoHopEdgesSkew lesson)
      val kept = q.join(keepExact.select(col("doc_id")), "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = Dedup.ngramJaccard(kept, "doc_id", "text",
        k = 3, threshold = 0.5, maxDf = 50)
      val nonReps = Dedup.clusters(pairs)
        .where(col("doc_id") =!= col("rep")).select(col("doc_id"))
      val surv = kept.join(nonReps, Seq("doc_id"), "left_anti")
      surv.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(bpeTokenCount(col("text"))).as("n_tokens"),
          round6(avg(size(col("ws")).cast("double"))).as("avg_words"))
    }),

    // ---- similarity search ----------------------------------------------
    "sim_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.bruteTopK(e, e.where(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    }),
    "sim_ivf" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.where(col("vec_id") < 10), k = 5)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    }),
    // recall@5 of the IVF index against brute-force ground truth — the
    // evaluation loop that tunes nprobe/nlist before an index ships;
    // exact integer recall, both pipelines replayed by the oracle
    "ann_recall" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 10)
      val brute = Similarity.bruteTopK(e, q, k = 5)
        .select(col("qid"), col("nid"))
      val ivf = Similarity.ivfTopK(e, q, k = 5)
        .select(col("qid").as("iqid"), col("nid").as("inid"))
      brute.join(ivf,
          col("qid") === col("iqid") && col("nid") === col("inid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("inid")).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr("n_hits * 1000000 div 5").as("recall_ppm"))
    }),
    // huge-k regime: broadcast-free bucketed assignment — hyperplane
    // sign-bit buckets on both sides, shuffle equi-join, integer argmin
    "sim_assign_bigk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val cent = Similarity.quantized(e.where(col("vec_id") % 17 === 0))
        .select(col("vec_id").as("cid"), col("qv").as("qc"))
      Similarity.assignHugeK(e, cent)
        .select(col("vec_id"), col("cid"), col("d"))
    }),
    // trained variant: 2 Lloyd iterations of integer-quantized k-means
    // (exact in both engines), then the probe+rank pipeline
    "sim_ivf_trained" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.ivfTrainedTopK(e, e.where(col("vec_id") < 10), k = 5,
          iters = 2)
        .select(col("qid"), col("nid"), col("sim"), col("rn"))
    }),
    // product quantization: per-subspace integer k-means codebooks,
    // m-code encoding, asymmetric-distance query — the memory-side ANN
    // compression path, int64-exact end to end
    "sim_pq" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Similarity.pqTopK(e, e.where(col("vec_id") < 5), k = 5, m = 4,
          iters = 1)
        .select(col("qid"), col("nid"), col("adc"), col("rn"))
    }),

    // embedding outlier detection: top-10 by exact integer distance to
    // the global floor-mean centroid — the off-distribution row filter
    "embed_outliers" -> ((s, dir) =>
      Similarity.embeddingOutliers(table(s, dir, "embeddings"), k = 10)),
    // matryoshka-style truncation eval: recall@5 of 16-dim-prefix cosine
    // ranking against the full-64-dim ground truth — the dimension-
    // shrink serving decision, measured not guessed
    "sim_truncate_recall" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val q = e.where(col("vec_id") < 10)
      def trunc(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"),
          slice(col("embedding"), 1, 16).as("embedding"))
      val full = Similarity.bruteTopK(e, q, k = 5)
        .select(col("qid"), col("nid"))
      val tr = Similarity.bruteTopK(trunc(e), trunc(q), k = 5)
        .select(col("qid").as("tqid"), col("nid").as("tnid"))
      full.join(tr,
          col("qid") === col("tqid") && col("nid") === col("tnid"), "left")
        .groupBy(col("qid"))
        .agg(count(col("tnid")).as("n_hits"))
        .select(col("qid"), col("n_hits"),
          expr("n_hits * 1000000 div 5").as("recall_ppm"))
    }),
    // greedy k-center diverse-subset selection: farthest-point rounds
    // over exact int64 quantized distances — coverage-maximizing data
    // selection (coreset/eval-set picking), deterministic ties
    "kcenter_select" -> ((s, dir) =>
      Similarity.kcenterSelect(table(s, dir, "embeddings"), k = 6)),

    // ---- corpus preparation ----------------------------------------------
    // deterministic stratified-reportable train/valid/test split: pure
    // integer hash projection, reproducible under retries (rand() isn't)
    "corpus_split" -> ((s, dir) =>
      CorpusTools.hashSplit(table(s, dir, "documents"), "doc_id")
        .groupBy(col("lang"), col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))),
    // epoch-shuffle quality audit: is pos = (a·rank + c) mod n actually
    // a good shuffle for THIS corpus? Bijectivity, same-source
    // adjacency vs the uniform-permutation expectation, per-shard
    // balance — the data-loader mixing numbers, measured not assumed
    "shuffle_audit" -> ((s, dir) =>
      CorpusTools.shuffleAudit(table(s, dir, "documents"), "doc_id",
        "source", a = 1000003L, c = 12345L, shards = 8)),
    // per-language bigram frequency top-5 through the bounded top-k
    // aggregate (k rows per language per partition cross the shuffle)
    "ngram_top" -> ((s, dir) =>
      CorpusTools.topNgrams(table(s, dir, "documents"), "lang", "text",
        n = 2, k = 5)),
    // frequency-vocab induction: corpus-wide word counts ≥ 10, ranked
    // (cnt DESC, word ASC) into contiguous ids; gate keeps the top 200
    "vocab_build" -> ((s, dir) =>
      CorpusTools.buildVocab(table(s, dir, "documents"), "text",
        minCount = 10L)
        .where(col("vocab_id") <= 200)),

    // exact-k per-language sample by smallest Knuth hash — the
    // deterministic eval-set draw (tie-free: the hash is a bijection)
    "group_sample" -> ((s, dir) =>
      CorpusTools.groupSample(table(s, dir, "documents"), "lang",
        "doc_id", k = 10)
        .select(col("lang"), col("doc_id").cast("long").as("doc_id"),
          col("negh"), col("rn"))),
    // collocation mining: adjacent word pairs scored by lift (exact
    // counts, bit-identical double closing algebra), min count 5,
    // top 25 — the multiword-expression statistic
    "collocations" -> ((s, dir) =>
      CorpusTools.collocations(table(s, dir, "documents"), "text",
        minCount = 5L, k = 25)),
    // BPE training's first pair-count scan: adjacent character-pair
    // frequencies, token-weighted via the word-count vocabulary (the
    // corpus never explodes — only distinct words do), top 25
    "bpe_pairs" -> ((s, dir) =>
      CorpusTools.bpePairs(table(s, dir, "documents"), "text", k = 25)),
    // TextRank corpus keywords: weighted integer PageRank over the
    // word-adjacency graph, words as node ids, top-20 by rank
    "textrank_terms" -> ((s, dir) =>
      CorpusTools.textrankTerms(table(s, dir, "documents"), "text",
        iters = 2, k = 20)),
    // full BPE merge-learning loop: 3 rounds of pair-count → argmax →
    // greedy left-to-right merge rewrite, trained on the vocab side
    "bpe_train" -> ((s, dir) =>
      CorpusTools.bpeTrain(table(s, dir, "documents"), "text",
        rounds = 3)),
    // tokenize the corpus with the learned merges: one vocab equi-join,
    // exact per-doc BPE token counts
    "bpe_encode" -> ((s, dir) =>
      CorpusTools.bpeEncode(table(s, dir, "documents"), "doc_id", "text",
        rounds = 3)),
    // join-key distribution profile of lineitem's part key — cardinality,
    // frequency percentiles, hottest key, exact integer Gini — the
    // pre-flight statistic that picks a 100 TB join strategy
    "skew_profile" -> ((s, dir) =>
      Skew.keyProfile(table(s, dir, "lineitem"), "l_partkey")),
    // unigram-surprisal quality score — exact integer log2 via binary
    // string length (bin / printf('%b')), the LM-free perplexity proxy
    "doc_surprisal" -> ((s, dir) =>
      CorpusTools.docSurprisal(table(s, dir, "documents"), "doc_id",
        "text")),
    // token-budget data selection: fill each language's 2000-token
    // budget with its highest-surprisal docs, whole score classes only —
    // the distribution-window formulation, never a corpus-wide sort
    "token_budget_select" -> ((s, dir) =>
      CorpusTools.tokenBudgetSelect(table(s, dir, "documents"), "doc_id",
        "text", "lang", budgetTokens = 2000L)),
    // per-language top-quartile quality filter via the exact integer
    // percentile rank test (no float quantiles anywhere)
    "quality_filter_grouped" -> ((s, dir) =>
      CorpusTools.qualityFilterGrouped(table(s, dir, "documents"),
        "doc_id", "text", "lang", pct = 75)),
    // substring search through the char-trigram inverted index; the
    // oracle is the brute contains-scan, so the gate proves the indexed
    // path is lossless
    "trigram_search" -> ((s, dir) =>
      graft.operators.Retrieval.trigramSearch(table(s, dir, "documents"), "doc_id",
        "text", Seq("spark table", "slow filter", "quantum flux"))),
    // Luhn precision stage of PII scanning: deterministic 16-digit
    // candidates (seeded by doc_id, the multimodal-fixture pattern),
    // checksum-validated by a pure array-fold — no UDF
    "pii_luhn" -> ((s, dir) => {
      val cand = table(s, dir, "documents").select(col("doc_id"),
        lpad(((col("doc_id") * 2654435761L) % 10000000000000000L)
          .cast("string"), 16, "0").as("card"))
      CorpusTools.luhnCheck(cand, "card")
        .select(col("doc_id"), col("card"),
          when(col("luhn_valid"), 1L).otherwise(0L).as("luhn_valid"))
    }),
    // per-doc top-5 keyword extraction by integer tf·idf — idf is the
    // exact bit-length log2, the ranking replays bit-identically in SQL
    "tfidf_terms" -> ((s, dir) =>
      CorpusTools.tfidfTerms(table(s, dir, "documents"), "doc_id",
        "text", k = 5)),
    // corpus encoding through the induced vocabulary (OOV → 0):
    // per-doc positional id checksum — the materialize-training-data
    // step after vocab_build
    "encode_corpus" -> ((s, dir) =>
      CorpusTools.encodeCorpus(table(s, dir, "documents"), "doc_id",
        "text", minCount = 10L)),
    // single-pass per-column profiling (data validation before training)
    "profile_docs" -> ((s, dir) =>
      CorpusTools.profile(table(s, dir, "documents"),
        Seq("lang", "source", "n_chars"))),
    // digit-run redaction (PII-scrub shape): per-language doc counts,
    // total redactions, and redacted-length checksum
    "pii_redact" -> ((s, dir) =>
      CorpusTools.redactNumbers(table(s, dir, "documents"), "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_redacted") > 0, 1L).otherwise(0L))
            .as("docs_with_num"),
          sum(col("n_redacted")).as("total_nums"),
          sum(length(col("redacted")).cast("long")).as("len_sum"))),
    // multi-pattern PII battery over ADVERSARIALLY-INJECTED pii (the
    // corpus is synthetic word soup, so the gate plants a deterministic
    // email + 10-digit phone per doc from doc_id — the write_null_skip
    // injection pattern): rules run sequentially (email first so the
    // digit rule can't shred addresses), counts per rule + scrubbed
    // lengths per language. Patterns stay in the character-class regex
    // subset where Java regex and RE2 agree exactly.
    "pii_scrub" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .withColumn("text2", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.example.com call "),
          lpad(((col("doc_id") * 37L) % 9999999999L).cast("string"),
            10, "0"),
          lit(" now")))
      CorpusTools.scrubPii(docs, "text2", Seq(
          ("email", "[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
          ("phone", "[0-9]{7,}", "<PHONE>"),
          ("num", "[0-9]+", "<NUM>")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_email")).as("total_email"),
          sum(col("n_phone")).as("total_phone"),
          sum(col("n_num")).as("total_num"),
          sum(when(col("n_email") + col("n_phone") > 0, 1L)
            .otherwise(0L)).as("docs_with_pii"),
          sum(length(col("redacted")).cast("long")).as("len_sum"))
    }),
    // fixed-window chunking with overlap (context-window packing):
    // per-doc chunk count + covered-word checksum, pure generator plan
    "doc_chunk" -> ((s, dir) =>
      CorpusTools.chunkWords(table(s, dir, "documents"), "doc_id", "text",
        size = 50, overlap = 10)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("n_words")).as("words_covered"))),

    // Gopher-style repetition signals: distinct-word ratio, duplicate-
    // trigram fraction, top-bigram share — all per-row array math, no
    // shuffle (the fold over the sorted bigram array replaces a per-doc
    // group-by)
    "quality_repetition" -> ((s, dir) =>
      CorpusTools.repetitionSignals(table(s, dir, "documents"),
        "doc_id", "text")),
    // benchmark decontamination: training docs sharing any word-4-gram
    // with the doc_id%50=0 "benchmark" slice; inverted-index join with
    // the same DF cap as dedup_ngram — never train×bench
    "decontaminate" -> ((s, dir) =>
      CorpusTools.decontaminate(table(s, dir, "documents"),
        "doc_id", "text", benchPred = col("doc_id") % 50 === 0,
        n = 4, maxDf = 50)),
    // the normalized companion: per-train-doc share of its distinct
    // 4-grams that appear in the benchmark slice, exact ppm — the
    // full overlap DISTRIBUTION, zero-overlap docs included
    "contamination_ratio" -> ((s, dir) =>
      CorpusTools.contaminationRatio(table(s, dir, "documents"),
        "doc_id", "text", benchPred = col("doc_id") % 50 === 0,
        n = 4, maxDf = 50)),
    // Gopher-style rule battery: six structural quality rules, failures
    // as a bitmask, all-integer ppm/milli stats — one narrow projection
    "quality_gopher" -> ((s, dir) =>
      CorpusTools.gopherQuality(table(s, dir, "documents"),
        "doc_id", "text")),
    // interpolated Kneser–Ney bigram LM fluency, integer-exact: discount
    // 0.75 carried as ppm arithmetic so the trained model AND the
    // per-doc scores replay bit-identically in the oracle
    "lm_kn_bigram" -> ((s, dir) =>
      CorpusTools.knBigramScore(table(s, dir, "documents"),
        "doc_id", "text")),
    // padding-waste accounting for three packing strategies at S=128 —
    // the integer that prices a packing decision at corpus scale
    "padding_waste" -> ((s, dir) =>
      CorpusTools.paddingWaste(table(s, dir, "documents"),
        "doc_id", "text", seqLen = 128, buckets = 4)),
    // deterministic per-language sampling (hash-gated keep, no RNG):
    // per-lang totals, kept counts, and kept-id checksum
    "sample_stratified" -> ((s, dir) =>
      CorpusTools.stratifiedSample(table(s, dir, "documents"),
        "doc_id", "lang", rates = Map("en" -> 30, "de" -> 80),
        defaultPct = 55)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          sum(when(col("keep"), col("doc_id")).otherwise(0L))
            .as("kept_id_sum"))),

    // temperature mixing (α=½): per-language √n weights → ppm shares —
    // the sampling table a multilingual pretraining mix is built from
    "corpus_mix" -> ((s, dir) =>
      CorpusTools.temperatureMix(table(s, dir, "documents"), "lang")),

    // the mix APPLIED: ppm shares → per-language keep rates for a
    // 200-doc budget → hash-gated sample; the kept SET (id checksum),
    // not just its size, is engine-reproducible
    "corpus_mix_apply" -> ((s, dir) =>
      CorpusTools.applyTemperatureMix(table(s, dir, "documents"),
        id = "doc_id", stratum = "lang", budget = 200L)),

    // END-TO-END curation v2 — the round-5 operators composed: quality
    // floor → benchmark decontamination (flagged train docs dropped) →
    // temperature-mix budgeted sampling of the survivors → per-language
    // selection stats. One oracle replays every stage including the mix
    // rates and the hash gate, proving the new operators compose.
    "pipeline_curation" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"),
          words(col("text")).as("ws"))
        .where(size(col("ws")) >= 5)
      val flagged = CorpusTools.decontaminate(docs, "doc_id", "text",
          benchPred = col("doc_id") % 50 === 0, n = 4, maxDf = 50)
        .select(col("doc_id"))
      val train = docs.where(col("doc_id") % 50 =!= 0)
      // survivors feed the mix-rate build AND the gate AND the final agg
      val surv = train.join(flagged, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val rates = CorpusTools.temperatureMix(surv, "lang")
        .select(col("lang"), col("n_docs"),
          expr("share_ppm * 300L div 1000000").as("target"))
        .select(col("lang"), col("n_docs"), col("target"),
          least(expr("target * 1000000 div n_docs"), lit(1000000L))
            .as("rate_ppm"))
      val keptAgg = surv.join(broadcast(rates), Seq("lang"))
        .where(col("doc_id") * 2654435761L % 1000000007L % 1000000L
          < col("rate_ppm"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          sum(size(col("ws")).cast("long")).as("kept_tokens"),
          sum(col("doc_id")).as("kept_id_sum"))
      val stats = train
        .join(flagged.withColumn("_f", lit(true)), Seq("doc_id"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("_f"), 1L).otherwise(0L)).as("n_flagged"))
      stats.join(rates, Seq("lang"))
        .join(keptAgg, Seq("lang"), "left")
        .select(col("lang"), col("n_train"), col("n_flagged"),
          col("n_docs"), col("target"), col("rate_ppm"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
          coalesce(col("kept_id_sum"), lit(0L)).as("kept_id_sum"))
    }),

    // ---- retrieval -------------------------------------------------------
    // BM25-shaped top-10 per query: inverted-index postings join, 1-row
    // corpus stats via scalar cross-join, sqrt-idf (IEEE-exact — BM25's
    // ln is not cross-engine), per-term scores floored to scaled int64 so
    // the per-doc sum is order-independent, bounded TopK ranking
    "bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val qt = Seq(
          0L -> "join", 0L -> "hash",
          1L -> "spark", 1L -> "stream", 1L -> "window",
          2L -> "customer", 2L -> "order", 2L -> "data", 2L -> "value")
        .toDF("qid", "word")
      graft.operators.Retrieval.bm25TopK(
        table(s, dir, "documents"), "doc_id", "text", qt, k = 10)
    }),

    // Hybrid search: reciprocal-rank fusion of the lexical (BM25) and
    // vector (brute cosine) rankings of the same 5 queries — query q is
    // document q's own words on the text side and embedding q on the
    // vector side; integer-floored 1/(60+rank) contributions make the
    // fused score exactly engine-reproducible
    "rrf_fusion" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val e = table(s, dir, "embeddings")
      val vr = Similarity.bruteTopK(e, e.where(col("vec_id") < 5), k = 10)
        .select(col("qid"), col("nid").as("doc_id"), col("rn"))
      val qt = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(TextFunctions.words(col("text"))).as("word"))
      val tr = graft.operators.Retrieval
        .bm25TopK(docs, "doc_id", "text", qt, k = 10)
        .select(col("qid"), col("doc_id"), col("rn"))
      graft.operators.Retrieval.rrfFuse(Seq(vr, tr), k = 5)
    }),

    // Ranking-quality evaluation of the BM25 pipeline (the measurement
    // half of retrieval tuning for RAG data curation): queries 0..4 are
    // each doc's own distinct words; qrels = lexical-overlap ground
    // truth (docs sharing ≥ 8 distinct words with the query doc —
    // deterministic and engine-reproducible; the query doc always
    // judges itself relevant, so n_rel ≥ 1). Metrics integer-exact:
    // mrr2520 (2520 = lcm 1..10), rr_mass2520 (graded DCG-shaped gain
    // with integer weights), recall/precision ppm by floor division.
    "retrieval_eval" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val qt = docs.where(col("doc_id") < 5)
        .select(col("doc_id").as("qid"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("word"))
        .where(col("word") =!= "").distinct()
      val results = graft.operators.Retrieval
        .bm25TopK(docs, "doc_id", "text", qt, k = 10)
        .select(col("qid"), col("doc_id"), col("rn"))
      val dw = docs.select(col("doc_id"),
          explode(graft.functions.TextFunctions.words(col("text")))
            .as("word"))
        .where(col("word") =!= "").distinct()
      val qrels = qt.join(dw, "word")
        .groupBy(col("qid"), col("doc_id"))
        .agg(count(lit(1)).as("overlap"))
        .where(col("overlap") >= 8)
        .select(col("qid"), col("doc_id"))
      graft.operators.Retrieval.rankingEval(results, qrels, k = 10)
    }),

    // Sequence packing (GPT-style corpus layout): docs hash into 8
    // shards, offsets are an id-ordered running sum per shard, examples
    // cut every 512 tokens — deterministic (shard, offset, first-bin)
    // per document, zero RNG, zero global sort.
    "pack_offsets" -> ((s, dir) =>
      CorpusTools.packOffsets(table(s, dir, "documents"), "doc_id", "text",
        seqLen = 512, buckets = 8)
        .select(col("doc_id"), col("bucket"), col("n_tokens"),
          col("start_off"), col("first_bin"))),
    // Count-Min sketch: 3×256 integer grid over all corpus tokens (map-
    // side combining collapses the scan to ≤ d·w rows per partition),
    // then min-over-rows point estimates for a probe set — the constant-
    // size heavy-hitter screen that replaces a billion-row groupBy(term)
    // at 100 TB. Seedless integer hashing → exact oracle.
    "sketch_cms" -> ((s, dir) => {
      import s.implicits._
      val d = table(s, dir, "documents")
      val sketch = graft.operators.Sketches.countMinBuild(d, "text",
        width = 256)
      val probes = Seq("join", "hash", "row", "batch", "scan", "customer",
        "the", "xyzzy").toDF("word")
      graft.operators.Sketches.countMinEstimate(sketch, probes, width = 256)
    }),

    // CM-inner-product join-cardinality estimate (orders ⋈ lineitem on
    // orderkey) next to the exact Σ fA·fB ground truth — the pre-flight
    // sizing of a 100 TB shuffle from two constant-size sketches
    "join_cardinality" -> ((s, dir) => {
      val o = table(s, dir, "orders").select(col("o_orderkey").as("k"))
      val l = table(s, dir, "lineitem").select(col("l_orderkey").as("k"))
      val est = graft.operators.Sketches.countMinJoinSize(
        o, "k", l, "k", width = 8192)
      val exact = o.groupBy(col("k")).agg(count(lit(1)).as("fa"))
        .join(l.groupBy(col("k")).agg(count(lit(1)).as("fb")), "k")
        .agg(sum(col("fa") * col("fb")).as("exact_pairs"))
      est.join(broadcast(exact), lit(true))
        .select(col("exact_pairs"), col("est_pairs"),
          expr("est_pairs * 1000000 div exact_pairs").as("over_ppm"))
    }),
    // fuzzy self-join at edit distance ≤1: originals + one-substitution
    // variants of part names; half-block pigeonhole candidates (hot
    // blocks DF-capped), levenshtein verify
    "fuzzy_join" -> ((s, dir) => {
      val p = table(s, dir, "part")
      val orig = p.select(col("p_partkey").as("eid"),
        col("p_name").as("nm"))
      val varnt = p.select((col("p_partkey") + 10000000L).as("eid"),
        expr("concat(substring(p_name, 1, " +
          "cast(p_partkey % length(p_name) as int)), 'q', " +
          "substring(p_name, cast(p_partkey % length(p_name) as int) + 2))")
          .as("nm"))
      Dedup.fuzzyPairs(orig.union(varnt), "eid", "nm", maxBlock = 50)
    }),
    // blocking-quality audit on the fuzzy fixture: ground truth is the
    // planted (orig, variant) pairs; pair completeness measures what the
    // pigeonhole blocks + maxBlock cap let through (the recall CEILING
    // for any downstream verifier), reduction ratio how much of the
    // quadratic space the blocks prune — the tune-before-you-match
    // numbers for a 100 TB entity-resolution run
    "blocking_quality" -> ((s, dir) => {
      val p = table(s, dir, "part")
      val orig = p.select(col("p_partkey").as("eid"),
        col("p_name").as("nm"))
      val varnt = p.select((col("p_partkey") + 10000000L).as("eid"),
        expr("concat(substring(p_name, 1, " +
          "cast(p_partkey % length(p_name) as int)), 'q', " +
          "substring(p_name, cast(p_partkey % length(p_name) as int) + 2))")
          .as("nm"))
      val truth = p.select(col("p_partkey").as("id_a"),
        (col("p_partkey") + 10000000L).as("id_b"))
      Dedup.blockingQuality(
        Dedup.halfBlocks(orig.union(varnt), "eid", "nm"),
        truth, maxBlock = 50)
    }),
    // Bloom-filter join pruning: build over the keys that placed orders,
    // screen every customer key — the runtime-filter shape (probe side
    // never shuffles, filter broadcasts at ≤ ⌈m/63⌉ rows). hit=0 rows
    // are provably order-less; hit=1 may include false positives, and
    // the oracle replays the exact bit arithmetic either way.
    "sketch_bloom" -> ((s, dir) => {
      val built = graft.operators.Sketches.bloomBuild(
        table(s, dir, "orders").select(col("o_custkey").as("k")),
        "k", mBits = 16384L)
      graft.operators.Sketches.bloomMightContain(built,
          table(s, dir, "customer").select(col("c_custkey").as("k")),
          "k", mBits = 16384L)
        .select(col("k"), col("might_contain").cast("long").as("hit"))
    }),

    // Runtime-filter join END TO END: the fact side's keys are screened
    // by the broadcast bloom BEFORE the join's exchange — keys the
    // filter rejects are provably absent from the build side and never
    // shuffle; the exact equi-join that follows kills the false
    // positives. The oracle is the PLAIN join: pruning must be lossless,
    // and this gate proves it on real keys.
    "bloom_join_prune" -> ((s, dir) => {
      val cust = table(s, dir, "customer")
        .where(col("c_acctbal") < 0).select(col("c_custkey"))
      val built = graft.operators.Sketches.bloomBuild(
        cust.select(col("c_custkey").as("k")), "k", mBits = 16384L)
      val keep = graft.operators.Sketches.bloomMightContain(built,
          table(s, dir, "orders").select(col("o_custkey").as("k")),
          "k", mBits = 16384L)
        .where(col("might_contain")).select(col("k").as("o_custkey"))
      table(s, dir, "orders").join(keep, Seq("o_custkey"))
        .join(cust.select(col("c_custkey").as("o_custkey")),
          Seq("o_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_custkey")).as("cust_checksum"))
    }),

    // int8 embedding quantization (the 4×-compression serving format):
    // per-vector max-abs scale, ⌊x·127/scale + ½⌋ codes — a pure narrow
    // projection, no shuffle; gate checks exact integer code aggregates
    // plus the bit-exact float32 scale per vector
    "embed_quantize" -> ((s, dir) => {
      val q = graft.operators.Similarity.quantizeInt8(
        table(s, dir, "embeddings"))
      q.select(col("vec_id"), col("scale"),
        aggregate(col("qv"), lit(0L), (a, v) => a + v).as("q_sum"),
        array_min(col("qv")).as("q_min"),
        array_max(col("qv")).as("q_max"),
        size(filter(col("qv"), v => abs(v) === 127L)).cast("long")
          .as("n_sat"))
    }),

    // HyperLogLog distinct-count sketch: 256 registers replace the
    // one-row-per-distinct-key shuffle of an exact count — map-side
    // combining bounds the scan at m rows per partition and register
    // tables merge by max (the sketch is a monoid). Harmonic sum kept
    // exact in int64 (2^40 scaling); estimate floored to ×1000. The
    // exact distinct rides along so the gate also records the error.
    "sketch_hll" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select(col("l_partkey"))
      val est = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllBuild(li, "l_partkey", m = 256), m = 256)
      val exact = li.agg(countDistinct(col("l_partkey")).as("exact_distinct"))
      est.join(broadcast(exact), lit(true))
    }),

    // privacy screen: k-anonymity (k=10) and l-diversity (l=5) over the
    // (nation, segment) quasi-identifier with acctbal as the sensitive
    // attribute — equivalence-class audit in two aggregates
    "anonymity_audit" -> ((s, dir) =>
      Quality.anonymityAudit(table(s, dir, "customer"),
        qi = Seq("c_nationkey", "c_mktsegment"), sensitive = "c_acctbal",
        k = 10L, l = 5L)),

    // RLHF-style preference aggregation: consecutive same-user events of
    // different type+value are matchups (higher value wins); per-type
    // Bradley–Terry strengths by 3 integer-exact MM rounds
    "pref_bt_strength" -> ((s, dir) =>
      Preference.btStrength(table(s, dir, "events"), iters = 3)),

    // judgment-consistency audit of the same matchup log: majority-
    // tournament cyclic triads + Kendall consistency coefficient (ppm)
    "pref_consistency" -> ((s, dir) =>
      Preference.cyclicTriads(table(s, dir, "events"))),

    // chance-corrected agreement (Cohen's kappa) with BOTH signed
    // branches exercised on real data: annotator A = the declared lang
    // column; annotator B = (noisy row) A perturbed to the
    // cyclic-successor label on every 7th doc — the vocab_drift-style
    // deterministic mutation — and (adversarial row) the successor
    // everywhere, a derangement, so agreement is zero and kappa is
    // genuinely negative. A langId-based B would be vacuous here: the
    // shared synthetic vocabulary makes the heuristic emit one constant
    // label, and for ANY constant predictor agree·n − pe_num ≡ 0.
    "agreement_kappa" -> ((s, dir) => {
      val langs = TextFunctions.LangMarkers.map(_._1)
      val succ = langs.zip(langs.tail :+ langs.head).toMap
      def succOf(c: org.apache.spark.sql.Column) =
        langs.foldLeft(lit(null).cast("string")) { (acc, l) =>
          when(c === l, lit(succ(l))).otherwise(acc)
        }
      val d = table(s, dir, "documents").select(col("doc_id"), col("lang"))
      val noisy = d.select(col("lang").as("a"),
        when(col("doc_id") % 7 === 0, succOf(col("lang")))
          .otherwise(col("lang")).as("b"))
      val adv = d.select(col("lang").as("a"), succOf(col("lang")).as("b"))
      Quality.cohenKappa(noisy, "a", "b")
        .select(lit("noisy").as("pair"), col("n"), col("agree"),
          col("pe_num"), col("kappa_ppm"))
        .unionByName(Quality.cohenKappa(adv, "a", "b")
          .select(lit("adversarial").as("pair"), col("n"), col("agree"),
            col("pe_num"), col("kappa_ppm")))
    }),

    // STREAMING preference-count maintenance: the matchup derivation as
    // a stateful operator (O(1) predecessor state per user, never the
    // corpus-wide lag sort) over three event-time-range files arriving
    // as separate micro-batches; the emitted matches' win-count
    // aggregate (a sum monoid) must land exactly on the batch matchup
    // counts — the continuously maintained Bradley–Terry input table.
    "stream_pref_counts" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      val e = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      val mm = e.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      require(!mm.isNullAt(0), "events table is empty — nothing to stage")
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * ((hi - lo) / 3)
      val base = s"/tmp/graft_sprefc_" +
        s"${dir.replaceAll("[^a-zA-Z0-9]", "_")}_${System.nanoTime()}"
      try {
        val src = s"$base/src"
        Files.createDirectories(Paths.get(src))
        // global time cuts preserve per-user time order across batches
        // (StatefulMatchups' arrival contract)
        stageTimedParquet(e.where(unix_micros(col("ts")) <= c1),
          base, src, 1)
        stageTimedParquet(e.where(unix_micros(col("ts")) > c1 &&
          unix_micros(col("ts")) <= c2), base, src, 2)
        stageTimedParquet(e.where(unix_micros(col("ts")) > c2),
          base, src, 3)
        import s.implicits._
        val stream = s.readStream.schema(e.schema)
          .option("maxFilesPerTrigger", 1).parquet(src)
          .as[graft.streaming.PrefEvent]
        val out = graft.streaming.StatefulMatchups.matches(stream).toDF()
        runStreamToMemory(s, out, "graft_sprefc", "update")
          .groupBy(col("winner"), col("loser"))
          .agg(count(lit(1)).as("n_matches"))
      } finally rmTree(new java.io.File(base))
    }),

    // distribution drift across dataset versions (v2 = dataset_diff's
    // mutation: every 7th doc dropped, every 10th upper-cased): top-50
    // words by absolute ppm rate change — the TV-distance contributors
    "vocab_drift" -> ((s, dir) => {
      val v1 = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(when(col("doc_id") % 10 === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      CorpusTools.vocabDrift(v1, v2, "text", k = 50)
    }),

    // word2vec-style skip-gram pair counts, window 2, top-100 by
    // (cnt DESC, center, context) — the co-occurrence matrix cut
    "skipgram_pairs" -> ((s, dir) =>
      CorpusTools.skipgramPairs(table(s, dir, "documents"), "text",
        window = 2, k = 100)),

    // hashing-trick featurization (signed, d = 1024): per-doc sparse
    // vector folded to exact (nnz, l1, checksum) invariants
    "hash_features" -> ((s, dir) =>
      CorpusTools.hashFeatures(table(s, dir, "documents"), "doc_id",
        "text", d = 1024)),

    // KMV/theta sketch set ops: click-users vs view-users sketched
    // independently (k = 64 minima each), then union/intersection
    // cardinalities estimated from the merged k-sets — the audience-
    // overlap question HLL cannot answer; exact counts ride along
    "sketch_theta" -> ((s, dir) => {
      import graft.operators.Sketches
      val ev = table(s, dir, "events")
      def side(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id"))
      val k = 64
      val est = Sketches.kmvSetOps(
        Sketches.kmvBuild(side("click"), "user_id", k),
        Sketches.kmvBuild(side("view"), "user_id", k), k)
      val ca = side("click").distinct()
      val cb = side("view").distinct()
      val exact = ca.agg(count(lit(1)).as("n_a_exact"))
        .join(cb.agg(count(lit(1)).as("n_b_exact")), lit(true))
        .join(ca.join(cb, "user_id")
          .agg(count(lit(1)).as("n_intersect_exact")), lit(true))
        .join(ca.unionByName(cb).distinct()
          .agg(count(lit(1)).as("n_union_exact")), lit(true))
      est.join(broadcast(exact), lit(true))
    }),

    // CDC compaction: latest state per user from the event changelog —
    // ONE hash aggregate (max over a seq-led struct), no window sort of
    // the key's full history; users whose newest record is a tombstone
    // ('error' here) drop out after the aggregate
    "changelog_compact" -> ((s, dir) =>
      graft.operators.Changelog.compactLatest(
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value")),
        key = "user_id", seq = "event_id",
        isDelete = col("event_type") === "error")),

    // SCD Type-2 history: every change versioned over [valid_from,
    // valid_to), NULL valid_to = current; tombstones close intervals but
    // emit nothing. Window per key — per-key ORDER is the semantics,
    // state bounded by one key's change count
    "changelog_scd2" -> ((s, dir) =>
      graft.operators.Changelog.scd2(
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            col("value")),
        key = "user_id", seq = "event_id",
        isDelete = col("event_type") === "error")),

    // snapshot diff between two corpus versions (v2 = v1 minus every 7th
    // doc, every 10th upper-cased, 20 new ids appended): digest-compare
    // full-outer join, 4-row audit with exact id checksums
    "dataset_diff" -> ((s, dir) => {
      val v1 = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val v2 = v1.where(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, upper(col("text")))
            .otherwise(col("text")).as("text"))
        .unionByName(v1.where(col("doc_id") < 20)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Changelog.datasetDiff(v1, v2, "doc_id", "text")
    }),

    // per-group HLL (the GROUP BY approx_count_distinct shape): distinct
    // users per event type from 32 registers per group
    "sketch_hll_grouped" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .select(col("event_type"), col("user_id"))
      graft.operators.Sketches.hllEstimateGrouped(
        graft.operators.Sketches.hllBuildGrouped(
          ev, Seq("event_type"), "user_id", m = 32),
        Seq("event_type"), m = 32)
    }),

    // fixed-bin histogram quantiles: the ONE-aggregate percentile path
    // (bins merge as a monoid across shards; exact percentiles sort) —
    // p50/p90/p99 of price-cents at 500-unit bins, integer rank test
    "quantile_hist" -> ((s, dir) =>
      graft.operators.Sketches.histogramQuantiles(
        table(s, dir, "lineitem"),
        value = floor(col("l_extendedprice") * 100 + 0.5),
        binWidth = 50000L, qPcts = Seq(50L, 90L, 99L))),
    // sketch-accuracy eval: exact rank-test percentiles vs the histogram
    // bin floor — the sketch's resolution error, measured exactly
    "quantile_hist_err" -> ((s, dir) =>
      graft.operators.Sketches.histQuantileError(
        table(s, dir, "lineitem"),
        value = floor(col("l_extendedprice") * 100 + 0.5),
        binWidth = 50000L, qPcts = Seq(50L, 90L, 99L))),
    // day-of-week seasonal baseline per event type: two aggregates,
    // exact integer means
    "seasonality_dow" -> ((s, dir) =>
      graft.operators.Timeseries.seasonalProfile(
        table(s, dir, "events"), key = "event_type", ts = "ts")),

    // MAD anomaly days per event type: events collapse to the (key, day)
    // profile in the first aggregate; exact rank-test medians over that
    // profile only — nothing event-volume-sized reaches a window.
    "anomaly_mad" -> ((s, dir) =>
      graft.operators.Timeseries.anomalyMad(
        table(s, dir, "events"), key = "event_type", ts = "ts", k = 2L)),

    // CUSUM changepoint day per event type — the cumulative-sum peak
    // against the exact integer mean; same profile-first scale shape
    "changepoint_cusum" -> ((s, dir) =>
      graft.operators.Timeseries.changepointCusum(
        table(s, dir, "events"), key = "event_type", ts = "ts")),

    // 2-D Pareto front over orders — the biggest-and-earliest frontier
    // (maximize price cents, minimize epoch day); the table collapses to
    // its distinct value pairs before the single ordered window
    "pareto_front" -> ((s, dir) =>
      graft.operators.Stats.paretoFront(
        table(s, dir, "orders"),
        maxCol = floor(col("o_totalprice") * 100 + 0.5),
        // o_orderdate reads as TIMESTAMP_NTZ; the session is UTC so the
        // cast to instant is identity
        minCol = expr(
          "unix_micros(cast(o_orderdate as timestamp)) div 86400000000L"))),

    // quantile BINNING through those cut points: quartile feature
    // discretization with no global sort — the cut table folds to one
    // broadcast array row, assignment is a narrow projection, and the
    // per-bin profile is one aggregate
    "quantile_bins" -> ((s, dir) =>
      graft.operators.Sketches.quantileBins(
        table(s, dir, "lineitem"),
        value = floor(col("l_extendedprice") * 100 + 0.5),
        binWidth = 50000L, qPcts = Seq(25L, 50L, 75L))),

    // grouped histogram quantiles: per-returnflag p50/p99 at histogram
    // cost — cells are (group, bin), window still ≤ #bins per group
    "quantile_hist_grouped" -> ((s, dir) =>
      graft.operators.Sketches.histogramQuantilesGrouped(
        table(s, dir, "lineitem"), group = "l_returnflag",
        value = floor(col("l_extendedprice") * 100 + 0.5),
        binWidth = 50000L, qPcts = Seq(50L, 99L))),

    // tokenizer-coverage eval: OOV ppm of the valid split against the
    // top-1000 train vocabulary, token-weighted, per language
    "oov_rate" -> ((s, dir) =>
      CorpusTools.oovRate(table(s, dir, "documents"), id = "doc_id",
        text = "text", lang = "lang", trainPct = 80, vocabSize = 1000)),

    // referential-integrity audit: dangling-FK counts an inner join
    // would silently drop — anti-join + 1-row aggregates per check
    "integrity_audit" -> ((s, dir) =>
      graft.operators.Quality.referentialAudit(Seq(
        ("lineitem.orderkey", table(s, dir, "lineitem"), "l_orderkey",
          table(s, dir, "orders"), "o_orderkey"),
        ("lineitem.partkey", table(s, dir, "lineitem"), "l_partkey",
          table(s, dir, "part"), "p_partkey"),
        ("lineitem.suppkey", table(s, dir, "lineitem"), "l_suppkey",
          table(s, dir, "supplier"), "s_suppkey"),
        ("orders.custkey", table(s, dir, "orders"), "o_custkey",
          table(s, dir, "customer"), "c_custkey")))),

    // functional-dependency audit: the data-contract check before
    // trusting a key or denormalizing — o_orderkey→o_custkey must hold
    // (PK), o_custkey→o_orderpriority must not
    "fd_audit" -> ((s, dir) =>
      graft.operators.Quality.fdAudit(table(s, dir, "orders"), Seq(
        ("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus")))),

    // ---- text analysis ---------------------------------------------------
    "text_quality" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("ws"))
      d.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_uniq"),
        round6(size(array_distinct(col("ws"))).cast("double") /
          size(col("ws"))).as("ttr"),
        round6(aggregate(transform(col("ws"), w => length(w).cast("long")),
          lit(0L), (a, v) => a + v).cast("double") / size(col("ws")))
          .as("avg_wlen"),
        round6(markerScore(col("ws"), EnStop).cast("double") /
          size(col("ws"))).as("stop_ratio"))
    }),
    "lang_id" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("ws")).as("pred"))),
    // language-ID evaluation: confusion matrix of the n-gram heuristic
    // against the labeled lang column, exact per-class rate ppm
    "langid_confusion" -> ((s, dir) => {
      val p = table(s, dir, "documents")
        .select(col("lang"),
          TextFunctions.langId(words(col("text"))).as("pred"))
      val m = p.groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("cnt"))
      val tot = m.groupBy(col("lang")).agg(sum(col("cnt")).as("tot"))
      m.join(broadcast(tot), "lang")
        .select(col("lang"), col("pred"), col("cnt"),
          expr("cnt * 1000000 div tot").as("rate_ppm"))
    }),
    // code-switching profile: per-chunk language ID → per-doc mix stats
    "langid_mix" -> ((s, dir) =>
      CorpusTools.langMixProfile(table(s, dir, "documents"),
        "doc_id", "text", width = 16)),
    // n-gram novelty in corpus (doc_id) order — first-occurrence counts;
    // maxDf mirrors dedup_ngram's boilerplate ceiling (cap replicated in
    // the oracle)
    "ngram_novelty" -> ((s, dir) =>
      CorpusTools.ngramNovelty(table(s, dir, "documents"),
        "doc_id", "text", n = 3, maxDf = 50)),
    "token_count" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(words(col("text"))).cast("long").as("n_ws"),
          bpeTokenCount(col("text")).as("n_bpe"))),
    "doc_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))),
    // Winnowing (k=3 word shingles, window w=4): each stage materialized
    // as its own column so nothing re-evaluates inline.
    "doc_winnow" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), words(col("text")).as("ws"))
        .where(size(col("ws")) >= 6)   // need >= 4 shingle hashes
        .select(col("doc_id"), positionalShingles(col("ws"), 3).as("shs"))
        .select(col("doc_id"), transform(col("shs"), polyHash _).as("hs"))
        .select(col("doc_id"), winnowFingerprints(col("hs"), 4).as("fps"))
        .select(col("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          aggregate(col("fps"), lit(0L), _ + _).as("checksum"))),

    // ---- multimodal ------------------------------------------------------
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.asMediaTable(table(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), length(col("content")).cast("long")
          .as("n_bytes"), col("format"))),
    // real header parse under the gate: documents become byte-valid
    // PNG/JPEG containers whose IHDR/SOF headers carry formula-derived
    // dimensions; the kernel must recover them from the raw bytes while
    // the oracle recomputes the formulas — if the parser misreads a single
    // header byte the hashes diverge
    "multimodal_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.asSyntheticImages(table(s, dir, "documents"),
          "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))),
    // TRUE pixel-level decode under the gate: documents become byte-valid
    // uncompressed 24-bit BMPs (bottom-up padded BGR rows) whose pixels
    // follow a formula the oracle replays; the kernel must undo the row
    // order, strip the padding, and split the channels — one misread byte
    // anywhere in the raster diverges a channel sum
    "multimodal_bmp" -> ((s, dir) =>
      Multimodal.decodePixels(
        Multimodal.asSyntheticBitmaps(table(s, dir, "documents"),
          "doc_id", "text").toDF())
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("sum_b"), col("sum_g"), col("sum_r"))),
    // REAL compressed-image decode: byte-valid PNGs (zlib IDAT, every
    // row a different filter type, RGB and RGBA alternating by doc_id
    // parity) inflated + unfiltered by the JDK-only decoder; the oracle
    // replays the formula pixel sums over the channel raster
    "multimodal_png_pixels" -> ((s, dir) =>
      Multimodal.decodePixels(
        Multimodal.asSyntheticPngs(table(s, dir, "documents"),
          "doc_id", "text").toDF())
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("sum_b"), col("sum_g"), col("sum_r"))),
    // REAL JPEG decode: byte-valid baseline JPEGs (embedded Huffman
    // tables, entropy-coded scan) decoded by the dependency-free
    // Huffman + IDCT kernel; constant 8×8 blocks + unit quantization
    // make the lossy format exactly lossless HERE, so the oracle
    // replays the decoded pixel sums in closed form
    "multimodal_jpeg_pixels" -> ((s, dir) =>
      Multimodal.decodePixels(
        Multimodal.asSyntheticJpegs(table(s, dir, "documents"),
          "doc_id", "text").toDF())
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("sum_b"), col("sum_g"), col("sum_r"))),
    // REAL COLOR JPEG decode in 4:2:0 — the dominant real-world shape:
    // per-component sampling factors (Y 2×2, chroma 1×1), interleaved
    // 6-data-unit MCUs, box chroma upsample, BT.601 YCbCr→RGB with
    // floor(x+0.5) rounding; DC-only blocks + unit quantization keep
    // the planted values lossless so the oracle replays the color
    // transform in closed form
    "multimodal_jpeg_color" -> ((s, dir) =>
      Multimodal.decodePixels(
        Multimodal.asSyntheticColorJpegs(table(s, dir, "documents"),
          "doc_id", "text").toDF())
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"), col("sum_b"), col("sum_g"), col("sum_r"))),
    // REAL audio decode: byte-valid PCM WAV containers (RIFF chunk walk,
    // int16 LE samples) — the audio twin of multimodal_bmp, sample sums
    // replayed exactly by the oracle
    "multimodal_wav" -> ((s, dir) =>
      Multimodal.decodeAudio(
        Multimodal.asSyntheticWavs(table(s, dir, "documents"),
          "doc_id", "text").toDF())
        .toDF()
        .select(col("doc_id"), col("format"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("bits").cast("long").as("bits"),
          col("n_samples"), col("sum_abs"), col("sum_val"))),
    // Energy VAD over the same real WAV bytes: 4-sample frames, integer
    // energy threshold, maximal speech runs (the silence-trim stage)
    "audio_segments" -> ((s, dir) =>
      Multimodal.audioSegments(
        Multimodal.asSyntheticWavs(table(s, dir, "documents"),
          "doc_id", "text").toDF(),
        frame = 4, threshold = 65536L)),
    // Shot-cut detection over the same real Y4M bytes: adjacent-frame
    // luma deltas, integer threshold, maximal cut-free runs = shots
    "video_scene_cuts" -> ((s, dir) =>
      Multimodal.videoSceneCuts(
        Multimodal.asSyntheticVideos(table(s, dir, "documents"),
          "doc_id", "text").toDF(),
        threshold = 680L)),
    // REAL video frame-sampling: Y4M containers (codec-free video),
    // header parse + FRAME walk, luma sums over every 2nd frame — the
    // decode that thins raw video to trainable frames
    "multimodal_video" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.asSyntheticVideos(table(s, dir, "documents"),
          "doc_id", "text").toDF(), step = 2)
        .toDF()
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames"), col("n_sampled"), col("sum_y"))),
    // image dedup by perceptual difference-hash over REAL decoded BMP
    // pixels: planted pixel twins (seed = doc_id mod 97) collapse to one
    // hash bucket; 56-bit integer hash replays exactly in SQL
    "image_dedup_phash" -> ((s, dir) =>
      Multimodal.dedupByPhash(
        Multimodal.asSyntheticPhotoSet(table(s, dir, "documents"),
          "doc_id").toDF())),
    // pseudo-decode fallback surface (opaque binary + fake format): the
    // deterministic stub path for payloads no header parser recognizes
    "multimodal_pseudo" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.asMediaTable(table(s, dir, "documents"), "doc_id", "text"))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("checksum")))
  )

  /** Replays the whole BM25 pipeline: postings, df, corpus stats, the
    * identical IEEE expression tree (k1 = 1.25, b = 0.75 and every other
    * literal are exact binary fractions), per-term floor to int64, sum,
    * and the (score DESC, doc_id) ranking. */
  private val bm25Oracle: String =
    """WITH qt(qid, word) AS (VALUES
      |    (CAST(0 AS BIGINT), 'join'), (0, 'hash'),
      |    (1, 'spark'), (1, 'stream'), (1, 'window'),
      |    (2, 'customer'), (2, 'order'), (2, 'data'), (2, 'value')),
      |toks AS (SELECT doc_id,
      |           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
      |           unnest(string_split(text, ' ')) AS word
      |         FROM documents),
      |tf AS (SELECT doc_id, dl, word, count(*) AS tf
      |       FROM toks GROUP BY 1, 2, 3),
      |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
      |st AS (SELECT count(*) AS nd,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tl
      |       FROM documents),
      |sc AS (SELECT q.qid, t.doc_id,
      |         CAST(floor(
      |           (CAST(t.tf AS DOUBLE) * 2.25)
      |           / (CAST(t.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 *
      |               (CAST(t.dl AS DOUBLE) * CAST(st.nd AS DOUBLE)
      |                / CAST(st.tl AS DOUBLE))))
      |           * sqrt((CAST(st.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
      |                  / (CAST(d.df AS DOUBLE) + 0.5))
      |           * 1000000.0) AS BIGINT) AS s
      |       FROM (SELECT DISTINCT qid, word FROM qt) q
      |       JOIN tf t USING (word) JOIN dfq d USING (word), st),
      |ag AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score
      |       FROM sc GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, score,
      |        CAST(row_number() OVER (PARTITION BY qid
      |          ORDER BY score DESC, doc_id) AS BIGINT) AS rn
      |      FROM ag)
      |SELECT qid, doc_id, score, rn FROM r WHERE rn <= 10""".stripMargin

  /** Replays the whole Count-Min pipeline: polyHash per token, the three
    * row hashes (h·a_i + b_i) mod p mod w, the cell grid, and min-over-
    * rows estimation for the probe set. */
  private[graft] val cmsOracle: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS word
      |              FROM documents),
      |th AS (SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(word, ''),
      |                          c -> CAST(ascii(c) AS BIGINT))),
      |         (a, c) -> (a * 31 + c) % 1000000007) AS h
      |       FROM toks WHERE word <> ''),
      |cells AS (SELECT r.row,
      |    (CASE r.row WHEN 0 THEN h * 31 + 7
      |                WHEN 1 THEN h * 37 + 11
      |                ELSE h * 41 + 13 END) % 1000000007 % 256 AS cell
      |  FROM th, (SELECT unnest(range(0, 3)) AS row) r),
      |grid AS (SELECT CAST(row AS BIGINT) AS row, cell, count(*) AS cnt
      |         FROM cells GROUP BY 1, 2),
      |pr(word) AS (VALUES ('join'), ('hash'), ('row'), ('batch'),
      |             ('scan'), ('customer'), ('the'), ('xyzzy')),
      |ph AS (SELECT word, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(string_split(word, ''),
      |                          c -> CAST(ascii(c) AS BIGINT))),
      |         (a, c) -> (a * 31 + c) % 1000000007) AS h
      |       FROM pr),
      |pc AS (SELECT word, CAST(r.row AS BIGINT) AS row,
      |    (CASE r.row WHEN 0 THEN h * 31 + 7
      |                WHEN 1 THEN h * 37 + 11
      |                ELSE h * 41 + 13 END) % 1000000007 % 256 AS cell
      |  FROM ph, (SELECT unnest(range(0, 3)) AS row) r)
      |SELECT word, CAST(min(COALESCE(grid.cnt, 0)) AS BIGINT) AS est
      |FROM pc LEFT JOIN grid USING (row, cell) GROUP BY word""".stripMargin

  private val packOracle: String =
    """WITH d AS (SELECT doc_id,
      |    (doc_id * 2654435761) % 1000000007 % 8 AS bucket,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |o AS (SELECT doc_id, bucket, n_tokens,
      |    CAST(COALESCE(sum(n_tokens) OVER (PARTITION BY bucket
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) AS BIGINT) AS start_off
      |  FROM d)
      |SELECT doc_id, bucket, n_tokens, start_off,
      |       start_off // 512 AS first_bin
      |FROM o""".stripMargin

  /** Replays the Bloom build + probe bit-for-bit: 3 row hashes over the
    * mixed key, 63-bit words, bit_or grid, all-bits-set membership. */
  private val bloomOracle: String =
    """WITH rws(r, a, b) AS (VALUES (0, 31, 7), (1, 37, 11), (2, 41, 13)),
      |ok AS (SELECT DISTINCT o_custkey AS k FROM orders),
      |wb AS (SELECT (((k % 1000000007 + 1000000007) % 1000000007) * a + b)
      |      % 1000000007 % 16384 AS pos
      |       FROM ok, rws),
      |bloom AS (SELECT pos // 63 AS word_idx,
      |            bit_or(1::BIGINT << CAST(pos % 63 AS INTEGER)) AS bits
      |          FROM wb GROUP BY 1),
      |pk AS (SELECT DISTINCT c_custkey AS k FROM customer),
      |pb AS (SELECT k, pos // 63 AS word_idx,
      |         1::BIGINT << CAST(pos % 63 AS INTEGER) AS bit FROM (
      |    SELECT k, (((k % 1000000007 + 1000000007) % 1000000007) * a + b)
      |      % 1000000007 % 16384 AS pos
      |    FROM pk, rws) t)
      |SELECT k, CAST(min(CASE WHEN COALESCE(bloom.bits & pb.bit, 0) <> 0
      |                        THEN 1 ELSE 0 END) AS BIGINT) AS hit
      |FROM pb LEFT JOIN bloom USING (word_idx) GROUP BY k""".stripMargin

  /** Replays the full HLL pipeline: both affine hashes, trailing-zeros+1
    * rank via bit_count, per-bucket max, the exact 2^40-scaled harmonic
    * sum, and the α_m·m²·2^40 constant — the IDENTICAL Scala double,
    * embedded at 17 significant digits so both engines divide the same
    * IEEE value. */
  private val hllOracle: String = {
    val c = String.format(java.util.Locale.ROOT, "%.17e",
      Double.box(graft.operators.Sketches.hllAlphaNumerator(256)))
    s"""WITH x0 AS (SELECT (l_partkey % 1000000007 + 1000000007)
       |    % 1000000007 AS x FROM lineitem),
       |y0 AS (SELECT (x * x + x * 31 + 7) % 1000000007 AS y FROM x0),
       |z0 AS (SELECT (y * y + y * 37 + 11) % 1000000007 AS z FROM y0),
       |h AS (SELECT z % 256 AS bucket,
       |    (z * z + z * 41 + 13) % 1000000007 AS h2
       |  FROM z0),
       |r AS (SELECT bucket,
       |    max(CASE WHEN h2 = 0 THEN 40
       |        ELSE least(bit_count((h2 & -h2) - 1) + 1, 40) END) AS register
       |  FROM h GROUP BY bucket),
       |s AS (SELECT CAST(count(*) AS BIGINT) AS n_present,
       |    CAST(sum(1::BIGINT << CAST(40 - register AS INTEGER)) AS BIGINT)
       |      AS sum_present FROM r)
       |SELECT n_present,
       |  sum_present + (256 - n_present) * (1::BIGINT << 40) AS sum_term,
       |  CAST(floor(CAST($c AS DOUBLE)
       |    / (sum_present + (256 - n_present) * (1::BIGINT << 40))
       |    * 1000.0) AS BIGINT) AS est_x1000,
       |  (SELECT count(DISTINCT l_partkey) FROM lineitem) AS exact_distinct
       |FROM s""".stripMargin
  }

  /** Grouped twin of [[hllOracle]] with the group key carried through
    * every stage; m = 32, α₃₂ numerator embedded the same way. */
  /** Shared WITH-body of the portable-MinHash oracle (word polyHash →
    * rolling shingles → 16 signature minima → 4 numeric band keys) —
    * used verbatim by `dedup_minhash` AND `lsh_recall` so the
    * pipeline under evaluation is literally the pipeline gated. */
  private val MinhashCtes: String = {
    val p = "1000000007"
    val cc = "1000003"
    val sigExprs = graft.operators.Dedup.MinhashSeeds.take(16).zipWithIndex
      .map { case ((a, b), i) =>
        s"list_min(list_transform(hs, x -> (x * $a + $b) % $p)) AS m$i"
      }.mkString(",\n         ")
    val keyExprs = (0 until 4).map { bnd =>
      val fold = (0 until 4).foldLeft(s"CAST($bnd AS BIGINT)") { (acc, r) =>
        s"(($acc) * $cc + m${bnd * 4 + r}) % $p"
      }
      s"$fold AS k$bnd"
    }.mkString(",\n         ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws
       |           FROM documents),
       |wh AS (SELECT doc_id,
       |         list_transform(ws, s ->
       |           list_reduce(list_prepend(CAST(0 AS BIGINT),
       |               list_transform(string_split(s, ''),
       |                              c -> CAST(ascii(c) AS BIGINT))),
       |             (a, c) -> (a * 31 + c) % $p)) AS wh
       |       FROM w WHERE len(ws) >= 3),
       |h AS (SELECT doc_id,
       |        list_distinct(list_transform(range(1, len(wh) - 1),
       |          i -> ((wh[i] * $cc + wh[i+1]) % $p * $cc + wh[i+2]) % $p))
       |          AS hs
       |      FROM wh),
       |sig AS (SELECT doc_id,
       |         $sigExprs
       |        FROM h),
       |banded AS (SELECT *,
       |         $keyExprs
       |        FROM sig)""".stripMargin
  }

  /** The 4 band self-joins over [[MinhashCtes]]' `banded`, UNION-deduped,
    * each pair carrying its signature-match estimate. */
  private val MinhashBandJoins: String = {
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    (0 until 4).map { bnd =>
      s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       ($matchSum) * 1.0 / 16 AS est_jaccard
         |FROM banded a JOIN banded b
         |  ON a.k$bnd = b.k$bnd AND a.doc_id < b.doc_id""".stripMargin
    }.mkString("\nUNION\n")
  }

  /** Shared with QueriesRelational's `stream_hll`: the streaming
    * register state must land on exactly this batch sketch. */
  private[graft] val hllGroupedOracle: String = {
    val c = String.format(java.util.Locale.ROOT, "%.17e",
      Double.box(graft.operators.Sketches.hllAlphaNumerator(32)))
    s"""WITH x0 AS (SELECT event_type, (user_id % 1000000007
       |    + 1000000007) % 1000000007 AS x
       |            FROM events),
       |y0 AS (SELECT event_type, (x * x + x * 31 + 7) % 1000000007 AS y
       |       FROM x0),
       |z0 AS (SELECT event_type, (y * y + y * 37 + 11) % 1000000007 AS z
       |       FROM y0),
       |h AS (SELECT event_type, z % 32 AS bucket,
       |    (z * z + z * 41 + 13) % 1000000007 AS h2 FROM z0),
       |r AS (SELECT event_type, bucket,
       |    max(CASE WHEN h2 = 0 THEN 40
       |        ELSE least(bit_count((h2 & -h2) - 1) + 1, 40) END) AS register
       |  FROM h GROUP BY 1, 2),
       |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_present,
       |    CAST(sum(1::BIGINT << CAST(40 - register AS INTEGER)) AS BIGINT)
       |      AS sum_present FROM r GROUP BY 1)
       |SELECT event_type, n_present,
       |  sum_present + (32 - n_present) * (1::BIGINT << 40) AS sum_term,
       |  CAST(floor(CAST($c AS DOUBLE)
       |    / (sum_present + (32 - n_present) * (1::BIGINT << 40))
       |    * 1000.0) AS BIGINT) AS est_x1000
       |FROM s""".stripMargin
  }

  /** Extracted so [[oracles]]' `ann_recall` can replay both pipelines as
    * subqueries of one recall computation. */
  /** Shared WITH-body for the BPE oracles: vocabulary + 3 unrolled
    * training rounds. Mirrors CorpusTools.bpeLoop exactly, with the
    * greedy left-to-right merge expressed relationally: mark matching
    * adjacent pairs, group consecutive marks into runs, and a mark is
    * ACTIVE iff its 1-based index inside its run is odd — the
    * non-overlapping scan a sequential fold performs. Exposes b1..b3
    * (per-round best pair) and s3 (final word→symbols). */
  private val BpeRoundsSql: String = {
    def round(r: Int): String = {
      val prev = s"s${r - 1}"
      s"""p$r AS (SELECT wcnt,
         |         syms[CAST(i AS INTEGER)] AS lhs,
         |         syms[CAST(i AS INTEGER) + 1] AS rhs
         |       FROM (SELECT wcnt, syms,
         |               unnest(range(1, len(syms))) AS i
         |             FROM $prev) t),
         |b$r AS (SELECT lhs, rhs, CAST(sum(wcnt) AS BIGINT) AS cnt
         |       FROM p$r GROUP BY lhs, rhs
         |       ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |e$r AS (SELECT word, wcnt, CAST(i AS INTEGER) AS i,
         |         syms[CAST(i AS INTEGER)] AS s,
         |         syms[CAST(i AS INTEGER) + 1] AS s2
         |       FROM (SELECT word, wcnt, syms,
         |               unnest(range(1, len(syms) + 1)) AS i
         |             FROM $prev) t),
         |m$r AS (SELECT e.*,
         |         (e.s = b.lhs AND coalesce(e.s2 = b.rhs, false))
         |           AS mark
         |       FROM e$r e, b$r b),
         |q$r AS (SELECT *, coalesce(lag(mark) OVER (PARTITION BY word
         |           ORDER BY i), false) AS pmark
         |       FROM m$r),
         |r$r AS (SELECT *, sum(CASE WHEN mark AND NOT pmark
         |           THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY word ORDER BY i) AS run_id
         |       FROM q$r),
         |x$r AS (SELECT *, row_number() OVER (PARTITION BY word,
         |           run_id, mark ORDER BY i) AS ridx
         |       FROM r$r),
         |a$r AS (SELECT *, (mark AND ridx % 2 = 1) AS active,
         |         coalesce(lag(mark AND ridx % 2 = 1) OVER (
         |           PARTITION BY word ORDER BY i), false) AS pactive
         |       FROM x$r),
         |s$r AS (SELECT word, any_value(wcnt) AS wcnt,
         |         list(CASE WHEN active THEN s || s2 ELSE s END
         |           ORDER BY i) AS syms
         |       FROM a$r WHERE NOT pactive GROUP BY word)"""
        .stripMargin
    }
    s"""w0 AS (SELECT word, count(*) AS wcnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents) t WHERE word != '' GROUP BY word),
       |s0 AS (SELECT word, wcnt, string_split(word, '') AS syms
       |       FROM w0),
       |${(1 to 3).map(round).mkString(",\n")}""".stripMargin
  }

  private val SimTopkOracle: String =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ce
      |      FROM embeddings),
      |s AS (SELECT qid, nid,
      |        floor((list_cosine_similarity(qe, ce)) * 1000000 + 0.5) / 1000000 AS sim
      |      FROM q, c WHERE nid != qid),
      |r AS (SELECT qid, nid, sim, row_number() OVER (
      |        PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      |      FROM s)
      |SELECT qid, nid, sim, rn FROM r WHERE rn <= 5""".stripMargin

  /** 16-dim-prefix twin of [[SimTopkOracle]] for the truncation eval. */
  private val SimTrunc16Oracle: String =
    """WITH q AS (SELECT vec_id AS qid, (embedding::DOUBLE[])[1:16] AS qe
      |           FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS nid, (embedding::DOUBLE[])[1:16] AS ce
      |      FROM embeddings),
      |s AS (SELECT qid, nid,
      |        floor((list_cosine_similarity(qe, ce)) * 1000000 + 0.5) / 1000000 AS sim
      |      FROM q, c WHERE nid != qid),
      |r AS (SELECT qid, nid, sim, row_number() OVER (
      |        PARTITION BY qid ORDER BY sim DESC, nid) AS rn
      |      FROM s)
      |SELECT qid, nid, sim, rn FROM r WHERE rn <= 5""".stripMargin

  private val SimIvfOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 97 = 0),
      |asg AS (SELECT nid, ce, cid FROM (
      |    SELECT e.vec_id AS nid, e.v AS ce, cent.cid,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY floor((list_cosine_similarity(e.v, cent.cv)) * 1000000 + 0.5) / 1000000
      |                      DESC, cent.cid) AS crn
      |    FROM e, cent) t WHERE crn = 1),
      |q AS (SELECT vec_id AS qid, v AS qe FROM e WHERE vec_id < 10),
      |probed AS (SELECT qid, qe, cid FROM (
      |    SELECT q.qid, q.qe, cent.cid,
      |           row_number() OVER (PARTITION BY q.qid
      |             ORDER BY floor((list_cosine_similarity(q.qe, cent.cv)) * 1000000 + 0.5) / 1000000
      |                      DESC, cent.cid) AS crn
      |    FROM q, cent) t WHERE crn <= 2),
      |s AS (SELECT p.qid, a.nid,
      |        floor((list_cosine_similarity(p.qe, a.ce)) * 1000000 + 0.5) / 1000000 AS sim
      |      FROM probed p JOIN asg a USING (cid)
      |      WHERE a.nid != p.qid)
      |SELECT qid, nid, sim, rn FROM (
      |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
      |    ORDER BY sim DESC, nid) AS rn FROM s) t
      |WHERE rn <= 5""".stripMargin

  def oracles: Map[String, String] = Map(
    "ann_recall" ->
      s"""WITH brute AS MATERIALIZED (
         |  SELECT qid, nid FROM ($SimTopkOracle) t),
         |ivfr AS MATERIALIZED (
         |  SELECT qid, nid FROM ($SimIvfOracle) t)
         |SELECT b.qid, CAST(count(i.nid) AS BIGINT) AS n_hits,
         |       CAST(count(i.nid) * 1000000 // 5 AS BIGINT) AS recall_ppm
         |FROM brute b LEFT JOIN ivfr i
         |  ON b.qid = i.qid AND b.nid = i.nid
         |GROUP BY b.qid""".stripMargin,
    "encode_corpus" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, pos, ws[CAST(pos AS INTEGER)] AS word FROM (
        |    SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM documents) a) b
        |  WHERE ws[CAST(pos AS INTEGER)] != ''),
        |vc AS MATERIALIZED (
        |  SELECT word, CAST(row_number() OVER (ORDER BY cnt DESC, word)
        |    AS BIGINT) AS vocab_id
        |  FROM (SELECT word, count(*) AS cnt FROM (
        |          SELECT unnest(string_split(text, ' ')) AS word
        |          FROM documents) t
        |        WHERE word != '' GROUP BY word
        |        HAVING count(*) >= 10) c)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN v.vocab_id IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_oov,
        |       CAST(sum(coalesce(v.vocab_id, 0) * tk.pos) AS BIGINT)
        |         AS ids_checksum
        |FROM tk LEFT JOIN vc v USING (word)
        |GROUP BY doc_id""".stripMargin,
    "doc_surprisal" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t WHERE word != ''),
        |c AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM tk GROUP BY word),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
        |sc AS (SELECT tk.doc_id,
        |              CAST(length(printf('%b', tt.t // c.cnt)) AS BIGINT)
        |                AS s
        |       FROM tk JOIN c ON tk.word = c.word, tt)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(s) AS BIGINT) AS surprisal_sum,
        |       CAST(sum(s) * 1000 // count(*) AS BIGINT) AS mean_milli
        |FROM sc GROUP BY doc_id""".stripMargin,
    "textrank_terms" -> {
      // mirrors CorpusTools.textrankTerms: undirected weighted word
      // graph, 2 unrolled integer PageRank iterations (150000 base,
      // 85% damped floor-divided contribs — same arithmetic as the
      // graph-gate oracle), top-20 (rank DESC, word ASC)
      def iter(k: Int): String =
        s"""w$k AS (
           |  SELECT n.id,
           |         CAST(150000 + (85 * COALESCE(s.c, 0)) // 100
           |           AS BIGINT) AS rank
           |  FROM wnodes n LEFT JOIN (
           |    SELECT e.dst AS id, sum(r.rank * e.w // e.wsum) AS c
           |    FROM we e JOIN w${k - 1} r ON r.id = e.src
           |    GROUP BY e.dst) s ON s.id = n.id)""".stripMargin
      s"""WITH p AS (SELECT ws[CAST(i AS INTEGER)] AS w1,
         |             ws[CAST(i AS INTEGER) + 1] AS w2
         |           FROM (SELECT ws, unnest(range(1, len(ws))) AS i
         |                 FROM (SELECT string_split(text, ' ') AS ws
         |                       FROM documents) a) b
         |           WHERE ws[CAST(i AS INTEGER)] != ''
         |             AND ws[CAST(i AS INTEGER) + 1] != ''),
         |e AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w FROM (
         |        SELECT w1 AS src, w2 AS dst FROM p
         |        UNION ALL SELECT w2, w1 FROM p) t
         |      GROUP BY src, dst),
         |wnodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e) t),
         |we AS (SELECT e.src, e.dst, e.w, ws.wsum FROM e
         |       JOIN (SELECT src, sum(w) AS wsum FROM e GROUP BY 1) ws
         |         ON ws.src = e.src),
         |w0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM wnodes),
         |${(1 to 2).map(iter).mkString(",\n")}
         |SELECT CAST(row_number() OVER (ORDER BY rank DESC, id)
         |         AS BIGINT) AS rn,
         |       id AS word, rank
         |FROM w2 ORDER BY rank DESC, id LIMIT 20""".stripMargin
    },
    "bpe_train" ->
      s"""WITH $BpeRoundsSql
         |SELECT CAST(1 AS BIGINT) AS rn, lhs, rhs, cnt FROM b1
         |UNION ALL
         |SELECT CAST(2 AS BIGINT) AS rn, lhs, rhs, cnt FROM b2
         |UNION ALL
         |SELECT CAST(3 AS BIGINT) AS rn, lhs, rhs, cnt FROM b3"""
        .stripMargin,
    "bpe_encode" ->
      s"""WITH $BpeRoundsSql,
         |tk AS (SELECT doc_id, word FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents) t WHERE word != '')
         |SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(s3.syms)) AS BIGINT) AS n_tokens
         |FROM tk JOIN s3 USING (word)
         |GROUP BY tk.doc_id""".stripMargin,
    "pii_luhn" ->
      """WITH c AS (SELECT doc_id,
        |    lpad(CAST((doc_id * 2654435761) % 10000000000000000
        |      AS VARCHAR), 16, '0') AS card
        |  FROM documents)
        |SELECT doc_id, card,
        |  CASE WHEN list_sum(list_transform(range(1, 17), i ->
        |      CASE WHEN (17 - i) % 2 = 0 THEN
        |        CASE WHEN CAST(card[CAST(i AS INTEGER)] AS BIGINT) * 2 > 9
        |          THEN CAST(card[CAST(i AS INTEGER)] AS BIGINT) * 2 - 9
        |          ELSE CAST(card[CAST(i AS INTEGER)] AS BIGINT) * 2 END
        |        ELSE CAST(card[CAST(i AS INTEGER)] AS BIGINT) END))
        |      % 10 = 0
        |    THEN 1 ELSE 0 END AS luhn_valid
        |FROM c""".stripMargin,
    "token_budget_select" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t WHERE word != ''),
        |c AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM tk GROUP BY word),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
        |s0 AS (SELECT tk.doc_id,
        |         CAST(length(printf('%b', tt.t // c.cnt)) AS BIGINT) AS s
        |       FROM tk JOIN c ON tk.word = c.word, tt),
        |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |         CAST(sum(s) * 1000 // count(*) AS BIGINT) AS mean_milli
        |       FROM s0 GROUP BY doc_id),
        |scg AS (SELECT d.lang, sc.doc_id, sc.n_tokens, sc.mean_milli
        |        FROM sc JOIN documents d USING (doc_id)),
        |cls AS (SELECT lang, mean_milli,
        |          sum(n_tokens) AS class_tokens
        |        FROM scg GROUP BY lang, mean_milli),
        |cum AS (SELECT lang, mean_milli,
        |          sum(class_tokens) OVER (PARTITION BY lang
        |            ORDER BY mean_milli DESC) AS cum
        |        FROM cls),
        |kept AS (SELECT lang, mean_milli FROM cum WHERE cum <= 2000)
        |SELECT scg.lang, scg.doc_id, scg.n_tokens, scg.mean_milli
        |FROM scg JOIN kept USING (lang, mean_milli)""".stripMargin,
    "quality_filter_grouped" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t WHERE word != ''),
        |c AS MATERIALIZED (
        |  SELECT word, count(*) AS cnt FROM tk GROUP BY word),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
        |s0 AS (SELECT tk.doc_id,
        |         CAST(length(printf('%b', tt.t // c.cnt)) AS BIGINT) AS s
        |       FROM tk JOIN c ON tk.word = c.word, tt),
        |sc AS (SELECT doc_id,
        |         CAST(sum(s) * 1000 // count(*) AS BIGINT) AS mean_milli
        |       FROM s0 GROUP BY doc_id),
        |scg AS (SELECT d.lang, sc.doc_id, sc.mean_milli
        |        FROM sc JOIN documents d USING (doc_id)),
        |dist AS (SELECT lang, mean_milli, count(*) AS cnt
        |         FROM scg GROUP BY lang, mean_milli),
        |cum AS (SELECT lang, mean_milli,
        |          sum(cnt) OVER (PARTITION BY lang
        |            ORDER BY mean_milli) AS n_le,
        |          sum(cnt) OVER (PARTITION BY lang) AS n
        |        FROM dist),
        |cut AS (SELECT lang, min(mean_milli) AS cutoff FROM cum
        |        WHERE n_le * 100 >= 75 * n GROUP BY lang)
        |SELECT scg.lang, scg.doc_id, scg.mean_milli, cut.cutoff
        |FROM scg JOIN cut USING (lang)
        |WHERE scg.mean_milli >= cut.cutoff""".stripMargin,
    "trigram_search" ->
      """SELECT p.pattern, d.doc_id
        |FROM documents d,
        |  (VALUES ('spark table'), ('slow filter'), ('quantum flux'))
        |    p(pattern)
        |WHERE contains(d.text, p.pattern)""".stripMargin,
    "tfidf_terms" ->
      """WITH tk AS MATERIALIZED (
        |  SELECT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t WHERE word != ''),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, word, count(*) AS tf FROM tk
        |  GROUP BY doc_id, word),
        |dfc AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.word,
        |         tf.tf * length(printf('%b', nn.n // dfc.df)) AS score
        |       FROM tf JOIN dfc ON tf.word = dfc.word, nn),
        |r AS (SELECT doc_id, word, score,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, word) AS rn
        |      FROM sc)
        |SELECT doc_id, word, CAST(score AS BIGINT) AS score,
        |       CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5""".stripMargin,
    // integer rank test n_le·100 ≥ q·N — no ceil, no division, replays
    // exactly; same floor(+0.5) cents as the Spark side
    "quantile_hist" ->
      """WITH b AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |    // 50000 AS bin FROM lineitem),
        |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
        |cum AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT)
        |          AS n_le FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b),
        |q(q_pct) AS (VALUES (CAST(50 AS BIGINT)), (90), (99))
        |SELECT q_pct, min(bin) AS bin, min(bin) * 50000 AS bin_lo
        |FROM q, cum, t WHERE n_le * 100 >= q_pct * total
        |GROUP BY q_pct""".stripMargin,
    "quantile_hist_err" ->
      """WITH vv AS (SELECT CAST(floor(l_extendedprice * 100 + 0.5)
        |    AS BIGINT) AS v FROM lineitem),
        |d AS (SELECT v, count(*) AS cnt FROM vv GROUP BY v),
        |dc AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT)
        |         AS n_le FROM d),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM vv),
        |q(q_pct) AS (VALUES (CAST(50 AS BIGINT)), (90), (99)),
        |ex AS (SELECT q_pct, min(v) AS exact_v
        |       FROM q, dc, t WHERE n_le * 100 >= q_pct * total
        |       GROUP BY q_pct),
        |c AS (SELECT v // 50000 AS bin, count(*) AS n FROM vv
        |      GROUP BY bin),
        |cum AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT)
        |          AS n_le FROM c),
        |ap AS (SELECT q_pct, min(bin) * 50000 AS bin_lo
        |       FROM q, cum, t WHERE n_le * 100 >= q_pct * total
        |       GROUP BY q_pct)
        |SELECT ex.q_pct, ex.exact_v, ap.bin_lo,
        |       ex.exact_v - ap.bin_lo AS err
        |FROM ex JOIN ap USING (q_pct)""".stripMargin,
    "seasonality_dow" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day, count(*) AS cnt
        |  FROM events GROUP BY event_type, day)
        |SELECT event_type, day % 7 AS dow,
        |       CAST(count(*) AS BIGINT) AS n_days,
        |       CAST(sum(cnt) AS BIGINT) AS total,
        |       CAST(sum(cnt) * 1000 // count(*) AS BIGINT) AS mean_milli
        |FROM d GROUP BY event_type, dow""".stripMargin,
    // replays both exact rank-test lower medians (value at row_number
    // (n+1)//2 under the same deterministic order) and the strict
    // k·MAD flag
    "anomaly_mad" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, day),
        |r1 AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cnt, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |m1 AS (SELECT event_type, day, cnt,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN cnt END)
        |      OVER (PARTITION BY event_type) AS med FROM r1),
        |dv AS (SELECT *, abs(cnt - med) AS dev FROM m1),
        |r2 AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY dev, day) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM dv),
        |m2 AS (SELECT event_type, day, cnt, med, dev,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN dev END)
        |      OVER (PARTITION BY event_type) AS mad FROM r2)
        |SELECT event_type, day, cnt, med, mad, dev
        |FROM m2 WHERE dev > 2 * mad""".stripMargin,
    // replays the milli-scaled running sum against the exact integer
    // mean and the (|cusum| desc, day asc) argmax
    "changepoint_cusum" ->
      """WITH d AS (SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY event_type, day),
        |m AS (SELECT *,
        |    sum(cnt) OVER (PARTITION BY event_type) AS total,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |c AS (SELECT event_type, day, n,
        |    CAST(sum(cnt * 1000 - (total * 1000 // n))
        |      OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS cusum FROM m),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(cusum) DESC, day ASC) AS rn FROM c)
        |SELECT event_type, day AS cp_day, cusum AS cusum_at_cp,
        |       CAST(n AS BIGINT) AS n_days
        |FROM r WHERE rn = 1""".stripMargin,
    // replays the distinct-pair collapse and the running-min frontier
    // test under the same (p desc, d asc) order
    "pareto_front" ->
      """WITH pairs AS (
        |  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p,
        |         epoch_us(o_orderdate) // 86400000000 AS d,
        |         CAST(count(*) AS BIGINT) AS n_rows
        |  FROM orders GROUP BY p, d),
        |w AS (SELECT *, min(d) OVER (ORDER BY p DESC, d ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |        AS d_prev_min FROM pairs)
        |SELECT p, d, n_rows FROM w
        |WHERE d_prev_min IS NULL OR d < d_prev_min""".stripMargin,
    // replays the cut-point derivation at quartiles, then the per-
    // histogram-bin assignment map and the bin profile
    "quantile_bins" ->
      """WITH hb AS MATERIALIZED (
        |  SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
        |         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
        |           // 50000 AS hv
        |  FROM lineitem),
        |c AS (SELECT hv AS bin, count(*) AS n FROM hb GROUP BY 1),
        |cum AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT)
        |          AS n_le FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM hb),
        |q(q_pct) AS (VALUES (CAST(25 AS BIGINT)), (50), (75)),
        |cuts AS (SELECT q_pct, min(bin) AS cb
        |         FROM q, cum, t WHERE n_le * 100 >= q_pct * total
        |         GROUP BY q_pct),
        |m AS (SELECT c.bin AS hv,
        |        (SELECT count(*) FROM cuts WHERE c.bin >= cuts.cb)
        |          AS bin_id
        |      FROM c)
        |SELECT m.bin_id, CAST(count(*) AS BIGINT) AS n,
        |       min(hb.v) AS v_min, max(hb.v) AS v_max
        |FROM hb JOIN m USING (hv)
        |GROUP BY m.bin_id""".stripMargin,
    "quantile_hist_grouped" ->
      """WITH b AS (SELECT l_returnflag AS g,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) // 50000
        |      AS bin FROM lineitem),
        |c AS (SELECT g, bin, count(*) AS n FROM b GROUP BY g, bin),
        |cum AS (SELECT g, bin,
        |    CAST(sum(n) OVER (PARTITION BY g ORDER BY bin) AS BIGINT)
        |      AS n_le FROM c),
        |t AS (SELECT g, CAST(count(*) AS BIGINT) AS total FROM b
        |      GROUP BY g),
        |q(q_pct) AS (VALUES (CAST(50 AS BIGINT)), (99))
        |SELECT cum.g AS l_returnflag, q_pct, min(bin) AS bin,
        |       min(bin) * 50000 AS bin_lo
        |FROM q, cum JOIN t ON cum.g = t.g
        |WHERE n_le * 100 >= q_pct * total
        |GROUP BY cum.g, q_pct""".stripMargin,
    // replays split hash, top-1000 vocab rank (count desc, word), and
    // the token-weighted left-join OOV count
    "oov_rate" ->
      """WITH s AS (SELECT doc_id, text, lang,
        |    CASE WHEN (doc_id * 2654435761) % 1000000007 % 100 < 80
        |         THEN 'train' ELSE 'valid' END AS split FROM documents),
        |tc AS (SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word FROM s
        |    WHERE split = 'train') t
        |  WHERE word <> '' GROUP BY word),
        |v AS (SELECT word FROM (
        |    SELECT word, row_number() OVER (ORDER BY cnt DESC, word) AS r
        |    FROM tc) q WHERE r <= 1000),
        |vt AS (SELECT lang, word FROM (
        |    SELECT lang, unnest(string_split(text, ' ')) AS word FROM s
        |    WHERE split = 'valid') t WHERE word <> ''),
        |a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_oov
        |  FROM vt LEFT JOIN v ON vt.word = v.word GROUP BY lang)
        |SELECT lang, n_tokens, n_oov,
        |       n_oov * 1000000 // n_tokens AS oov_ppm
        |FROM a""".stripMargin,
    "integrity_audit" ->
      """SELECT 'lineitem.orderkey' AS relation,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
        |    (SELECT o_orderkey FROM orders)) AS n_dangling
        |UNION ALL SELECT 'lineitem.partkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
        |    (SELECT p_partkey FROM part))
        |UNION ALL SELECT 'lineitem.suppkey',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier))
        |UNION ALL SELECT 'orders.custkey',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders WHERE o_custkey NOT IN
        |    (SELECT c_custkey FROM customer))""".stripMargin,
    "sketch_hll_grouped" -> hllGroupedOracle,
    // replays the whole curation chain: quality floor, distinct
    // word-4-gram posting lists with the DF cap, train×bench flagging,
    // √n mix rates over SURVIVORS, and the Knuth-hash gate
    "pipeline_curation" ->
      """WITH q AS MATERIALIZED (
        |  SELECT doc_id, lang, text, string_split(text, ' ') AS ws
        |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
        |sh AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(range(1, len(ws) - 2),
        |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
        |           || ws[i+3]))) AS s
        |  FROM q),
        |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh
        |                       GROUP BY 1) t WHERE df > 50),
        |c AS MATERIALIZED (SELECT * FROM sh
        |                   WHERE s NOT IN (SELECT s FROM hot)),
        |b AS (SELECT s, doc_id FROM c WHERE doc_id % 50 = 0),
        |tr AS (SELECT * FROM c WHERE doc_id % 50 != 0),
        |fl AS MATERIALIZED (SELECT DISTINCT tr.doc_id
        |                    FROM tr JOIN b ON tr.s = b.s),
        |train AS MATERIALIZED (SELECT * FROM q WHERE doc_id % 50 <> 0),
        |surv AS MATERIALIZED (SELECT * FROM train
        |    WHERE doc_id NOT IN (SELECT doc_id FROM fl)),
        |cnt AS (SELECT lang, count(*) AS n_docs FROM surv GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      AS w_scaled FROM cnt),
        |tt AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS w_total FROM w),
        |m AS (SELECT lang, n_docs, w_scaled * 1000000 // w_total
        |        AS share_ppm FROM w, tt),
        |r2 AS (SELECT lang, n_docs, target,
        |    least(target * 1000000 // n_docs, 1000000) AS rate_ppm FROM (
        |      SELECT lang, n_docs, share_ppm * 300 // 1000000 AS target
        |      FROM m) z),
        |kept AS (SELECT surv.lang, surv.doc_id, surv.ws FROM surv
        |    JOIN r2 ON surv.lang = r2.lang
        |    WHERE surv.doc_id * 2654435761 % 1000000007 % 1000000
        |          < r2.rate_ppm),
        |ka AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
        |    CAST(sum(len(ws)) AS BIGINT) AS kept_tokens,
        |    CAST(sum(doc_id) AS BIGINT) AS kept_id_sum
        |  FROM kept GROUP BY lang),
        |st AS (SELECT lang, count(*) AS n_train,
        |    CAST(sum(CASE WHEN doc_id IN (SELECT doc_id FROM fl)
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |  FROM train GROUP BY lang)
        |SELECT st.lang, st.n_train, st.n_flagged, r2.n_docs, r2.target,
        |  r2.rate_ppm, COALESCE(ka.n_kept, 0) AS n_kept,
        |  COALESCE(ka.kept_tokens, 0) AS kept_tokens,
        |  COALESCE(ka.kept_id_sum, 0) AS kept_id_sum
        |FROM st JOIN r2 ON st.lang = r2.lang
        |LEFT JOIN ka ON st.lang = ka.lang""".stripMargin,
    // lead() over the full per-key history (deletes included — they
    // bound the previous version's interval), filtered after
    "changelog_scd2" ->
      """SELECT user_id, event_type, value, valid_from, valid_to FROM (
        |  SELECT user_id, event_type, value, event_id AS valid_from,
        |    lead(event_id) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS valid_to
        |  FROM events) t
        |WHERE event_type <> 'error'""".stripMargin,
    // replays quantization exactly: float32→double promotion, max-abs
    // scale, the ⌊x·127/scale + ½⌋ chain (left-assoc, identical rounding
    // sequence), and the zero-vector guard
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xs
        |  FROM embeddings),
        |m AS (SELECT vec_id, xs,
        |    list_max(list_transform(xs, x -> abs(x))) AS mx FROM e),
        |q AS (SELECT vec_id, mx,
        |    CASE WHEN mx = 0 THEN list_transform(xs, x -> 0::BIGINT)
        |    ELSE list_transform(xs,
        |      x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM m)
        |SELECT vec_id, mx AS scale,
        |  CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
        |  CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
        |  CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
        |  CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat
        |FROM q""".stripMargin,
    "sketch_hll" -> hllOracle,
    "anonymity_audit" ->
      """WITH g AS (SELECT c_nationkey, c_mktsegment, count(*) AS n,
        |             count(DISTINCT c_acctbal) AS ndist
        |           FROM customer GROUP BY 1, 2)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_groups_below_k,
        |  CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_rows_below_k,
        |  CAST(min(n) AS BIGINT) AS min_group_size,
        |  CAST(sum(CASE WHEN ndist < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_groups_below_l,
        |  CAST(min(ndist) AS BIGINT) AS min_l_diversity
        |FROM g""".stripMargin,
    "pref_bt_strength" ->
      s"""WITH $matchupCtes,
         |n AS (SELECT i, j, CAST(sum(c) AS BIGINT) AS n FROM (
         |        SELECT w AS i, l AS j, c FROM wl
         |        UNION ALL SELECT l AS i, w AS j, c FROM wl) u
         |      GROUP BY i, j),
         |it AS (SELECT n.i AS item, CAST(sum(n.n) AS BIGINT) AS matches
         |       FROM n GROUP BY n.i),
         |wn AS (SELECT w AS item, CAST(sum(c) AS BIGINT) AS wins
         |       FROM wl GROUP BY w),
         |items AS (SELECT it.item,
         |            CAST(coalesce(wn.wins, 0) AS BIGINT) AS wins,
         |            it.matches
         |          FROM it LEFT JOIN wn ON wn.item = it.item),
         |s0 AS (SELECT item, CAST(1000000 AS BIGINT) AS st FROM items),
         |${btRound(1, "s0")},
         |${btRound(2, "s1")},
         |${btRound(3, "s2")}
         |SELECT items.item, items.wins, items.matches, s3.st AS strength
         |FROM items JOIN s3 ON s3.item = items.item""".stripMargin,
    "pref_consistency" ->
      s"""WITH $matchupCtes,
         |paired AS (SELECT a.w, a.l, a.c,
         |             CAST(coalesce(b.c, 0) AS BIGINT) AS rc
         |           FROM wl a LEFT JOIN wl b
         |             ON b.w = a.l AND b.l = a.w),
         |e AS (SELECT w AS a, l AS b FROM paired WHERE c > rc),
         |ni AS (SELECT CAST(count(*) AS BIGINT) AS n_items FROM
         |        (SELECT w AS x FROM wl UNION SELECT l FROM wl) t),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_tied_pairs
         |       FROM paired WHERE c = rc AND w < l),
         |cy AS (SELECT CAST(count(*) AS BIGINT) AS cyclic_triads
         |       FROM e e1 JOIN e e2 ON e2.a = e1.b
         |            JOIN e e3 ON e3.a = e2.b AND e3.b = e1.a
         |       WHERE e1.a < e1.b AND e1.a < e2.b),
         |mx AS (SELECT CAST(CASE WHEN n_items % 2 = 0
         |         THEN (n_items * (n_items * n_items - 4)) // 24
         |         ELSE (n_items * (n_items * n_items - 1)) // 24
         |       END AS BIGINT) AS max_triads FROM ni)
         |SELECT ni.n_items, ne.n_edges, nt.n_tied_pairs,
         |  cy.cyclic_triads, mx.max_triads,
         |  CAST(CASE WHEN mx.max_triads > 0
         |    THEN ((mx.max_triads - cy.cyclic_triads) * 1000000)
         |         // mx.max_triads
         |    ELSE 1000000 END AS BIGINT) AS consistency_ppm
         |FROM ni, ne, nt, cy, mx""".stripMargin,
    "agreement_kappa" -> {
      val langs = TextFunctions.LangMarkers.map(_._1)
      val succCase = langs.zip(langs.tail :+ langs.head)
        .map { case (a, b) => s"WHEN '$a' THEN '$b'" }
        .mkString("CASE lang ", " ", " END")
      // kappa fold over a (la, lb) pair CTE named `p` — confusion
      // matrix, 1-row totals, marginal cross-sum
      def kappaCtes(p: String) =
        s"""${p}_m AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS cnt
           |       FROM $p GROUP BY la, lb),
           |${p}_t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
           |        CAST(sum(CASE WHEN la = lb THEN cnt ELSE 0 END)
           |          AS BIGINT) AS agree FROM ${p}_m),
           |${p}_pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT)
           |         AS pe_num
           |       FROM (SELECT la AS cls, sum(cnt) AS na FROM ${p}_m
           |             GROUP BY la) ma
           |       JOIN (SELECT lb AS cls, sum(cnt) AS nb FROM ${p}_m
           |             GROUP BY lb) mb USING (cls))""".stripMargin
      // the engine-portable signed floor division (Quality.cohenKappa)
      def kappaRow(p: String, label: String) =
        s"""SELECT '$label' AS pair, t.n, t.agree, pe.pe_num,
           |  CAST(CASE
           |    WHEN t.n * t.n - pe.pe_num <= 0 THEN 0
           |    WHEN t.agree * t.n - pe.pe_num >= 0
           |      THEN ((t.agree * t.n - pe.pe_num) * 1000000)
           |           // (t.n * t.n - pe.pe_num)
           |    ELSE -(((pe.pe_num - t.agree * t.n) * 1000000
           |            + (t.n * t.n - pe.pe_num) - 1)
           |           // (t.n * t.n - pe.pe_num))
           |  END AS BIGINT) AS kappa_ppm
           |FROM ${p}_t t, ${p}_pe pe""".stripMargin
      s"""WITH np AS (SELECT lang AS la,
         |        CASE WHEN doc_id % 7 = 0 THEN $succCase
         |             ELSE lang END AS lb FROM documents),
         |ap AS (SELECT lang AS la, $succCase AS lb FROM documents),
         |${kappaCtes("np")},
         |${kappaCtes("ap")}
         |${kappaRow("np", "noisy")}
         |UNION ALL
         |${kappaRow("ap", "adversarial")}""".stripMargin
    },
    "stream_pref_counts" ->
      s"""WITH $matchupCtes
         |SELECT w AS winner, l AS loser, c AS n_matches FROM wl""".stripMargin,
    "vocab_drift" ->
      """WITH v1 AS (SELECT text FROM documents),
        |v2 AS (SELECT CASE WHEN doc_id % 10 = 0 THEN upper(text)
        |              ELSE text END AS text
        |       FROM documents WHERE doc_id % 7 <> 0),
        |wa AS (SELECT unnest(string_split(text, ' ')) AS word FROM v1),
        |ca AS (SELECT word, count(*) AS c_a FROM wa WHERE word <> ''
        |       GROUP BY word),
        |wb AS (SELECT unnest(string_split(text, ' ')) AS word FROM v2),
        |cb AS (SELECT word, count(*) AS c_b FROM wb WHERE word <> ''
        |       GROUP BY word),
        |j AS (SELECT coalesce(ca.word, cb.word) AS word,
        |        coalesce(c_a, 0) AS c_a, coalesce(c_b, 0) AS c_b
        |      FROM ca FULL OUTER JOIN cb ON ca.word = cb.word),
        |t AS (SELECT sum(c_a) AS n_a, sum(c_b) AS n_b FROM j),
        |r AS (SELECT word, c_a, c_b,
        |        CAST(c_a * 1000000 // n_a AS BIGINT) AS rate_a_ppm,
        |        CAST(c_b * 1000000 // n_b AS BIGINT) AS rate_b_ppm
        |      FROM j, t)
        |SELECT word, c_a, c_b, rate_a_ppm, rate_b_ppm,
        |       abs(rate_a_ppm - rate_b_ppm) AS delta_ppm
        |FROM r ORDER BY delta_ppm DESC, word LIMIT 50""".stripMargin,
    "skipgram_pairs" ->
      """WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
        |p1 AS (SELECT ws, unnest(range(1, len(ws) + 1)) AS i FROM w),
        |p2 AS (SELECT ws, i, unnest([-2, -1, 1, 2]) AS o FROM p1),
        |pr AS (SELECT ws[i] AS center, ws[i + o] AS context
        |       FROM p2 WHERE i + o >= 1 AND i + o <= len(ws))
        |SELECT center, context, count(*) AS cnt
        |FROM pr GROUP BY 1, 2
        |ORDER BY cnt DESC, center, context LIMIT 100""".stripMargin,
    "hash_features" ->
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |t2 AS (SELECT doc_id, word FROM t WHERE word <> ''),
        |h AS (SELECT doc_id,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split(word, ''),
        |                           c -> CAST(ascii(c) AS BIGINT))),
        |          (a, c) -> (a * 31 + c) % 1000000007) AS ph
        |      FROM t2),
        |c AS (SELECT doc_id, ph % 1024 AS idx,
        |        ((ph // 1024) % 2) * 2 - 1 AS sign FROM h),
        |v AS (SELECT doc_id, idx, sum(sign) AS v FROM c GROUP BY 1, 2),
        |nz AS (SELECT * FROM v WHERE v <> 0)
        |SELECT doc_id, count(*) AS nnz,
        |       CAST(sum(abs(v)) AS BIGINT) AS l1,
        |       CAST(sum((idx + 1) * v) AS BIGINT) AS checksum
        |FROM nz GROUP BY doc_id""".stripMargin,
    "sketch_theta" ->
      """WITH a0 AS (SELECT (user_id % 1000000007 + 1000000007)
        |              % 1000000007 AS x FROM events
        |            WHERE event_type = 'click'),
        |a1 AS (SELECT (x * x + x * 31 + 7) % 1000000007 AS y FROM a0),
        |a2 AS (SELECT (y * y + y * 37 + 11) % 1000000007 AS z FROM a1),
        |a3 AS (SELECT DISTINCT (z * z + z * 41 + 13) % 1000000007 AS h
        |       FROM a2),
        |sa AS (SELECT h FROM a3 ORDER BY h LIMIT 64),
        |b0 AS (SELECT (user_id % 1000000007 + 1000000007)
        |         % 1000000007 AS x FROM events
        |       WHERE event_type = 'view'),
        |b1 AS (SELECT (x * x + x * 31 + 7) % 1000000007 AS y FROM b0),
        |b2 AS (SELECT (y * y + y * 37 + 11) % 1000000007 AS z FROM b1),
        |b3 AS (SELECT DISTINCT (z * z + z * 41 + 13) % 1000000007 AS h
        |       FROM b2),
        |sb AS (SELECT h FROM b3 ORDER BY h LIMIT 64),
        |ta AS (SELECT CASE WHEN count(*) >= 64 THEN max(h)
        |              ELSE 1000000007 END AS ta FROM sa),
        |tb AS (SELECT CASE WHEN count(*) >= 64 THEN max(h)
        |              ELSE 1000000007 END AS tb FROM sb),
        |th AS (SELECT least(ta, tb) AS theta FROM ta, tb),
        |u AS (SELECT h, max(ia) AS ia, max(ib) AS ib, theta
        |      FROM (SELECT h, 1 AS ia, 0 AS ib FROM sa
        |            UNION ALL SELECT h, 0, 1 FROM sb) x, th
        |      WHERE h < theta GROUP BY h, theta),
        |est AS (SELECT theta,
        |    CAST(sum(ia) * 1000000007 // theta AS BIGINT) AS n_a_est,
        |    CAST(sum(ib) * 1000000007 // theta AS BIGINT) AS n_b_est,
        |    CAST(sum(ia * ib) * 1000000007 // theta AS BIGINT)
        |      AS n_intersect_est,
        |    CAST(count(*) * 1000000007 // theta AS BIGINT) AS n_union_est
        |  FROM u GROUP BY theta),
        |ca AS (SELECT DISTINCT user_id FROM events
        |       WHERE event_type = 'click'),
        |cb AS (SELECT DISTINCT user_id FROM events
        |       WHERE event_type = 'view'),
        |ex AS (SELECT
        |    (SELECT count(*) FROM ca) AS n_a_exact,
        |    (SELECT count(*) FROM cb) AS n_b_exact,
        |    (SELECT count(*) FROM ca JOIN cb USING (user_id))
        |      AS n_intersect_exact,
        |    (SELECT count(*) FROM (SELECT * FROM ca UNION SELECT * FROM cb))
        |      AS n_union_exact)
        |SELECT est.*, ex.* FROM est, ex""".stripMargin,
    "corpus_mix_apply" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      AS w_scaled FROM c),
        |t AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS w_total FROM w),
        |m AS (SELECT lang, n_docs, w_scaled * 1000000 // w_total
        |        AS share_ppm FROM w, t),
        |r AS (SELECT lang, n_docs, share_ppm * 200 // 1000000 AS target
        |      FROM m),
        |r2 AS (SELECT lang, n_docs, target,
        |    least(target * 1000000 // n_docs, 1000000) AS rate_ppm FROM r),
        |k AS (SELECT d.lang, d.doc_id FROM documents d
        |      JOIN r2 ON d.lang = r2.lang
        |      WHERE d.doc_id * 2654435761 % 1000000007 % 1000000
        |            < r2.rate_ppm),
        |kk AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(doc_id) AS BIGINT) AS s FROM k GROUP BY lang)
        |SELECT r2.lang, r2.n_docs, r2.target, r2.rate_ppm,
        |  COALESCE(kk.n, 0) AS n_kept, COALESCE(kk.s, 0) AS kept_id_sum
        |FROM r2 LEFT JOIN kk ON r2.lang = kk.lang""".stripMargin,
    // √ is IEEE-correctly-rounded in both engines, so floor(√n·10⁶) and
    // the ppm integer division replay exactly
    "corpus_mix" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents
        |           GROUP BY lang),
        |w AS (SELECT lang, n_docs,
        |    CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      AS w_scaled FROM c),
        |t AS (SELECT CAST(sum(w_scaled) AS BIGINT) AS w_total FROM w)
        |SELECT lang, n_docs, w_scaled,
        |       w_scaled * 1000000 // w_total AS share_ppm
        |FROM w, t""".stripMargin,
    // arg_max per column on the same unique seq ≡ Spark's max over the
    // seq-led struct; the HAVING replays tombstone-after-compaction
    "changelog_compact" ->
      """SELECT user_id,
        |  arg_max(event_id, event_id) AS last_event_id,
        |  arg_max(event_type, event_id) AS last_event_type,
        |  arg_max(value, event_id) AS last_value
        |FROM events GROUP BY user_id
        |HAVING arg_max(event_type, event_id) <> 'error'""".stripMargin,
    "dataset_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN upper(text) ELSE text END
        |           AS text
        |       FROM documents WHERE doc_id % 7 != 0
        |       UNION ALL
        |       SELECT doc_id + 1000000, text FROM documents
        |       WHERE doc_id < 20),
        |j AS (SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |        CASE WHEN a.doc_id IS NULL THEN 'added'
        |             WHEN b.doc_id IS NULL THEN 'removed'
        |             WHEN md5(a.text) != md5(b.text) THEN 'changed'
        |             ELSE 'unchanged' END AS status
        |      FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT status, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(id) AS BIGINT) AS id_checksum
        |FROM j GROUP BY status""".stripMargin,
    "sketch_bloom" -> bloomOracle,
    // the plain join IS the oracle: the bloom-pruned path must be
    // lossless (rejected keys provably absent, false positives removed
    // by the exact join), so both engines compute the same aggregate
    "bloom_join_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |       CAST(sum(o_custkey) AS BIGINT) AS cust_checksum
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_acctbal < 0
        |GROUP BY o_orderpriority""".stripMargin,
    "pack_offsets" -> packOracle,
    "sketch_cms" -> cmsOracle,
    "join_cardinality" ->
      """WITH ka AS (SELECT (o_orderkey % 1000000007 + 1000000007)
        |             % 1000000007 AS h FROM orders),
        |kb AS (SELECT (l_orderkey % 1000000007 + 1000000007)
        |         % 1000000007 AS h FROM lineitem),
        |ga AS MATERIALIZED (
        |  SELECT row, cell, CAST(count(*) AS BIGINT) AS ca FROM (
        |    SELECT 0 AS row, (h*31+7) % 1000000007 % 8192 AS cell FROM ka
        |    UNION ALL SELECT 1, (h*37+11) % 1000000007 % 8192 FROM ka
        |    UNION ALL SELECT 2, (h*41+13) % 1000000007 % 8192 FROM ka) t
        |  GROUP BY row, cell),
        |gb AS MATERIALIZED (
        |  SELECT row, cell, CAST(count(*) AS BIGINT) AS cb FROM (
        |    SELECT 0 AS row, (h*31+7) % 1000000007 % 8192 AS cell FROM kb
        |    UNION ALL SELECT 1, (h*37+11) % 1000000007 % 8192 FROM kb
        |    UNION ALL SELECT 2, (h*41+13) % 1000000007 % 8192 FROM kb) t
        |  GROUP BY row, cell),
        |rs AS (SELECT ga.row, CAST(sum(ca * cb) AS BIGINT) AS rowsum
        |       FROM ga JOIN gb ON ga.row = gb.row AND ga.cell = gb.cell
        |       GROUP BY ga.row),
        |est AS (SELECT min(rowsum) AS est_pairs FROM rs),
        |ex AS (SELECT CAST(sum(fa * fb) AS BIGINT) AS exact_pairs FROM
        |  (SELECT o_orderkey AS k, count(*) AS fa FROM orders
        |   GROUP BY 1) a
        |  JOIN (SELECT l_orderkey AS k, count(*) AS fb FROM lineitem
        |        GROUP BY 1) b USING (k))
        |SELECT exact_pairs, est_pairs,
        |       est_pairs * 1000000 // exact_pairs AS over_ppm
        |FROM ex, est""".stripMargin,
    "fuzzy_join" ->
      """WITH base AS MATERIALIZED (
        |  SELECT p_partkey AS eid, p_name AS nm FROM part
        |  UNION ALL
        |  SELECT p_partkey + 10000000,
        |         substring(p_name, 1,
        |           CAST(p_partkey % length(p_name) AS INTEGER))
        |         || 'q' ||
        |         substring(p_name,
        |           CAST(p_partkey % length(p_name) AS INTEGER) + 2)
        |  FROM part),
        |keyed AS MATERIALIZED (
        |  SELECT eid, nm,
        |         'L' || '|' || length(nm) || '|'
        |           || substring(nm, 1, (length(nm) + 1) // 2) AS blk
        |  FROM base
        |  UNION ALL
        |  SELECT eid, nm,
        |         'R' || '|' || length(nm) || '|'
        |           || substring(nm, (length(nm) + 1) // 2 + 1)
        |  FROM base),
        |ok AS MATERIALIZED (
        |  SELECT k.eid, k.nm, k.blk FROM keyed k JOIN (
        |    SELECT blk FROM keyed GROUP BY blk
        |    HAVING count(*) <= 50) g USING (blk)),
        |cand AS (SELECT DISTINCT x.eid AS id_a, y.eid AS id_b,
        |                x.nm AS nm_a, y.nm AS nm_b
        |         FROM ok x JOIN ok y
        |           ON x.blk = y.blk AND x.eid < y.eid)
        |SELECT id_a, id_b, CAST(levenshtein(nm_a, nm_b) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(nm_a, nm_b) <= 1""".stripMargin,
    // same base/keyed/ok/cand CTEs as fuzzy_join, folded to the two
    // blocking-quality numbers against the planted truth pairs
    "blocking_quality" ->
      """WITH base AS MATERIALIZED (
        |  SELECT p_partkey AS eid, p_name AS nm FROM part
        |  UNION ALL
        |  SELECT p_partkey + 10000000,
        |         substring(p_name, 1,
        |           CAST(p_partkey % length(p_name) AS INTEGER))
        |         || 'q' ||
        |         substring(p_name,
        |           CAST(p_partkey % length(p_name) AS INTEGER) + 2)
        |  FROM part),
        |keyed AS MATERIALIZED (
        |  SELECT eid,
        |         'L' || '|' || length(nm) || '|'
        |           || substring(nm, 1, (length(nm) + 1) // 2) AS blk
        |  FROM base
        |  UNION ALL
        |  SELECT eid,
        |         'R' || '|' || length(nm) || '|'
        |           || substring(nm, (length(nm) + 1) // 2 + 1)
        |  FROM base),
        |ok AS MATERIALIZED (
        |  SELECT k.eid, k.blk FROM keyed k JOIN (
        |    SELECT blk FROM keyed GROUP BY blk
        |    HAVING count(*) <= 50) g USING (blk)),
        |cand AS MATERIALIZED (
        |  SELECT DISTINCT x.eid AS id_a, y.eid AS id_b
        |  FROM ok x JOIN ok y ON x.blk = y.blk AND x.eid < y.eid),
        |truth AS (SELECT p_partkey AS id_a, p_partkey + 10000000 AS id_b
        |          FROM part),
        |ne AS (SELECT count(DISTINCT eid) AS n_entities FROM keyed),
        |nt AS (SELECT count(*) AS n_truth FROM truth),
        |nc AS (SELECT count(*) AS n_candidates FROM cand),
        |nf AS (SELECT count(*) AS n_found
        |       FROM cand JOIN truth USING (id_a, id_b))
        |SELECT CAST(n_entities AS BIGINT) AS n_entities,
        |  CAST(n_truth AS BIGINT) AS n_truth,
        |  CAST(n_candidates AS BIGINT) AS n_candidates,
        |  CAST(n_found AS BIGINT) AS n_found,
        |  CAST(n_found * 1000000 // n_truth AS BIGINT) AS pc_ppm,
        |  CAST(1000000 - n_candidates * 1000000 //
        |    (n_entities * (n_entities - 1) // 2) AS BIGINT) AS rr_ppm
        |FROM ne, nt, nc, nf""".stripMargin,
    "bm25_topk" -> bm25Oracle,
    // replays both retrieval pipelines (vector brute top-10 over queries
    // 0..4, BM25 top-10 with each query doc's own words as terms) and the
    // integer RRF combine
    "rrf_fusion" ->
      """WITH vq AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe
        |            FROM embeddings WHERE vec_id < 5),
        |vc AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS ce
        |       FROM embeddings),
        |vs AS (SELECT qid, nid,
        |         floor((list_cosine_similarity(qe, ce)) * 1000000 + 0.5) / 1000000 AS sim
        |       FROM vq, vc WHERE nid != qid),
        |vr AS MATERIALIZED (
        |  SELECT qid, nid AS doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |    SELECT qid, nid, row_number() OVER (
        |      PARTITION BY qid ORDER BY sim DESC, nid) AS rn
        |    FROM vs) t WHERE rn <= 10),
        |qt AS (SELECT DISTINCT doc_id AS qid,
        |         unnest(string_split(text, ' ')) AS word
        |       FROM documents WHERE doc_id < 5),
        |toks AS (SELECT doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |           unnest(string_split(text, ' ')) AS word
        |         FROM documents),
        |tf AS (SELECT doc_id, dl, word, count(*) AS tf
        |       FROM toks GROUP BY 1, 2, 3),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS nd,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tl
        |       FROM documents),
        |sc AS (SELECT q.qid, t.doc_id,
        |         CAST(floor(
        |           (CAST(t.tf AS DOUBLE) * 2.25)
        |           / (CAST(t.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 *
        |               (CAST(t.dl AS DOUBLE) * CAST(st.nd AS DOUBLE)
        |                / CAST(st.tl AS DOUBLE))))
        |           * sqrt((CAST(st.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
        |                  / (CAST(d.df AS DOUBLE) + 0.5))
        |           * 1000000.0) AS BIGINT) AS s
        |       FROM (SELECT DISTINCT qid, word FROM qt) q
        |       JOIN tf t USING (word) JOIN dfq d USING (word), st),
        |ag AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |tr AS MATERIALIZED (
        |  SELECT qid, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS rn
        |    FROM ag) t WHERE rn <= 10),
        |u AS (SELECT qid, doc_id, rn FROM vr
        |      UNION ALL SELECT qid, doc_id, rn FROM tr),
        |f AS (SELECT qid, doc_id,
        |        CAST(sum(1000000 // (60 + rn)) AS BIGINT) AS rrf
        |      FROM u GROUP BY 1, 2)
        |SELECT qid, doc_id, rrf, CAST(rn AS BIGINT) AS rn FROM (
        |  SELECT qid, doc_id, rrf, row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rn
        |  FROM f) t WHERE rn <= 5""".stripMargin,
    // replays bm25 with the query-doc word terms, the lexical-overlap
    // qrels, and the integer metric arithmetic (// = floor division;
    // 2520 = lcm(1..10) makes reciprocal ranks exact integers)
    "retrieval_eval" ->
      """WITH qt AS (SELECT DISTINCT qid, word FROM (
        |        SELECT doc_id AS qid,
        |               unnest(string_split(text, ' ')) AS word
        |        FROM documents WHERE doc_id < 5) t WHERE word <> ''),
        |toks AS (SELECT doc_id,
        |           CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
        |           unnest(string_split(text, ' ')) AS word
        |         FROM documents),
        |tf AS (SELECT doc_id, dl, word, count(*) AS tf
        |       FROM toks GROUP BY 1, 2, 3),
        |dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |st AS (SELECT count(*) AS nd,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tl
        |       FROM documents),
        |sc AS (SELECT q.qid, t.doc_id,
        |         CAST(floor(
        |           (CAST(t.tf AS DOUBLE) * 2.25)
        |           / (CAST(t.tf AS DOUBLE) + 1.25 * (0.25 + 0.75 *
        |               (CAST(t.dl AS DOUBLE) * CAST(st.nd AS DOUBLE)
        |                / CAST(st.tl AS DOUBLE))))
        |           * sqrt((CAST(st.nd AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
        |                  / (CAST(d.df AS DOUBLE) + 0.5))
        |           * 1000000.0) AS BIGINT) AS s
        |       FROM qt q
        |       JOIN tf t USING (word) JOIN dfq d USING (word), st),
        |ag AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT) AS score
        |       FROM sc GROUP BY 1, 2),
        |res AS (SELECT qid, doc_id, CAST(rn AS BIGINT) AS rn FROM (
        |    SELECT qid, doc_id, row_number() OVER (PARTITION BY qid
        |      ORDER BY score DESC, doc_id) AS rn
        |    FROM ag) t WHERE rn <= 10),
        |dw AS (SELECT DISTINCT doc_id, word FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |    FROM documents) t WHERE word <> ''),
        |qrels AS (SELECT qt.qid, dw.doc_id FROM qt JOIN dw USING (word)
        |          GROUP BY qt.qid, dw.doc_id HAVING count(*) >= 8),
        |hits AS (SELECT r.qid, r.doc_id, r.rn
        |         FROM res r JOIN qrels USING (qid, doc_id)),
        |perq AS (SELECT qid, count(*) AS n_hits_raw,
        |           min(rn) AS first_rank_raw,
        |           CAST(sum(2520 // rn) AS BIGINT) AS rr_raw
        |         FROM hits GROUP BY qid),
        |nrel AS (SELECT qid, count(*) AS n_rel FROM qrels GROUP BY qid)
        |SELECT n.qid, n.n_rel,
        |  CAST(coalesce(p.n_hits_raw, 0) AS BIGINT) AS n_hits,
        |  CAST(coalesce(p.first_rank_raw, 0) AS BIGINT) AS first_rank,
        |  CAST(CASE WHEN p.first_rank_raw IS NULL THEN 0
        |       ELSE 2520 // p.first_rank_raw END AS BIGINT) AS mrr2520,
        |  CAST(coalesce(p.rr_raw, 0) AS BIGINT) AS rr_mass2520,
        |  CAST(coalesce(p.n_hits_raw, 0) * 1000000 // n.n_rel AS BIGINT)
        |    AS recall_ppm,
        |  CAST(coalesce(p.n_hits_raw, 0) * 1000000 // 10 AS BIGINT)
        |    AS precision_ppm
        |FROM nrel n LEFT JOIN perq p USING (qid)""".stripMargin,
    "quality_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |tg AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN
        |         list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
        |         ELSE [] END AS g FROM w),
        |bg AS (SELECT doc_id, CASE WHEN len(ws) >= 2 THEN
        |         list_transform(range(1, len(ws)),
        |           i -> ws[i] || ' ' || ws[i+1])
        |         ELSE [] END AS g FROM w),
        |top AS (SELECT doc_id, max(c) AS top_cnt FROM (
        |    SELECT doc_id, u, count(*) AS c FROM
        |      (SELECT doc_id, unnest(g) AS u FROM bg) q GROUP BY 1, 2) t
        |  GROUP BY 1)
        |SELECT w.doc_id, CAST(len(w.ws) AS BIGINT) AS n_words,
        |  floor((len(list_distinct(w.ws)) * 1.0 / len(w.ws)) * 1000000 + 0.5) / 1000000
        |    AS distinct_ratio,
        |  CASE WHEN len(tg.g) > 0 THEN
        |    floor(((len(tg.g) - len(list_distinct(tg.g))) * 1.0
        |      / len(tg.g)) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS dup_trigram_frac,
        |  CASE WHEN len(bg.g) > 0 THEN
        |    floor((top.top_cnt * 1.0 / len(bg.g)) * 1000000 + 0.5) / 1000000
        |    ELSE 0.0 END AS top_bigram_share
        |FROM w JOIN tg USING (doc_id) JOIN bg USING (doc_id)
        |LEFT JOIN top USING (doc_id)""".stripMargin,
    "decontaminate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 2),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
        |                || ws[i+3]))) AS s
        |       FROM w WHERE len(ws) >= 4),
        |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY 1) t
        |        WHERE df > 50),
        |c AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
        |b AS (SELECT s, doc_id AS bench_id FROM c WHERE doc_id % 50 = 0),
        |tr AS (SELECT * FROM c WHERE doc_id % 50 != 0)
        |SELECT tr.doc_id, count(DISTINCT b.bench_id) AS n_bench_docs,
        |       count(DISTINCT tr.s) AS n_shared_ngrams
        |FROM tr JOIN b ON tr.s = b.s GROUP BY 1""".stripMargin,
    "contamination_ratio" ->
      """WITH w AS (SELECT doc_id, doc_id % 50 = 0 AS b,
        |             string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id, b,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 2),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
        |                || ws[i+3]))) AS s
        |       FROM w WHERE len(ws) >= 4),
        |df AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |bench AS (SELECT DISTINCT sh.s FROM sh JOIN df USING (s)
        |          WHERE b AND df <= 50),
        |tr AS (SELECT doc_id, sh.s,
        |         CASE WHEN bench.s IS NOT NULL THEN 1 ELSE 0 END AS hit
        |       FROM sh LEFT JOIN bench USING (s) WHERE NOT b)
        |SELECT doc_id, count(*) AS n_grams,
        |  CAST(sum(hit) AS BIGINT) AS n_hit,
        |  CAST(sum(hit) * 1000000 // count(*) AS BIGINT) AS contam_ppm
        |FROM tr GROUP BY 1""".stripMargin,
    "quality_gopher" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |t AS (SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(ws, x -> len(x))) * 1000
        |    // len(ws) AS BIGINT) AS mwl_milli,
        |  CAST(len(list_distinct(ws)) * 1000000 // len(ws) AS BIGINT)
        |    AS ttr_ppm,
        |  CAST(len(list_filter(ws,
        |      x -> list_contains(['the','a','of','and'], x))) AS BIGINT)
        |    AS n_stop,
        |  CAST(len(list_filter(ws, x -> regexp_matches(x, '[a-zA-Z]')))
        |    * 1000000 // len(ws) AS BIGINT) AS alpha_ppm,
        |  CAST(list_max(list_transform(list_distinct(ws),
        |      w2 -> len(list_filter(ws, x -> x = w2))))
        |    * 1000000 // len(ws) AS BIGINT) AS top_word_ppm
        |FROM w)
        |SELECT *,
        |  CAST(CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END +
        |   CASE WHEN mwl_milli < 3000 OR mwl_milli > 10000 THEN 2
        |     ELSE 0 END +
        |   CASE WHEN ttr_ppm < 400000 THEN 4 ELSE 0 END +
        |   CASE WHEN n_stop < 2 THEN 8 ELSE 0 END +
        |   CASE WHEN alpha_ppm < 800000 THEN 16 ELSE 0 END +
        |   CASE WHEN top_word_ppm > 200000 THEN 32 ELSE 0 END AS BIGINT)
        |    AS reasons,
        |  (CASE WHEN n_words < 20 OR n_words > 80 THEN 1 ELSE 0 END +
        |   CASE WHEN mwl_milli < 3000 OR mwl_milli > 10000 THEN 2
        |     ELSE 0 END +
        |   CASE WHEN ttr_ppm < 400000 THEN 4 ELSE 0 END +
        |   CASE WHEN n_stop < 2 THEN 8 ELSE 0 END +
        |   CASE WHEN alpha_ppm < 800000 THEN 16 ELSE 0 END +
        |   CASE WHEN top_word_ppm > 200000 THEN 32 ELSE 0 END) = 0
        |    AS pass
        |FROM t""".stripMargin,
    "padding_waste" ->
      """WITH t AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 1000000007 % 4 AS b,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |s1 AS (SELECT 'one_doc_per_seq' AS strategy, count(*) AS n_docs,
        |         CAST(sum(n) AS BIGINT) AS n_tokens,
        |         CAST(sum((n + 127) // 128) AS BIGINT) AS n_seqs
        |       FROM t),
        |s2 AS (SELECT 'concat_global', count(*),
        |         CAST(sum(n) AS BIGINT),
        |         CAST((sum(n) + 127) // 128 AS BIGINT) FROM t),
        |s3 AS (SELECT 'concat_sharded', CAST(sum(d) AS BIGINT),
        |         CAST(sum(tk) AS BIGINT),
        |         CAST(sum((tk + 127) // 128) AS BIGINT)
        |       FROM (SELECT b, count(*) AS d, sum(n) AS tk FROM t
        |             GROUP BY b) sh),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2
        |      UNION ALL SELECT * FROM s3)
        |SELECT strategy, n_docs, n_tokens, n_seqs,
        |  n_seqs * 128 - n_tokens AS pad_tokens,
        |  CAST((n_seqs * 128 - n_tokens) * 1000000 // (n_seqs * 128)
        |    AS BIGINT) AS pad_ppm
        |FROM u""".stripMargin,
    "lm_kn_bigram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |         i -> {'w1': ws[i], 'w2': ws[i+1]}), recursive := true)
        |       FROM w WHERE len(ws) >= 2),
        |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |         count(*) AS n1_fwd FROM c12 GROUP BY 1),
        |cont AS (SELECT w2, count(*) AS n1_bwd FROM c12 GROUP BY 1),
        |b AS (SELECT count(*) AS btypes FROM c12),
        |model AS (SELECT w1, w2,
        |    CAST(greatest(c12 * 1000 - 750, 0) * 1000 // c1 +
        |      (750 * n1_fwd // c1) * (1000000 * n1_bwd // btypes)
        |        // 1000 AS BIGINT) AS p_ppm
        |  FROM c12 JOIN c1 USING (w1) JOIN cont USING (w2) CROSS JOIN b)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_ppm) AS BIGINT) AS sum_p_ppm,
        |  CAST(sum(p_ppm) AS BIGINT) // count(*) AS mean_p_ppm
        |FROM bg JOIN model USING (w1, w2) GROUP BY 1""".stripMargin,
    "sample_stratified" ->
      """WITH k AS (SELECT lang, doc_id,
        |    (doc_id * 2654435761) % 1000000007 % 100 <
        |      CASE lang WHEN 'en' THEN 30 WHEN 'de' THEN 80 ELSE 55 END
        |      AS keep
        |  FROM documents)
        |SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN keep THEN doc_id ELSE 0 END) AS BIGINT)
        |    AS kept_id_sum
        |FROM k GROUP BY lang""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS hash, min(doc_id) AS keep_id, count(*) AS n
        |FROM documents GROUP BY md5(text)""".stripMargin,
    "dedup_ngram" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) t
        |        WHERE df > 50),
        |shp AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM shp a JOIN shp b
        |            ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, c * 1.0 / (ca.n + cb.n - c) AS jac
        |      FROM pairs
        |      JOIN cnt ca ON ca.doc_id = doc_a
        |      JOIN cnt cb ON cb.doc_id = doc_b)
        |SELECT doc_a, doc_b, floor((jac) * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM j WHERE jac >= 0.3""".stripMargin,
    "dedup_containment" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |       FROM w WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) t
        |        WHERE df > 50),
        |shp AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM shp a JOIN shp b
        |            ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, c * 1.0 / ca.n AS ca2, c * 1.0 / cb.n AS cb2
        |      FROM pairs
        |      JOIN cnt ca ON ca.doc_id = doc_a
        |      JOIN cnt cb ON cb.doc_id = doc_b)
        |SELECT doc_a, doc_b,
        |       floor((ca2) * 1000000 + 0.5) / 1000000 AS cont_a,
        |       floor((cb2) * 1000000 + 0.5) / 1000000 AS cont_b
        |FROM j WHERE greatest(ca2, cb2) >= 0.6""".stripMargin,
    "dedup_chunk_strip" ->
      ("WITH " + chunkStripCtes +
        """
          |SELECT t.doc_id, CAST(t.total_chunks AS BIGINT) AS total_chunks,
          |       CAST(COALESCE(a.kept_chunks, 0) AS BIGINT) AS kept_chunks,
          |       COALESCE(a.clean_text, '') AS clean_text
          |FROM tot t LEFT JOIN agg a ON a.doc_id = t.doc_id""".stripMargin),
    "curriculum_order" ->
      ("WITH " + curriculumCtes() +
        """
          |SELECT doc_id, source, n_tokens, bucket, src_rank
          |FROM r ORDER BY bucket, src_rank, source LIMIT 200""".stripMargin),
    "pipeline_training_order" ->
      ("WITH " + Seq(
        chunkStripCtes,
        """cleaned AS (SELECT a.doc_id, dd.lang, dd.source,
          |            a.clean_text AS text
          |            FROM agg a JOIN documents dd ON dd.doc_id = a.doc_id)"""
          .stripMargin,
        perceptronScoredCtes("cleaned"),
        """flt AS (SELECT c.doc_id, c.source, c.text
          |        FROM scored sr JOIN cleaned c ON c.doc_id = sr.doc_id
          |        WHERE sr.pred = 1)""".stripMargin,
        curriculumCtes("flt")).mkString(",\n") +
        """
          |SELECT doc_id, source, n_tokens, bucket, src_rank
          |FROM r ORDER BY bucket, src_rank, source LIMIT 100""".stripMargin),
    "unigram_vocab" ->
      ("WITH " + unigramCtes + "\nSELECT p AS piece, cnt, cost FROM vocab"),
    "unigram_segment" ->
      ("WITH " + unigramSwCtes +
        """
          |SELECT d.doc_id,
          |  CAST(COALESCE(g.nw, 0) AS BIGINT) AS n_words,
          |  CAST(COALESCE(g.np, 0) AS BIGINT) AS n_pieces,
          |  CAST(COALESCE(g.cost, 0) AS BIGINT) AS cost
          |FROM documents d LEFT JOIN (
          |  SELECT tk.doc_id, count(*) AS nw,
          |         CAST(sum(sw.np) AS BIGINT) AS np,
          |         CAST(sum(sw.wcost) AS BIGINT) AS cost
          |  FROM tk JOIN sw ON sw.word = tk.word GROUP BY tk.doc_id) g
          |ON g.doc_id = d.doc_id""".stripMargin),
    "tokenizer_bakeoff" ->
      (s"WITH $BpeRoundsSql,\n" + unigramSwCtes +
        """,
          |bp AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_words,
          |         CAST(sum(len(s3.syms)) AS BIGINT) AS bpe_tokens
          |       FROM tk JOIN s3 USING (word) GROUP BY tk.doc_id),
          |un AS (SELECT tk.doc_id, CAST(sum(sw.np) AS BIGINT) AS uni_pieces
          |       FROM tk JOIN sw ON sw.word = tk.word GROUP BY tk.doc_id)
          |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(bp.n_words) AS BIGINT) AS n_words,
          |  CAST(sum(bp.bpe_tokens) AS BIGINT) AS bpe_tokens,
          |  CAST(sum(un.uni_pieces) AS BIGINT) AS uni_pieces,
          |  CAST(sum(bp.bpe_tokens) AS BIGINT) * 1000 //
          |    CAST(sum(bp.n_words) AS BIGINT) AS bpe_milli,
          |  CAST(sum(un.uni_pieces) AS BIGINT) * 1000 //
          |    CAST(sum(bp.n_words) AS BIGINT) AS uni_milli
          |FROM documents d
          |JOIN bp ON bp.doc_id = d.doc_id
          |JOIN un ON un.doc_id = d.doc_id
          |GROUP BY d.lang""".stripMargin),
    "perceptron_train" ->
      ("WITH " + perceptronCtes(64, 3) + "\nSELECT f, w FROM w3"),
    "perceptron_score" ->
      ("WITH " + perceptronScoredCtes() +
        "\nSELECT doc_id, y, score, pred FROM scored"),
    "stream_quality_score" ->
      ("WITH " + perceptronScoredCtes() +
        """
          |SELECT y, pred, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(score) AS BIGINT) AS score_sum
          |FROM scored GROUP BY y, pred""".stripMargin),
    "perceptron_auc" ->
      ("WITH " + perceptronScoredCtes() +
        """,
          |g AS (SELECT score AS s,
          |        CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
          |        CAST(sum(CASE WHEN y = 1 THEN 0 ELSE 1 END) AS BIGINT) AS nn
          |      FROM scored GROUP BY score),
          |cg AS (SELECT np, nn,
          |         CAST(COALESCE(sum(nn) OVER (ORDER BY s
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |           AS BIGINT) AS cumneg
          |       FROM g)
          |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
          |  CAST(sum(nn) AS BIGINT) AS n_neg,
          |  CAST(sum(np * cumneg) AS BIGINT) AS concordant,
          |  CAST(sum(np * nn) AS BIGINT) AS ties,
          |  (CAST(sum(np * cumneg) AS BIGINT) * 1000000 +
          |   CAST(sum(np * nn) AS BIGINT) * 500000) //
          |    greatest(CAST(sum(np) AS BIGINT) * CAST(sum(nn) AS BIGINT), 1)
          |    AS auc_ppm
          |FROM cg""".stripMargin),
    "dsir_select" ->
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(string_split(text, ' ')) AS word FROM documents),
        |t2 AS (SELECT doc_id, lang, word FROM t WHERE word <> ''),
        |h AS (SELECT doc_id, lang,
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |            list_transform(string_split(word, ''),
        |                           c -> CAST(ascii(c) AS BIGINT))),
        |          (a, c) -> (a * 31 + c) % 1000000007) % 1024 AS f
        |      FROM t2),
        |tc AS (SELECT f, count(*) AS ct FROM h WHERE lang = 'en' GROUP BY f),
        |rc AS (SELECT f, count(*) AS cr FROM h WHERE lang <> 'en' GROUP BY f),
        |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS t FROM tc),
        |tr AS (SELECT CAST(sum(cr) AS BIGINT) AS t FROM rc),
        |b AS (SELECT range AS f FROM range(1024)),
        |wt AS (SELECT b.f,
        |         CAST(length(printf('%b',
        |             (tr.t + 1024) // (COALESCE(rc.cr, 0) + 1))) AS BIGINT)
        |         - CAST(length(printf('%b',
        |             (tt.t + 1024) // (COALESCE(tc.ct, 0) + 1))) AS BIGINT)
        |           AS dw
        |       FROM b LEFT JOIN tc ON tc.f = b.f
        |              LEFT JOIN rc ON rc.f = b.f, tt, tr)
        |SELECT h.doc_id, h.lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(wt.dw) AS BIGINT) AS weight
        |FROM h JOIN wt ON wt.f = h.f WHERE h.lang <> 'en'
        |GROUP BY 1, 2 ORDER BY weight DESC, doc_id LIMIT 100""".stripMargin,
    "pipeline_corpus" ->
      s"""WITH RECURSIVE
        |w0 AS (SELECT doc_id, lang, text, string_split(text, ' ') AS ws
        |       FROM documents),
        |q AS (SELECT * FROM w0 WHERE len(ws) >= 5),
        |ke AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
        |kept AS (SELECT q.* FROM q JOIN ke USING (doc_id)),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |       FROM kept WHERE len(ws) >= 3),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hot AS (SELECT s FROM (SELECT s, count(*) AS df FROM sh GROUP BY s) t
        |        WHERE df > 50),
        |shp AS (SELECT * FROM sh WHERE s NOT IN (SELECT s FROM hot)),
        |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM shp a JOIN shp b
        |            ON a.s = b.s AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |j AS (SELECT doc_a, doc_b, c * 1.0 / (ca.n + cb.n - c) AS jac
        |      FROM pairs
        |      JOIN cnt ca ON ca.doc_id = doc_a
        |      JOIN cnt cb ON cb.doc_id = doc_b),
        |p2 AS (SELECT doc_a AS x, doc_b AS y FROM j WHERE jac >= 0.5),
        |edges AS (SELECT x AS a, y AS b FROM p2 UNION SELECT y, x FROM p2),
        |nds AS (SELECT DISTINCT a AS node FROM edges),
        |reach(node, lbl) AS (
        |  SELECT node, node FROM nds
        |  UNION
        |  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
        |),
        |nonreps AS (SELECT node AS doc_id FROM reach GROUP BY node
        |            HAVING min(lbl) != node),
        |surv AS (SELECT * FROM kept
        |         WHERE doc_id NOT IN (SELECT doc_id FROM nonreps))
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(len(regexp_extract_all(text,
        |         '${graft.functions.TextFunctions.BpeTokenPattern}')))
        |         AS BIGINT) AS n_tokens,
        |       floor((avg(len(ws) * 1.0)) * 1000000 + 0.5) / 1000000 AS avg_words
        |FROM surv GROUP BY lang""".stripMargin,
    "dedup_clusters" ->
      ("WITH " + dedupClusterCtes +
        """
          |SELECT node AS doc_id, min(lbl) AS rep
          |FROM reach GROUP BY node""".stripMargin),
    "cluster_safe_split" ->
      // the dedup_clusters component CTEs + rep-hash split + leak count
      ("WITH " + dedupClusterCtes +
        """,
          |crep AS (SELECT node AS doc_id, min(lbl) AS rep
        |         FROM reach GROUP BY node),
        |sp AS (SELECT d.doc_id, COALESCE(c.rep, d.doc_id) AS rep,
        |         CASE WHEN (COALESCE(c.rep, d.doc_id) % 1000000007
        |                    * 2654435761)
        |                   % 1000000007 % 100 < 80 THEN 'train'
        |              WHEN (COALESCE(c.rep, d.doc_id) % 1000000007
        |                    * 2654435761)
        |                   % 1000000007 % 100 < 90 THEN 'valid'
        |              ELSE 'test' END AS split
        |       FROM documents d LEFT JOIN crep c ON c.doc_id = d.doc_id),
        |lk AS (SELECT sa.split, CAST(count(*) AS BIGINT) AS leaked
        |       FROM p2 JOIN sp sa ON sa.doc_id = p2.x
        |               JOIN sp sb ON sb.doc_id = p2.y
        |       WHERE sa.split <> sb.split GROUP BY sa.split),
        |fin AS (SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
        |          CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
        |          CAST(sum(doc_id) AS BIGINT) AS id_sum
        |        FROM sp GROUP BY split)
        |SELECT f.split, f.n_docs, f.n_clusters, f.id_sum,
        |       COALESCE(lk.leaked, 0) AS cross_split_pairs
        |FROM fin f LEFT JOIN lk ON lk.split = f.split""".stripMargin),
    "dedup_keep_best" ->
      // the dedup_clusters component CTEs + quality-argmax resolution:
      // per component keep the max-n_chars doc (ties → min doc_id);
      // docs outside every component are singleton components
      ("WITH " + dedupClusterCtes +
        """,
          |comp AS (SELECT node AS doc_id, min(lbl) AS component
        |         FROM reach GROUP BY node)
          |SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component,
          |  d.n_chars AS q,
          |  (row_number() OVER (
          |     PARTITION BY coalesce(c.component, d.doc_id)
          |     ORDER BY d.n_chars DESC, d.doc_id)) = 1 AS keep
          |FROM documents d LEFT JOIN comp c USING (doc_id)""".stripMargin),
    "dedup_semantic" -> {
      // mirrors Similarity.semanticDedup exactly: 1 Lloyd iteration of
      // integer k-means (same CTEs as sim_ivf_trained), within-cell
      // pair generation by integer sq distance, min-label components,
      // keep = farthest-from-centroid per duplicate group
      val dimP1 = 65
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qc[j]) * ($a.qv[j] - $b.qc[j])))"
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |c0 AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id % 97 = 0),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${qd("q", "c")}, c.cid) AS rn
         |  FROM q, c0 c) t WHERE rn = 1),
         |u1 AS (SELECT cid, j,
         |  CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT)
         |    AS cj
         |  FROM a1, range(1, $dimP1) t(j) GROUP BY cid, j),
         |c1 AS (SELECT cid, list(cj ORDER BY j) AS qc FROM u1 GROUP BY cid),
         |af AS (SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${qd("q", "c")}, c.cid) AS rn
         |  FROM q, c1 c) t WHERE rn = 1),
         |wd AS (SELECT a.vec_id, a.qv, a.cid,
         |         CAST(${qd("a", "c")} AS BIGINT) AS dc
         |       FROM af a JOIN c1 c USING (cid)),
         |p2 AS (SELECT a.vec_id AS x, b.vec_id AS y FROM wd a JOIN wd b
         |       ON a.cid = b.cid AND a.vec_id < b.vec_id
         |       AND list_sum(list_transform(range(1, $dimP1),
         |         j -> (a.qv[j] - b.qv[j]) * (a.qv[j] - b.qv[j])))
         |         <= 1500000),
         |edges AS (SELECT x AS a, y AS b FROM p2 UNION SELECT y, x FROM p2),
         |nodes AS (SELECT DISTINCT a AS node FROM edges),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e2.b, r.lbl FROM reach r JOIN edges e2 ON e2.a = r.node),
         |comp AS (SELECT node AS vec_id, min(lbl) AS grp
         |         FROM reach GROUP BY node)
         |SELECT wd.vec_id, wd.cid, coalesce(comp.grp, wd.vec_id) AS grp,
         |  wd.dc,
         |  (row_number() OVER (
         |     PARTITION BY coalesce(comp.grp, wd.vec_id)
         |     ORDER BY wd.dc DESC, wd.vec_id)) = 1 AS keep
         |FROM wd LEFT JOIN comp USING (vec_id)""".stripMargin
    },
    "class_prototypes" -> {
      val dimP1 = 65
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qc[j]) * ($a.qv[j] - $b.qc[j])))"
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |        embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |u AS (SELECT label, j,
         |  CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT)
         |    AS cj
         |  FROM q, range(1, $dimP1) t(j) GROUP BY label, j),
         |proto AS (SELECT label AS plabel, list(cj ORDER BY j) AS qc
         |          FROM u GROUP BY label),
         |a AS (SELECT vec_id, label, plabel AS pred FROM (
         |  SELECT q.vec_id, q.label, p.plabel,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${qd("q", "p")}, p.plabel) AS rn
         |  FROM q, proto p) t WHERE rn = 1)
         |SELECT label, pred, count(*) AS n FROM a GROUP BY 1, 2"""
        .stripMargin
    },
    "bitext_csls" -> {
      val dimP1 = 65
      val k = 5
      s"""WITH q AS (SELECT vec_id, label % 2 = 0 AS is_a,
         |        list_transform(embedding::DOUBLE[],
         |          x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS qv
         |      FROM embeddings),
         |a AS (SELECT vec_id AS aid, qv AS av FROM q WHERE is_a),
         |b AS (SELECT vec_id AS bid, qv AS bv FROM q WHERE NOT is_a),
         |d AS (SELECT aid, bid,
         |        CAST(list_sum(list_transform(range(1, $dimP1),
         |          j -> av[j] * bv[j])) AS BIGINT) AS dot
         |      FROM a, b),
         |ra AS (SELECT aid, CAST(sum(dot) AS BIGINT) AS ska FROM (
         |        SELECT aid, dot, row_number() OVER (PARTITION BY aid
         |          ORDER BY dot DESC, bid) AS rn FROM d) t
         |      WHERE rn <= $k GROUP BY aid),
         |rb AS (SELECT bid, CAST(sum(dot) AS BIGINT) AS skb FROM (
         |        SELECT bid, dot, row_number() OVER (PARTITION BY bid
         |          ORDER BY dot DESC, aid) AS rn FROM d) t
         |      WHERE rn <= $k GROUP BY bid),
         |s AS (SELECT d.aid, d.bid, 2 * $k * dot - ska - skb AS csls
         |      FROM d JOIN ra USING (aid) JOIN rb USING (bid)),
         |ba AS (SELECT aid, bid FROM (
         |        SELECT aid, bid, row_number() OVER (PARTITION BY aid
         |          ORDER BY csls DESC, bid) AS rn FROM s) t WHERE rn = 1),
         |bb AS (SELECT aid, bid FROM (
         |        SELECT aid, bid, row_number() OVER (PARTITION BY bid
         |          ORDER BY csls DESC, aid) AS rn FROM s) t WHERE rn = 1)
         |SELECT s.aid, s.bid, CAST(s.csls AS BIGINT) AS csls
         |FROM s JOIN ba USING (aid, bid) JOIN bb USING (aid, bid)"""
        .stripMargin
    },
    "hard_negatives" -> {
      val dimP1 = 65
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |        embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |qq AS (SELECT vec_id AS qid, label AS qlabel, qv AS qprobe
         |       FROM q WHERE vec_id < 10),
         |s AS (SELECT qq.qid, q.vec_id AS nid,
         |        CAST(list_sum(list_transform(range(1, $dimP1),
         |          j -> (q.qv[j] - qq.qprobe[j]) * (q.qv[j] - qq.qprobe[j])))
         |          AS BIGINT) AS d
         |      FROM q, qq WHERE q.label != qq.qlabel)
         |SELECT qid, nid, d, rn FROM (
         |  SELECT qid, nid, d, row_number() OVER (PARTITION BY qid
         |    ORDER BY d, nid) AS rn FROM s) t
         |WHERE rn <= 5""".stripMargin
    },
    "label_noise_knn" -> {
      val dimP1 = 65
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qv[j]) * ($a.qv[j] - $b.qv[j])))"
      def qc(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qc[j]) * ($a.qv[j] - $b.qc[j])))"
      s"""WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
         |        embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id, label,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |c0 AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id % 97 = 0),
         |a1 AS (SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${qc("q", "c")}, c.cid) AS rn
         |  FROM q, c0 c) t WHERE rn = 1),
         |u1 AS (SELECT cid, j,
         |  CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT)
         |    AS cj
         |  FROM a1, range(1, $dimP1) t(j) GROUP BY cid, j),
         |c1 AS (SELECT cid, list(cj ORDER BY j) AS qc FROM u1 GROUP BY cid),
         |af AS (SELECT vec_id, qv, cid FROM (
         |  SELECT q.vec_id, q.qv, c.cid,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${qc("q", "c")}, c.cid) AS rn
         |  FROM q, c1 c) t WHERE rn = 1),
         |al AS (SELECT af.vec_id, af.qv, af.cid, q.label
         |       FROM af JOIN q USING (vec_id)),
         |knn AS (SELECT vid, nid FROM (
         |  SELECT a.vec_id AS vid, b.vec_id AS nid,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${qd("a", "b")}, b.vec_id) AS rn
         |  FROM al a JOIN al b ON a.cid = b.cid
         |    AND a.vec_id != b.vec_id) t WHERE rn <= 5),
         |sc AS (SELECT k.vid, count(*) AS n_nbrs,
         |         CAST(sum(CASE WHEN bl.label != ql.label THEN 1
         |              ELSE 0 END) AS BIGINT) AS n_diff
         |       FROM knn k
         |       JOIN al ql ON ql.vec_id = k.vid
         |       JOIN al bl ON bl.vec_id = k.nid
         |       GROUP BY 1)
         |SELECT q.vec_id, q.label,
         |  coalesce(sc.n_nbrs, 0) AS n_nbrs,
         |  coalesce(sc.n_diff, 0) AS n_diff,
         |  CAST(CASE WHEN coalesce(sc.n_nbrs, 0) > 0
         |    THEN coalesce(sc.n_diff, 0) * 1000000 // sc.n_nbrs
         |    ELSE 0 END AS BIGINT) AS diff_ppm
         |FROM q LEFT JOIN sc ON sc.vid = q.vec_id""".stripMargin
    },
    "fd_audit" -> {
      // null semantics mirror Quality.fdAudit: NULL x rows excluded
      // from both counts; NULL y under non-null x is a distinct mapping
      def cand(x: String, y: String) =
        s"""SELECT '$x->$y' AS fd,
           |  count(DISTINCT $x) AS n_x,
           |  count(DISTINCT CASE WHEN $x IS NOT NULL
           |    THEN ($x, $y) END) AS n_xy,
           |  count(DISTINCT CASE WHEN $x IS NOT NULL THEN ($x, $y) END)
           |    - count(DISTINCT $x) AS violations,
           |  count(DISTINCT CASE WHEN $x IS NOT NULL THEN ($x, $y) END)
           |    = count(DISTINCT $x) AS holds
           |FROM orders""".stripMargin
      Seq(("o_orderkey", "o_custkey"),
        ("o_custkey", "o_orderpriority"),
        ("o_orderpriority", "o_orderstatus"))
        .map { case (x, y) => cand(x, y) }.mkString("\nUNION ALL\n")
    },
    "quality_calibrate" ->
      """WITH d AS (SELECT doc_id, source, n_chars // 50 AS bin
        |           FROM documents),
        |hist AS (SELECT source, bin, count(*) AS n FROM d GROUP BY 1, 2),
        |cum AS (SELECT source, bin,
        |    CAST(sum(n) OVER (PARTITION BY source ORDER BY bin)
        |      AS BIGINT) AS n_le
        |  FROM hist),
        |tot AS (SELECT source, count(*) AS n_src FROM d GROUP BY 1)
        |SELECT doc_id, d.source, d.bin,
        |  n_le * 1000000 // n_src AS pct_ppm
        |FROM d JOIN cum USING (source, bin) JOIN tot USING (source)"""
        .stripMargin,
    "loo_source_influence" ->
      """WITH per AS (SELECT source, count(*) AS n_s,
        |        CAST(sum(n_chars) AS BIGINT) AS sum_s
        |      FROM documents GROUP BY 1),
        |tot AS (SELECT count(*) AS n, CAST(sum(n_chars) AS BIGINT)
        |          AS sum_all FROM documents)
        |SELECT source, n_s,
        |  sum_s * 1000 // n_s AS mean_milli,
        |  (sum_all - sum_s) * 1000 // (n - n_s) AS loo_mean_milli,
        |  sum_all * 1000 // n - (sum_all - sum_s) * 1000 // (n - n_s)
        |    AS influence_milli
        |FROM per, tot""".stripMargin,
    "vocab_coverage_curve" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |wc AS (SELECT word, count(*) AS c FROM w WHERE word != ''
        |       GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rn
        |      FROM wc),
        |t AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM wc),
        |k(k) AS (VALUES (CAST(100 AS BIGINT)), (500), (1000))
        |SELECT k, CAST(sum(c) AS BIGINT) AS covered, total,
        |  CAST(sum(c) AS BIGINT) * 1000000 // total AS coverage_ppm
        |FROM k, r, t WHERE rn <= k GROUP BY k, total""".stripMargin,
    "token_fertility" ->
      s"""WITH t AS (SELECT lang, CAST(length(text) AS BIGINT) AS chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
         |    CAST(len(regexp_extract_all(text,
         |      '${graft.functions.TextFunctions.BpeTokenPattern}'))
         |      AS BIGINT) AS nt
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(chars) AS BIGINT) AS n_chars,
         |  CAST(sum(nw) AS BIGINT) AS n_words,
         |  CAST(sum(nt) AS BIGINT) AS n_tokens,
         |  CAST(sum(nt) AS BIGINT) * 1000 // CAST(sum(nw) AS BIGINT)
         |    AS fertility_milli,
         |  CAST(sum(chars) AS BIGINT) * 1000 // CAST(sum(nt) AS BIGINT)
         |    AS chars_per_token_milli
         |FROM t GROUP BY 1""".stripMargin,
    "embed_drift" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |        vec_id % 2 AS half, embedding::DOUBLE[] AS v
        |      FROM embeddings),
        |q AS (SELECT label, half,
        |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
        |          AS qv FROM e),
        |u AS (SELECT label, half, j,
        |  CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT)
        |    AS cj
        |  FROM q, range(1, 65) t(j) GROUP BY 1, 2, 3),
        |cent AS (SELECT label, half, list(cj ORDER BY j) AS qc
        |         FROM u GROUP BY 1, 2),
        |n AS (SELECT label, half, count(*) AS n FROM q GROUP BY 1, 2)
        |SELECT a.label, na.n AS n_a, nb.n AS n_b,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    j -> (a.qc[j] - b.qc[j]) * (a.qc[j] - b.qc[j]))) AS BIGINT)
        |    AS drift_sq
        |FROM cent a
        |JOIN cent b ON b.label = a.label AND a.half = 0 AND b.half = 1
        |JOIN n na ON na.label = a.label AND na.half = 0
        |JOIN n nb ON nb.label = a.label AND nb.half = 1""".stripMargin,
    "embed_pca_power" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id,
        |        list_transform(v, x -> CAST(floor(x*1000 + 0.5) AS BIGINT))
        |          AS qv FROM e),
        |s1r AS (SELECT vec_id, qv,
        |          CAST(list_sum(list_transform(range(1,65),
        |            j -> qv[j] * 1000)) AS BIGINT) AS s FROM q),
        |a1 AS (SELECT j, CAST(sum(qv[j] * s) AS BIGINT) AS acc
        |       FROM s1r, range(1,65) t(j) GROUP BY 1),
        |mx1 AS (SELECT greatest(max(abs(acc)), 1) AS m FROM a1),
        |v1 AS (SELECT j, ((acc + m) * 1000) // m - 1000 AS val
        |       FROM a1, mx1),
        |s2r AS (SELECT q.vec_id, q.qv,
        |          CAST(sum(q.qv[v1.j] * v1.val) AS BIGINT) AS s
        |        FROM q CROSS JOIN v1 GROUP BY q.vec_id, q.qv),
        |a2 AS (SELECT j, CAST(sum(qv[j] * s) AS BIGINT) AS acc
        |       FROM s2r, range(1,65) t(j) GROUP BY 1),
        |mx2 AS (SELECT greatest(max(abs(acc)), 1) AS m FROM a2),
        |v2 AS (SELECT j, ((acc + m) * 1000) // m - 1000 AS val
        |       FROM a2, mx2)
        |SELECT j - 1 AS pos, CAST(val AS BIGINT) AS v FROM v2"""
        .stripMargin,
    "class_separation" ->
      """WITH e AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |             embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id, label,
        |        list_transform(v, x -> CAST(floor(x*1000 + 0.5) AS BIGINT))
        |          AS qv FROM e),
        |m2 AS (SELECT label, count(*) AS n,
        |         CAST(sum(list_sum(list_transform(range(1,65),
        |           j -> qv[j]*qv[j]))) AS BIGINT) AS s2
        |       FROM q GROUP BY 1),
        |px AS (SELECT label, j, CAST(sum(qv[j]) AS BIGINT) AS sx
        |       FROM q, range(1,65) t(j) GROUP BY 1, 2),
        |m1 AS (SELECT label, CAST(sum(sx*sx) AS BIGINT) AS s1sq
        |       FROM px GROUP BY 1),
        |g2 AS (SELECT count(*) AS n,
        |         CAST(sum(list_sum(list_transform(range(1,65),
        |           j -> qv[j]*qv[j]))) AS BIGINT) AS s2 FROM q),
        |gx AS (SELECT j, CAST(sum(qv[j]) AS BIGINT) AS sx
        |       FROM q, range(1,65) t(j) GROUP BY 1),
        |g1 AS (SELECT CAST(sum(sx*sx) AS BIGINT) AS s1sq FROM gx),
        |u AS (SELECT label, n, s2, s1sq FROM m2 JOIN m1 USING (label)
        |      UNION ALL SELECT -1, n, s2, s1sq FROM g2, g1)
        |SELECT label, n, n * (n - 1) // 2 AS n_pairs,
        |  n * s2 - s1sq AS sqdist_sum,
        |  CAST(CASE WHEN n > 1
        |    THEN (n * s2 - s1sq) // (n * (n - 1) // 2)
        |    ELSE 0 END AS BIGINT) AS mean_sqdist
        |FROM u""".stripMargin,
    "dedup_minhash" ->
      // mirrors Dedup.minhashLshPortable exactly: word-level polyHash,
      // rolling shingle combine, numeric band-key folds (shared CTE
      // body with lsh_recall, which evaluates this very pipeline)
      s"""WITH $MinhashCtes
         |SELECT doc_a, doc_b, floor((est_jaccard) * 1000000 + 0.5) / 1000000 AS est_jaccard FROM (
         |$MinhashBandJoins
         |) t WHERE est_jaccard >= 0.5""".stripMargin,
    // batch replay of the streamed LSH index: the distinct band-collision
    // pair set (no jaccard verify — the stream gate maintains the
    // CANDIDATE index), folded per left doc. Shares MinhashCtes verbatim.
    "stream_dedup_lsh" -> {
      val bandPairs = (0 until 4).map { bnd =>
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |    FROM banded a JOIN banded b
           |      ON a.k$bnd = b.k$bnd AND a.doc_id < b.doc_id""".stripMargin
      }.mkString("\n    UNION\n")
      s"""WITH $MinhashCtes,
         |cand AS (
         |$bandPairs)
         |SELECT doc_a, count(*) AS n_pairs,
         |  CAST(sum(doc_b) AS BIGINT) AS checksum
         |FROM cand GROUP BY doc_a""".stripMargin
    },
    "dup_source_matrix" ->
      s"""WITH $MinhashCtes,
         |cand AS (SELECT doc_a, doc_b FROM (
         |$MinhashBandJoins
         |) t WHERE est_jaccard >= 0.5)
         |SELECT least(da.source, db.source) AS source_a,
         |       greatest(da.source, db.source) AS source_b,
         |       count(*) AS n_pairs
         |FROM cand
         |JOIN documents da ON da.doc_id = cand.doc_a
         |JOIN documents db ON db.doc_id = cand.doc_b
         |GROUP BY 1, 2""".stripMargin,
    "lsh_recall" ->
      // candidate generation quality of the banded-LSH pipeline,
      // measured against the exact 3-gram Jaccard truth set — the same
      // shared CTE text as dedup_minhash (threshold 0 = all collisions)
      s"""WITH $MinhashCtes,
         |cand AS (SELECT doc_a, doc_b, est_jaccard FROM (
         |$MinhashBandJoins
         |) t),
         |wq AS (SELECT doc_id, string_split(text, ' ') AS ws
         |       FROM documents),
         |shq AS (SELECT doc_id,
         |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
         |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
         |       FROM wq WHERE len(ws) >= 3),
         |cntq AS (SELECT doc_id, count(*) AS n FROM shq GROUP BY doc_id),
         |hotq AS (SELECT s FROM
         |         (SELECT s, count(*) AS df FROM shq GROUP BY s) t
         |         WHERE df > 50),
         |shpq AS (SELECT * FROM shq WHERE s NOT IN (SELECT s FROM hotq)),
         |pairsq AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |             count(*) AS c
         |           FROM shpq a JOIN shpq b
         |             ON a.s = b.s AND a.doc_id < b.doc_id
         |           GROUP BY 1, 2),
         |truth AS (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b, c * 1.0 / (ca.n + cb.n - c) AS jac
         |  FROM pairsq
         |  JOIN cntq ca ON ca.doc_id = doc_a
         |  JOIN cntq cb ON cb.doc_id = doc_b) j WHERE jac >= 0.3),
         |st AS (SELECT
         |  (SELECT count(*) FROM truth) AS n_truth,
         |  (SELECT count(*) FROM cand) AS n_cand,
         |  (SELECT count(*) FROM cand WHERE est_jaccard >= 0.3)
         |    AS n_verified,
         |  (SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b))
         |    AS n_cand_hit,
         |  (SELECT count(*) FROM cand JOIN truth USING (doc_a, doc_b)
         |   WHERE est_jaccard >= 0.3) AS n_ver_hit)
         |SELECT n_truth, n_cand, n_verified, n_cand_hit, n_ver_hit,
         |  CAST(n_cand_hit * 1000000 // greatest(n_truth, 1) AS BIGINT)
         |    AS recall_ppm,
         |  CAST(n_ver_hit * 1000000 // greatest(n_verified, 1) AS BIGINT)
         |    AS precision_ppm
         |FROM st""".stripMargin,
    "dedup_simhash" -> {
      // mirrors Dedup.simhashPortable exactly: polyHash word base, 64
      // universal-hash parity bits, 4 × 16-bit band keys, popcount verify
      val p = "1000000007"
      val voteExprs = (0 until 64).map { i =>
        val (a, b) = graft.operators.Dedup.MinhashSeeds(i)
        s"sum(CASE WHEN (h * $a + $b) % $p % 2 = 1 THEN 1 ELSE -1 END) AS v$i"
      }.mkString(",\n  ")
      val keyExprs = (0 until 4).map { bnd =>
        val terms = (0 until 16).map(t =>
          s"CASE WHEN v${bnd * 16 + t} > 0 THEN ${1L << t} ELSE 0 END")
          .mkString(" + ")
        s"($terms) AS k$bnd"
      }.mkString(",\n  ")
      val hamming = (0 until 4)
        .map(bnd => s"bit_count(xor(a.k$bnd, b.k$bnd))").mkString(" + ")
      val bandJoins = (0 until 4).map { bnd =>
        s"""SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST($hamming AS BIGINT) AS hamming
           |FROM sig a JOIN sig b
           |  ON a.k$bnd = b.k$bnd AND a.doc_id < b.doc_id""".stripMargin
      }.mkString("\nUNION\n")
      s"""WITH w AS (SELECT doc_id,
         |             unnest(list_distinct(string_split(text, ' '))) AS w
         |           FROM documents),
         |h AS (SELECT doc_id,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |            list_transform(string_split(w, ''),
         |                           c -> CAST(ascii(c) AS BIGINT))),
         |          (a, c) -> (a * 31 + c) % $p) AS h
         |      FROM w),
         |votes AS (SELECT doc_id,
         |  $voteExprs
         |  FROM h GROUP BY doc_id),
         |sig AS (SELECT doc_id,
         |  $keyExprs
         |  FROM votes)
         |SELECT doc_a, doc_b, hamming FROM (
         |$bandJoins
         |) t WHERE hamming <= 3""".stripMargin
    },
    "dedup_incremental" -> {
      // mirrors Dedup.minhashIncremental: the portable signature/band
      // pipeline computed once over all docs, split into batch (doc_id %
      // 4 = 0) and corpus sides, band keys meeting in equi-joins, ≥8-of-16
      // signature verify, per-batch-doc aggregate with −1 for novel docs
      val p = "1000000007"
      val cc = "1000003"
      val sigExprs = graft.operators.Dedup.MinhashSeeds.take(16).zipWithIndex
        .map { case ((a, b), i) =>
          s"list_min(list_transform(hs, x -> (x * $a + $b) % $p)) AS m$i"
        }.mkString(",\n         ")
      val keyExprs = (0 until 4).map { bnd =>
        val fold = (0 until 4).foldLeft(s"CAST($bnd AS BIGINT)") { (acc, r) =>
          s"(($acc) * $cc + m${bnd * 4 + r}) % $p"
        }
        s"$fold AS k$bnd"
      }.mkString(",\n         ")
      val matchSum = (0 until 16)
        .map(i => s"CASE WHEN a.m$i = s.m$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      val bandJoins = (0 until 4).map { bnd =>
        s"""SELECT b.doc_id AS doc_b, c.doc_id AS doc_c
           |FROM bb b JOIN bc c ON b.k$bnd = c.k$bnd""".stripMargin
      }.mkString("\nUNION\n")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |wh AS (SELECT doc_id,
         |         list_transform(ws, s ->
         |           list_reduce(list_prepend(CAST(0 AS BIGINT),
         |               list_transform(string_split(s, ''),
         |                              c -> CAST(ascii(c) AS BIGINT))),
         |             (a, c) -> (a * 31 + c) % $p)) AS wh
         |       FROM w WHERE len(ws) >= 3),
         |h AS (SELECT doc_id,
         |        list_distinct(list_transform(range(1, len(wh) - 1),
         |          i -> ((wh[i] * $cc + wh[i+1]) % $p * $cc + wh[i+2]) % $p))
         |          AS hs
         |      FROM wh),
         |sig AS MATERIALIZED (SELECT doc_id,
         |         $sigExprs
         |        FROM h),
         |banded AS MATERIALIZED (SELECT *,
         |         $keyExprs
         |        FROM sig),
         |bb AS (SELECT * FROM banded WHERE doc_id % 4 = 0),
         |bc AS (SELECT * FROM banded WHERE doc_id % 4 != 0),
         |cand AS (SELECT DISTINCT doc_b, doc_c FROM (
         |$bandJoins
         |) t),
         |ver AS (SELECT doc_b, doc_c FROM cand
         |        JOIN sig a ON a.doc_id = doc_b
         |        JOIN sig s ON s.doc_id = doc_c
         |        WHERE ($matchSum) >= 8),
         |agg AS (SELECT doc_b AS doc_id,
         |               CAST(count(*) AS BIGINT) AS n_matches,
         |               min(doc_c) AS match_id
         |        FROM ver GROUP BY 1)
         |SELECT d.doc_id, coalesce(agg.n_matches, 0) AS n_matches,
         |       coalesce(agg.match_id, -1) AS match_id
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 0) d
         |LEFT JOIN agg USING (doc_id)""".stripMargin
    },
    "dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |           FROM embeddings)
        |SELECT vec_a, vec_b, floor((sim) * 1000000 + 0.5) / 1000000 AS sim FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |         list_cosine_similarity(a.v, b.v) AS sim
        |  FROM e a JOIN e b
        |    ON a.label = b.label AND a.vec_id < b.vec_id) t
        |WHERE sim >= 0.4""".stripMargin,
    "dedup_embedding_lsh" -> {
      // mirrors Dedup.embeddingNearDupLsh: integer-quantized embeddings
      // dotted against the same literal hyperplanes (exact int64 → sign
      // bits identical), 12 bands × 2 bits, exact cosine verify
      val hp = graft.operators.Dedup.hyperplanes(24, 64)
      val bitExprs = hp.zipWithIndex.map { case (row, i) =>
        val l = row.mkString("[", ", ", "]")
        s"""CASE WHEN list_sum(list_transform(range(1, 65),
           |       j -> q[j] * ($l::BIGINT[])[j])) >= 0
           |     THEN 1 ELSE 0 END AS bit$i""".stripMargin
      }.mkString(",\n  ")
      val keyExprs = (0 until 12).map { b =>
        val terms = (0 until 2).map(t => s"bit${b * 2 + t} * ${1L << t}")
          .mkString(" + ")
        s"($terms) AS k$b"
      }.mkString(",\n  ")
      val bandJoins = (0 until 12).map { b =>
        s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
           |FROM keys a JOIN keys b
           |  ON a.k$b = b.k$b AND a.vec_id < b.vec_id""".stripMargin
      }.mkString("\nUNION\n")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
         |      FROM e),
         |bits AS (SELECT vec_id,
         |  $bitExprs
         |  FROM q),
         |keys AS (SELECT vec_id,
         |  $keyExprs
         |  FROM bits),
         |cand AS (
         |$bandJoins
         |),
         |s AS (SELECT vec_a, vec_b,
         |        floor((list_cosine_similarity(ea.v, eb.v)) * 1000000 + 0.5) / 1000000 AS sim
         |      FROM cand
         |      JOIN e ea ON ea.vec_id = vec_a
         |      JOIN e eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.4""".stripMargin
    },
    "corpus_split" ->
      """WITH t AS (
        |  SELECT lang, doc_id,
        |         (doc_id * 2654435761) % 1000000007 % 100 AS b
        |  FROM documents)
        |SELECT lang,
        |       CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'valid' ELSE 'test' END AS split,
        |       count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM t GROUP BY 1, 2""".stripMargin,
    "shuffle_audit" ->
      """WITH r AS (SELECT source AS s,
        |             row_number() OVER (ORDER BY doc_id) - 1 AS r0,
        |             (SELECT count(*) FROM documents) AS n
        |           FROM documents),
        |p AS (SELECT s, n, (r0 * 1000003 + 12345) % n AS pos FROM r),
        |bij AS (SELECT count(*) AS n_rows,
        |               count(DISTINCT pos) AS n_distinct_pos FROM p),
        |adj AS (SELECT CAST(COALESCE(
        |            sum(CASE WHEN x.s = y.s THEN 1 ELSE 0 END), 0)
        |          AS BIGINT) AS v
        |        FROM p x JOIN p y ON x.pos = y.pos + 1),
        |expd AS (SELECT CAST(sum(ns * (ns - 1)) // min(nn) AS BIGINT) AS v
        |         FROM (SELECT s, count(*) AS ns, min(n) AS nn
        |               FROM p GROUP BY s) t),
        |bal AS (SELECT max(sn) - min(sn) AS v FROM (
        |          SELECT pos * 8 // n AS shard, count(*) AS sn
        |          FROM p GROUP BY 1) t)
        |SELECT 'n_rows' AS metric, CAST(n_rows AS BIGINT) AS value FROM bij
        |UNION ALL SELECT 'n_distinct_pos', CAST(n_distinct_pos AS BIGINT)
        |  FROM bij
        |UNION ALL SELECT 'adjacent_same_source', v FROM adj
        |UNION ALL SELECT 'expected_same_source', v FROM expd
        |UNION ALL SELECT 'shard_imbalance', CAST(v AS BIGINT) FROM bal""".stripMargin,
    "ngram_top" ->
      """WITH g AS (
        |  SELECT lang,
        |         unnest(list_transform(range(1, len(ws)),
        |           i -> ws[i] || ' ' || ws[i + 1])) AS ngram
        |  FROM (SELECT lang, string_split(text, ' ') AS ws
        |        FROM documents) t
        |  WHERE len(ws) >= 2),
        |c AS (SELECT lang, ngram, count(*) AS cnt FROM g GROUP BY 1, 2)
        |SELECT lang, ngram, cnt, rn FROM (
        |  SELECT lang, ngram, cnt,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY cnt DESC, ngram) AS BIGINT) AS rn
        |  FROM c) t
        |WHERE rn <= 5""".stripMargin,
    "vocab_build" ->
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
        |           FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w
        |      WHERE word != '' GROUP BY 1 HAVING count(*) >= 10)
        |SELECT vocab_id, word, cnt FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, word)
        |           AS BIGINT) AS vocab_id, word, cnt
        |  FROM c) t
        |WHERE vocab_id <= 200""".stripMargin,
    "dup_spans" ->
      """WITH sp AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(ws) - 3),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
        |                || ws[i+3] || ' ' || ws[i+4])) AS span
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |        FROM documents) t
        |  WHERE len(ws) >= 5),
        |sc AS MATERIALIZED (
        |  SELECT span, count(*) AS c FROM sp GROUP BY span)
        |SELECT sp.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |       CAST(sum(CASE WHEN sc.c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_dup_spans,
        |       CAST(sum(CASE WHEN sc.c > 1 THEN 1 ELSE 0 END) * 1000000
        |         // count(*) AS BIGINT) AS dup_ppm
        |FROM sp JOIN sc ON sp.span = sc.span
        |GROUP BY sp.doc_id""".stripMargin,
    // replays removal end-to-end: span stats (count + min ordinal), the
    // covered-position explode, the anti-join, and the ordered reassembly
    "dedup_span_removal" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |         ws[CAST(pos AS INTEGER)] AS word
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS pos
        |        FROM base) t),
        |spans AS MATERIALIZED (
        |  SELECT doc_id, CAST(spos AS BIGINT) AS spos,
        |         ws[CAST(spos AS INTEGER)] || ' ' ||
        |         ws[CAST(spos + 1 AS INTEGER)] || ' ' ||
        |         ws[CAST(spos + 2 AS INTEGER)] || ' ' ||
        |         ws[CAST(spos + 3 AS INTEGER)] || ' ' ||
        |         ws[CAST(spos + 4 AS INTEGER)] AS span
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS spos
        |        FROM base WHERE len(ws) >= 5) t),
        |st AS (SELECT span, count(*) AS c,
        |              min(doc_id * 1048576 + spos) AS min_occ
        |       FROM spans GROUP BY span),
        |rem AS (SELECT DISTINCT doc_id, pos FROM (
        |  SELECT d.doc_id, d.spos + unnest(range(0, 5)) AS pos FROM (
        |    SELECT s.doc_id, s.spos
        |    FROM spans s JOIN st USING (span)
        |    WHERE st.c > 1
        |      AND s.doc_id * 1048576 + s.spos != st.min_occ) d) u),
        |kept AS (SELECT t.doc_id, t.pos, t.word
        |         FROM toks t LEFT JOIN rem r
        |           ON t.doc_id = r.doc_id AND t.pos = r.pos
        |         WHERE r.pos IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |               string_agg(word, ' ' ORDER BY pos) AS text_out
        |        FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, CAST(len(b.ws) AS BIGINT) AS n_tokens,
        |       coalesce(r.n_kept, 0) AS n_kept,
        |       CAST(len(b.ws) AS BIGINT) - coalesce(r.n_kept, 0)
        |         AS n_removed,
        |       coalesce(r.text_out, '') AS text_out
        |FROM base b LEFT JOIN reb r USING (doc_id)""".stripMargin,
    "group_sample" ->
      """WITH h AS (SELECT lang, doc_id,
        |         doc_id * 2654435761 % 1000000007 AS hh FROM documents)
        |SELECT lang, doc_id, CAST(-hh AS DOUBLE) AS negh, rn FROM (
        |  SELECT lang, doc_id, hh, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY hh) AS BIGINT) AS rn FROM h) t
        |WHERE rn <= 10""".stripMargin,
    "collocations" ->
      """WITH t AS MATERIALIZED (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |uni AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM t GROUP BY w),
        |bw AS MATERIALIZED (
        |  SELECT ws[CAST(i AS INTEGER)] AS w1,
        |         ws[CAST(i AS INTEGER) + 1] AS w2
        |  FROM (SELECT ws, unnest(range(1, len(ws))) AS i
        |        FROM (SELECT string_split(text, ' ') AS ws
        |              FROM documents) a) b),
        |p AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
        |      FROM bw GROUP BY w1, w2 HAVING count(*) >= 5),
        |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM t) AS nw,
        |               (SELECT CAST(count(*) AS BIGINT) FROM bw) AS nb)
        |SELECT p.w1, p.w2, p.cab AS cnt,
        |       CAST(p.cab AS DOUBLE) * 1000000.0
        |         * CAST(tot.nw AS DOUBLE) * CAST(tot.nw AS DOUBLE)
        |         / (CAST(tot.nb AS DOUBLE) * CAST(ua.c AS DOUBLE)
        |           * CAST(ub.c AS DOUBLE)) AS score
        |FROM p JOIN uni ua ON p.w1 = ua.w
        |       JOIN uni ub ON p.w2 = ub.w, tot
        |ORDER BY score DESC, p.w1, p.w2 LIMIT 25""".stripMargin,
    "bpe_pairs" ->
      """WITH w AS MATERIALIZED (
        |  SELECT word, count(*) AS wcnt FROM (
        |    SELECT unnest(string_split(text, ' ')) AS word
        |    FROM documents) t
        |  WHERE word != '' GROUP BY word),
        |p0 AS (SELECT word, wcnt,
        |              unnest(range(1, length(word))) AS i FROM w),
        |p AS (SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, wcnt
        |      FROM p0),
        |c AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt
        |      FROM p GROUP BY pair)
        |SELECT rn, pair, cnt FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair)
        |           AS BIGINT) AS rn, pair, cnt
        |  FROM c) t
        |WHERE rn <= 25""".stripMargin,
    "skew_profile" ->
      """WITH c AS MATERIALIZED (
        |  SELECT l_partkey AS k, count(*) AS cnt
        |  FROM lineitem GROUP BY l_partkey),
        |h AS MATERIALIZED (SELECT cnt, count(*) AS f FROM c GROUP BY cnt),
        |cum AS MATERIALIZED (
        |  SELECT cnt, f,
        |         CAST(coalesce(sum(f) OVER (ORDER BY cnt
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS s
        |  FROM h),
        |t AS (SELECT CAST(sum(f) AS BIGINT) AS n_keys,
        |             CAST(sum(cnt * f) AS BIGINT) AS n_rows,
        |             max(cnt) AS max_cnt FROM h),
        |p AS (SELECT t.n_keys, t.n_rows, t.max_cnt,
        |             CAST(sum(cnt * f * (2 * s + f - t.n_keys)) AS BIGINT)
        |               AS gini_num,
        |             min(CASE WHEN s + f >= (t.n_keys * 50 + 99) // 100
        |                 THEN cnt END) AS p50_cnt,
        |             min(CASE WHEN s + f >= (t.n_keys * 99 + 99) // 100
        |                 THEN cnt END) AS p99_cnt
        |      FROM cum, t
        |      GROUP BY t.n_keys, t.n_rows, t.max_cnt),
        |hot AS (SELECT min(c.k) AS hot_key FROM c, t
        |        WHERE c.cnt = t.max_cnt)
        |SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt, hot_key,
        |       gini_num, n_keys * n_rows AS gini_den
        |FROM p, hot""".stripMargin,
    "profile_docs" ->
      """SELECT 'lang' AS col_name, count(lang) AS n_nonnull,
        |       count(DISTINCT lang) AS n_distinct,
        |       (SELECT count(*) FROM documents) AS n_rows FROM documents
        |UNION ALL
        |SELECT 'source', count(source), count(DISTINCT source),
        |       (SELECT count(*) FROM documents) FROM documents
        |UNION ALL
        |SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars),
        |       (SELECT count(*) FROM documents) FROM documents""".stripMargin,
    "pii_redact" ->
      """WITH r AS (
        |  SELECT lang,
        |         regexp_replace(text, '[0-9]+', '<NUM>', 'g') AS redacted,
        |         len(regexp_extract_all(text, '[0-9]+')) AS n_redacted
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |       CAST(sum(CASE WHEN n_redacted > 0 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS docs_with_num,
        |       CAST(sum(n_redacted) AS BIGINT) AS total_nums,
        |       CAST(sum(length(redacted)) AS BIGINT) AS len_sum
        |FROM r GROUP BY lang""".stripMargin,
    // replays the injected-pii construction and the SEQUENTIAL rule
    // battery (regexp_replace needs the 'g' flag — DuckDB defaults to
    // first-match-only where Spark replaces all)
    "pii_scrub" ->
      """WITH d AS (SELECT lang,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@mail.example.com call '
        |    || lpad(CAST((doc_id * 37) % 9999999999 AS VARCHAR), 10, '0')
        |    || ' now' AS t
        |  FROM documents),
        |r1 AS (SELECT lang,
        |    len(regexp_extract_all(t, '[a-z0-9._]+@[a-z0-9.-]+'))
        |      AS n_email,
        |    regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g')
        |      AS t
        |  FROM d),
        |r2 AS (SELECT lang, n_email,
        |    len(regexp_extract_all(t, '[0-9]{7,}')) AS n_phone,
        |    regexp_replace(t, '[0-9]{7,}', '<PHONE>', 'g') AS t
        |  FROM r1),
        |r3 AS (SELECT lang, n_email, n_phone,
        |    len(regexp_extract_all(t, '[0-9]+')) AS n_num,
        |    regexp_replace(t, '[0-9]+', '<NUM>', 'g') AS t
        |  FROM r2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_email) AS BIGINT) AS total_email,
        |  CAST(sum(n_phone) AS BIGINT) AS total_phone,
        |  CAST(sum(n_num) AS BIGINT) AS total_num,
        |  CAST(sum(CASE WHEN n_email + n_phone > 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS docs_with_pii,
        |  CAST(sum(length(t)) AS BIGINT) AS len_sum
        |FROM r3 GROUP BY lang""".stripMargin,
    "doc_chunk" ->
      """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS len
        |           FROM documents),
        |n AS (SELECT doc_id, len,
        |        1 + (greatest(len - 50, 0) + 39) // 40 AS n_chunks
        |      FROM d)
        |SELECT doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |       CAST(list_sum(list_transform(range(0, n_chunks),
        |         i -> least(50, len - (i * 40 + 1) + 1))) AS BIGINT)
        |         AS words_covered
        |FROM n""".stripMargin,
    "sim_assign_bigk" -> {
      // mirrors Similarity.assignHugeK: same quantization, same 4 literal
      // hyperplanes → identical int64 bucket keys; exact integer argmin
      // (ties → smallest cid) within the joined bucket
      val hp = graft.operators.Dedup.hyperplanes(4, 64)
      val bitExprs = hp.zipWithIndex.map { case (row, i) =>
        val l = row.mkString("[", ", ", "]")
        s"""CASE WHEN list_sum(list_transform(range(1, 65),
           |       j -> q[j] * ($l::BIGINT[])[j])) >= 0
           |     THEN ${1L << i} ELSE 0 END AS t$i""".stripMargin
      }.mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT)) AS q
         |      FROM e),
         |bits AS (SELECT vec_id, q,
         |  $bitExprs
         |  FROM q),
         |bk AS (SELECT vec_id, q, t0 + t1 + t2 + t3 AS bucket FROM bits),
         |cent AS (SELECT vec_id AS cid, q AS qc, bucket AS cbucket
         |         FROM bk WHERE vec_id % 17 = 0),
         |j AS (SELECT v.vec_id, c.cid,
         |        CAST(list_sum(list_transform(range(1, 65),
         |          i -> (v.q[i] - c.qc[i]) * (v.q[i] - c.qc[i])))
         |          AS BIGINT) AS d
         |      FROM bk v JOIN cent c ON v.bucket = c.cbucket)
         |SELECT vec_id, cid, d FROM (
         |  SELECT vec_id, cid, d, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY d, cid) AS rn FROM j) t
         |WHERE rn = 1""".stripMargin
    },
    "sim_topk" -> SimTopkOracle,
    "sim_ivf" -> SimIvfOracle,
    "sim_ivf_trained" -> {
      // mirrors Similarity.ivfTrainedTopK exactly: integer-quantized
      // k-means (2 Lloyd iterations unrolled), integer-distance probe,
      // exact cosine ranking. Every training step is int64-exact so the
      // engines cannot diverge.
      val dim = 64
      val dimP1 = dim + 1
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qc[j]) * ($a.qv[j] - $b.qc[j])))"
      def assign(out: String, centTbl: String) =
        s"""$out AS (SELECT vec_id, qv, cid FROM (
           |  SELECT q.vec_id, q.qv, c.cid,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${qd("q", "c")}, c.cid) AS rn
           |  FROM q, $centTbl c) t WHERE rn = 1)""".stripMargin
      def update(aTbl: String, uOut: String, cOut: String) =
        s"""$uOut AS (SELECT cid, j,
           |  CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*)) AS BIGINT)
           |    AS cj
           |  FROM $aTbl, range(1, $dimP1) t(j) GROUP BY cid, j),
           |$cOut AS (SELECT cid, list(cj ORDER BY j) AS qc
           |          FROM $uOut GROUP BY cid)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |c0 AS (SELECT vec_id AS cid, qv AS qc FROM q WHERE vec_id % 97 = 0),
         |${assign("a1", "c0")},
         |${update("a1", "u1", "c1")},
         |${assign("a2", "c1")},
         |${update("a2", "u2", "c2")},
         |${assign("af", "c2")},
         |qq AS (SELECT q.vec_id AS qid, q.qv, e.v AS qe
         |       FROM q JOIN e USING (vec_id) WHERE q.vec_id < 10),
         |probe AS (SELECT qid, qe, cid FROM (
         |  SELECT qq.qid, qq.qe, c.cid,
         |    row_number() OVER (PARTITION BY qq.qid
         |      ORDER BY ${qd("qq", "c")}, c.cid) AS crn
         |  FROM qq, c2 c) t WHERE crn <= 2),
         |s AS (SELECT p.qid, a.vec_id AS nid,
         |        floor((list_cosine_similarity(p.qe, e2.v)) * 1000000 + 0.5) / 1000000 AS sim
         |      FROM probe p
         |      JOIN af a USING (cid)
         |      JOIN e e2 ON e2.vec_id = a.vec_id
         |      WHERE a.vec_id != p.qid)
         |SELECT qid, nid, sim, rn FROM (
         |  SELECT qid, nid, sim, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, nid) AS rn FROM s) t
         |WHERE rn <= 5""".stripMargin
    },
    "embed_outliers" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |           FROM embeddings),
        |q AS (SELECT vec_id,
        |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
        |          AS qv
        |      FROM e),
        |c AS (SELECT j,
        |        CAST(floor(CAST(sum(qv[j]) AS DOUBLE) / count(*))
        |          AS BIGINT) AS cj
        |      FROM q, range(1, 65) t(j) GROUP BY j),
        |cc AS (SELECT list(cj ORDER BY j) AS qc FROM c),
        |d AS (SELECT vec_id,
        |        list_sum(list_transform(range(1, 65),
        |          j -> (qv[j] - qc[j]) * (qv[j] - qc[j]))) AS d
        |      FROM q, cc)
        |SELECT CAST(row_number() OVER (ORDER BY d DESC, vec_id)
        |         AS BIGINT) AS rn,
        |       vec_id, CAST(d AS BIGINT) AS d
        |FROM d ORDER BY d DESC, vec_id LIMIT 10""".stripMargin,
    "sim_truncate_recall" ->
      s"""WITH brute AS MATERIALIZED (
         |  SELECT qid, nid FROM ($SimTopkOracle) t),
         |tr AS MATERIALIZED (
         |  SELECT qid, nid FROM ($SimTrunc16Oracle) t)
         |SELECT b.qid, CAST(count(i.nid) AS BIGINT) AS n_hits,
         |       CAST(count(i.nid) * 1000000 // 5 AS BIGINT) AS recall_ppm
         |FROM brute b LEFT JOIN tr i
         |  ON b.qid = i.qid AND b.nid = i.nid
         |GROUP BY b.qid""".stripMargin,
    "kcenter_select" -> {
      // mirrors Similarity.kcenterSelect exactly: quantized int64
      // vectors, min-id seed, then 5 unrolled farthest-point rounds
      // (argmax of min-distance-to-selected, ties by smaller vec_id)
      val dimP1 = 65
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, $dimP1), " +
          s"j -> ($a.qv[j] - $b.qv[j]) * ($a.qv[j] - $b.qv[j])))"
      def rnd(r: Int) =
        s"""m$r AS (SELECT q.vec_id, any_value(q.qv) AS qv,
           |         min(${qd("q", "s")}) AS mind
           |       FROM q, sel${r - 1} s
           |       WHERE q.vec_id NOT IN (SELECT vec_id FROM sel${r - 1})
           |       GROUP BY q.vec_id),
           |s$r AS (SELECT $r AS rn, vec_id, qv, mind FROM m$r
           |        ORDER BY mind DESC, vec_id LIMIT 1),
           |sel$r AS (SELECT * FROM sel${r - 1} UNION ALL
           |          SELECT * FROM s$r)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |           FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |sel1 AS (SELECT 1 AS rn, vec_id, qv, CAST(0 AS BIGINT) AS mind
         |         FROM q ORDER BY vec_id LIMIT 1),
         |${(2 to 6).map(rnd).mkString(",\n")}
         |SELECT CAST(rn AS BIGINT) AS rn, vec_id,
         |       CAST(mind AS BIGINT) AS mind
         |FROM sel6""".stripMargin
    },
    "sim_pq" -> {
      // mirrors Similarity.pqTopK exactly: per-subspace quantized k-means
      // (1 Lloyd iteration), nearest-codeword encoding, ADC distance sums
      // — int64 throughout, so the engines cannot diverge.
      val w = 16
      def qd(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${w + 1}), " +
          s"j -> ($a.sv[j] - $b.sc[j]) * ($a.sv[j] - $b.sc[j])))"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id,
         |        list_transform(v, x -> CAST(floor(x * 1000 + 0.5) AS BIGINT))
         |          AS qv
         |      FROM e),
         |sub AS (SELECT vec_id, t.s,
         |          list_slice(qv, t.s * $w + 1, t.s * $w + $w) AS sv
         |        FROM q, range(0, 4) t(s)),
         |c0 AS (SELECT s, vec_id AS cid, sv AS sc FROM sub
         |       WHERE vec_id % 97 = 0),
         |a1 AS (SELECT vec_id, s, sv, cid FROM (
         |  SELECT sub.vec_id, sub.s, sub.sv, c.cid,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
         |      ORDER BY ${qd("sub", "c")}, c.cid) AS rn
         |  FROM sub JOIN c0 c ON c.s = sub.s) t WHERE rn = 1),
         |u1 AS (SELECT s, cid, j,
         |  CAST(floor(CAST(sum(sv[j]) AS DOUBLE) / count(*)) AS BIGINT)
         |    AS cj
         |  FROM a1, range(1, ${w + 1}) t(j) GROUP BY s, cid, j),
         |c1 AS (SELECT s, cid, list(cj ORDER BY j) AS sc
         |       FROM u1 GROUP BY s, cid),
         |codes AS (SELECT vec_id AS nid, s, cid AS code FROM (
         |  SELECT sub.vec_id, sub.s, c.cid,
         |    row_number() OVER (PARTITION BY sub.vec_id, sub.s
         |      ORDER BY ${qd("sub", "c")}, c.cid) AS rn
         |  FROM sub JOIN c1 c ON c.s = sub.s) t WHERE rn = 1),
         |qsub AS (SELECT vec_id AS qid, s, sv FROM sub WHERE vec_id < 5),
         |dt AS (SELECT qsub.qid, qsub.s, c.cid AS code,
         |         ${qd("qsub", "c")} AS d
         |       FROM qsub JOIN c1 c ON c.s = qsub.s),
         |sc AS (SELECT dt.qid, codes.nid, CAST(sum(dt.d) AS BIGINT) AS adc
         |       FROM codes JOIN dt ON dt.s = codes.s AND dt.code = codes.code
         |       WHERE codes.nid != dt.qid GROUP BY 1, 2)
         |SELECT qid, nid, adc, rn FROM (
         |  SELECT qid, nid, adc, row_number() OVER (PARTITION BY qid
         |    ORDER BY adc, nid) AS rn FROM sc) t
         |WHERE rn <= 5""".stripMargin
    },
    "text_quality" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents)
        |SELECT doc_id,
        |  CAST(len(ws) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_uniq,
        |  floor((len(list_distinct(ws)) * 1.0 / len(ws)) * 1000000 + 0.5) / 1000000 AS ttr,
        |  floor((list_aggregate(list_transform(ws, x -> len(x)), 'sum')
        |        * 1.0 / len(ws)) * 1000000 + 0.5) / 1000000 AS avg_wlen,
        |  floor((len(list_filter(ws,
        |          x -> list_contains(['the','a','of','and'], x)))
        |        * 1.0 / len(ws)) * 1000000 + 0.5) / 1000000 AS stop_ratio
        |FROM w""".stripMargin,
    "lang_id" -> {
      val scoreExprs = TextFunctions.LangMarkers.map { case (l, m) =>
        val list = m.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(ws, x -> list_contains($list, x))) AS s_$l"
      }.mkString(",\n         ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'")
        .mkString("\n         ")
      s"""WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
         |           FROM documents),
         |sc AS (SELECT doc_id, lang,
         |         $scoreExprs
         |       FROM w),
         |b AS (SELECT *, $best AS best FROM sc)
         |SELECT doc_id, lang,
         |       CASE $cases END AS pred
         |FROM b""".stripMargin
    },
    "langid_confusion" -> {
      // same prediction pipeline as the lang_id oracle, aggregated to
      // the confusion matrix with exact per-class rates
      val scoreExprs = TextFunctions.LangMarkers.map { case (l, m) =>
        val list = m.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(ws, x -> list_contains($list, x))) AS s_$l"
      }.mkString(",\n         ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'")
        .mkString("\n         ")
      s"""WITH w AS (SELECT lang, string_split(text, ' ') AS ws
         |           FROM documents),
         |sc AS (SELECT lang,
         |         $scoreExprs
         |       FROM w),
         |b AS (SELECT *, $best AS best FROM sc),
         |p AS (SELECT lang, CASE $cases END AS pred FROM b),
         |m AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS cnt
         |      FROM p GROUP BY lang, pred),
         |tot AS (SELECT lang, sum(cnt) AS tot FROM m GROUP BY lang)
         |SELECT m.lang, m.pred, m.cnt,
         |       CAST(m.cnt * 1000000 // tot.tot AS BIGINT) AS rate_ppm
         |FROM m JOIN tot USING (lang)""".stripMargin
    },
    "langid_mix" -> {
      // chunk → per-chunk langId (same scores/tie order as lang_id) →
      // per-doc mix stats with deterministic majority tie-break
      val scoreExprs = TextFunctions.LangMarkers.map { case (l, m) =>
        val list = m.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_filter(cw, x -> list_contains($list, x))) AS s_$l"
      }.mkString(",\n         ")
      val langs = TextFunctions.LangMarkers.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'")
        .mkString("\n         ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |ch AS (SELECT doc_id,
         |         unnest(list_transform(range((len(ws) + 15) // 16),
         |           i -> list_slice(ws, i * 16 + 1, i * 16 + 16))) AS cw
         |       FROM w),
         |sc AS (SELECT doc_id,
         |         $scoreExprs
         |       FROM ch),
         |b AS (SELECT *, $best AS best FROM sc),
         |p AS (SELECT doc_id, CASE $cases END AS pred FROM b),
         |c AS (SELECT doc_id, pred, CAST(count(*) AS BIGINT) AS cnt
         |      FROM p GROUP BY 1, 2),
         |m AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |        CAST(count(*) AS BIGINT) AS n_langs, max(cnt) AS mx
         |      FROM c GROUP BY 1)
         |SELECT c.doc_id, m.n_chunks, m.n_langs,
         |       min(c.pred) AS majority_lang,
         |       CAST(m.mx * 1000000 // m.n_chunks AS BIGINT) AS majority_ppm
         |FROM c JOIN m ON c.doc_id = m.doc_id AND c.cnt = m.mx
         |GROUP BY 1, 2, 3, m.mx""".stripMargin
    },
    "ngram_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
        |       FROM w WHERE len(ws) >= 3),
        |f AS (SELECT s, min(doc_id) AS fd, count(*) AS df
        |      FROM sh GROUP BY 1),
        |nv AS (SELECT fd AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
        |       FROM f WHERE df <= 50 GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_ngrams FROM sh GROUP BY 1)
        |SELECT tot.doc_id, n_ngrams,
        |       COALESCE(n_novel, 0) AS n_novel,
        |       CAST(COALESCE(n_novel, 0) * 1000000 // n_ngrams AS BIGINT)
        |         AS novelty_ppm
        |FROM tot LEFT JOIN nv ON tot.doc_id = nv.doc_id""".stripMargin,
    "token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
         |  CAST(len(regexp_extract_all(text, '${TextFunctions.BpeTokenPattern}'))
         |       AS BIGINT) AS n_bpe
         |FROM documents""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(text, ''),
        |                     c -> CAST(ascii(c) AS BIGINT))),
        |    (a, c) -> (a * 31 + c) % 1000000007) AS fp
        |FROM documents""".stripMargin,
    "doc_winnow" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |           FROM documents WHERE len(string_split(text, ' ')) >= 6),
        |sh AS (SELECT doc_id,
        |         list_transform(range(1, len(ws) - 1),
        |           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shs
        |       FROM w),
        |h AS (SELECT doc_id,
        |        list_transform(shs, s ->
        |          list_reduce(list_prepend(CAST(0 AS BIGINT),
        |              list_transform(string_split(s, ''),
        |                             c -> CAST(ascii(c) AS BIGINT))),
        |            (a, c) -> (a * 31 + c) % 1000000007)) AS hs
        |      FROM sh),
        |f AS (SELECT doc_id,
        |        list_distinct(list_transform(range(1, len(hs) - 2),
        |          j -> list_aggregate(hs[j:j+3], 'min'))) AS fps
        |      FROM h)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
        |       CAST(list_aggregate(fps, 'sum') AS BIGINT) AS checksum
        |FROM f""".stripMargin,
    "multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  (['jpeg','png','webp'])[octet_length(encode(text)) % 3 + 1]
        |    AS format
        |FROM documents""".stripMargin,
    "multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN n % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  n + 33 AS n_bytes,
        |  n % 640 + 1 AS width,
        |  n % 480 + 1 AS height
        |FROM m""".stripMargin,
    "multimodal_bmp" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 16 + 1 AS w,
        |         octet_length(encode(text)) % 8 + 1 AS h
        |  FROM documents),
        |px AS (SELECT doc_id, w, h,
        |         unnest(generate_series(0, 3*w*h - 1)) AS j
        |       FROM m)
        |SELECT doc_id, 'bmp' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w*h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN j % 3 = 0 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(sum(CASE WHEN j % 3 = 1 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN j % 3 = 2 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_r
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // PNG raster is RGB(A) order — channel j % ch: 0=R, 1=G, 2=B (3=A,
    // decoded but unsummed); odd doc_ids are RGBA (ch=4), even RGB (ch=3)
    "multimodal_png_pixels" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 16 + 1 AS w,
        |         octet_length(encode(text)) % 8 + 1 AS h,
        |         CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 4 END AS ch
        |  FROM documents),
        |px AS (SELECT doc_id, w, h, ch,
        |         unnest(generate_series(0, ch*w*h - 1)) AS j
        |       FROM m)
        |SELECT doc_id, 'png' AS format,
        |  CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        |  CAST(w*h AS BIGINT) AS n_pixels,
        |  CAST(sum(CASE WHEN j % ch = 2 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_b,
        |  CAST(sum(CASE WHEN j % ch = 1 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_g,
        |  CAST(sum(CASE WHEN j % ch = 0 THEN (doc_id*31 + j) % 256
        |           ELSE 0 END) AS BIGINT) AS sum_r
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // gray decodes replicate to all three channel sums; block b of the
    // bw×bh grid is constant (doc_id·31 + b) mod 256 over 64 pixels
    "multimodal_jpeg_pixels" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 4 + 1 AS bw,
        |         octet_length(encode(text)) % 2 + 1 AS bh
        |  FROM documents),
        |blk AS (SELECT doc_id, bw, bh,
        |          unnest(generate_series(0, bw*bh - 1)) AS b
        |        FROM m),
        |s AS (SELECT doc_id, bw, bh,
        |        CAST(sum(64 * ((doc_id*31 + b) % 256)) AS BIGINT) AS sgray
        |      FROM blk GROUP BY doc_id, bw, bh)
        |SELECT doc_id, 'jpeg' AS format,
        |  CAST(8*bw AS BIGINT) AS width, CAST(8*bh AS BIGINT) AS height,
        |  CAST(64*bw*bh AS BIGINT) AS n_pixels,
        |  sgray AS sum_b, sgray AS sum_g, sgray AS sum_r
        |FROM s""".stripMargin,
    // 4:2:0 color: per 16×16 MCU, four constant Y sub-blocks
    // (doc_id·31 + 4m + j) mod 256 and constant chroma; each sub-block
    // covers 64 pixels sharing one (yv, cb, cr) triple, so the BT.601
    // transform + floor(x+0.5) clamp replays per sub-block — the exact
    // arithmetic the engine-side decoder performs after its (lossless
    // here) Huffman + IDCT + box-upsample path
    "multimodal_jpeg_color" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 2 + 1 AS mx,
        |         octet_length(encode(text)) % 3 + 1 AS my
        |  FROM documents),
        |mc AS (SELECT doc_id, mx, my,
        |         unnest(generate_series(0, mx*my - 1)) AS mcu
        |       FROM m),
        |blk AS (SELECT doc_id, mx, my, mcu,
        |          unnest(generate_series(0, 3)) AS j
        |        FROM mc),
        |px AS (SELECT doc_id, mx, my,
        |         (doc_id*31 + 4*mcu + j) % 256 AS yv,
        |         (doc_id*17 + 11*mcu) % 256 - 128 AS cb,
        |         (doc_id*13 + 7*mcu) % 256 - 128 AS cr
        |       FROM blk)
        |SELECT doc_id, 'jpeg' AS format,
        |  CAST(16*mx AS BIGINT) AS width, CAST(16*my AS BIGINT) AS height,
        |  CAST(256*mx*my AS BIGINT) AS n_pixels,
        |-- constants cast to DOUBLE: a bare 1.402 parses as DECIMAL in
        |  -- DuckDB and decimal-exact arithmetic can floor differently
        |  -- from the engine's IEEE double path near integer boundaries
        |  CAST(sum(64 * LEAST(255, GREATEST(0,
        |    CAST(floor(yv + CAST(1.772 AS DOUBLE) * cb + 0.5) AS BIGINT))))
        |    AS BIGINT) AS sum_b,
        |  CAST(sum(64 * LEAST(255, GREATEST(0,
        |    CAST(floor(yv - CAST(0.344136 AS DOUBLE) * cb
        |      - CAST(0.714136 AS DOUBLE) * cr + 0.5)
        |      AS BIGINT)))) AS BIGINT) AS sum_g,
        |  CAST(sum(64 * LEAST(255, GREATEST(0,
        |    CAST(floor(yv + CAST(1.402 AS DOUBLE) * cr + 0.5) AS BIGINT))))
        |    AS BIGINT) AS sum_r
        |FROM px GROUP BY doc_id, mx, my""".stripMargin,
    "multimodal_wav" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         octet_length(encode(text)) % 64 + 8 AS ns,
        |         8000 + octet_length(encode(text)) % 4 * 4000 AS rate
        |  FROM documents),
        |sm AS (SELECT doc_id, ns, rate,
        |         unnest(generate_series(0, ns - 1)) AS i
        |       FROM m)
        |SELECT doc_id, 'wav' AS format, CAST(rate AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  CAST(ns AS BIGINT) AS n_samples,
        |  CAST(sum(abs((doc_id * 31 + i) % 65536 - 32768)) AS BIGINT)
        |    AS sum_abs,
        |  CAST(sum((doc_id * 31 + i) % 65536 - 32768) AS BIGINT)
        |    AS sum_val
        |FROM sm GROUP BY doc_id, ns, rate""".stripMargin,
    "audio_segments" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) % 64 + 8 AS ns
        |           FROM documents),
        |sm AS (SELECT doc_id, ns, unnest(generate_series(0, ns - 1)) AS i
        |       FROM m),
        |fe AS (SELECT doc_id, i // 4 AS f,
        |         CAST(sum(abs((doc_id * 31 + i) % 65536 - 32768)) AS BIGINT)
        |           AS e
        |       FROM sm GROUP BY doc_id, i // 4),
        |isl AS (SELECT doc_id, f,
        |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
        |        FROM fe WHERE e >= 65536),
        |seg AS (SELECT doc_id, g, count(*) AS len FROM isl GROUP BY doc_id, g),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments,
        |          CAST(max(len) AS BIGINT) AS longest_seg,
        |          CAST(sum(len) AS BIGINT) AS n_speech
        |        FROM seg GROUP BY doc_id),
        |nf AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames
        |       FROM fe GROUP BY doc_id)
        |SELECT nf.doc_id, nf.n_frames,
        |  COALESCE(a.n_speech, 0) AS n_speech,
        |  COALESCE(a.n_segments, 0) AS n_segments,
        |  COALESCE(a.longest_seg, 0) AS longest_seg,
        |  COALESCE(a.n_speech, 0) * 1000000 // nf.n_frames AS speech_ppm
        |FROM nf LEFT JOIN agg a ON a.doc_id = nf.doc_id""".stripMargin,
    "video_scene_cuts" ->
      """WITH m AS (SELECT doc_id, octet_length(encode(text)) % 6 + 2 AS nf
        |           FROM documents),
        |dp AS (SELECT doc_id, nf, f,
        |         CAST(sum(abs((doc_id*31 + f*131 + p) % 256 -
        |                      (doc_id*31 + (f-1)*131 + p) % 256))
        |              AS BIGINT) AS delta
        |       FROM m,
        |            unnest(generate_series(1, nf - 1)) AS a(f),
        |            unnest(generate_series(0, 7)) AS b(p)
        |       GROUP BY doc_id, nf, f),
        |cut AS (SELECT doc_id, nf, f FROM dp WHERE delta >= 680),
        |nc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cuts
        |       FROM cut GROUP BY doc_id),
        |isl AS (SELECT doc_id, f,
        |          f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS g
        |        FROM dp WHERE delta < 680),
        |runs AS (SELECT doc_id, CAST(max(len) AS BIGINT) AS best
        |         FROM (SELECT doc_id, g, count(*) AS len FROM isl
        |               GROUP BY doc_id, g) t GROUP BY doc_id)
        |SELECT m.doc_id, CAST(m.nf AS BIGINT) AS n_frames,
        |  COALESCE(nc.n_cuts, 0) AS n_cuts,
        |  COALESCE(nc.n_cuts, 0) + 1 AS n_shots,
        |  COALESCE(runs.best, 0) + 1 AS longest_shot
        |FROM m LEFT JOIN nc ON nc.doc_id = m.doc_id
        |       LEFT JOIN runs ON runs.doc_id = m.doc_id""".stripMargin,
    "multimodal_video" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(encode(text)) % 6 + 2 AS nf
        |  FROM documents),
        |fp AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS f
        |       FROM m),
        |sp AS (SELECT doc_id, nf, f, unnest(generate_series(0, 7)) AS p
        |       FROM fp WHERE f % 2 = 0)
        |SELECT doc_id, 'y4m' AS format, CAST(4 AS BIGINT) AS width,
        |  CAST(2 AS BIGINT) AS height, CAST(nf AS BIGINT) AS n_frames,
        |  CAST((nf + 1) // 2 AS BIGINT) AS n_sampled,
        |  CAST(sum((doc_id * 31 + f * 131 + p) % 256) AS BIGINT) AS sum_y
        |FROM sp GROUP BY doc_id, nf""".stripMargin,
    "multimodal_pseudo" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(text, ''),
        |                            c -> CAST(ascii(c) AS BIGINT))),
        |           (a, c) -> (a * 131 + c) % 1000000007) AS checksum
        |  FROM documents)
        |SELECT doc_id,
        |  (['jpeg','png','webp'])[n_bytes % 3 + 1] AS format,
        |  n_bytes,
        |  n_bytes % 640 + 1 AS width,
        |  n_bytes % 480 + 1 AS height,
        |  checksum
        |FROM m""".stripMargin,
    "image_dedup_phash" -> {
      // mirrors MediaKernels.dhashBmp over asSyntheticPhotoSet exactly:
      // seed-derived dims, formula pixels (seed·31 + j) mod 256, integer
      // gray, nearest-neighbor 8×8 sample, 56-bit gradient pack
      def gexpr(bxe: String): String = {
        val j0 = s"(((byy*h//8)*w + ($bxe)*w//8)*3)"
        s"(((seed*31 + $j0) % 256) + ((seed*31 + $j0 + 1) % 256)" +
          s" + ((seed*31 + $j0 + 2) % 256)) // 3"
      }
      s"""WITH d AS (SELECT doc_id, doc_id % 97 AS seed,
         |             doc_id % 97 % 16 + 1 AS w,
         |             doc_id % 97 // 16 % 8 + 1 AS h
         |           FROM documents),
         |p AS (SELECT doc_id, seed, w, h, bxs.g AS bx, bys.g AS byy
         |      FROM d, (SELECT unnest(generate_series(0, 6)) AS g) bxs,
         |              (SELECT unnest(generate_series(0, 7)) AS g) bys),
         |bits AS (SELECT doc_id,
         |           CASE WHEN ${gexpr("bx+1")} > ${gexpr("bx")}
         |             THEN (CAST(1 AS BIGINT) << (byy*7 + bx))
         |             ELSE 0 END AS bit
         |         FROM p),
         |hs AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS phash
         |       FROM bits GROUP BY doc_id),
         |g AS (SELECT phash, min(doc_id) AS rep, count(*) AS grp_n
         |      FROM hs GROUP BY phash)
         |SELECT hs.doc_id, hs.phash, g.rep,
         |       CAST(g.grp_n AS BIGINT) AS grp_n
         |FROM hs JOIN g USING (phash)""".stripMargin
    }
  )
}
