package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bucketing, ScaleOps}
import graft.sources.TpchGraph.table
import graft.streaming.StageFiles

/** Storage-layout / maintenance gates — the decisions that dominate cost
  * at 100 TB, each demonstrated end-to-end on real files and replayed by
  * a DuckDB oracle over the base tables:
  *
  *   - `bucket_join`       co-located (bucketed) join, zero exchanges
  *   - `partition_prune`   hive-partitioned write + partition-pruned read
  *   - `schema_evolution`  mergeSchema read across two drop generations
  *   - `file_skipping`     zone-map audit of two candidate sort layouts
  *   - `incr_agg`          incremental aggregate (partials merge) ≡ rescan
  *
  * The staged writes derive deterministically from the base tables, so
  * every oracle replays from the SAME parquet the driver mounts — the
  * staging is the thing under test, never the source of truth. */
object QueriesScale {

  private def san(dir: String): String =
    dir.replaceAll("[^a-zA-Z0-9]", "_")

  /** Scope a SQL conf to `body`, restoring the previous value. */
  private def withConf[T](s: SparkSession, key: String, v: String)
      (body: => T): T = {
    val prev = s.conf.get(key)
    s.conf.set(key, v)
    try body finally s.conf.set(key, prev)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bucketed co-located join: both sides written bucketBy(8, key) +
    // sortBy(key), so the sort-merge join's required distribution AND
    // ordering are satisfied by the scan itself — the plan is REQUIRED
    // below to contain no Exchange. At 100 TB this is the join you
    // pre-pay once at write time and then never shuffle again;
    // auto-broadcast is disabled for the plan check because at target
    // scale neither side fits (at gate scale it would short-circuit the
    // very thing under test). Unique table names per run: gates must
    // tolerate concurrent sweeps (r5's one red row was exactly such a
    // race on a shared staging path).
    "bucket_join" -> ((s, dir) => {
      // a per-run database at a per-run location, both dropped once the
      // gate's result is materialized, so no warehouse dir outlives it
      val tok = s"${san(dir)}_${System.nanoTime()}"
      val db = s"graft_bkt_$tok"
      val wh = StageFiles.dir("warehouse", dir)
      s.sql(s"CREATE DATABASE $db LOCATION '$wh'")
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      val l = table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      try {
        Bucketing.writeBucketed(o, s"$db.orders", "o_orderkey", 8)
        Bucketing.writeBucketed(l, s"$db.lineitem", "o_orderkey", 8)
        withConf(s, "spark.sql.autoBroadcastJoinThreshold", "-1") {
          val j = Bucketing.colocatedJoin(s, s"$db.orders", s"$db.lineitem",
            "o_orderkey")
          val plan = j.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"bucketed join must not shuffle:\n$plan")
          // materialize before the finally drops the tables it reads
          j.groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_items"),
              sum(col("l_quantity").cast("long")).as("sum_qty"))
            .localCheckpoint(true)
        }
      } finally {
        s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
        StageFiles.rm(wh)
      }
    }),

    // Hive-style partitioned write + pruned read: the scan of a
    // partition-filtered query must touch ONE directory, not the table —
    // the plan is REQUIRED to show PartitionCount: 1. This is coarse
    // file skipping (partition pruning); `file_skipping` below audits
    // the fine-grained (zone-map) kind.
    "partition_prune" -> ((s, dir) => {
      val base = StageFiles.dir("part", dir)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").partitionBy("event_type").parquet(base)
      try {
        val r = s.read.parquet(base).where(col("event_type") === "click")
        // PartitionFilters (not DataFilters) is the pruning mechanism: the
        // predicate prunes the file index BEFORE split listing, so only the
        // event_type=click directory is ever read
        val plan = r.queryExecution.executedPlan.toString
        require(plan.contains("PartitionFilters: [isnotnull(event_type") &&
          plan.contains("= click)"),
          s"partition filter must reach the file index:\n$plan")
        r.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
            countDistinct(col("user_id")).as("n_users"))
          .localCheckpoint(true)
      } finally StageFiles.rm(base)
    }),

    // Schema evolution: generation 1 wrote (doc_id, lang); generation 2
    // added (n_chars, source). mergeSchema reconciles the footers and
    // the old generation's new columns read as NULL — count(n_chars)
    // vs count(*) makes the null-fill visible and oracle-checked.
    // At 100 TB schema changes are rolling, never rewrite-the-world.
    "schema_evolution" -> ((s, dir) => {
      val base = StageFiles.dir("evo", dir)
      val d = table(s, dir, "documents")
      d.where(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang"))
        .write.parquet(s"$base/gen=1")
      d.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.parquet(s"$base/gen=2")
      try
        s.read.option("mergeSchema", "true").parquet(base)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            count(col("n_chars")).as("n_with_chars"),
            sum(col("n_chars")).as("sum_chars"))
          .localCheckpoint(true)
      finally StageFiles.rm(base)
    }),

    // Zone-map audit: same table, same predicate
    // (o_orderkey BETWEEN 256 AND 767), two candidate physical orders —
    // date-clustered (how facts usually arrive) vs key-clustered. The
    // audit computes exact per-256-row-block min/max stats and how many
    // blocks a zone-map reader scans under each layout; the key-clustered
    // layout's rows_scanned collapses to ~the matching rows while the
    // date-clustered one scans nearly everything. Global block ranks use
    // the DISTRIBUTED prefix-sum rank (ScaleOps.globalRank), not a
    // single-partition window.
    "file_skipping" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      ScaleOps.zoneMapAudit(o, "by_date",
          Seq(col("o_orderdate"), col("o_orderkey")),
          col("o_orderkey"), 256L, 767L, 256L)
        .unionByName(ScaleOps.zoneMapAudit(o, "by_key",
          Seq(col("o_orderkey")), col("o_orderkey"), 256L, 767L, 256L))
    }),

    // Per-block Bloom skipping vs zone maps for POINT lookups on a
    // column uncorrelated with the physical order: the zone map scans
    // ~every block (each covers the full key range), the 2520-bit block
    // bloom scans ~matching blocks + the false-positive tail, and an
    // absent key (987654) scans ~nothing. The bitmap table is the
    // persistent skipping index.
    "bloom_skipping" -> ((s, dir) =>
      ScaleOps.bloomSkippingAudit(table(s, dir, "orders"),
        order = Seq(col("o_orderdate"), col("o_orderkey")),
        value = col("o_custkey"),
        probes = Seq(750L, 1499L, 987654L), blockRows = 256L)),

    // The Z-ORDER payoff measured: the same zone-map audit over a
    // Morton-interleaved (custkey, orderkey) layout vs a plain
    // orderkey sort, for a predicate on custkey ALONE — the multi-
    // dimensional clustering keeps custkey locality a single-column
    // sort destroys, and rows_scanned shows exactly how much
    "zorder_skipping" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val zkey = graft.operators.Layout.mortonKey(
        col("o_custkey") % 65536, col("o_orderkey") % 65536)
      ScaleOps.zoneMapAudit(o, "by_morton",
          Seq(zkey, col("o_orderkey")), col("o_custkey"), 256L, 511L,
          256L)
        .unionByName(ScaleOps.zoneMapAudit(o, "by_orderkey",
          Seq(col("o_orderkey")), col("o_custkey"), 256L, 511L, 256L))
    }),

    // Hilbert vs Z-order vs lexicographic for a 2-D BOX query — the
    // curve-locality payoff made measurable: the Hilbert curve has no
    // diagonal jumps, so consecutive-key blocks cover compact regions
    // and a box predicate touches fewer blocks than under Morton
    // interleave, which beats plain lexicographic. Same distributed
    // prefix-sum block ranks as the other layout audits; the Hilbert
    // key is one linear-size `aggregate` fold per row (Layout
    // .hilbertKey), replayed by the oracle as a 16-step recursive CTE.
    // Dims fill a 2048×2048 grid (a thin slab would degenerate any
    // space-filling curve) and the box is y-selective with a wide x
    // span — the shape where a lexicographic (x-major) prefix order
    // cannot prune at all, while curve blocks cover compact 2-D regions
    // and skip ~the y-band complement. Measured at sf0.01:
    // by_lex scans 52/59 blocks, by_morton 16, by_hilbert 15.
    "hilbert_skipping" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val x = col("o_orderkey") % 2048
      val y = col("o_custkey") % 2048
      type C = org.apache.spark.sql.Column
      def audit(name: String, keyOf: (C, C) => C) =
        graft.operators.Layout.boxQueryAudit(o, name, keyOf,
          col("o_orderkey"), x, y,
          xLo = 128L, xHi = 1919L, yLo = 256L, yHi = 511L,
          blockRows = 256L)
      audit("by_hilbert", graft.operators.Layout.hilbertKey)
        .unionByName(audit("by_morton", graft.operators.Layout.mortonKey))
        .unionByName(audit("by_lex", (kx, ky) => kx * 2048L + ky))
    }),

    // Consistent-hashing rebalance: adding shard 9 of 9 moves ~11% of
    // keys on the ring vs ~89% under mod-hash — the data-placement
    // decision quantified from the actual key distribution; ring baked
    // into the plan as a literal, per-key owner lookup fully narrow
    "shard_rebalance" -> ((s, dir) =>
      ScaleOps.shardRebalanceAudit(table(s, dir, "orders"),
        col("o_orderkey"), shardsBefore = 8, shardsAfter = 9,
        vnodes = 16)),

    // Incremental aggregate maintenance: the base partial (90% of
    // events) and the delta partial (10%) are aggregated independently
    // and MERGED — count/sum/min/max are monoids, so the combined result
    // is exact and the base never rescans when the next delta lands.
    // Values quantized floor(value·1000) so every sum is int64-exact in
    // any engine and any partition order.
    "incr_agg" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("user_id"),
        floor(col("value") * 1000).cast("long").as("v"))
      val base = ScaleOps.partialAgg(
        e.where(col("user_id") % 10 =!= 0), "user_id", col("v"))
      val delta = ScaleOps.partialAgg(
        e.where(col("user_id") % 10 === 0), "user_id", col("v"))
      ScaleOps.mergePartialAggs(Seq(base, delta), "user_id")
        .select(col("user_id"), col("n"), col("sum_v"), col("min_v"),
          col("max_v"))
    }))

  def oracles: Map[String, String] = Map(
    // Hilbert fold replayed as a 16-step recursive CTE (levels 15..0,
    // same accumulate-then-rotate order as Layout.hilbertKey); block
    // ranks via row_number (the oracle may use a global window — the
    // engine side uses the distributed prefix-sum rank)
    "hilbert_skipping" -> {
      def layout(name: String, rankedCte: String) =
        s"""SELECT '$name' AS layout,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  count(*) AS n_blocks,
           |  CAST(sum(CASE WHEN xmn <= 1919 AND xmx >= 128
           |                 AND ymn <= 511 AND ymx >= 256
           |            THEN 1 ELSE 0 END) AS BIGINT) AS blocks_scanned,
           |  CAST(sum(CASE WHEN xmn <= 1919 AND xmx >= 128
           |                 AND ymn <= 511 AND ymx >= 256
           |            THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
           |  CAST(sum(hit) AS BIGINT) AS rows_matched
           |FROM (
           |  SELECT (rk - 1) // 256 AS blk,
           |         min(x) AS xmn, max(x) AS xmx,
           |         min(y) AS ymn, max(y) AS ymx, count(*) AS n,
           |         sum(CASE WHEN x BETWEEN 128 AND 1919
           |                   AND y BETWEEN 256 AND 511
           |             THEN 1 ELSE 0 END) AS hit
           |  FROM $rankedCte GROUP BY 1)""".stripMargin
      s"""WITH RECURSIVE d AS (
         |  SELECT o_orderkey AS ok, o_orderkey % 2048 AS x,
         |         o_custkey % 2048 AS y
         |  FROM orders),
         |hil(ok, hx, hy, hd, i) AS (
         |  SELECT ok, CAST(x AS BIGINT), CAST(y AS BIGINT),
         |         CAST(0 AS BIGINT), 15 FROM d
         |  UNION ALL
         |  SELECT ok,
         |    CASE WHEN (hy & (CAST(1 AS BIGINT) << i)) = 0 THEN
         |           CASE WHEN (hx & (CAST(1 AS BIGINT) << i)) <> 0
         |                THEN 65535 - hy ELSE hy END
         |         ELSE hx END,
         |    CASE WHEN (hy & (CAST(1 AS BIGINT) << i)) = 0 THEN
         |           CASE WHEN (hx & (CAST(1 AS BIGINT) << i)) <> 0
         |                THEN 65535 - hx ELSE hx END
         |         ELSE hy END,
         |    hd + (CAST(1 AS BIGINT) << i) * (CAST(1 AS BIGINT) << i) *
         |      xor(3 * CASE WHEN (hx & (CAST(1 AS BIGINT) << i)) <> 0
         |                   THEN 1 ELSE 0 END,
         |          CASE WHEN (hy & (CAST(1 AS BIGINT) << i)) <> 0
         |               THEN 1 ELSE 0 END),
         |    i - 1
         |  FROM hil WHERE i >= 0),
         |hk AS (SELECT ok, hd FROM hil WHERE i = -1),
         |s1 AS (SELECT ok, (x | (x << 8)) & 16711935 AS x1,
         |                  (y | (y << 8)) & 16711935 AS y1 FROM d),
         |s2 AS (SELECT ok, (x1 | (x1 << 4)) & 252645135 AS x2,
         |                  (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
         |s3 AS (SELECT ok, (x2 | (x2 << 2)) & 858993459 AS x3,
         |                  (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
         |s4 AS (SELECT ok, (x3 | (x3 << 1)) & 1431655765 AS x4,
         |                  (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
         |z AS (SELECT ok, x4 | (y4 << 1) AS zkey FROM s4),
         |keys AS (SELECT d.ok, d.x, d.y, hk.hd, z.zkey,
         |           d.x * 2048 + d.y AS lexkey
         |         FROM d JOIN hk USING (ok) JOIN z USING (ok)),
         |rh AS (SELECT x, y,
         |    row_number() OVER (ORDER BY hd, ok) AS rk FROM keys),
         |rm AS (SELECT x, y,
         |    row_number() OVER (ORDER BY zkey, ok) AS rk FROM keys),
         |rl AS (SELECT x, y,
         |    row_number() OVER (ORDER BY lexkey, ok) AS rk FROM keys)
         |${layout("by_hilbert", "rh")}
         |UNION ALL
         |${layout("by_morton", "rm")}
         |UNION ALL
         |${layout("by_lex", "rl")}""".stripMargin
    },
    "bucket_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,
    "partition_prune" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id,
        |       count(DISTINCT user_id) AS n_users
        |FROM events WHERE event_type = 'click' GROUP BY 1""".stripMargin,
    "schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) AS n_docs, count(n_chars) AS n_with_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM u GROUP BY 1""".stripMargin,
    "file_skipping" -> {
      def layout(name: String, ord: String) =
        s"""SELECT '$name' AS layout,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  count(*) AS n_blocks,
           |  CAST(sum(CASE WHEN mn <= 767 AND mx >= 256 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS blocks_scanned,
           |  CAST(sum(CASE WHEN mn <= 767 AND mx >= 256 THEN n ELSE 0 END)
           |    AS BIGINT) AS rows_scanned,
           |  CAST(sum(hit) AS BIGINT) AS rows_matched
           |FROM (
           |  SELECT (rk - 1) // 256 AS blk, min(v) AS mn, max(v) AS mx,
           |         count(*) AS n,
           |         sum(CASE WHEN v BETWEEN 256 AND 767 THEN 1 ELSE 0 END)
           |           AS hit
           |  FROM (SELECT o_orderkey AS v,
           |          row_number() OVER (ORDER BY $ord) AS rk FROM orders)
           |  GROUP BY 1)""".stripMargin
      layout("by_date", "o_orderdate, o_orderkey") + "\nUNION ALL\n" +
        layout("by_key", "o_orderkey")
    },
    "bloom_skipping" -> {
      def branch(p: Long): String = {
        val h1 = p % 2520L
        val h2 = (p * 31L + 7L) % 2520L
        val (w1, b1) = (h1 / 63L, 1L << (h1 % 63L).toInt)
        val (w2, b2) = (h2 / 63L, 1L << (h2 % 63L).toInt)
        s"""SELECT CAST($p AS BIGINT) AS probe,
           |  (SELECT count(*) FROM stats) AS n_blocks,
           |  (SELECT count(*) FROM (
           |     SELECT b1.blk FROM bits b1 JOIN bits b2 ON b2.blk = b1.blk
           |     WHERE b1.w = $w1 AND (b1.bits & $b1) != 0
           |       AND b2.w = $w2 AND (b2.bits & $b2) != 0) t)
           |    AS blocks_bloom,
           |  (SELECT count(*) FROM stats WHERE mn <= $p AND mx >= $p)
           |    AS blocks_zonemap,
           |  (SELECT count(*) FROM rb WHERE v = $p) AS rows_matched"""
          .stripMargin
      }
      s"""WITH ranked AS (SELECT o_custkey AS v,
         |    row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rk
         |  FROM orders),
         |rb AS (SELECT v, (rk - 1) // 256 AS blk FROM ranked),
         |bits AS (SELECT blk, h // 63 AS w,
         |    bit_or(1::BIGINT << CAST(h % 63 AS INT)) AS bits
         |  FROM (SELECT blk, unnest([v % 2520, (v * 31 + 7) % 2520]) AS h
         |        FROM rb) t
         |  GROUP BY 1, 2),
         |stats AS (SELECT blk, min(v) AS mn, max(v) AS mx FROM rb
         |          GROUP BY 1)
         |${Seq(750L, 1499L, 987654L).map(branch).mkString("\nUNION ALL\n")}"""
        .stripMargin
    },
    "zorder_skipping" -> {
      def layout(name: String, rankedCte: String) =
        s"""SELECT '$name' AS layout,
           |  CAST(sum(n) AS BIGINT) AS n_rows,
           |  count(*) AS n_blocks,
           |  CAST(sum(CASE WHEN mn <= 511 AND mx >= 256 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS blocks_scanned,
           |  CAST(sum(CASE WHEN mn <= 511 AND mx >= 256 THEN n ELSE 0 END)
           |    AS BIGINT) AS rows_scanned,
           |  CAST(sum(hit) AS BIGINT) AS rows_matched
           |FROM (
           |  SELECT (rk - 1) // 256 AS blk, min(v) AS mn, max(v) AS mx,
           |         count(*) AS n,
           |         sum(CASE WHEN v BETWEEN 256 AND 511 THEN 1 ELSE 0 END)
           |           AS hit
           |  FROM $rankedCte GROUP BY 1)""".stripMargin
      s"""WITH d AS (SELECT o_custkey AS v, o_orderkey AS ok,
         |    o_custkey % 65536 AS x, o_orderkey % 65536 AS y
         |  FROM orders),
         |s1 AS (SELECT v, ok, (x | (x << 8)) & 16711935 AS x1,
         |                     (y | (y << 8)) & 16711935 AS y1 FROM d),
         |s2 AS (SELECT v, ok, (x1 | (x1 << 4)) & 252645135 AS x2,
         |                     (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
         |s3 AS (SELECT v, ok, (x2 | (x2 << 2)) & 858993459 AS x3,
         |                     (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
         |s4 AS (SELECT v, ok, (x3 | (x3 << 1)) & 1431655765 AS x4,
         |                     (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
         |z AS (SELECT v, ok, x4 | (y4 << 1) AS zkey FROM s4),
         |rz AS (SELECT v,
         |    row_number() OVER (ORDER BY zkey, ok) AS rk FROM z),
         |rk AS (SELECT v,
         |    row_number() OVER (ORDER BY ok) AS rk FROM z)
         |${layout("by_morton", "rz")}
         |UNION ALL
         |${layout("by_orderkey", "rk")}""".stripMargin
    },
    "shard_rebalance" -> {
      def ringValues(shards: Int): String =
        (0 until shards).flatMap { s =>
          (0 until 16).map { t =>
            val pos = graft.operators.ScaleOps.rebalanceHash(
              s.toLong * 100003L + t.toLong * 7919L)
            s"($pos, $s)"
          }
        }.mkString(", ")
      def owner(tbl: String, out: String): String =
        s"""$out AS (SELECT kk, shard FROM (
           |  SELECT hh.kk, r.shard, row_number() OVER (PARTITION BY hh.kk
           |    ORDER BY (r.pos - hh.h + 1000000007) % 1000000007,
           |             r.shard) AS rn
           |  FROM hh, $tbl r) t WHERE rn = 1)""".stripMargin
      s"""WITH k AS (SELECT o_orderkey AS kk FROM orders),
         |hh AS (SELECT kk, (y * y + y * 37 + 11) % 1000000007 AS h FROM (
         |    SELECT kk, (a * a + a * 31 + 7) % 1000000007 AS y FROM (
         |      SELECT kk, kk % 1000000007 AS a FROM k) t1) t2),
         |rb(pos, shard) AS (VALUES ${ringValues(8)}),
         |ra(pos, shard) AS (VALUES ${ringValues(9)}),
         |${owner("rb", "ob")},
         |${owner("ra", "oa")},
         |j AS (SELECT hh.kk, hh.h, ob.shard AS ring_before,
         |        oa.shard AS ring_after
         |      FROM hh JOIN ob USING (kk) JOIN oa USING (kk))
         |SELECT 'mod_hash' AS scheme, count(*) AS n_keys,
         |  CAST(sum(CASE WHEN h % 8 != h % 9 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_moved,
         |  CAST(sum(CASE WHEN h % 8 != h % 9 THEN 1 ELSE 0 END) * 1000000
         |    // count(*) AS BIGINT) AS moved_ppm
         |FROM j
         |UNION ALL
         |SELECT 'consistent_ring', count(*),
         |  CAST(sum(CASE WHEN ring_before != ring_after THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  CAST(sum(CASE WHEN ring_before != ring_after THEN 1 ELSE 0 END)
         |    * 1000000 // count(*) AS BIGINT)
         |FROM j""".stripMargin
    },
    "incr_agg" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_v,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_v
        |FROM events GROUP BY 1""".stripMargin)
}
