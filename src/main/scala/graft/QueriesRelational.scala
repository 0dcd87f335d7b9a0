package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.round6
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, RangeJoin, Sessionize, TopK}
import graft.sources.TpchGraph.table
import graft.streaming.{StageFiles, Streams}

/** SURVEY.md §2.7 coverage — every checklist category the reference lacks,
  * provided as first-class Spark operators: joins (broadcast / semi / anti /
  * as-of), aggregations (multi-agg, rollup, pivot), window functions
  * (ranking + running frames), sorts/top-k, set ops, sessionization
  * (batch twin of streaming session windows), and JSON scalar functions.
  * All DataFrame-API plans (not SQL strings) so Catalyst optimizes them;
  * oracle twins are DuckDB SQL. */
object QueriesRelational {

  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** Shared harness for the stream-stream OUTER-join gates: stages the
    * events as three mtime-ordered source files (real data, then two
    * far-future SELF-NON-MATCHING sentinel click/purchase pairs under
    * user −1, 10 days apart) read with maxFilesPerTrigger = 1, so batch
    * 2 advances both sides' watermarks past every real event's horizon
    * and batch 3 flushes the remaining outer state — the
    * watermark-driven null-side emission a single-batch run never
    * exercises. Runs purchaseAttribution under `joinType` and returns
    * the joined memory-sink table (sentinels NOT yet filtered — callers
    * drop user_id < 0). */
  private def streamJoinStaged(s: SparkSession, dir: String,
                               joinType: String, tag: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    val e = table(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"))
    val maxTs = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(
      e.agg(max(col("ts"))).head().getTimestamp(0).getTime))
    def sentinels(offsetDays: Int) = {
      import s.implicits._
      Seq(
        (-1L, -1L, "click",
          new java.sql.Timestamp(maxTs.getTime + offsetDays * 86400000L)),
        (-2L, -1L, "purchase",
          new java.sql.Timestamp(maxTs.getTime +
            (offsetDays + 10) * 86400000L)))
        .toDF("event_id", "user_id", "event_type", "ts")
    }
    // per-run unique staging base: two concurrent runs of the same gate
    // on the same sfDir (e.g. parallel Verify invocations) must not
    // interleave each other's staged files
    val base = StageFiles.dir(tag, dir)
    val src = s"$base/src"
    Files.createDirectories(Paths.get(src))
    Paths.get(src).toFile.listFiles.foreach(_.delete())
    def stage(df: org.apache.spark.sql.DataFrame, n: Int): Unit =
      graft.streaming.StageFiles.stageTimedParquet(df, base, src, n)
    stage(e, 1); stage(sentinels(20), 2); stage(sentinels(40), 3)
    def stream = s.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    val joined = graft.streaming.EventStreams.purchaseAttribution(
      stream.where(col("event_type") === "click"),
      stream.where(col("event_type") === "purchase"),
      joinType = joinType)
    val out = Streams.toMemory(s, joined, s"graft_stream_join_$tag",
      "append")
    // staged files are consumed; drop the per-run dir so unique-suffixed
    // runs don't accumulate in the temp dir
    StageFiles.rm(base)
    out
  }

  /** Watermark delay for the streaming sessionization gates: wider than
    * the whole event-time range, so correctness does NOT depend on the
    * file source packing everything into one microbatch — if the sentinel
    * files happened to process first, a short watermark would advance
    * past every real event and drop it as late. Sessions close via the
    * in-stream sentinel gap, never via the watermark, so the huge delay
    * costs nothing. */
  private val SessionStreamWatermark = "87600 hours"

  /** Shared harness for the streaming sessionization gates: per-user
    * sentinel 2×gap past the global max ts (closes every real session
    * in-stream; the sentinel's own session is never emitted), one
    * AvailableNow file-stream pass through `sessionsFn` into a memory
    * sink, aggregated to the oracle's (user_id, n_sessions, n_events,
    * checksum) shape. */
  private def sessionizeStreamGate(s: SparkSession, dir: String, tag: String)(
      sessionsFn: (org.apache.spark.sql.Dataset[graft.streaming.UserEvent],
        Long) => org.apache.spark.sql.Dataset[graft.streaming.SessionSummary])
      : DataFrame = {
    import s.implicits._
    val gapMs = 1800L * 1000L
    val e = table(s, dir, "events").select(col("user_id"), col("ts"))
    val maxUs = e.agg(max(unix_micros(col("ts")))).as[Long].head()
    val aug = e.unionByName(e.select(col("user_id")).distinct()
      .withColumn("ts", timestamp_micros(lit(maxUs + 2 * gapMs * 1000L))))
    val tmp = StageFiles.dir(tag, dir)
    // ONE part-file: the file source batches at file granularity, so a
    // single file is structurally guaranteed to land in one microbatch —
    // a sentinel processed BEFORE a user's real events would otherwise
    // absorb them into its own never-emitted session (t - last < 0 takes
    // the merge branch). The wide watermark handles the separate
    // late-drop hazard; this handles batching order.
    aug.coalesce(1).write.mode("overwrite").parquet(tmp)
    val stream = s.readStream.schema(aug.schema).parquet(tmp)
    val sessions = sessionsFn(
      stream.as[graft.streaming.UserEvent], gapMs)
    val sunk = Streams.toMemory(s, sessions.toDF(),
      s"graft_sessionize_$tag", "append")
    StageFiles.rm(tmp)
    sunk
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(unix_micros(col("session_start")) +
          unix_micros(col("session_end"))).as("checksum"))
  }

  /** Shared oracle for both streaming sessionization gates (the old and
    * new stateful APIs must produce the identical session set): full batch
    * sessionization per user with session-boundary micros in the
    * checksum. */
  /** Strict-order funnel — shared by the batch gate (`funnel_stages`)
    * and its incremental streaming twin (`stream_funnel`). */
  private val FunnelStagesOracle: String =
    """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
      |            WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND e.ts > s1.t
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
      |       GROUP BY e.user_id)
      |SELECT '1_view' AS stage,
      |       (SELECT count(*) FROM s1) AS n_entities
      |UNION ALL SELECT '2_click', (SELECT count(*) FROM s2)
      |UNION ALL SELECT '3_purchase', (SELECT count(*) FROM s3)""".stripMargin

  private val SessionStreamOracle: String =
    """WITH l AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |           ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events),
      |f AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
      |             THEN 1 ELSE 0 END) OVER (PARTITION BY user_id
      |           ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM l),
      |sess AS (
      |  SELECT user_id, sid, min(tus) AS s, max(tus) AS e, count(*) AS n
      |  FROM f GROUP BY 1, 2)
      |SELECT user_id, count(*) AS n_sessions,
      |       CAST(sum(n) AS BIGINT) AS n_events,
      |       CAST(sum(s + e) AS BIGINT) AS checksum
      |FROM sess GROUP BY user_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- joins -----------------------------------------------------------
    // TPC-H Q3 shape: 3-way join + agg + deterministic top-k. Large-large
    // joins shuffle on their keys; AQE picks broadcast if a side is small.
    "join_topk_q3" -> ((s, dir) => {
      val c = table(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = table(s, dir, "orders")
        .where(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
      val l = table(s, dir, "lineitem")
        .where(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey").as("orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("revenue"))
    }),
    // Star join with explicit broadcast of the small dimensions (the
    // degree-aware broadcast choice of SURVEY.md §4 made first-class).
    "join_broadcast_nation" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
      val sup = table(s, dir, "supplier")
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      l.join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(n, col("s_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"), col("r_name"))
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .select(col("n_name").as("nation"), col("r_name").as("region"),
          col("revenue"), col("n_items"))
    }),
    "join_semi" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").where(col("o_orderstatus") === "F")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
    }),
    "join_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
    }),
    // As-of join: each event enriched with the latest prior signup of the
    // same user (operators.AsOfJoin — union-merge, no inequality join).
    "join_asof" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val signups = e.where(col("event_type") === "signup")
      AsOfJoin.asOf(e, signups, key = "user_id", ts = "ts",
        tiebreak = "event_id", rightCols = Map("event_id" -> "signup_id"))
        .select(col("event_id"), col("user_id"), col("signup_id"))
    }),

    // FORWARD as-of: each error event enriched with the user's NEXT
    // click (time-to-recovery) — the time-reversed twin of join_asof,
    // same union-merge shape (one shuffle + one window pass, never an
    // inequality join)
    "join_asof_fwd" -> ((s, dir) => {
      val e = table(s, dir, "events")
      AsOfJoin.asOfForward(
        e.where(col("event_type") === "error"),
        e.where(col("event_type") === "click"),
        key = "user_id", ts = "ts", tiebreak = "event_id",
        rightCols = Map("event_id" -> "next_click_id"))
        .select(col("event_id"), col("user_id"), col("next_click_id"))
    }),

    // Range join: per error event, clicks by the same user in the
    // preceding 10 minutes (bucketed equi-join, not an inequality join).
    "join_range" -> ((s, dir) => {
      val e = table(s, dir, "events")
      RangeJoin.countPriorWithin(
        left = e.where(col("event_type") === "error"),
        right = e.where(col("event_type") === "click"),
        key = "user_id", ts = "ts", leftId = "event_id",
        windowMicros = 600L * 1000000L)
        .select(col("event_id"), col("n").as("n_clicks"))
    }),

    // ---- aggregations ----------------------------------------------------
    "agg_rollup" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag").as("returnflag"),
          col("l_linestatus").as("linestatus"), col("sum_qty"), col("n"))),
    "agg_cube" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_extendedprice")), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag").as("returnflag"),
          col("l_linestatus").as("linestatus"), col("sum_price"), col("n"))),
    "agg_pivot" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val p = e.groupBy(col("user_id")).pivot("event_type", EventTypes).count()
      p.select(col("user_id") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    "agg_distinct" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag").as("returnflag"), col("n_parts"),
          col("n_supps"), col("n"))),
    // exact interpolated quantiles: selections over the sorted values
    // (not accumulations), so both engines agree to the last bit before
    // rounding — Spark percentile ≡ DuckDB quantile_cont
    "agg_percentiles" -> ((s, dir) =>
      table(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(round6(percentile(col("l_quantity"), lit(0.5)))
          .as("med_qty"),
          round6(percentile(col("l_extendedprice"), lit(0.9)))
            .as("p90_price"),
          round6(percentile(col("l_extendedprice"), lit(0.99)))
            .as("p99_price"))
        .select(col("l_returnflag").as("returnflag"), col("med_qty"),
          col("p90_price"), col("p99_price"))),

    // ---- window functions ------------------------------------------------
    "window_topk" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey").as("custkey"),
          col("o_orderkey").as("orderkey"),
          col("o_totalprice").as("totalprice"), col("rn"))
    }),
    // Same top-3-per-customer result as window_topk, computed by the typed
    // Aggregator (map-side partial top-k — k·|keys| over the shuffle
    // instead of |rows|; the 100 TB formulation).
    "window_topk_agg" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      TopK.perKey(o, key = "o_custkey", ord = "o_totalprice",
        tiebreak = "o_orderkey", payload = "o_orderkey", k = 3)
        .select(col("o_custkey").as("custkey"),
          col("o_orderkey").as("orderkey"),
          col("o_totalprice").as("totalprice"), col("rn"))
    }),
    "window_running" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.select(col("event_id"), col("user_id"),
        round(sum(col("value")).over(w), 2).as("running"))
    }),

    // ---- set ops ---------------------------------------------------------
    "setop_except" -> ((s, dir) => {
      val p = table(s, dir, "part").select(col("p_partkey").as("id"))
      val used = table(s, dir, "lineitem").select(col("l_partkey").as("id"))
      p.except(used)
    }),

    // ---- sorts / limits --------------------------------------------------
    "sort_topk" -> ((s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(25)
        .select(col("o_orderkey").as("orderkey"),
          col("o_totalprice").as("totalprice"))),

    // ---- data layout -----------------------------------------------------
    // Z-order clustering audit over (customer, price-cents): Morton keys
    // via the branch-free shift-mask spread, per-block row counts and
    // per-dimension min/max — the file statistics a reader prunes on.
    // floor(x+½) for the cents, not round(): tie conventions differ
    // across engines, floor does not.
    "zorder_audit" -> ((s, dir) =>
      graft.operators.Layout.zorderAudit(
        table(s, dir, "orders"),
        x = col("o_custkey") % 65536,
        y = floor(col("o_totalprice") * 100 + 0.5) % 65536,
        bitsPerBlock = 24)),

    // column-encoding advisor: exact distinct/run statistics within
    // 1000-row write groups → dict/rle/plain recommendation per column
    "encoding_advisor" -> ((s, dir) =>
      graft.operators.Layout.encodingAdvisor(
        table(s, dir, "orders"), order = col("o_orderkey"),
        rowGroup = expr("o_orderkey div 1000"),
        cols = Seq("o_orderstatus", "o_orderpriority",
          "o_custkey"))),

    // range-partition split planner: exact integer rank test over the
    // VALUE DISTRIBUTION (never a row-level sort) — equi-depth
    // boundaries for 8 ranges of order totals, in cents
    "range_split_plan" -> ((s, dir) =>
      graft.operators.Layout.rangeSplitPlan(
        table(s, dir, "orders"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long"),
        splits = 8)),

    // compaction planning over a derived file inventory: cumulative-fill
    // group assignment per partition — window over file METADATA rows
    // only, the metastore-listing cardinality, never data rows
    "compaction_plan" -> ((s, dir) => {
      val files = table(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("part"),
          (col("l_orderkey") % 50).as("file_id"))
        .agg(sum(col("l_quantity").cast("long")).as("size"))
      graft.operators.Layout.compactionPlan(files, "part", "file_id",
        "size", target = 20000L)
    }),

    // time-series regularization: hourly resample per user with forward
    // fill — latest-observation recency by unique event_id (no float
    // arithmetic touches the carried value), grid densified by a
    // sequence generator, window bounded by GRID length not event count
    "resample_ffill" -> ((s, dir) =>
      graft.operators.Timeseries.resampleFfill(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        seq = "event_id", value = "value", bucketUs = 3600000000L)),
    // feature engineering over the regular grid: integer-cents lags and
    // a rolling 3-bucket sum (quantize FIRST — a rolling sum of raw
    // doubles depends on the engine's frame accumulation order)
    "lag_features" -> ((s, dir) =>
      graft.operators.Timeseries.lagFeatures(
        graft.operators.Timeseries.resampleFfill(
          table(s, dir, "events"), entity = "user_id", ts = "ts",
          seq = "event_id", value = "value", bucketUs = 3600000000L),
        entity = "user_id", bucket = "bucket", value = "v_filled",
        lags = Seq(1, 24), rollK = 3)),

    // ---- event-sequence analytics ----------------------------------------
    // strict-order funnel: view → click AFTER the view → purchase AFTER
    // the click, per user; k hash aggregates + k−1 equi-joins, no
    // windows, no per-user event lists
    "funnel_stages" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        stages = Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")))),
    // windowed funnel: same stages but every later stage must land
    // within 3 days of the user's stage-1 time (the conversion-window
    // form production funnels actually use); greedy earliest-match is
    // provably optimal under the common deadline
    "funnel_windowed" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnelWithin(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        stages = Seq(
          "view" -> (col("event_type") === "view"),
          "click" -> (col("event_type") === "click"),
          "purchase" -> (col("event_type") === "purchase")),
        windowUs = 259200000000L)),
    // histogram-bin counts are a sum monoid, so the fixed-bin quantile
    // sketch maintains itself as a STREAMING aggregate; quantiles read
    // off the sunk histogram must equal the batch rank test
    "stream_quantile" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 500")
          .as("bin"))
      val tmp = StageFiles.dir("squant", dir)
      e.where(col("event_id") % 2 === 0).select(col("bin")).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      e.where(col("event_id") % 2 =!= 0).select(col("bin")).coalesce(1)
        .write.mode("append").parquet(tmp)
      val stream = s.readStream.schema("bin BIGINT")
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val c = Streams.toMemory(s,
        stream.groupBy(col("bin")).agg(count(lit(1)).as("n")),
        "graft_stream_quant", "complete")
      StageFiles.rm(tmp)
      val cum = c.withColumn("n_le", sum(col("n")).over(
        Window.orderBy(col("bin"))))  // #bins rows — a constant, bounded
      val tot = c.agg(sum(col("n")).as("total"))
      import s.implicits._
      Seq(50L, 90L, 99L).toDF("q_pct")
        .join(cum, lit(true)).join(broadcast(tot), lit(true))
        .where(col("n_le") * 100 >= col("q_pct") * col("total"))
        .groupBy(col("q_pct")).agg(min(col("bin")).as("bin"))
        .select(col("q_pct"), col("bin"), (col("bin") * 500).as("bin_lo"))
    }),
    // time-to-conversion histogram: per purchase, the FIRST same-user
    // click in the 7-day lookback; day-bucketed lag counts — the
    // attribution family's latency distribution
    "conversion_lag_hist" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val t = ev.where(col("event_type") === "click")
        .select(col("user_id").as("e"),
          expr("unix_micros(ts)").as("tus"))
      val c = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("e"), expr("unix_micros(ts)").as("cus"),
          col("event_id").as("conv_id"))
      c.join(t, "e")
        .where(col("tus") < col("cus") &&
          col("tus") >= col("cus") - 604800000000L)
        .groupBy(col("conv_id"))
        .agg(min(col("tus")).as("ft"), max(col("cus")).as("cus2"))
        .select(expr("(cus2 - ft) div 86400000000").as("lag_days"))
        .groupBy(col("lag_days")).agg(count(lit(1)).as("n"))
    }),
    // exponentially time-decayed engagement: weight = 1e6 >> age_weeks
    // (power-of-two decay stays int64-exact in any engine; a float
    // exp() would drift in the last ulp) — the recency-weighted
    // activity score, one narrow map + one aggregate
    "decayed_engagement" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"), expr("unix_micros(ts)").as("tus"))
      val maxT = e.agg(max(col("tus")).as("maxt"))
      e.join(broadcast(maxT), lit(true))
        .select(col("user_id"),
          expr("shiftright(1000000L, CAST(least(" +
            "(maxt - tus) div 604800000000, 40) AS INT))").as("w"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("w")).as("engagement"))
    }),
    // per-user inter-arrival statistics: exact integer mean and lower
    // median of event gaps — burstiness vs steadiness; windows
    // partition on the user key (bounded by per-user activity)
    "interarrival_stats" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("user_id"),
        expr("unix_micros(ts)").as("tus"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val gaps = e.withColumn("prev", lag(col("tus"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("user_id"), (col("tus") - col("prev")).as("gap"))
      val med = gaps
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("gap"))))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .where(expr("rn = (cnt + 1) div 2"))
        .select(col("user_id"), col("gap").as("median_us"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          expr("sum(gap) div count(1)").as("mean_us"))
        .join(med, "user_id")
    }),
    // the third sketch-as-streaming-state member: Count-Min cells are
    // sum monoids, so the frequency sketch maintains itself across
    // micro-batches; probe estimates off the sunk grid must equal the
    // batch sketch (sketch_cms's own oracle, shared text)
    "stream_cms" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val tmp = StageFiles.dir("scms", dir)
      d.where(col("doc_id") % 2 === 0).select(col("text")).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      d.where(col("doc_id") % 2 =!= 0).select(col("text")).coalesce(1)
        .write.mode("append").parquet(tmp)
      val stream = s.readStream.schema("text STRING")
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val regs = graft.operators.Sketches.countMinBuild(stream, "text",
        width = 256)
      val sunk = Streams.toMemory(s, regs, "graft_stream_cms", "complete")
      StageFiles.rm(tmp)
      import s.implicits._
      val probes = Seq("join", "hash", "row", "batch", "scan", "customer",
        "the", "xyzzy").toDF("word")
      graft.operators.Sketches.countMinEstimate(sunk, probes,
        width = 256)
    }),
    // OHLC bars: per (event_type, hour) open/high/low/close in exact
    // cents — open/close ride ONE struct-min/max aggregate with
    // (time, event_id) tie-break, the classic market-data rollup
    "ohlc_bars" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("hour"),
        expr("unix_micros(ts)").as("tus"), col("event_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      e.groupBy(col("event_type"), col("hour"))
        .agg(count(lit(1)).as("n"),
          min(struct(col("tus"), col("event_id"), col("cents")))
            .as("_o"),
          max(struct(col("tus"), col("event_id"), col("cents")))
            .as("_c"),
          max(col("cents")).as("high"), min(col("cents")).as("low"))
        .select(col("event_type"), col("hour"), col("n"),
          col("_o.cents").as("open"), col("high"), col("low"),
          col("_c.cents").as("close"))
    }),
    // RFM segmentation: recency anchored on the corpus max purchase
    // time (1-row broadcast), cents-exact monetary totals, fixed
    // 3/2/1 tier thresholds — one aggregate per user, no windows
    "rfm_scores" -> ((s, dir) =>
      graft.operators.EventAnalytics.rfmScores(table(s, dir, "events"),
        entity = "user_id", ts = "ts", value = col("value"),
        convPred = col("event_type") === "purchase")),
    // multi-touch attribution: every click in the 7 days before a
    // purchase shares the credit (linear ppm split); first/last-touch
    // ids from the same aggregate; organic purchases kept with 0
    "attribution_touch" -> ((s, dir) =>
      graft.operators.EventAnalytics.attribution(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        id = "event_id",
        touchPred = col("event_type") === "click",
        convPred = col("event_type") === "purchase",
        lookbackUs = 7L * 86400L * 1000000L)),
    // first-order Markov transition matrix of event types: one
    // per-user window + alphabet-bounded aggregates, exact integer ppm
    "event_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitionMatrix(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        tiebreak = "event_id", typ = "event_type")),
    // temporal precedence matrix: entities whose FIRST a strictly
    // precedes their first b — events collapse per (entity, type)
    // before the alphabet-bounded per-entity self-join
    "precedence_pairs" -> ((s, dir) =>
      graft.operators.EventAnalytics.precedencePairs(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        typ = "event_type")),
    // daily cohort retention triangle: cohort = first-event day, offset
    // = days since; two aggregates + one join, all int64
    "cohort_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.cohortRetention(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        periodUs = 86400000000L)),

    // gaps-and-islands: merge overlapping shipment windows [shipdate,
    // shipdate+quantity] per supplier into maximal coverage islands —
    // per-key windows only, integer day ordinates
    "interval_merge" -> ((s, dir) => {
      val days = datediff(col("l_shipdate"),
        to_date(lit("1970-01-01"))).cast("long")
      graft.operators.Timeseries.mergeIntervals(
        table(s, dir, "lineitem")
          .where(col("l_orderkey") % 50 === 0)
          .select(col("l_suppkey").as("k"), days.as("s"),
            (days + col("l_quantity").cast("long")).as("e")),
        key = "k", start = "s", end = "e")
    }),
    // market-basket co-occurrence (A-Priori pair scan): top-25 part
    // pairs sharing an order, baskets capped at 20 items (quadratic
    // guard, replicated in the oracle)
    "basket_pairs" -> ((s, dir) =>
      graft.operators.EventAnalytics.basketPairs(
        table(s, dir, "lineitem"), basket = "l_orderkey",
        item = "l_partkey", maxBasket = 20, k = 25)),

    // top user journeys: per (user, day) ordered type sequence (first 4
    // events), counted corpus-wide — array-local sort, TakeOrdered rank
    "event_paths" -> ((s, dir) =>
      graft.operators.EventAnalytics.topPaths(
        table(s, dir, "events"), entity = "user_id", ts = "ts",
        tiebreak = "event_id", typ = "event_type", maxLen = 4, k = 15)),
    // popularity^(3/4) negative sampling via the bucketed interval join
    // — deterministic hash draws, no rand()
    "neg_sample_weighted" -> ((s, dir) =>
      graft.operators.CorpusTools.weightedNegSample(
        table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("tid"))
          .agg(count(lit(1)).as("cnt")),
        id = "tid", cnt = "cnt", nSamples = 200)),
    // A-priori frequent triples grown from the frequent-pair lattice
    // (collapsed item space so supports are non-trivial at gate SF)
    "assoc_triples" -> ((s, dir) =>
      graft.operators.EventAnalytics.assocTriples(
        table(s, dir, "lineitem")
          .select(col("l_orderkey"), (col("l_partkey") % 50).as("item")),
        basket = "l_orderkey", item = "item", maxBasket = 20,
        minSup = 3L, k = 25)),

    // per-nation revenue trend: int64-cent yearly points, OLS slope and
    // intercept from exact moment sums + identical double algebra
    "trend_fit" -> ((s, dir) => {
      val pts = table(s, dir, "orders")
        .join(table(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(table(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          (year(col("o_orderdate")) - 1992).cast("long").as("x"))
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
          .as("y"))
      graft.operators.Stats.groupedOls(pts, "nation", "x", "y")
    }),
    // pairwise Pearson over quantized lineitem measures — one aggregate
    // of int64 moments, closing r algebra in double
    "corr_matrix" -> ((s, dir) =>
      graft.operators.Stats.corrPairs(
        table(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice")).cast("long").as("price_usd"),
          floor(col("l_discount") * 10000 + 0.5).cast("long")
            .as("disc_bp")),
        Seq("qty", "price_usd", "disc_bp"))),
    // chi-square independence of nation × market segment — the whole
    // statistic in scaled int64 long division: per-cell
    // (O·N − rT·cT)²·scale / (rT·cT·N) as quotient + scaled remainder,
    // so the cross-cell sum is order-free and exact in both engines
    "chi_square" -> ((s, dir) =>
      graft.operators.Stats.chiSquare(
        table(s, dir, "customer"), "c_nationkey", "c_mktsegment")),
    // association rules from the basket scan: exact integer confidence
    // and lift ppm, top-25 by lift — directed rules over capped baskets
    "assoc_rules" -> ((s, dir) =>
      graft.operators.EventAnalytics.assocRules(
        table(s, dir, "lineitem"), basket = "l_orderkey",
        item = "l_partkey", maxBasket = 20, k = 25)),

    // ---- streaming-analog (event time) -----------------------------------
    // Tumbling 1h event-time windows (batch twin of the Structured
    // Streaming pipeline in graft.streaming).
    "stream_hourly" -> ((s, dir) => {
      val e = table(s, dir, "events")
      e.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"), col("n"), col("total"))
    }),
    "sessionize" -> ((s, dir) => {
      val e = table(s, dir, "events")
      Sessionize.sessionize(e, key = "user_id", ts = "ts",
        tiebreak = "event_id", gapMicros = 1800L * 1000000L)
        .groupBy(col("user_id"))
        .agg(max(col("session_id")).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),
    // the STREAMING stateful path under the oracle gate: events flow
    // through a real file stream into flatMapGroupsWithState
    // (StatefulSessions), one AvailableNow pass into a memory sink. A
    // per-user sentinel event 2×gap past the global max timestamp closes
    // every real session via the in-stream gap path (the sentinel's own
    // session is dangling and never emitted), so the emitted set equals
    // the batch sessionization exactly — no dependence on timeout timing.
    // The oracle recomputes sessions relationally; session-boundary
    // micros land in the checksum, so a single mis-bucketed event fails
    // the gate.
    "sessionize_stream" -> ((s, dir) =>
      sessionizeStreamGate(s, dir, "stream")(
        (ds, gapMs) => graft.streaming.StatefulSessions.sessions(
          ds, gapMs = gapMs, watermark = SessionStreamWatermark))),

    // streaming exact-dedup under the gate: +10% injected duplicate
    // event_ids flow through a file stream into
    // dropDuplicatesWithinWatermark; the oracle is the duplicate-free
    // per-type count (the injected copies must all collapse)
    "stream_dedup" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("ts"))
      val aug = e.unionByName(e.where(col("event_id") % 10 === 0))
      val tmp = StageFiles.dir("dedup", dir)
      aug.coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(aug.schema).parquet(tmp)
      val sunk = Streams.toMemory(s,
        graft.streaming.EventStreams.dedup(stream,
          watermark = SessionStreamWatermark),
        "graft_stream_dedup", "append")
      StageFiles.rm(tmp)
      sunk.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
    }),
    // STREAMING windowed heavy hitters (trending detection): hourly
    // type counts aggregate in the stream engine (complete mode — the
    // bounded-snapshot twin of the production watermark+append path),
    // then the bounded per-window top-3 ranks in batch
    "stream_topn" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("ts"), col("event_type"), col("value"))
      val tmp = StageFiles.dir("topn", dir)
      e.coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(e.schema).parquet(tmp)
      val sunk = Streams.toMemory(s,
        stream
          .groupBy(window(col("ts"), "1 hour").as("w"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm")
            .as("hour"), col("event_type"), col("n")),
        "graft_stream_topn", "complete")
      StageFiles.rm(tmp)
      sunk
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("hour"))
            .orderBy(col("n").desc, col("event_type"))).cast("long"))
        .where(col("rn") <= 3)
    }),
    // the STREAMING twin of incr_agg: the same per-key
    // count/sum/min/max materialized aggregate maintained continuously
    // by Structured Streaming's own state (update-by-monoid is exactly
    // what a streaming agg does per micro-batch); two source files force
    // a multi-batch run so state genuinely carries across batches, and
    // the oracle is the identical batch group-by over all events
    "stream_incr_agg" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("user_id"),
        floor(col("value") * 1000).cast("long").as("v"))
      val tmp = StageFiles.dir("sincr", dir)
      e.where(col("user_id") % 10 =!= 0).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      e.where(col("user_id") % 10 === 0).coalesce(1)
        .write.mode("append").parquet(tmp)
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val sunk = Streams.toMemory(s,
        stream.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v")),
        "graft_stream_incr", "complete")
      StageFiles.rm(tmp)
      sunk
    }),
    // STREAMING funnel maintenance: the strict-order funnel_stages
    // pipeline maintained incrementally by StatefulFunnel — per-user
    // state is (stage index, last qualifying time), O(1), never an
    // event list. Three event-time-range files with forced mtime order
    // arrive as separate micro-batches (per-user time order holds
    // because the cuts are global), the update-mode sink records each
    // user's progression, and the furthest stage per user must equal
    // the batch funnel's membership — checked against the SAME oracle
    // text as funnel_stages.
    "stream_funnel" -> ((s, dir) => {
      import java.nio.file.{Files, Paths, StandardCopyOption}
      import java.nio.file.attribute.FileTime
      val e = table(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val mm = e.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val c1 = lo + (hi - lo) / 3
      val c2 = lo + 2 * ((hi - lo) / 3)
      val base = StageFiles.dir("sfunnel", dir)
      val src = s"$base/src"
      Files.createDirectories(Paths.get(src))
      def stage(df: DataFrame, n: Int): Unit =
        graft.streaming.StageFiles.stageTimedParquet(df, base, src, n)
      stage(e.where(unix_micros(col("ts")) <= c1), 1)
      stage(e.where(unix_micros(col("ts")) > c1 &&
        unix_micros(col("ts")) <= c2), 2)
      stage(e.where(unix_micros(col("ts")) > c2), 3)
      import s.implicits._
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .as[graft.streaming.FunnelEvent]
      val sunk = Streams.toMemory(s,
        graft.streaming.StatefulFunnel.progress(stream,
            Seq("view", "click", "purchase"))
          .toDF(),
        "graft_stream_funnel", "update")
      StageFiles.rm(base)
      val fin = sunk.groupBy(col("user_id"))
        .agg(max(col("stage")).as("reached"))
      val labels = Seq((1L, "1_view"), (2L, "2_click"), (3L, "3_purchase"))
        .toDF("k", "stage")
      broadcast(labels).join(fin, expr("reached >= k"), "left")
        .groupBy(col("stage")).agg(count(col("user_id")).as("n_entities"))
    }),
    // sketches AS streaming state: the per-(group, bucket) HLL register
    // max IS a streaming aggregate (max is a monoid), so the distinct-
    // user sketch maintains itself across micro-batches; the batch
    // estimate read off the sink must equal the batch-built sketch
    // (sketch_hll_grouped's own oracle, shared text)
    "stream_hll" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("event_type"), col("user_id"))
      val tmp = StageFiles.dir("shll", dir)
      e.where(col("user_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      e.where(col("user_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(tmp)
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val regs = graft.operators.Sketches.hllBuildGrouped(
        stream, Seq("event_type"), "user_id", m = 32)
      val sunk = Streams.toMemory(s, regs, "graft_stream_hll", "complete")
      StageFiles.rm(tmp)
      graft.operators.Sketches.hllEstimateGrouped(
        sunk, Seq("event_type"), m = 32)
    }),
    // EVENT-TIME-WINDOWED sketch state: per-(event_type, day) HLL
    // registers maintain themselves as a streaming aggregate (register
    // max is a monoid per window cell), giving continuous per-window
    // distinct-user estimates — the dashboard query at 100 TB/day where
    // exact windowed COUNT(DISTINCT) would shuffle per-user rows per
    // window. Estimates off the sunk registers must equal the batch
    // windowed sketch.
    "stream_hll_windowed" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("event_type"),
          expr("unix_micros(ts) div 86400000000").as("day"),
          col("user_id"))
      val tmp = StageFiles.dir("shllw", dir)
      e.where(col("user_id") % 2 === 0).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      e.where(col("user_id") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(tmp)
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(tmp)
      val regs = graft.operators.Sketches.hllBuildGrouped(
        stream, Seq("event_type", "day"), "user_id", m = 32)
      val sunk = Streams.toMemory(s, regs, "graft_stream_hllw", "complete")
      StageFiles.rm(tmp)
      graft.operators.Sketches.hllEstimateGrouped(
        sunk, Seq("event_type", "day"), m = 32)
    }),

    // STREAM-STATIC enrichment under the gate: events flow through a
    // file stream and broadcast-join the static customer dimension per
    // micro-batch (no state, no watermark needed — the bounded-by-
    // construction join class); the oracle is the equivalent batch join
    "stream_enrich" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = StageFiles.dir("senrich", dir)
      e.coalesce(1).write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(e.schema).parquet(tmp)
      val dim = table(s, dir, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      val sunk = Streams.toMemory(s,
        graft.streaming.EventStreams.enrich(stream, dim, "user_id"),
        "graft_stream_enrich", "append")
      StageFiles.rm(tmp)
      sunk.groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
    }),
    // INCREMENTAL CDC materialization under the gate: the event
    // changelog split into 3 source files, drained one file per
    // micro-batch; each batch merges into a versioned compacted state
    // (tombstones kept so late older records cannot resurrect deleted
    // keys). The final state filtered of tombstones must equal the batch
    // compaction over everything — the same oracle as changelog_compact.
    "changelog_stream" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"))
      // per-run unique base: stale state/checkpoints from a concurrent
      // or crashed run would otherwise corrupt the versioned merge
      val base = StageFiles.dir("cdc_stream", dir)
      val src = s"$base/src"
      for (i <- 0 until 3)
        e.where(col("event_id") % 3 === i).coalesce(1)
          .write.mode("append").parquet(src)
      val stream = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      Streams.run(s) {
        graft.streaming.EventStreams.materializeChangelog(
          stream, s"$base/state", s"$base/ckpt",
          key = "user_id", seq = "event_id",
          isDelete = col("event_type") === "error").awaitTermination()
      }
      val v = graft.streaming.EventStreams.latestVersion(s"$base/state").get
      // the result READS the staged state dir — materialize eagerly
      // before deleting it (memory-sink gates don't need this)
      val out = s.read.parquet(s"$base/state/v$v")
        .where(!col("_is_delete"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"),
          col("value").as("last_value"))
        .localCheckpoint(true)
      StageFiles.rm(base)
      out
    }),
    // STREAM-STREAM interval join under the gate: clicks and purchases
    // read as two file streams, joined per user within [click_ts,
    // click_ts + 1h] (watermarked both sides so join state is evicted
    // past the horizon at scale). One AvailableNow batch carries all
    // events, so the inner join emits every qualifying pair — the oracle
    // is the equivalent batch interval join in microsecond arithmetic.
    "stream_join" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts"))
      val tmp = StageFiles.dir("sjoin", dir)
      e.coalesce(1).write.mode("overwrite").parquet(tmp)
      def stream = s.readStream.schema(e.schema).parquet(tmp)
      val joined = graft.streaming.EventStreams.purchaseAttribution(
        stream.where(col("event_type") === "click"),
        stream.where(col("event_type") === "purchase"))
      val sunk = Streams.toMemory(s,
        joined,
        "graft_stream_join", "append")
      StageFiles.rm(tmp)
      sunk.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("click_id") * 100003L + col("purchase_id"))
            .as("checksum"))
    }),
    // STREAM-STREAM LEFT OUTER join: unmatched clicks emit null-purchase
    // rows only once the watermark passes click_ts + horizon — the
    // state-eviction semantics a single-batch run never exercises. Three
    // staged source files (real data, then two far-future sentinel
    // click/purchase pairs under user_id -1) with maxFilesPerTrigger=1
    // force three micro-batches: batch 2's sentinels advance the
    // watermark past every real click's horizon, batch 3 flushes the
    // outer state. Sentinels are self-non-matching (10 days apart) and
    // filtered from the result; the oracle is the batch LEFT JOIN.
    // STREAM-STREAM FULL OUTER join — the join matrix's last cell
    // (inner + leftOuter above): unmatched CLICKS and unmatched
    // PURCHASES both emit null-other-side rows once the watermark
    // passes their horizon; same three-staged-micro-batch harness as
    // stream_join_outer, same batch FULL JOIN oracle
    "stream_join_full" -> ((s, dir) =>
      streamJoinStaged(s, dir, "fullOuter", "sjf")
        .where(col("user_id") >= 0L)
        .groupBy(col("user_id"))
        .agg(sum(when(col("click_id").isNotNull &&
            col("purchase_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
          sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
            .as("n_unmatched_clicks"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L))
            .as("n_unmatched_purchases"),
          sum(coalesce(col("click_id"), lit(0L)) * 100003L +
            coalesce(col("purchase_id"), lit(0L))).as("checksum"))),

    "stream_join_outer" -> ((s, dir) =>
      streamJoinStaged(s, dir, "leftOuter", "sjo")
        .where(col("user_id") >= 0L)
        .groupBy(col("user_id"))
        .agg(count(col("purchase_id")).as("n_matched"),
          sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
            .as("n_unmatched"),
          sum(col("click_id") * 100003L +
            coalesce(col("purchase_id"), lit(0L))).as("checksum"))),
    // same contract through Spark 4's transformWithState (typed named
    // state + event-time timers on RocksDB column families) — the
    // successor API to flatMapGroupsWithState, under the same oracle
    "sessionize_tws" -> ((s, dir) => {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
      try sessionizeStreamGate(s, dir, "tws")(
        (ds, gapMs) => graft.streaming.StatefulSessionsTws.sessions(
          ds, gapMs = gapMs, watermark = SessionStreamWatermark))
      finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }),

    // ---- scalar functions (dates) ----------------------------------------
    "date_functions" -> ((s, dir) =>
      table(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          quarter(col("o_orderdate")).cast("long").as("q"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total"))),

    // ---- scalar functions (JSON) -----------------------------------------
    "events_json" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n")))
  )

  /** Shared CTE chain of the resample oracle (reused by lag_features). */
  private val ResampleCtes: String =
    """ev AS (SELECT user_id AS e, epoch_us(ts) // 3600000000 AS b,
      |    value AS v, event_id AS s FROM events),
      |agg AS (SELECT e, b, arg_max(v, s) AS v_obs,
      |    CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY e, b),
      |span AS (SELECT e, min(b) AS b0, max(b) AS b1 FROM agg GROUP BY e),
      |grid AS (SELECT e, unnest(range(b0, b1 + 1)) AS b FROM span),
      |j AS (SELECT g.e, g.b, agg.v_obs, COALESCE(agg.n, 0) AS n_events
      |      FROM grid g LEFT JOIN agg ON g.e = agg.e AND g.b = agg.b)""".stripMargin

  private val ResampleSelect: String =
    """SELECT e AS user_id, b AS bucket, n_events,
      |  last_value(v_obs IGNORE NULLS) OVER (PARTITION BY e ORDER BY b)
      |    AS v_filled
      |FROM j""".stripMargin

  def oracles: Map[String, String] = Map(
    "join_topk_q3" ->
      """SELECT l_orderkey AS orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,
    "join_broadcast_nation" ->
      """SELECT n_name AS nation, r_name AS region,
        |       round(sum(l_extendedprice), 2) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name, r_name""".stripMargin,
    "join_semi" ->
      """SELECT c_custkey AS id, c_name AS name FROM customer
        |WHERE c_custkey IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')""".stripMargin,
    "join_anti" ->
      """SELECT c_custkey AS id, c_name AS name FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)""".stripMargin,
    "join_asof" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, s.event_id AS signup_id,
        |         row_number() OVER (
        |           PARTITION BY e.event_id
        |           ORDER BY s.ts DESC NULLS LAST,
        |                    s.event_id DESC NULLS LAST) AS rn
        |  FROM events e
        |  LEFT JOIN events s
        |    ON s.user_id = e.user_id AND s.event_type = 'signup'
        |   AND s.ts < e.ts
        |)
        |SELECT event_id, user_id, signup_id FROM j WHERE rn = 1""".stripMargin,
    "join_asof_fwd" ->
      """WITH j AS (
        |  SELECT e.event_id, e.user_id, c.event_id AS next_click_id,
        |         row_number() OVER (
        |           PARTITION BY e.event_id
        |           ORDER BY c.ts ASC NULLS LAST,
        |                    c.event_id ASC NULLS LAST) AS rn
        |  FROM events e
        |  LEFT JOIN events c
        |    ON c.user_id = e.user_id AND c.event_type = 'click'
        |   AND c.ts > e.ts
        |  WHERE e.event_type = 'error'
        |)
        |SELECT event_id, user_id, next_click_id FROM j WHERE rn = 1""".stripMargin,
    "join_range" ->
      """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tus
        |           FROM events WHERE event_type = 'error'),
        |c AS (SELECT user_id, epoch_us(ts) AS tus
        |      FROM events WHERE event_type = 'click')
        |SELECT e.event_id, CAST(count(c.tus) AS BIGINT) AS n_clicks
        |FROM e LEFT JOIN c
        |  ON c.user_id = e.user_id AND c.tus < e.tus
        | AND c.tus >= e.tus - 600000000
        |GROUP BY e.event_id""".stripMargin,
    "window_topk_agg" ->
      """SELECT custkey, orderkey, totalprice, rn FROM (
        |  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |         o_totalprice AS totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,
    "agg_rollup" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "agg_cube" ->
      """SELECT l_returnflag AS returnflag, l_linestatus AS linestatus,
        |       round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "agg_pivot" ->
      """SELECT user_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "agg_distinct" ->
      """SELECT l_returnflag AS returnflag,
        |       count(DISTINCT l_partkey) AS n_parts,
        |       count(DISTINCT l_suppkey) AS n_supps,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // quantile_cont's interpolation formula is not version-pinned (the
    // same latitude class as round() — see COVERAGE.md round() ban), so
    // the oracle replays Spark Percentile's EXACT expression instead:
    // pos = q·(n−1); lower==higher → element, else
    // (higher−pos)·a[lower] + (pos−lower)·a[higher]. q literals in
    // exponent notation (0.9 would parse DECIMAL — the float-literal
    // rule).
    "agg_percentiles" -> {
      def interp(arr: String, q: String) =
        s"""CASE WHEN floor($q * (n - 1)) = ceil($q * (n - 1))
           |     THEN $arr[1 + CAST($q * (n - 1) AS INTEGER)]
           |     ELSE (ceil($q * (n - 1)) - $q * (n - 1))
           |            * $arr[1 + CAST(floor($q * (n - 1)) AS INTEGER)]
           |        + ($q * (n - 1) - floor($q * (n - 1)))
           |            * $arr[1 + CAST(ceil($q * (n - 1)) AS INTEGER)]
           |END""".stripMargin
      s"""WITH s AS (SELECT l_returnflag,
         |    list_sort(list(l_quantity)) AS qs,
         |    list_sort(list(l_extendedprice)) AS ps,
         |    count(*) AS n
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag AS returnflag,
         |  floor((${interp("qs", "0.5e0")}) * 1000000 + 0.5) / 1000000
         |    AS med_qty,
         |  floor((${interp("ps", "0.9e0")}) * 1000000 + 0.5) / 1000000
         |    AS p90_price,
         |  floor((${interp("ps", "0.99e0")}) * 1000000 + 0.5) / 1000000
         |    AS p99_price
         |FROM s""".stripMargin
    },
    "window_topk" ->
      """SELECT custkey, orderkey, totalprice, rn FROM (
        |  SELECT o_custkey AS custkey, o_orderkey AS orderkey,
        |         o_totalprice AS totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3""".stripMargin,
    "window_running" ->
      """SELECT event_id, user_id,
        |       round(sum(value) OVER (PARTITION BY user_id
        |         ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |         AS running
        |FROM events""".stripMargin,
    "setop_except" ->
      """SELECT p_partkey AS id FROM part
        |EXCEPT
        |SELECT l_partkey FROM lineitem""".stripMargin,
    "sort_topk" ->
      """SELECT o_orderkey AS orderkey, o_totalprice AS totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin,
    // replays the Morton spread bit-for-bit (masks 0x00FF00FF, 0x0F0F0F0F,
    // 0x33333333, 0x55555555 in decimal), interleave, block shift, stats
    "zorder_audit" ->
      """WITH d AS (SELECT o_custkey % 65536 AS x,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) % 65536 AS y
        |  FROM orders),
        |s1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS x1,
        |                    (y | (y << 8)) & 16711935 AS y1 FROM d),
        |s2 AS (SELECT x, y, (x1 | (x1 << 4)) & 252645135 AS x2,
        |                    (y1 | (y1 << 4)) & 252645135 AS y2 FROM s1),
        |s3 AS (SELECT x, y, (x2 | (x2 << 2)) & 858993459 AS x3,
        |                    (y2 | (y2 << 2)) & 858993459 AS y3 FROM s2),
        |s4 AS (SELECT x, y, (x3 | (x3 << 1)) & 1431655765 AS x4,
        |                    (y3 | (y3 << 1)) & 1431655765 AS y4 FROM s3),
        |z AS (SELECT x, y, (x4 | (y4 << 1)) >> 24 AS block FROM s4)
        |SELECT block, count(*) AS n_rows,
        |  min(x) AS x_min, max(x) AS x_max,
        |  min(y) AS y_min, max(y) AS y_max
        |FROM z GROUP BY block""".stripMargin,
    "compaction_plan" ->
      """WITH f AS (SELECT l_returnflag AS part, l_orderkey % 50 AS file_id,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS size
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (SELECT part, file_id, size,
        |    CAST(sum(size) OVER (PARTITION BY part ORDER BY file_id)
        |      AS BIGINT) AS cum
        |  FROM f)
        |SELECT part, file_id, size, (cum - size) // 20000 AS group_id
        |FROM c""".stripMargin,
    // identical oracle to changelog_compact: after draining, the
    // incremental state must equal the batch compaction
    "changelog_stream" ->
      """SELECT user_id,
        |  arg_max(event_id, event_id) AS last_event_id,
        |  arg_max(event_type, event_id) AS last_event_type,
        |  arg_max(value, event_id) AS last_value
        |FROM events GROUP BY user_id
        |HAVING arg_max(event_type, event_id) <> 'error'""".stripMargin,
    // arg_max on the unique event_id ≡ Spark's max over the seq-led
    // struct; range() densifies the grid; IGNORE NULLS last_value is the
    // forward fill (default RANGE frame ≡ rowsBetween on the unique b)
    "resample_ffill" -> s"WITH $ResampleCtes\n$ResampleSelect",
    // lag/rolling features ON the resampled grid — the same CTE chain,
    // then integer-cents lags and a ROWS-frame sum (cast: DuckDB window
    // sums of BIGINT widen to HUGEINT)
    "lag_features" ->
      s"""WITH $ResampleCtes,
         |r AS ($ResampleSelect)
         |SELECT user_id, bucket,
         |  CAST(floor(v_filled * 100 + 0.5) AS BIGINT) AS v_cents,
         |  lag(CAST(floor(v_filled * 100 + 0.5) AS BIGINT), 1)
         |    OVER w AS lag_1,
         |  lag(CAST(floor(v_filled * 100 + 0.5) AS BIGINT), 24)
         |    OVER w AS lag_24,
         |  CAST(sum(CAST(floor(v_filled * 100 + 0.5) AS BIGINT))
         |    OVER (PARTITION BY user_id ORDER BY bucket
         |          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS roll3_sum
         |FROM r
         |WINDOW w AS (PARTITION BY user_id ORDER BY bucket)""".stripMargin,
    "funnel_stages" -> FunnelStagesOracle,
    // the incremental maintenance result must equal the batch funnel —
    // byte-identical oracle text, shared on purpose
    "stream_funnel" -> FunnelStagesOracle,
    "funnel_windowed" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(s1.t1) AS t1, min(e.ts) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t1
        |         AND epoch_us(e.ts) <= epoch_us(s1.t1) + 259200000000
        |       GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        |         AND epoch_us(e.ts) <= epoch_us(s2.t1) + 259200000000
        |       GROUP BY e.user_id)
        |SELECT '1_view' AS stage,
        |       (SELECT count(*) FROM s1) AS n_entities
        |UNION ALL SELECT '2_click', (SELECT count(*) FROM s2)
        |UNION ALL SELECT '3_purchase', (SELECT count(*) FROM s3)""".stripMargin,
    // the streaming register state must land on exactly the batch
    // sketch — shared oracle text with sketch_hll_grouped
    "stream_hll" -> QueriesPipeline.hllGroupedOracle,
    // windowed twin: the same register pipeline with the day window
    // carried through every stage
    "stream_hll_windowed" -> {
      val c = String.format(java.util.Locale.ROOT, "%.17e",
        Double.box(graft.operators.Sketches.hllAlphaNumerator(32)))
      s"""WITH x0 AS (SELECT event_type,
         |              epoch_us(ts) // 86400000000 AS day,
         |              (user_id % 1000000007 + 1000000007)
         |                % 1000000007 AS x
         |            FROM events),
         |y0 AS (SELECT event_type, day,
         |         (x * x + x * 31 + 7) % 1000000007 AS y FROM x0),
         |z0 AS (SELECT event_type, day,
         |         (y * y + y * 37 + 11) % 1000000007 AS z FROM y0),
         |h AS (SELECT event_type, day, z % 32 AS bucket,
         |        (z * z + z * 41 + 13) % 1000000007 AS h2 FROM z0),
         |r AS (SELECT event_type, day, bucket,
         |        max(CASE WHEN h2 = 0 THEN 40
         |            ELSE least(bit_count((h2 & -h2) - 1) + 1, 40) END)
         |          AS register
         |      FROM h GROUP BY 1, 2, 3),
         |s AS (SELECT event_type, day,
         |        CAST(count(*) AS BIGINT) AS n_present,
         |        CAST(sum(1::BIGINT << CAST(40 - register AS INTEGER))
         |          AS BIGINT) AS sum_present
         |      FROM r GROUP BY 1, 2)
         |SELECT event_type, day, n_present,
         |  sum_present + (32 - n_present) * (1::BIGINT << 40) AS sum_term,
         |  CAST(floor(CAST($c AS DOUBLE)
         |    / (sum_present + (32 - n_present) * (1::BIGINT << 40))
         |    * 1000.0) AS BIGINT) AS est_x1000
         |FROM s""".stripMargin
    },
    "stream_quantile" ->
      """WITH b AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT)
        |    // 500 AS bin FROM events),
        |c AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
        |cum AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT)
        |          AS n_le FROM c),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM b),
        |q(q_pct) AS (VALUES (CAST(50 AS BIGINT)), (90), (99))
        |SELECT q_pct, min(bin) AS bin, min(bin) * 500 AS bin_lo
        |FROM q, cum, t WHERE n_le * 100 >= q_pct * total
        |GROUP BY q_pct""".stripMargin,
    "conversion_lag_hist" ->
      """WITH t AS (SELECT user_id AS e, epoch_us(ts) AS tus FROM events
        |           WHERE event_type = 'click'),
        |c AS (SELECT user_id AS e, epoch_us(ts) AS cus,
        |        event_id AS conv_id FROM events
        |      WHERE event_type = 'purchase'),
        |f AS (SELECT c.conv_id, min(t.tus) AS ft, max(c.cus) AS cus2
        |      FROM c JOIN t ON t.e = c.e
        |      WHERE t.tus < c.cus AND t.tus >= c.cus - 604800000000
        |      GROUP BY 1)
        |SELECT (cus2 - ft) // 86400000000 AS lag_days, count(*) AS n
        |FROM f GROUP BY 1""".stripMargin,
    "decayed_engagement" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus FROM events),
        |mx AS (SELECT max(tus) AS maxt FROM e)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(sum(1000000 >> CAST(least(
        |    (maxt - tus) // 604800000000, 40) AS INTEGER)) AS BIGINT)
        |    AS engagement
        |FROM e, mx GROUP BY 1""".stripMargin,
    // the streaming grid must land on exactly the batch CMS
    "stream_cms" -> QueriesPipeline.cmsOracle,
    "interarrival_stats" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id
        |           FROM events),
        |g AS (SELECT user_id, tus - lag(tus) OVER (
        |        PARTITION BY user_id ORDER BY tus, event_id) AS gap
        |      FROM e),
        |g2 AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
        |r AS (SELECT user_id, gap,
        |        row_number() OVER (PARTITION BY user_id ORDER BY gap)
        |          AS rn,
        |        count(*) OVER (PARTITION BY user_id) AS cnt FROM g2),
        |med AS (SELECT user_id, gap AS median_us FROM r
        |        WHERE rn = (cnt + 1) // 2),
        |st AS (SELECT user_id, count(*) AS n_gaps,
        |         CAST(sum(gap) // count(*) AS BIGINT) AS mean_us
        |       FROM g2 GROUP BY 1)
        |SELECT st.user_id, n_gaps, mean_us, median_us
        |FROM st JOIN med USING (user_id)""".stripMargin,
    "ohlc_bars" ->
      """WITH e AS (SELECT event_type,
        |    epoch_us(ts) // 3600000000 AS hour, epoch_us(ts) AS tus,
        |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, hour, count(*) AS n,
        |  (min(struct_pack(a := tus, b := event_id, c := cents))).c
        |    AS open,
        |  max(cents) AS high, min(cents) AS low,
        |  (max(struct_pack(a := tus, b := event_id, c := cents))).c
        |    AS close
        |FROM e GROUP BY 1, 2""".stripMargin,
    "rfm_scores" ->
      """WITH p AS (SELECT user_id, epoch_us(ts) AS tus,
        |             CAST(floor(value * 100) AS BIGINT) AS cents
        |           FROM events WHERE event_type = 'purchase'),
        |mx AS (SELECT max(tus) AS maxt FROM p),
        |a AS (SELECT user_id, max(tus) AS last_us, count(*) AS f,
        |        CAST(sum(cents) AS BIGINT) AS m_cents
        |      FROM p GROUP BY 1),
        |b AS (SELECT user_id,
        |        (maxt - last_us) // 86400000000 AS r_days, f, m_cents
        |      FROM a, mx),
        |c AS (SELECT *,
        |   CAST(CASE WHEN r_days <= 2 THEN 3 WHEN r_days <= 7 THEN 2
        |        ELSE 1 END AS BIGINT) AS r_score,
        |   CAST(CASE WHEN f >= 15 THEN 3 WHEN f >= 10 THEN 2
        |        ELSE 1 END AS BIGINT) AS f_score,
        |   CAST(CASE WHEN m_cents >= 50000 THEN 3
        |        WHEN m_cents >= 20000 THEN 2
        |        ELSE 1 END AS BIGINT) AS m_score
        |  FROM b)
        |SELECT user_id, r_days, f, m_cents, r_score, f_score, m_score,
        |  r_score * 100 + f_score * 10 + m_score AS rfm
        |FROM c""".stripMargin,
    // identical to incr_agg's oracle: the streaming state must land on
    // exactly the batch group-by
    "stream_incr_agg" ->
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
        |    AS sum_v,
        |  min(CAST(floor(value * 1000) AS BIGINT)) AS min_v,
        |  max(CAST(floor(value * 1000) AS BIGINT)) AS max_v
        |FROM events GROUP BY 1""".stripMargin,
    "attribution_touch" ->
      """WITH t AS (SELECT user_id AS e, epoch_us(ts) AS tus,
        |             event_id AS tid FROM events
        |           WHERE event_type = 'click'),
        |c AS (SELECT user_id AS e, epoch_us(ts) AS cus,
        |        event_id AS conv_id FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT c.conv_id, c.cus, t.tus, t.tid,
        |        (t.tus IS NOT NULL AND t.tus < c.cus AND
        |         t.tus >= c.cus - 604800000000) AS inw
        |      FROM c LEFT JOIN t ON t.e = c.e),
        |a AS (SELECT conv_id,
        |        CAST(sum(CASE WHEN inw THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_touches,
        |        min(CASE WHEN inw
        |            THEN struct_pack(a := tus, b := tid) END) AS f,
        |        max(CASE WHEN inw
        |            THEN struct_pack(a := tus, b := tid) END) AS l
        |      FROM j GROUP BY 1)
        |SELECT conv_id, n_touches,
        |  CAST(CASE WHEN n_touches > 0 THEN 1000000 // n_touches
        |       ELSE 0 END AS BIGINT) AS weight_ppm,
        |  f.b AS first_touch, l.b AS last_touch
        |FROM a""".stripMargin,
    "event_transitions" ->
      """WITH t AS (SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        |      FROM t WHERE to_type IS NOT NULL
        |      GROUP BY from_type, to_type),
        |tot AS (SELECT from_type, sum(cnt) AS tot FROM c
        |        GROUP BY from_type)
        |SELECT c.from_type, c.to_type, c.cnt,
        |       CAST(c.cnt * 1000000 // tot.tot AS BIGINT) AS p_ppm
        |FROM c JOIN tot USING (from_type)""".stripMargin,
    "precedence_pairs" ->
      """WITH f AS (SELECT user_id, event_type,
        |    min(epoch_us(ts)) AS first_us
        |  FROM events GROUP BY user_id, event_type)
        |SELECT x.event_type AS type_a, y.event_type AS type_b,
        |       CAST(count(*) AS BIGINT) AS n_entities
        |FROM f x JOIN f y ON x.user_id = y.user_id
        |  AND x.first_us < y.first_us
        |GROUP BY type_a, type_b""".stripMargin,
    "encoding_advisor" -> {
      def one(c: String): String =
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n,
           |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           |  CAST(sum(chg) AS BIGINT) AS n_runs,
           |  CAST(sum(length(v)) AS BIGINT) AS total_len
           |FROM (SELECT v, CASE WHEN lag(v) OVER (PARTITION BY rg
           |        ORDER BY ord) IS DISTINCT FROM v THEN 1 ELSE 0 END
           |        AS chg
           |      FROM (SELECT o_orderkey // 1000 AS rg,
           |              o_orderkey AS ord, CAST($c AS VARCHAR) AS v
           |            FROM orders) a) b""".stripMargin
      val cols = Seq("o_orderstatus", "o_orderpriority", "o_custkey")
      s"""WITH stats AS (${cols.map(one).mkString("\nUNION ALL\n")})
         |SELECT col_name, n, n_distinct, n_runs, total_len,
         |  CASE WHEN n_distinct * 20 <= n THEN 'dict'
         |       WHEN n_runs * 4 <= n THEN 'rle'
         |       ELSE 'plain' END AS suggestion
         |FROM stats""".stripMargin
    },
    "range_split_plan" ->
      """WITH vals AS (SELECT CAST(floor(o_totalprice * 100 + 0.5)
        |    AS BIGINT) AS v FROM orders),
        |dist AS (SELECT v, count(*) AS cnt FROM vals GROUP BY v),
        |cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS n_le FROM dist),
        |n AS (SELECT count(*) AS n FROM vals),
        |r AS (SELECT unnest(range(1, 8)) AS split_i)
        |SELECT r.split_i, CAST(min(cum.v) AS BIGINT) AS boundary
        |FROM cum, n, r WHERE cum.n_le * 8 >= r.split_i * n.n
        |GROUP BY r.split_i""".stripMargin,
    "cohort_retention" ->
      """WITH c AS (SELECT user_id,
        |    min(epoch_us(ts) // 86400000000) AS cohort_period
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS p
        |      FROM events)
        |SELECT c.cohort_period, a.p - c.cohort_period AS period_offset,
        |       CAST(count(*) AS BIGINT) AS n_active
        |FROM a JOIN c ON a.user_id = c.user_id
        |GROUP BY 1, 2""".stripMargin,
    "interval_merge" ->
      """WITH iv AS MATERIALIZED (
        |  SELECT l_suppkey AS k,
        |         CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
        |           AS BIGINT) AS s,
        |         CAST(date_diff('day', DATE '1970-01-01', l_shipdate)
        |           AS BIGINT) + CAST(l_quantity AS BIGINT) AS e
        |  FROM lineitem WHERE l_orderkey % 50 = 0),
        |m AS (SELECT k, s, e,
        |        max(e) OVER (PARTITION BY k ORDER BY s, e
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |          AS pmax
        |      FROM iv),
        |f AS (SELECT k, s, e,
        |        CAST(sum(CASE WHEN pmax IS NULL OR s > pmax
        |                 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY k ORDER BY s, e) AS BIGINT) AS isl
        |      FROM m)
        |SELECT k, isl, min(s) AS island_start, max(e) AS island_end,
        |       CAST(count(*) AS BIGINT) AS n_intervals
        |FROM f GROUP BY k, isl""".stripMargin,
    "basket_pairs" ->
      """WITH it AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |ok AS MATERIALIZED (
        |  SELECT it.bk, it.it FROM it JOIN (
        |    SELECT bk FROM it GROUP BY bk HAVING count(*) <= 20) sm
        |    USING (bk))
        |SELECT a, b, cnt FROM (
        |  SELECT x.it AS a, y.it AS b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ok x JOIN ok y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY x.it, y.it) p
        |ORDER BY cnt DESC, a, b LIMIT 25""".stripMargin,
    "event_paths" ->
      """WITH s AS (SELECT user_id AS u,
        |    epoch_us(ts) // 86400000000 AS d,
        |    list(event_type ORDER BY ts, event_id) AS types
        |  FROM events GROUP BY u, d),
        |p AS (SELECT array_to_string(types[1:4], '>') AS path FROM s)
        |SELECT path, CAST(count(*) AS BIGINT) AS n FROM p
        |GROUP BY path ORDER BY n DESC, path LIMIT 15""".stripMargin,
    "neg_sample_weighted" ->
      """WITH c AS (SELECT l_partkey AS tid, count(*) AS cnt
        |           FROM lineitem GROUP BY l_partkey),
        |g0 AS (SELECT tid, cnt*cnt*cnt AS n3,
        |         CAST(floor(sqrt(sqrt(CAST(cnt*cnt*cnt AS DOUBLE))))
        |           AS BIGINT) AS g
        |       FROM c),
        |wt AS (SELECT tid,
        |         CASE WHEN (g+2)*(g+2)*(g+2)*(g+2) <= n3 THEN g+2
        |              WHEN (g+1)*(g+1)*(g+1)*(g+1) <= n3 THEN g+1
        |              WHEN g*g*g*g <= n3 THEN g
        |              WHEN (g-1)*(g-1)*(g-1)*(g-1) <= n3 THEN g-1
        |              ELSE g-2 END AS w
        |       FROM g0),
        |r AS (SELECT tid, w,
        |        CAST(sum(w) OVER (ORDER BY tid) AS BIGINT) AS hi
        |      FROM wt WHERE w > 0),
        |rr AS (SELECT tid, hi - w AS lo, hi FROM r),
        |t AS (SELECT max(hi) AS t FROM rr),
        |s AS (SELECT j, (j * 2654435761 + 12345) % t.t AS r
        |      FROM range(0, 200) q(j), t)
        |SELECT s.j, s.r, rr.tid
        |FROM s JOIN rr ON s.r >= rr.lo AND s.r < rr.hi""".stripMargin,
    "assoc_triples" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS bk,
        |    l_partkey % 50 AS it FROM lineitem),
        |ok AS (SELECT i.* FROM items i JOIN (
        |    SELECT bk FROM items GROUP BY bk HAVING count(*) <= 20) s
        |    USING (bk)),
        |p AS (SELECT x.it AS a, y.it AS b, count(*) AS cnt
        |      FROM ok x JOIN ok y ON x.bk = y.bk AND x.it < y.it
        |      GROUP BY x.it, y.it),
        |fp AS (SELECT a, b FROM p WHERE cnt >= 3),
        |po AS (SELECT x.bk, x.it AS a, y.it AS b
        |       FROM ok x JOIN ok y ON x.bk = y.bk AND x.it < y.it
        |       JOIN fp ON fp.a = x.it AND fp.b = y.it),
        |tr AS (SELECT po.a, po.b, z.it AS c, count(*) AS cnt
        |       FROM po JOIN ok z ON z.bk = po.bk AND z.it > po.b
        |       JOIN fp f2 ON f2.a = po.a AND f2.b = z.it
        |       JOIN fp f3 ON f3.a = po.b AND f3.b = z.it
        |       GROUP BY po.a, po.b, z.it)
        |SELECT a, b, c, CAST(cnt AS BIGINT) AS cnt FROM tr
        |WHERE cnt >= 3 ORDER BY cnt DESC, a, b, c LIMIT 25""".stripMargin,
    "chi_square" ->
      """WITH cells AS (SELECT c_nationkey AS ka, c_mktsegment AS kb,
        |                CAST(count(*) AS BIGINT) AS o
        |              FROM customer GROUP BY 1, 2),
        |rt AS (SELECT ka, CAST(sum(o) AS BIGINT) AS ra
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT kb, CAST(sum(o) AS BIGINT) AS cb
        |       FROM cells GROUP BY 1),
        |tt AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_r FROM rt),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_c FROM ct),
        |cc AS (SELECT (o * n - ra * cb) AS diff, ra * cb * n AS den
        |       FROM cells JOIN rt USING (ka) JOIN ct USING (kb), tt)
        |SELECT tt.n, nr.n_r, nc.n_c,
        |       (nr.n_r - 1) * (nc.n_c - 1) AS dof,
        |       (SELECT CAST(sum(diff * diff // den * 1000000
        |          + (diff * diff % den) * 1000000 // den) AS BIGINT)
        |        FROM cc) AS chi2_scaled
        |FROM tt, nr, nc""".stripMargin,
    "trend_fit" ->
      """WITH pts AS MATERIALIZED (
        |  SELECT n_name AS nation,
        |         CAST(year(o_orderdate) - 1992 AS BIGINT) AS x,
        |         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5)
        |           AS BIGINT)) AS BIGINT) AS y
        |  FROM orders, customer, nation
        |  WHERE o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  GROUP BY n_name, year(o_orderdate)),
        |m AS (SELECT nation, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * y) AS BIGINT) AS sxy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx
        |      FROM pts GROUP BY nation),
        |s AS (SELECT *,
        |        (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
        |      FROM m)
        |SELECT nation, n, sx, sy, sxy, sxx, slope,
        |       (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |         / CAST(n AS DOUBLE) AS intercept
        |FROM s""".stripMargin,
    "corr_matrix" ->
      """WITH q AS MATERIALIZED (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(floor(l_extendedprice) AS BIGINT) AS price_usd,
        |         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)
        |           AS disc_bp
        |  FROM lineitem),
        |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(qty) AS BIGINT) AS s_q,
        |        CAST(sum(price_usd) AS BIGINT) AS s_p,
        |        CAST(sum(disc_bp) AS BIGINT) AS s_d,
        |        CAST(sum(qty * qty) AS BIGINT) AS q_q,
        |        CAST(sum(price_usd * price_usd) AS BIGINT) AS q_p,
        |        CAST(sum(disc_bp * disc_bp) AS BIGINT) AS q_d,
        |        CAST(sum(qty * price_usd) AS BIGINT) AS p_qp,
        |        CAST(sum(qty * disc_bp) AS BIGINT) AS p_qd,
        |        CAST(sum(price_usd * disc_bp) AS BIGINT) AS p_pd
        |      FROM q)
        |SELECT 'qty' AS col_a, 'price_usd' AS col_b, n,
        |  (CAST(n AS DOUBLE) * CAST(p_qp AS DOUBLE)
        |    - CAST(s_q AS DOUBLE) * CAST(s_p AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(q_q AS DOUBLE)
        |       - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(q_p AS DOUBLE)
        |       - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))) AS r
        |FROM m
        |UNION ALL
        |SELECT 'qty', 'disc_bp', n,
        |  (CAST(n AS DOUBLE) * CAST(p_qd AS DOUBLE)
        |    - CAST(s_q AS DOUBLE) * CAST(s_d AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(q_q AS DOUBLE)
        |       - CAST(s_q AS DOUBLE) * CAST(s_q AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(q_d AS DOUBLE)
        |       - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        |FROM m
        |UNION ALL
        |SELECT 'price_usd', 'disc_bp', n,
        |  (CAST(n AS DOUBLE) * CAST(p_pd AS DOUBLE)
        |    - CAST(s_p AS DOUBLE) * CAST(s_d AS DOUBLE))
        |  / (sqrt(CAST(n AS DOUBLE) * CAST(q_p AS DOUBLE)
        |       - CAST(s_p AS DOUBLE) * CAST(s_p AS DOUBLE))
        |     * sqrt(CAST(n AS DOUBLE) * CAST(q_d AS DOUBLE)
        |       - CAST(s_d AS DOUBLE) * CAST(s_d AS DOUBLE)))
        |FROM m""".stripMargin,
    "assoc_rules" ->
      """WITH it AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |  FROM lineitem),
        |ok AS MATERIALIZED (
        |  SELECT it.bk, it.it FROM it JOIN (
        |    SELECT bk FROM it GROUP BY bk HAVING count(*) <= 20) sm
        |    USING (bk)),
        |p AS MATERIALIZED (
        |  SELECT x.it AS a, y.it AS b, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ok x JOIN ok y ON x.bk = y.bk AND x.it < y.it
        |  GROUP BY x.it, y.it),
        |n AS MATERIALIZED (
        |  SELECT it, CAST(count(*) AS BIGINT) AS n FROM ok GROUP BY it),
        |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM ok),
        |d AS (SELECT a AS x, b AS y, cnt FROM p
        |      UNION ALL SELECT b, a, cnt FROM p)
        |SELECT x, y, cnt,
        |       cnt * 1000000 // nx.n AS conf_ppm,
        |       cnt * nb.nb * 1000000 // (nx.n * ny.n) AS lift_ppm
        |FROM d JOIN n nx ON d.x = nx.it JOIN n ny ON d.y = ny.it, nb
        |ORDER BY lift_ppm DESC, x, y LIMIT 25""".stripMargin,
    "stream_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour,
        |       event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events GROUP BY 1, 2""".stripMargin,
    "sessionize" ->
      """WITH l AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT user_id,
        |         CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |              THEN 1 ELSE 0 END AS newflag
        |  FROM l)
        |SELECT user_id, CAST(sum(newflag) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM f GROUP BY user_id""".stripMargin,
    "stream_topn" ->
      """WITH c AS (
        |  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M')
        |           AS hour,
        |         event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT hour, event_type, n, rn FROM (
        |  SELECT hour, event_type, n, CAST(row_number() OVER (
        |    PARTITION BY hour ORDER BY n DESC, event_type) AS BIGINT)
        |    AS rn FROM c) t
        |WHERE rn <= 3""".stripMargin,
    "stream_dedup" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY event_type""".stripMargin,
    "stream_enrich" ->
      """SELECT c_mktsegment AS segment, event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""".stripMargin,
    "sessionize_stream" -> SessionStreamOracle,
    "stream_join_full" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             epoch_us(ts) AS ctus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |        epoch_us(ts) AS ptus
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.click_id,
        |        coalesce(c.user_id, p.p_user) AS user_id, p.purchase_id
        |      FROM c FULL JOIN p ON c.user_id = p.p_user
        |        AND p.ptus >= c.ctus AND p.ptus <= c.ctus + 3600000000)
        |SELECT user_id,
        |       CAST(sum(CASE WHEN click_id IS NOT NULL
        |                      AND purchase_id IS NOT NULL
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |       CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_unmatched_clicks,
        |       CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_unmatched_purchases,
        |       CAST(sum(COALESCE(click_id, 0) * 100003
        |         + COALESCE(purchase_id, 0)) AS BIGINT) AS checksum
        |FROM j GROUP BY user_id""".stripMargin,
    "stream_join_outer" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             epoch_us(ts) AS ctus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |        epoch_us(ts) AS ptus
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT c.click_id, c.user_id, p.purchase_id
        |      FROM c LEFT JOIN p ON c.user_id = p.p_user
        |        AND p.ptus >= c.ctus AND p.ptus <= c.ctus + 3600000000)
        |SELECT user_id, count(purchase_id) AS n_matched,
        |       CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_unmatched,
        |       CAST(sum(click_id * 100003 + COALESCE(purchase_id, 0))
        |         AS BIGINT) AS checksum
        |FROM j GROUP BY user_id""".stripMargin,
    "stream_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |             epoch_us(ts) AS ctus
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id AS p_user,
        |        epoch_us(ts) AS ptus
        |      FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT click_id, user_id, purchase_id
        |      FROM c JOIN p ON user_id = p_user
        |        AND ptus >= ctus AND ptus <= ctus + 3600000000)
        |SELECT user_id, count(*) AS n_pairs,
        |       CAST(sum(click_id * 100003 + purchase_id) AS BIGINT)
        |         AS checksum
        |FROM j GROUP BY user_id""".stripMargin,
    "sessionize_tws" -> SessionStreamOracle,
    "date_functions" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |       CAST(quarter(o_orderdate) AS BIGINT) AS q,
        |       CAST(month(o_orderdate) AS BIGINT) AS m,
        |       count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1, 2, 3""".stripMargin,
    "events_json" ->
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |            AS BIGINT) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin
  )
}
