package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's read/write-side graph operators re-expressed Spark-first
  * (SURVEY.md §2.1-§2.5). A graph is the pair of canonical DataFrames
  * `nodes(ID, LABELS, props…)` / `rels(START_ID, END_ID, TYPE, props…)`;
  * every operator below is a declarative plan on those, so Catalyst performs
  * the projection/filter pushdown the reference hand-codes
  * (GdsReadJob.java:384-389, 363-368).
  */
final case class GraphRef(nodes: DataFrame, rels: DataFrame) {

  /** S1 + P1 + P3 + P5 — node scan with property projection, label filter
    * and optional node-id remap (the reference's most-benchmarked path,
    * speed/26-aug-2021/README.md:73-88).
    *
    * @param props  property columns to keep (empty = all, the reference's
    *               ANY_PROPERTIES — GdsMessage.java:59-69)
    * @param labels keep nodes having at least one of these labels
    *               (GdsReadJob.java:363-368)
    * @param nodeId optional property replacing ID (GdsReadJob.java:388-394)
    */
  def nodeScan(props: Seq[String] = Nil, labels: Seq[String] = Nil,
               nodeId: Option[String] = None): DataFrame = {
    val available = nodes.columns.filterNot(c => c == "ID" || c == "LABELS")
    val wanted = if (props.isEmpty) available.toSeq else {
      val missing = props.filterNot(available.contains)
      require(missing.isEmpty,
        s"unknown node properties: ${missing.mkString(",")}") // P2-style NOT_FOUND
      props
    }
    val filtered =
      if (labels.isEmpty) nodes
      else nodes.where(arrays_overlap(col("LABELS"),
        array(labels.map(lit): _*)))
    val id: Column = nodeId.map(col).getOrElse(col("ID")).as("ID")
    filtered.select(id +: col("LABELS") +: wanted.map(col): _*)
  }

  /** S2 + P2 + P4 — relationship scan in the reference's long form: one row
    * per relationship per property (`START_ID, END_ID, TYPE, property,
    * value`), mimicking gds.graph.streamRelationshipProperties
    * (GdsReadJob.java:235-360). Types with none of the requested properties
    * emit a single row with null property/value (the rel itself is still
    * streamed). Implemented as a `posexplode` melt — no shuffle, and no
    * higher-order function, so the whole scan stays in generated code
    * (a `filter(pairs, lambda)` melt runs every row through the
    * interpreter).
    */
  def relScan(props: Seq[String] = Nil, types: Seq[String] = Nil): DataFrame = {
    val available = rels.columns.filterNot(c =>
      c == "START_ID" || c == "END_ID" || c == "TYPE")
    val wanted = if (props.isEmpty) available.toSeq else {
      val missing = props.filterNot(available.contains)
      require(missing.isEmpty,
        s"unknown relationship properties: ${missing.mkString(",")}")
      props
    }
    val filtered =
      if (types.isEmpty) rels else rels.where(col("TYPE").isin(types: _*))
    val keys = Seq(col("START_ID"), col("END_ID"), col("TYPE"))
    if (wanted.isEmpty)
      return filtered.select(keys ++ Seq(
        lit(null).cast("string").as("property"),
        lit(null).cast("double").as("value")): _*)
    // melt: one (property, value) pair per wanted property; keep the
    // non-null values, and for a rel whose values are ALL null keep
    // position 0 as its single null-property row
    val values = wanted.map(p => col(p).cast("double"))
    val pairs = array(wanted.zip(values).map { case (p, v) =>
      struct(lit(p).as("property"), v.as("value"))
    }: _*)
    val kept = col("pv.value").isNotNull
    filtered
      .select(keys ++ Seq(coalesce(values: _*).isNull.as("all_null"),
        posexplode(pairs).as(Seq("pos", "pv"))): _*)
      .where(kept || (col("all_null") && col("pos") === 0))
      .select(keys ++ Seq(when(kept, col("pv.property")).as("property"),
        when(kept, col("pv.value")).as("value")): _*)
  }

  /** W2 — adjacency (CSR-like) build: per (TYPE, source) sorted target list
    * + out-degree (GdsWriteJob.java:483-537). One shuffle on the group key;
    * `sort_array(collect_list(…))` is the reference's per-source sort
    * (GdsWriteJob.java:529-537) without its single-JVM ConcurrentHashMap
    * bottleneck.
    */
  def adjacency(types: Seq[String] = Nil): DataFrame = {
    val filtered =
      if (types.isEmpty) rels else rels.where(col("TYPE").isin(types: _*))
    filtered.groupBy(col("TYPE"), col("START_ID"))
      .agg(count(lit(1)).as("degree"),
        sort_array(collect_list(col("END_ID"))).as("targets"))
  }

  /** W2 — chunked adjacency: the same per-(TYPE, source) sorted-target
    * contract as [[adjacency]], but no row ever carries more than
    * `maxListSize` targets — a 100×-scale hub's adjacency arrives as many
    * bounded rows instead of one row holding the hub's entire edge list
    * (the khop chunk contract of Config.java:73-75 applied to the W2
    * build). Runs through the ChunkedCollect physical operator: ONE
    * exchange, in-partition sort by (TYPE, START_ID, END_ID) — the target
    * sort rides the exchange's sort instead of a per-row `sort_array` over
    * an unbounded collected list — then streaming chunk emission with one
    * chunk buffer of memory per group. Chunk i holds the group's sorted
    * targets at ranks [i·maxListSize, (i+1)·maxListSize). */
  def adjacencyChunked(types: Seq[String] = Nil,
                       maxListSize: Int = 2048): DataFrame = {
    val filtered =
      if (types.isEmpty) rels else rels.where(col("TYPE").isin(types: _*))
    graft.plans.ChunkedCollect(
      filtered.select(col("TYPE"), col("START_ID"), col("END_ID")),
      groups = Seq("TYPE", "START_ID"), values = Seq("END_ID"),
      maxSize = maxListSize, sortWithin = Seq("END_ID"))
  }

  /** W2 degrees — out/in degree per node over the (optionally type-filtered)
    * edge set (GdsWriteJob.java:498-514). Two partial-aggregated counts +
    * one outer join on the node id; nodes without edges are absent (same as
    * the reference, which only tracks ids seen in the rel stream). */
  def degrees(types: Seq[String] = Nil): DataFrame = {
    val filtered =
      if (types.isEmpty) rels else rels.where(col("TYPE").isin(types: _*))
    // union-of-contributions, then ONE hash aggregate: map-side partial
    // aggregation collapses each partition to its distinct ids before the
    // single shuffle. (The alternative — two aggregates + full-outer join —
    // costs two shuffles plus a join; measured ~40% slower.)
    filtered.select(col("START_ID").as("ID"), lit(1L).as("o"), lit(0L).as("i"))
      .union(filtered.select(col("END_ID"), lit(0L), lit(1L)))
      .groupBy(col("ID"))
      .agg(sum(col("o")).as("out_degree"), sum(col("i")).as("in_degree"))
  }

  /** CSR offset table — the columnar adjacency layout the reference's GDS
    * graph stores natively (offsets[] + targets[]; our W2 adjacency covers
    * targets, this covers offsets): each node's (out-degree, exclusive
    * prefix-sum offset) in ascending node-id order, so `targets[offset ..
    * offset+degree)` is the node's adjacency in a flat array.
    *
    * The prefix sum is DISTRIBUTED — a single global window would sort
    * every node through one partition. Instead: range-repartition by id,
    * per-partition running sums, then each partition's base = the sum of
    * all prior partitions' totals (a window over #partitions rows — a
    * bounded table, broadcast back). Range boundaries come from sampling
    * and may vary run to run; the OUTPUT is partition-invariant because
    * the global prefix sum is. */
  def csrOffsets(types: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint pins the sampled range boundaries: both consumers
    // below must see the SAME pid assignment (two independent evaluations
    // could re-sample different boundaries and mis-base the offsets)
    val deg = degrees(types)
      .select(col("ID").as("node"), col("out_degree").as("deg"))
      .repartitionByRange(col("node"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint(true)
    val withLocal = deg.withColumn("local_cum",
      sum(col("deg")).over(Window.partitionBy(col("pid")).orderBy(col("node"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bases = deg.groupBy(col("pid")).agg(sum(col("deg")).as("ptotal"))
      .withColumn("base",
        coalesce(sum(col("ptotal")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("base"))
    withLocal.join(broadcast(bases), "pid")
      .select(col("node"), col("deg"),
        (col("base") + col("local_cum") - col("deg")).as("offset"))
  }

  /** KHop step-1 analog — degree histogram for supernode detection
    * (KHop.java:24-57). The reference buckets by log10(degree); we bucket by
    * decimal digit count (identical partition of the integers, but exact —
    * no float boundary error at powers of ten). */
  def degreeHistogram(types: Seq[String] = Nil): DataFrame =
    degrees(types)
      .select((length((col("out_degree") + col("in_degree"))
        .cast("string"))).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_nodes"))

  /** §2.3 — k-hop subgraph per origin (k=2 = the reference's operator,
    * golden-tested; general k via frontier iteration); see [[KHop]]. */
  def khop(types: Seq[String] = Nil, k: Int = 2): DataFrame = {
    val filtered =
      if (types.isEmpty) rels else rels.where(col("TYPE").isin(types: _*))
    // CSR plan: per-edge local dedup via neighbor arrays — one exchange
    // fewer than the joins+distinct plan, measured 2-7x at sf0.1
    if (k == 2) KHop.twoHopEdgesCsr(filtered)
    else KHop.kHopEdges(filtered, k)
  }
}
