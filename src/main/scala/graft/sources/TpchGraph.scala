package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders that derive the canonical property graph (the reference's data
  * model — nodes with labels + typed properties, directed typed
  * relationships; canonical column names from
  * plugin/src/main/java/org/neo4j/arrow/Neo4jDefaults.java:8-20) from the
  * driver-provided TPC-H-ish parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Scale notes: every builder below is a pure narrow transformation
  * (scan + project + unionByName) — no shuffle, no collect. At 100 TB the
  * union preserves input parquet partitioning; Catalyst prunes unreferenced
  * branches/columns when a downstream query filters on LABELS/TYPE (each
  * branch's `label`/`type` is a literal, so `WHERE type = ...` constant-folds
  * non-matching branches to empty scans).
  */
object TpchGraph {

  val TableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Id-space offsets keeping each entity family disjoint in one long id
    * space (the reference maps GDS dense ids back to "original" 64-bit ids —
    * GdsReadJob.java:388-394; we use stable arithmetic ids instead). */
  val CustomerBase = 1000000000L
  val SupplierBase = 2000000000L
  val PartBase     = 3000000000L
  val OrderBase    = 4000000000L
  val NationBase   = 5000000000L
  val RegionBase   = 6000000000L

  /** Parquet schema memo (r11 opt, guide §6 metadata costs): without an
    * explicit schema every `spark.read.parquet` runs a footer-inference
    * JOB, and the graph builders call [[table]] 6–12× per query — ~11
    * single-task stages (~1.5 s) of pure scheduling per graph query,
    * ~2000 such jobs across one bench run. The memo holds METADATA only
    * (a StructType derived from the file footer, the thing a catalog
    * would hold); every query still scans the parquet data itself
    * fresh. Keyed by path, mtime + size (below) and the nanosAsLong
    * flag, since that session flag changes how int64-nanos columns
    * surface in the inferred schema. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // Fold mtime+size into the key so a parquet regenerated in place
    // within one JVM (testdata rebuild, SF switch reusing a dir) misses
    // the memo and re-infers instead of reading through a stale schema.
    // A directory's own mtime changes only when an entry is added,
    // removed or renamed — an in-place overwrite of a part file leaves it
    // unchanged — so a multi-file table keys on the newest mtime and the
    // total length of its files (one listing).
    val f = new java.io.File(path)
    val files = f +: Option(f.listFiles).toSeq.flatMap(_.toSeq)
    val key = path + "|" + files.map(_.lastModified).max + "|" +
      files.map(_.length).sum + "|nanos=" +
      spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = schemaCache.computeIfAbsent(key,
      _ => spark.read.parquet(path).schema)
    val base = normalizeTimestamps(spark.read.schema(schema).parquet(path))
    sys.env.get("SPARK_GRAFT_BLOWUP").map(_.trim.toInt).filter(_ > 1)
      .map(blowUp(base, name, _)).getOrElse(base)
  }

  // -------------------------- scale-up measurement mode
  // SPARK_GRAFT_BLOWUP=N (bench-only; never set by Verify or the driver)
  // models a ×N SCALE FACTOR the way TPC-H itself scales: fact tables
  // become N disjoint copies with every entity key offset per copy
  // (copies never join to each other), while region/nation stay fixed
  // dimensions. Payload columns repeat identically across copies, so
  // dedup/similarity gates run a HIGH-DUPLICATION regime (every doc has
  // N-1 exact twins — the web-corpus shape those operators exist for);
  // their candidate generators must keep pair work bounded by bucket,
  // which is exactly the 100 TB claim the measurement is probing. The
  // blowup is a narrow union of pruned scans — the measured cost is the
  // operator's, not the harness's.
  private val BlowupKeys: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Key offset per copy: far above any driver-data key (≤150k at
    * sf0.1) and N·stride stays far under the 1e9 id-family bases. */
  val BlowupStride = 10000000L

  private[graft] def blowUp(df: DataFrame, name: String, n: Int): DataFrame =
    BlowupKeys.get(name) match {
      case None => df // region/nation: fixed dimension tables
      case Some(keys) =>
        (0 until n).map { i =>
          keys.foldLeft(df)((d, k) =>
            d.withColumn(k, col(k) + lit(i * BlowupStride)))
        }.reduce(_ unionByName _)
    }

  /** Normalize the driver parquet's timestamp encodings — which have varied
    * across testdata drops — to session-zone TimestampType micros:
    *  - `ts` as raw int64 NANOS (older drops; readable only via
    *    spark.sql.legacy.parquet.nanosAsLong, still set in Verify/Bench/
    *    tests) → integer `div 1000` then timestamp_micros. Exact: the int64
    *    ns magnitude exceeds a double's 2^53 mantissa, so no float division.
    *  - parquet TIMESTAMP(US, isAdjustedToUTC=false) (current drops; loads
    *    as TIMESTAMP_NTZ) → cast to TimestampType. The cast reinterprets the
    *    wall-clock in the session zone; every entrypoint pins UTC, so the
    *    stored micros value is unchanged and matches DuckDB's epoch_us. */
  def normalizeTimestamps(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) { (d, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          d.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _: TimestampNTZType =>
          d.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => d
      }
    }

  /** Register all raw tables as temp views (for the Spark-SQL "cypher.read"
    * analog — SURVEY.md §2.1 S3: arbitrary query delegated to the SQL
    * engine, here Catalyst). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    TableNames.foreach { n =>
      table(spark, sfDir, n).createOrReplaceTempView(n)
    }

  /** Canonical node table: ID, LABELS, plus the union of per-label property
    * columns (absent properties are null — mirrors the reference's per-label
    * property schema, GdsWriteJob.java:194-199). */
  def nodes(spark: SparkSession, sfDir: String): DataFrame = {
    val c = table(spark, sfDir, "customer").select(
      (lit(CustomerBase) + col("c_custkey")).as("ID"),
      array(lit("Customer")).as("LABELS"),
      col("c_name").as("name"),
      col("c_acctbal").as("acctbal"),
      col("c_mktsegment").as("mktsegment"))
    val s = table(spark, sfDir, "supplier").select(
      (lit(SupplierBase) + col("s_suppkey")).as("ID"),
      array(lit("Supplier")).as("LABELS"),
      col("s_name").as("name"),
      col("s_acctbal").as("acctbal"))
    val p = table(spark, sfDir, "part").select(
      (lit(PartBase) + col("p_partkey")).as("ID"),
      array(lit("Part")).as("LABELS"),
      col("p_name").as("name"),
      col("p_retailprice").as("retailprice"))
    val o = table(spark, sfDir, "orders").select(
      (lit(OrderBase) + col("o_orderkey")).as("ID"),
      array(lit("Order")).as("LABELS"),
      col("o_totalprice").as("totalprice"),
      col("o_orderstatus").as("orderstatus"))
    val n = table(spark, sfDir, "nation").select(
      (lit(NationBase) + col("n_nationkey")).as("ID"),
      array(lit("Nation")).as("LABELS"),
      col("n_name").as("name"))
    val r = table(spark, sfDir, "region").select(
      (lit(RegionBase) + col("r_regionkey")).as("ID"),
      array(lit("Region")).as("LABELS"),
      col("r_name").as("name"))
    Seq(c, s, p, o, n, r).reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Canonical relationship table: START_ID, END_ID, TYPE plus double-typed
    * property columns (all GDS rel properties are doubles —
    * GdsReadJob.java:285-288; null where a type has no such property). */
  def rels(spark: SparkSession, sfDir: String): DataFrame = {
    val placed = table(spark, sfDir, "orders").select(
      (lit(CustomerBase) + col("o_custkey")).as("START_ID"),
      (lit(OrderBase) + col("o_orderkey")).as("END_ID"),
      lit("PLACED").as("TYPE"))
    val li = table(spark, sfDir, "lineitem")
    val contains = li.select(
      (lit(OrderBase) + col("l_orderkey")).as("START_ID"),
      (lit(PartBase) + col("l_partkey")).as("END_ID"),
      lit("CONTAINS").as("TYPE"),
      col("l_quantity").as("quantity"),
      col("l_extendedprice").as("extendedprice"))
    val suppliedBy = li.select(
      (lit(PartBase) + col("l_partkey")).as("START_ID"),
      (lit(SupplierBase) + col("l_suppkey")).as("END_ID"),
      lit("SUPPLIED_BY").as("TYPE"),
      col("l_extendedprice").as("extendedprice"))
    val custNation = table(spark, sfDir, "customer").select(
      (lit(CustomerBase) + col("c_custkey")).as("START_ID"),
      (lit(NationBase) + col("c_nationkey")).as("END_ID"),
      lit("FROM_NATION").as("TYPE"))
    val suppNation = table(spark, sfDir, "supplier").select(
      (lit(SupplierBase) + col("s_suppkey")).as("START_ID"),
      (lit(NationBase) + col("s_nationkey")).as("END_ID"),
      lit("FROM_NATION").as("TYPE"))
    val inRegion = table(spark, sfDir, "nation").select(
      (lit(NationBase) + col("n_nationkey")).as("START_ID"),
      (lit(RegionBase) + col("n_regionkey")).as("END_ID"),
      lit("IN_REGION").as("TYPE"))
    Seq(placed, contains, suppliedBy, custNation, suppNation, inRegion)
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The double-typed property columns present on the canonical rel table
    * (order matters: it is the long-form melt order of S2). */
  val RelPropColumns: Seq[String] = Seq("quantity", "extendedprice")
}
