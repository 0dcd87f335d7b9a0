package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (tests fork a single JVM). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 4]: 4 threads, maxFailures=4 — task retries ENABLED so
      // RetryDeterminismSpec can inject first-attempt failures
      // (maxFailures is context-level and one context serves the whole
      // forked suite, so it cannot be scoped to one spec). Known
      // tradeoff: a TRANSIENT task failure in any other suite now
      // passes after retry instead of surfacing — accepted because
      // production clusters run maxFailures=4, so green-under-retry is
      // the contract that matters; a deterministic failure still
      // propagates after 4 attempts.
      .master("local[4, 4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Names of the session's temporary views. */
  def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
      .toSet
}
