package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.streaming.StageFiles

/** One shared local session for the whole suite (tests fork a single JVM). */
object TestSpark {
  /** The run's root for every temp file and dir a spec makes, deleted at
    * JVM exit so a suite run leaves nothing in `java.io.tmpdir`. The
    * hook runs through Hadoop's manager at priority 0, after Spark's
    * own shutdown hooks have stopped the session. */
  lazy val tmpRoot: Path = {
    val root = Files.createDirectories(Paths.get(StageFiles.dir("specs", "run")))
    org.apache.hadoop.util.ShutdownHookManager.get()
      .addShutdownHook(() => StageFiles.rm(root.toString), 0)
    root
  }

  /** A fresh dir under [[tmpRoot]]. */
  def tmpDir(prefix: String): Path = Files.createTempDirectory(tmpRoot, prefix)

  /** A fresh file under [[tmpRoot]]. */
  def tmpFile(prefix: String, suffix: String): Path =
    Files.createTempFile(tmpRoot, prefix, suffix)

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
      .config("spark.sql.warehouse.dir", tmpDir("graft_wh").toString)
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
