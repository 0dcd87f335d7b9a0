package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowIpc, FlightProto, FlightService}

/** Replacing a registered flight must (a) invalidate its staged
  * partition files so partitioned readers are served the NEW rows —
  * `stagePartitions` caches per name, so an ingest path that bypasses
  * `register` would keep serving the previous upload's bytes until
  * server restart — and (b) reclaim the replaced registration's
  * server-local backing files (staged partitions, put-spill dirs)
  * after the retire grace window, without which a long-lived ingest
  * server re-uploading one flight name grows disk linearly until
  * close(). */
class FlightReplaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def msgsOf(df: org.apache.spark.sql.DataFrame) =
    ArrowIpc.toIpcStreams(df.coalesce(1)).collect().toSeq
      .flatMap(FlightProto.splitIpcStream)

  /** Staged paths are Hadoop Path strings (`file:/tmp/...`). */
  private def localDirOf(stagedPath: String): java.io.File =
    new java.io.File(
      new org.apache.hadoop.fs.Path(stagedPath).toUri.getPath)
      .getParentFile

  private def stagedDir(svc: FlightService, name: String): java.io.File = {
    val files = svc.stagePartitions(name)
    assert(files.nonEmpty, s"no staged partitions for $name")
    localDirOf(files.head)
  }

  /** A fresh service with retire grace `graceMs`; its staged and
    * spilled files are deleted when `f` returns. */
  private def withService(graceMs: Long)(f: FlightService => Unit): Unit = {
    val svc = new FlightService(spark)
    svc.retireGraceMs = graceMs
    try f(svc) finally svc.cleanupStaging()
  }

  private def stagedValues(svc: FlightService, name: String): Set[Long] =
    spark.read.format(classOf[graft.sources.ArrowIpcSource].getName)
      .load(stagedDir(svc, name).getAbsolutePath)
      .select("v").as[Long].collect().toSet

  test("re-ingesting a flight name invalidates its staged partitions: " +
    "partitioned readers see the SECOND upload's rows, and the first " +
    "upload's stage dir is reclaimed at grace=0") {
    withService(0L) { svc =>
      val df1 = Seq(1L, 2L, 3L).toDF("v")
      val df2 = Seq(10L, 20L).toDF("v")
      svc.ingestFlightData("replace_me", msgsOf(df1))
      val dir1 = stagedDir(svc, "replace_me")
      assert(dir1.exists(), s"stage dir derivation broken: $dir1")
      assert(stagedValues(svc, "replace_me") == Set(1L, 2L, 3L))
      // the regression: ingest paths that tables.put() without register()
      // leave `staged` pointing at the first upload's files
      svc.ingestFlightData("replace_me", msgsOf(df2))
      assert(stagedValues(svc, "replace_me") == Set(10L, 20L),
        "partitioned read served the REPLACED upload's rows")
      assert(!dir1.exists(),
        s"replaced stage dir survived grace=0 retirement: $dir1")
    }
  }

  test("a replaced spill-backed put retires the old spill dir at " +
    "grace=0; the new dir keeps serving") {
    withService(0L) { svc =>
      val df1 = Seq(1L, 2L, 3L).toDF("v")
      val df2 = Seq(10L, 20L).toDF("v")
      val dir1 = TestSpark.tmpDir("graft_replace_spill1_").toFile
      val dir2 = TestSpark.tmpDir("graft_replace_spill2_").toFile
      ArrowIpc.writeIpcFiles(df1, dir1.getAbsolutePath)
      ArrowIpc.writeIpcFiles(df2, dir2.getAbsolutePath)
      val desc = FlightProto.FlightDescriptor.path("spilled_replace")
      // nullable DDL: the wire schema a real put carries is nullable, and
      // the DSv2 reader checks file-vs-table schema nullability-sensitively
      assert(svc.ingestSpilledPut(desc, dir1, "v BIGINT") == 3L)
      assert(svc.ingestSpilledPut(desc, dir2, "v BIGINT") == 2L)
      assert(!dir1.exists(), s"replaced spill dir survived: $dir1")
      assert(dir2.exists(), "the LIVE registration's spill dir was deleted")
      assert(svc.require("spilled_replace")
        .select("v").as[Long].collect().toSet == Set(10L, 20L))
    }
  }

  test("grace > 0 delays reclamation: the old dir survives the replace " +
    "instant (an in-flight reader's window) and is deleted afterwards") {
    withService(300L) { svc =>
      val df1 = Seq(1L).toDF("v")
      val df2 = Seq(2L).toDF("v")
      svc.register("graced", df1)
      val dir1 = stagedDir(svc, "graced")
      assert(dir1.exists(), s"stage dir derivation broken: $dir1")
      svc.register("graced", df2)
      assert(dir1.exists(), "retirement ignored the grace window")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (dir1.exists() && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(!dir1.exists(), s"graced dir never reclaimed: $dir1")
    }
  }
}
