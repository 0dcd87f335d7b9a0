package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Round-11 profiling harness (guide §1): runs named SparkEntry queries
  * under a stage-metrics listener and prints, per query, the job/stage
  * breakdown — wall per stage, task count, executor run/GC time, shuffle
  * bytes — so optimization targets are picked from measurements, not
  * guesses. Bench-identical session config.
  *
  * Usage: runMain graft.tools.ProfileQuery <q1,q2,...> [runs]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val runs = if (args.length > 1) args(1).toInt else 1
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
    // r12: ad-hoc A/B experiments (e.g. streaming state-store provider)
    // without touching gate code — semicolon-separated k=v pairs; empty
    // segments (a trailing `;`) are skipped
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(
      _.split(";").map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => builder.config(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_EXTRA_CONF segment '$kv' is not key=value")
        }
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()

    case class StageRow(id: Int, name: String, submit: Long, done: Long,
                        tasks: Int, runMs: Long, gcMs: Long,
                        shufReadB: Long, shufWriteB: Long, inB: Long)
    val stages = mutable.ArrayBuffer.empty[StageRow]
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages += StageRow(si.stageId,
          si.name.takeWhile(_ != '\n').take(60),
          si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          si.numTasks, m.executorRunTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)

    for (n <- names; r <- 1 to runs) {
      stages.clear()
      val t0 = System.nanoTime()
      val cnt = graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // give the listener bus a moment to drain
      Thread.sleep(300)
      val rows = stages.sortBy(_.submit).toList
      val totRun = rows.map(_.runMs).sum
      val totGc = rows.map(_.gcMs).sum
      val totTasks = rows.map(_.tasks).sum
      println(f"[profile] $n run$r: wall=$wall%.2f s rows=$cnt " +
        f"stages=${rows.size} tasks=$totTasks execRun=${totRun / 1e3}%.1f s " +
        f"gc=${totGc / 1e3}%.1f s")
      // gaps between stages = driver/planning/barrier time
      var lastDone = 0L
      for (s <- rows) {
        val gap = if (lastDone == 0) 0L else math.max(0L, s.submit - lastDone)
        lastDone = math.max(lastDone, s.done)
        val wallS = (s.done - s.submit) / 1e3
        println(f"  stage ${s.id}%4d ${wallS}%6.2fs gap=${gap / 1e3}%5.2fs " +
          f"tasks=${s.tasks}%3d run=${s.runMs / 1e3}%6.2fs gc=${s.gcMs}%4dms " +
          f"sr=${s.shufReadB / 1024}%7dK sw=${s.shufWriteB / 1024}%7dK " +
          f"in=${s.inB / 1024}%7dK  ${s.name}")
      }
    }
    spark.stop()
  }
}
