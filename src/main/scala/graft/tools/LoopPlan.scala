package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Loop-BODY plan capture (r12, VERDICT r11 #6): the iterative graph
  * operators localCheckpoint per round, so a whole-query `explain` shows
  * only a `Scan ExistingRDD` stub — the claimed per-round join strategy
  * (e.g. the conditional frontier broadcast) never appears in a committed
  * plan. The round driver ([[graft.operators.Rounds.pin]]) calls
  * [[dump]] on a loop's round plan BEFORE the checkpoint, under the
  * loop's tag. The k-hop skew builds call it directly: a reach round is
  * pinned only when the next round starts and the last one never is
  * (the incidence or stats plan reads it), so a pin tag would name the
  * wrong round; their final plans are never pinned at all. The call is
  * a no-op (one Option check, no Spark work) unless
  * `-Dgraft.loopplan.dir=...` or `SPARK_GRAFT_LOOPPLAN_DIR` is set, so
  * the bench/verify paths are untouched. Only the FIRST round per tag is
  * written (the later rounds share the shape, only sizes shrink).
  *
  * Drive it with [[LoopPlanDump]].
  */
object LoopPlan {
  private val dir: Option[String] = sys.props.get("graft.loopplan.dir")
    .orElse(sys.env.get("SPARK_GRAFT_LOOPPLAN_DIR"))
  private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  def dump(tag: String, df: => DataFrame): Unit =
    dir.foreach { d =>
      if (seen.add(tag)) {
        Files.createDirectories(Paths.get(d))
        Files.writeString(Paths.get(s"$d/$tag.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
      }
    }
}

/** Runs named SparkEntry queries with loop-body capture enabled, writing
  * plans/<round>/<tag>.txt for every [[LoopPlan.dump]] site the queries
  * execute. Usage: runMain graft.tools.LoopPlanDump <q1,q2,...>;
  * env SPARK_GRAFT_PLANS_DIR (default plans/r12), SF_DIR, CPUS as PlanDump. */
object LoopPlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val plansDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r12")
    sys.props("graft.loopplan.dir") = plansDir
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (n <- names) {
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      println(s"[loopplan] ran $n")
    }
    spark.stop()
  }
}
