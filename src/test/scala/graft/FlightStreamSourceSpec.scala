package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FlightGrpc

/** Structured Streaming over a live Flight append log
  * (sources/FlightStreamSource): offsets are log sequence numbers,
  * micro-batches plan one task per staged file, and checkpoint recovery
  * resumes exactly after the last committed batch. */
class FlightStreamSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def rows(from: Long, until: Long) =
    (from until until).map(i => (i, s"k_${i % 3}")).toDF("id", "k")

  private def withServer(f: FlightGrpc.Server => Unit): Unit = {
    val srv = new FlightGrpc.Server(spark, token = "sekrit").start()
    try f(srv) finally srv.close()
  }

  private def streamDf(port: Int, flight: String) =
    spark.readStream.format("graft.sources.FlightStreamSource")
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("token", "sekrit").option("flight", flight)
      .load()

  private def tmpDir(tag: String): String =
    TestSpark.tmpDir(s"graft_fss_$tag").toString

  test("appended batches arrive as micro-batches; aggregate state spans " +
      "them (complete mode)") {
    withServer { srv =>
      val cli = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try {
        cli.doPutAppend("ev", rows(0, 400).repartition(2))
        cli.doPutAppend("ev", rows(400, 900).repartition(3))
        val qname = s"fss_agg_${System.nanoTime()}"
        val q = streamDf(srv.port, "ev")
          .groupBy($"k").agg(count(lit(1)).as("n"), sum($"id").as("s"))
          .writeStream.format("memory").queryName(qname)
          .outputMode("complete").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val got = spark.table(qname).as[(String, Long, Long)]
          .collect().toSet
        val want = rows(0, 900).groupBy($"k")
          .agg(count(lit(1)).as("n"), sum($"id").as("s"))
          .as[(String, Long, Long)].collect().toSet
        assert(got == want)
      } finally cli.close()
    }
  }

  test("checkpoint recovery resumes after the committed offset: a second " +
      "run sees ONLY the batches appended since") {
    withServer { srv =>
      val cli = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try {
        val ckpt = tmpDir("ckpt")
        val out = tmpDir("out")
        cli.doPutAppend("log", rows(0, 100))
        cli.doPutAppend("log", rows(100, 250))
        def runOnce(): Unit = {
          val q = streamDf(srv.port, "log")
            .writeStream.format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        runOnce()
        assert(spark.read.parquet(out).count() == 250L)
        cli.doPutAppend("log", rows(250, 300))
        runOnce()
        val all = spark.read.parquet(out)
        // 300 rows total, no duplicates — the second run consumed only
        // log seq 2
        assert(all.count() == 300L)
        assert(all.select(countDistinct($"id")).as[Long].head == 300L)
      } finally cli.close()
    }
  }

  test("batch parallelism follows producer partitioning: a 4-partition " +
      "append plans 4 tasks") {
    withServer { srv =>
      val cli = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try {
        cli.doPutAppend("p4", rows(0, 800).repartition(4))
        var seen = -1
        val q = streamDf(srv.port, "p4")
          .writeStream.foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              seen = df.rdd.getNumPartitions
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        assert(seen == 4)
      } finally cli.close()
    }
  }

  test("maxBatchesPerTrigger rate-limits admission: AvailableNow drains " +
      "the log in capped micro-batches, nothing lost or duplicated") {
    withServer { srv =>
      val cli = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try {
        (0 until 5).foreach(i =>
          cli.doPutAppend("rl", rows(i * 10L, i * 10L + 10L)))
        val batches = new java.util.concurrent.atomic.AtomicInteger(0)
        val total = new java.util.concurrent.atomic.AtomicLong(0L)
        val q = spark.readStream.format("graft.sources.FlightStreamSource")
          .option("host", "127.0.0.1").option("port", srv.port.toString)
          .option("token", "sekrit").option("flight", "rl")
          .option("maxBatchesPerTrigger", "2")
          .load()
          .writeStream.foreachBatch {
            (df: org.apache.spark.sql.DataFrame, _: Long) =>
              batches.incrementAndGet()
              total.addAndGet(df.count())
              ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        assert(total.get() == 50L)
        assert(batches.get() >= 3) // 5 log entries / 2 per trigger
      } finally cli.close()
    }
  }

  test("append schema drift is rejected at the server") {
    withServer { srv =>
      val cli = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try {
        cli.doPutAppend("s", rows(0, 10))
        val e = intercept[FlightGrpc.GrpcException](
          cli.doPutAppend("s", rows(0, 10).withColumn("extra", lit(1.0))))
        assert(e.code == FlightGrpc.Status.InvalidArgument ||
          e.code == FlightGrpc.Status.Unknown)
      } finally cli.close()
    }
  }
}
