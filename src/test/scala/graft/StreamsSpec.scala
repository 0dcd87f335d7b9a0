package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{StageFiles, Streams}

class StreamsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val keys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.checkpointFileManagerClass")
  private def confs = keys.map(spark.conf.getOption)

  test("Streams.run scopes the partition and checkpoint-manager confs " +
      "around a stateful query, also when the query throws") {
    val before = confs
    val base = StageFiles.dir("streams_spec", "run")
    try {
      val src = s"$base/src"
      Seq(1L, 2L, 2L).toDF("k").write.parquet(src)
      Seq(2L, 3L).toDF("k").write.mode("append").parquet(src)
      def stream = spark.readStream.schema("k BIGINT")
        .option("maxFilesPerTrigger", 1).parquet(src)
      val got = Streams.toMemory(spark,
        stream.groupBy(col("k")).agg(count(lit(1)).as("n")), "spec_counts",
        "complete").as[(Long, Long)].collect().toSet
      assert(got == Set((1L, 1L), (2L, 3L), (3L, 1L)))
      assert(confs == before)
      Streams.run(spark) {
        assert(CheckpointFileManager.create(new Path(s"$base/ckpt"),
          spark.sessionState.newHadoopConf())
          .isInstanceOf[FileSystemBasedCheckpointFileManager])
        assert(spark.conf.get(keys.head) == "8")
      }
      intercept[StreamingQueryException](Streams.run(spark) {
        stream.writeStream.option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new IllegalStateException("batch fails")
          }.start().awaitTermination()
      })
      assert(confs == before)
    } finally StageFiles.rm(base)
  }

  test("a memory-sink gate drops its temp view and still reads the sink") {
    val dir = StageFiles.dir("streams_spec", "gate")
    try {
      Seq((1L, 10L, "click"), (2L, 10L, "view"), (3L, 20L, "click"))
        .toDF("event_id", "user_id", "event_type")
        .write.parquet(s"$dir/events.parquet")
      Seq((10L, "AUTO"), (20L, "HOME")).toDF("c_custkey", "c_mktsegment")
        .write.parquet(s"$dir/customer.parquet")
      val before = TestSpark.tempViews
      val out = QueriesRelational.queries("stream_enrich")(spark, dir)
      assert(TestSpark.tempViews == before)
      assert(out.select("segment", "event_type", "n", "id_sum")
        .as[(String, String, Long, Long)].collect().toSet ==
        Set(("AUTO", "click", 1L, 1L), ("AUTO", "view", 1L, 2L),
          ("HOME", "click", 1L, 3L)))
    } finally StageFiles.rm(dir)
  }
}
