package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ArrowIpc

class ArrowIpcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample = Seq(
    (1L, "ann", 2.5, Seq(1.0f, 2.0f)),
    (2L, "bob", -0.5, Seq(3.0f)),
    (3L, null.asInstanceOf[String], 0.0, Seq.empty[Float])
  ).toDF("id", "name", "score", "vec")

  test("round-trip: DataFrame -> per-partition IPC streams -> DataFrame") {
    // the second input carries null list elements, null and empty lists
    for (input <- Seq(sample, ArrowIpcSpec.nullElements(spark))) {
      val df = input.repartition(2)
      val blobs = ArrowIpc.toIpcStreams(df)
      assert(blobs.count() == 2)         // one stream per non-empty partition
      ArrowIpcSpec.assertSameRows(ArrowIpc.fromIpcStreams(blobs, df.schema),
        df)
    }
  }

  test("batching: rows split into <= batchSize record batches") {
    val df = spark.range(2500).select(col("id"),
      concat(lit("row"), col("id")).as("name"),
      (col("id") * 1.5).as("score"),
      array(col("id").cast("float")).as("vec")).coalesce(1)
    val blob = ArrowIpc.toIpcStreams(df, batchSize = 1024).collect().head
    // parse and count batches
    val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(blob), allocator)
    var batches = 0
    var rows = 0
    while (reader.loadNextBatch()) {
      val n = reader.getVectorSchemaRoot.getRowCount
      assert(n <= 1024)
      batches += 1
      rows += n
    }
    reader.close(); allocator.close()
    assert(batches == 3 && rows == 2500)   // 1024 + 1024 + 452
  }

  test("unsupported types fail fast with a clear message") {
    val df = Seq((1, Map("k" -> 1))).toDF("id", "m")
    val ex = intercept[Throwable](ArrowIpc.toIpcStreams(df).count())
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("unsupported"))
  }

  test("fixedSizeArrays freezes the embedding column as FixedSizeList(n)") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "embedding").coalesce(1)
    val blob = ArrowIpc.toIpcStreams(df, fixedSizeArrays = true)
      .collect().head
    val allocator = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(blob), allocator)
    val arrowType = reader.getVectorSchemaRoot.getSchema
      .findField("embedding").getType
    reader.close(); allocator.close()
    assert(arrowType ==
      new org.apache.arrow.vector.types.pojo.ArrowType.FixedSizeList(3),
      s"got $arrowType")
    // and it loads back into the same array column
    val back = ArrowIpc.fromIpcStreams(
      ArrowIpc.toIpcStreams(df, fixedSizeArrays = true), df.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("fixedSizeArrays fails fast on a ragged row") {
    val df = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f)))
      .toDF("id", "embedding").coalesce(1)
    val ex = intercept[Throwable](
      ArrowIpc.toIpcStreams(df, fixedSizeArrays = true).count())
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("ragged"), messages)
  }

  test("array<int> round-trips (int32 list elements)") {
    val df = Seq((1L, Seq(1, 2, 3)), (2L, Seq.empty[Int]))
      .toDF("id", "xs").coalesce(1)
    val back = ArrowIpc.fromIpcStreams(ArrowIpc.toIpcStreams(df), df.schema)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("canonical graph node table exports losslessly") {
    val nodes = Seq(
      (1L, Seq("User"), "ann"), (2L, Seq("User", "Admin"), "bob"))
      .toDF("ID", "LABELS", "name")
    val back = ArrowIpc.fromIpcStreams(
      ArrowIpc.toIpcStreams(nodes.coalesce(1)), nodes.schema)
    assert(back.orderBy("ID").collect().toSeq ==
      nodes.orderBy("ID").collect().toSeq)
  }
}

object ArrowIpcSpec {
  import org.scalatest.Assertions._

  /** `array<double>`, `array<bigint>` and `array<string>` columns with
    * null elements, plus a null list and an empty list, over two
    * partitions. */
  def nullElements(spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("d", ArrayType(DoubleType)),
      StructField("l", ArrayType(LongType)),
      StructField("s", ArrayType(StringType))))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, Seq(1.0, null, 2.0), Seq(1L, null, 3L), Seq("a", null, "ü")),
      Row(2L, null, null, null),
      Row(3L, Seq.empty, Seq.empty, Seq.empty),
      Row(4L, Seq(null), Seq(null), Seq(null)),
      Row(5L, Seq(-0.5), Seq(Long.MaxValue), Seq("日本", ""))), 2), schema)
  }

  /** Equal sorted rows, and `exceptAll` empty both ways. */
  def assertSameRows(back: DataFrame, df: DataFrame): Unit = {
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
