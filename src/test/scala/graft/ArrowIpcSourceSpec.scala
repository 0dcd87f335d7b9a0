package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ArrowIpc, ArrowIpcSource}

class ArrowIpcSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val format = classOf[ArrowIpcSource].getName

  test("DSv2 source reads back IPC files with schema inference") {
    val sample = Seq(
      (1L, "ann", 2.5, Seq(1.0f, 2.0f)),
      (2L, "bob", -0.5, Seq(3.0f)),
      (3L, null.asInstanceOf[String], 0.0, Seq.empty[Float])
    ).toDF("id", "name", "score", "vec")
    // the second input carries null list elements, null and empty lists
    for (input <- Seq(sample, ArrowIpcSpec.nullElements(spark))) {
      val dir = TestSpark.tmpDir("graft_ipc_src").toString
      val df = input.repartition(2)
      ArrowIpc.writeIpcFiles(df, dir)
      val back = spark.read.format(format).load(dir)
      // source reports everything nullable (Arrow vectors are) — compare
      // names and base types
      assert(back.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq ==
        df.schema.fields.map(f => (f.name, f.dataType.typeName)).toSeq)
      assert(back.rdd.getNumPartitions == 2)   // one partition per file
      ArrowIpcSpec.assertSameRows(back, df)
    }
  }

  test("null list elements, null lists and empty lists round-trip " +
      "through a DSv2 write and read") {
    val df = ArrowIpcSpec.nullElements(spark)
    val dir = TestSpark.tmpDir("graft_ipc_nulls").toString
    df.write.format(format).mode("overwrite").save(dir)
    ArrowIpcSpec.assertSameRows(spark.read.format(format).load(dir), df)
  }

  test("source composes with SQL: filter + aggregate over the DSv2 scan") {
    val dir = TestSpark.tmpDir("graft_ipc_sql").toString
    val nodes = SparkEntry.graph(spark, "/root/testdata/sf0.001").nodeScan()
      .select(col("ID").as("id"), element_at(col("LABELS"), 1).as("label"))
    ArrowIpc.writeIpcFiles(nodes.repartition(3), dir)
    val back = spark.read.format(format).load(dir)
    val got = back.where(col("label") === "Customer").count()
    val want = nodes.where(col("label") === "Customer").count()
    assert(got == want && got > 0)
  }

  test("fixed-size-list files read back via DSv2 as plain array columns") {
    val dir = TestSpark.tmpDir("graft_ipc_fsl").toString
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(4.0f, 5.0f, 6.0f)))
      .toDF("id", "embedding").repartition(2)
    ArrowIpc.writeIpcFiles(df, dir, fixedSizeArrays = true)
    val back = spark.read.format(format).load(dir)
    assert(back.orderBy("id").collect().toSeq ==
      df.orderBy("id").collect().toSeq)
  }

  test("multi-batch file streams to the filesystem and reads back whole") {
    // 2500 rows / batchSize 512 -> 5 record batches in ONE file, written
    // batch-by-batch (never a whole-partition blob on heap)
    val dir = TestSpark.tmpDir("graft_ipc_multi").toString
    val df = spark.range(2500)
      .select(col("id"), array(col("id").cast("int")).as("xs")).coalesce(1)
    ArrowIpc.writeIpcFiles(df, dir, batchSize = 512)
    val back = spark.read.format(format).load(dir)
    assert(back.count() == 2500)
    assert(back.agg(sum("id")).as[Long].head() ==
      2500L * 2499 / 2)
  }

  test("early termination (limit) does not wedge the ingest path") {
    // exercises the task-completion close path in fromIpcStreams: the
    // unfold never reaches end-of-stream, so cleanup must come from the
    // completion listener
    val df = spark.range(5000)
      .select(col("id"), concat(lit("r"), col("id")).as("name")).coalesce(1)
    val blobs = ArrowIpc.toIpcStreams(df, batchSize = 256)
    val few = ArrowIpc.fromIpcStreams(blobs, df.schema).limit(3).collect()
    assert(few.length == 3)
  }

  test("DSv2 write path: append + overwrite round-trip with commit " +
      "protocol (_SUCCESS, no temp leftovers, per-file parallelism)") {
    val dir = TestSpark.tmpDir("graft_ipc_write").toString
    val df = (0L until 500L)
      .map(i => (i, s"n$i", i * 0.5, Seq(i.toFloat, (i + 1).toFloat)))
      .toDF("id", "name", "score", "vec")
    df.repartition(3).write.format(format)
      .mode("append").save(dir)
    val files = new java.io.File(dir).listFiles.map(_.getName).sorted.toSeq
    assert(files.count(_.endsWith(".arrows")) == 3)
    assert(files.contains("_SUCCESS"))
    assert(!files.exists(_.endsWith(".tmp")))
    val back = spark.read.format(format).load(dir)
    assert(back.rdd.getNumPartitions == 3)
    assert(back.as[(Long, String, Double, Seq[Float])].collect().sortBy(_._1)
      .toSeq == df.as[(Long, String, Double, Seq[Float])].collect()
      .sortBy(_._1).toSeq)
    // append keeps prior files
    df.limit(10).coalesce(1).write.format(format).mode("append").save(dir)
    assert(spark.read.format(format).load(dir).count() == 510L)
    // overwrite truncates to the new job's manifest only
    df.limit(20).coalesce(1).write.format(format)
      .mode("overwrite").save(dir)
    val after = spark.read.format(format).load(dir)
    assert(after.count() == 20L)
    assert(new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".arrows")) == 1)
  }

  test("DSv2 write skips empty partitions and readers ignore temp files") {
    val dir = TestSpark.tmpDir("graft_ipc_write_empty").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // 8 partitions, only a few non-empty -> only those produce files
    df.repartition(8).write.format(format).mode("append").save(dir)
    val n = new java.io.File(dir).listFiles
      .count(_.getName.endsWith(".arrows"))
    assert(n >= 1 && n <= 2)
    // a stray in-flight temp file must be invisible to the reader
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, ".part-junk.arrows.tmp"),
      Array[Byte](1, 2, 3))
    assert(spark.read.format(format).load(dir).count() == 2L)
  }

  test("empty directory reads as an empty 0-column table (fresh write " +
      "targets must stay resolvable and plannable); files vanishing " +
      "after inference still fail loudly") {
    val dir = TestSpark.tmpDir("graft_ipc_empty").toString
    val df = spark.read.format(format).load(dir)
    assert(df.schema.isEmpty && df.count() == 0L)
    // inference saw files, then they vanish -> planning must not
    // silently return an empty result
    val dir2 = TestSpark.tmpDir("graft_ipc_vanish").toString
    ArrowIpc.writeIpcFiles(Seq((1L, "a")).toDF("id", "v").coalesce(1), dir2)
    val df2 = spark.read.format(format).load(dir2)
    new java.io.File(dir2).listFiles.foreach(_.delete())
    val ex = intercept[Exception](df2.count())
    assert(ex.getMessage.contains("no Arrow IPC files"))
  }
}
