package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream, OutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{FieldVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.FixedSizeListVector
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.arrow.GraftArrowWriter
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ArrowColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** Arrow IPC egress/ingest — the reference's entire reason to exist is
  * serving query results as Arrow record batches (S9 getStream,
  * Producer.java:86-284) and accepting Arrow streams as input (S5
  * acceptPut, Producer.java:440-510). Both ends are per-partition
  * kernels: every partition independently becomes one self-contained
  * Arrow IPC stream (schema header + batches of ≤ batchSize rows), so
  * egress scales with partition parallelism and nothing is collected to
  * the driver. Partition streams interleave freely, matching the
  * reference's unordered-stream contract (MANIFESTO.md:230-235).
  *
  * One codec, built on Spark's own halves. [[StreamEncoder]] feeds a
  * plan's `InternalRow`s to Spark's `ArrowWriter` over a root built from
  * [[arrowSchema]] (so the type envelope and its "unsupported" errors are
  * graft's); [[BatchReader]] serves a stream's batches as
  * `ColumnarBatch`es of Spark's `ArrowColumnVector`. Every path uses
  * them: [[toIpcStreams]], [[writeIpcFiles]], [[fromIpcStreams]], the DSv2
  * writer and both DSv2 readers. Spark has no FixedSizeList on either
  * side, so graft adds one field writer (the `GraftArrowWriter` bridge in
  * Spark's arrow package, where the field writers are visible) and one
  * [[FixedSizeListColumnVector]].
  *
  * Type envelope mirrors the reference's (§1.2, GdsActionHandler.java:
  * 165-245): int32/int64/float32/float64/utf8 scalars and lists of
  * int32/int64/float32/float64/utf8, nulls allowed at every level. With
  * `fixedSizeArrays=true`, array columns freeze to `FixedSizeList(n)`
  * from each stream's FIRST record and every later record is validated
  * against n — the reference's embedding contract
  * (GdsActionHandler.java:193-220 fixes the list width from the first
  * row; SURVEY §7.4-4's fail-fast ragged check). Default batch size 1024
  * rows = the reference's ARROW_BATCH_SIZE (Config.java:58-61).
  */
object ArrowIpc {

  val DefaultBatchSize = 1024

  /** `dims`: array columns to freeze as FixedSizeList(n); absent → List. */
  private[sources] def toArrowField(f: StructField,
                                    dims: Map[String, Int] = Map.empty): Field = {
    def leaf(name: String, t: ArrowType): Field =
      new Field(name, FieldType.nullable(t), null)
    f.dataType match {
      case IntegerType => leaf(f.name, new ArrowType.Int(32, true))
      case LongType    => leaf(f.name, new ArrowType.Int(64, true))
      case FloatType   =>
        leaf(f.name, new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType  =>
        leaf(f.name, new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType  => leaf(f.name, ArrowType.Utf8.INSTANCE)
      case ArrayType(et, _) =>
        val child = et match {
          case IntegerType => leaf("int32", new ArrowType.Int(32, true))
          case LongType    => leaf("int64", new ArrowType.Int(64, true))
          case FloatType   =>
            leaf("float32", new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
          case DoubleType  =>
            leaf("float64", new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
          case StringType  => leaf("utf8", ArrowType.Utf8.INSTANCE)
          case other => throw new IllegalArgumentException(
            s"unsupported Arrow list element type: $other")
        }
        dims.get(f.name) match {
          case Some(n) =>
            new Field(f.name,
              FieldType.nullable(new ArrowType.FixedSizeList(n)),
              Seq(child).asJava)
          case None =>
            new Field(f.name, FieldType.nullable(ArrowType.List.INSTANCE),
              Seq(child).asJava)
        }
      case other => throw new IllegalArgumentException(
        s"unsupported Arrow egress type: $other (reference envelope is " +
          "int/long/float/double/string and lists thereof)")
    }
  }

  def arrowSchema(schema: StructType,
                  dims: Map[String, Int] = Map.empty): Schema =
    new Schema(schema.fields.map(toArrowField(_, dims)).toSeq.asJava)

  /** Encoding: rows of `schema` written as one Arrow IPC stream into
    * `out`, batch by batch — at most `batchSize` rows of vectors are held,
    * so the sink (heap blob or filesystem) decides the footprint. The
    * caller calls [[finish]] on success and [[close]] always; closing
    * leaves `out` open. */
  private[sources] final class StreamEncoder(schema: StructType,
                                             dims: Map[String, Int],
                                             batchSize: Int,
                                             out: OutputStream) {
    // before the allocator: an unsupported type fails with nothing to free
    private val arrow = arrowSchema(schema, dims)
    private val allocator = new RootAllocator(Long.MaxValue)
    private val root = VectorSchemaRoot.create(arrow, allocator)
    private val rows = GraftArrowWriter.create(root)
    private val writer = new ArrowStreamWriter(root, null, out)
    writer.start()
    private var n = 0

    def write(row: InternalRow): Unit = {
      rows.write(row)
      n += 1
      if (n >= batchSize) flush()
    }

    private def flush(): Unit = if (n > 0) {
      rows.finish()
      writer.writeBatch()
      rows.reset()
      n = 0
    }

    def finish(): Unit = { flush(); writer.end() }

    def close(): Unit = { root.close(); allocator.close() }
  }

  /** One partition's rows as one IPC stream into `out`. With
    * `fixedSizeArrays`, list widths freeze from the first record (null
    * arrays in the first record cannot size the list → fail fast,
    * matching the reference's first-record contract). */
  private[sources] def writeStream(rows: Iterator[InternalRow],
                                   schema: StructType, batchSize: Int,
                                   fixedSizeArrays: Boolean,
                                   out: OutputStream): Unit = {
    val it = rows.buffered
    val dims: Map[String, Int] =
      if (!fixedSizeArrays) Map.empty
      else {
        val first = it.head
        schema.fields.zipWithIndex.collect {
          case (f, i) if f.dataType.isInstanceOf[ArrayType] =>
            require(!first.isNullAt(i),
              s"cannot freeze FixedSizeList width of '${f.name}': first " +
                "record is null")
            f.name -> first.getArray(i).numElements()
        }.toMap
      }
    val enc = new StreamEncoder(schema, dims, batchSize, out)
    try { it.foreach(enc.write); enc.finish() }
    finally enc.close()
  }

  /** S9 — serialize each partition as one Arrow IPC stream (byte blob).
    * The row→vector transposition is the Spark analog of the reference's
    * WorkBuffer.convert (WorkBuffer.java:88-201), but lossless: no
    * backpressure drops (Producer.java:202-230 documents the reference
    * dropping rows under pressure; a partition kernel cannot lose rows).
    * Reads the plan's `InternalRow`s, so no row is deserialized on the
    * way. Under AQE the plan's shuffle stages run here, not at the
    * caller's action. For large partitions prefer [[writeIpcFiles]],
    * which streams batches straight to the filesystem instead of
    * blobbing the whole partition on-heap. */
  def toIpcStreams(df: DataFrame, batchSize: Int = DefaultBatchSize,
                   fixedSizeArrays: Boolean = false): Dataset[Array[Byte]] = {
    val schema = df.schema
    val blobs = df.queryExecution.toRdd.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val out = new ByteArrayOutputStream()
        writeStream(rows, schema, batchSize, fixedSizeArrays, out)
        Iterator(out.toByteArray)
      }
    }
    df.sparkSession.createDataset(blobs)(Encoders.BINARY)
  }

  /** Persist each partition's IPC stream as one `.arrow` file under `dir`
    * — the on-disk layout [[ArrowIpcSource]] reads back with one input
    * partition per file. Batches stream straight to the
    * `FSDataOutputStream`: a partition of any size writes in O(batchSize)
    * heap, never as a whole-partition byte array (the 2 GiB array
    * ceiling / heap blowup a fat partition would otherwise hit). Each
    * task creates its file through [[HadoopFiles]] — the executor JVM's
    * one parsed Hadoop config — so the file keeps its `.crc`. */
  def writeIpcFiles(df: DataFrame, dir: String,
                    batchSize: Int = DefaultBatchSize,
                    fixedSizeArrays: Boolean = false): Unit = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(s"$dir/part-$pid.arrow")
        val out = HadoopFiles.fs(p).create(p, true)
        try writeStream(rows, schema, batchSize, fixedSizeArrays, out)
        finally out.close()
      }
      Iterator.empty[Int]
    }.count()
  }

  /** S5 — ingest Arrow IPC streams (one blob per element) back into rows.
    * The expected Spark schema must match the streams' Arrow schema (the
    * reference carries the schema in the put-stream itself,
    * BulkImportJob.java:49-51; here the caller states it and we validate
    * per stream). Validation is at the Spark-type level, so a
    * FixedSizeList stream loads into the same `array<…>` column a List
    * stream does. Each stream closes at its end and from a
    * task-completion listener, so a downstream `limit` (early
    * termination) or a schema mismatch cannot leak direct memory. */
  def fromIpcStreams(blobs: Dataset[Array[Byte]],
                     schema: StructType): DataFrame = {
    val expected = comparableSchema(schema)
    val rows = blobs.rdd.flatMap { bytes =>
      val in = new BatchReader(new ByteArrayInputStream(bytes), { root =>
        require(comparableSchema(ArrowIpcSource.sparkSchema(
            root.getSchema)) == expected,
          s"stream schema ${root.getSchema} != expected $schema")
        root.getFieldVectors.asScala.toSeq
      })
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
      in.rows
    }
    ColumnBridge.internalCreateDataFrame(blobs.sparkSession, rows, schema)
  }

  /** (name, type) pairs with nullability erased — the comparison contract
    * for stream-vs-expected schemas. */
  private def comparableSchema(s: StructType): Seq[(String, DataType)] =
    s.fields.toSeq.map { f =>
      val dt = f.dataType match {
        case ArrayType(et, _) => ArrayType(et, containsNull = true)
        case t => t
      }
      (f.name, dt)
    }

  /** Decoding: one Arrow IPC stream served as `ColumnarBatch`es.
    * `project` picks (and checks) the root's vectors to serve. Every
    * batch loads into the same vectors, so the one batch [[get]] returns
    * is valid until the next [[next]]. Closing is idempotent and also
    * closes `in`. */
  private[sources] final class BatchReader(
      in: InputStream, project: VectorSchemaRoot => Seq[FieldVector])
      extends PartitionReader[ColumnarBatch] {

    private val allocator = new RootAllocator(Long.MaxValue)
    private val reader = new ArrowStreamReader(in, allocator)
    private var closed = false
    private val batch =
      try new ColumnarBatch(project(reader.getVectorSchemaRoot).map {
        case fsl: FixedSizeListVector => new FixedSizeListColumnVector(fsl)
        case v => new ArrowColumnVector(v): ColumnVector
      }.toArray)
      catch { case e: Throwable => close(); throw e }

    override def next(): Boolean = reader.loadNextBatch() && {
      batch.setNumRows(reader.getVectorSchemaRoot.getRowCount)
      true
    }

    override def get(): ColumnarBatch = batch

    /** Every row of the stream; closes after the last. */
    def rows: Iterator[InternalRow] = Iterator.unfold(()) { _ =>
      if (next()) Some((batch.rowIterator.asScala, ()))
      else { close(); None }
    }.flatten

    override def close(): Unit = if (!closed) {
      closed = true
      try reader.close()
      finally { allocator.close(); in.close() }
    }
  }
}

/** `ColumnVector` over a `FixedSizeListVector`, which Spark's
  * `ArrowColumnVector` rejects: row i is the n child slots from i·n. */
private[sources] final class FixedSizeListColumnVector(v: FixedSizeListVector)
    extends ColumnVector(ArrowIpcSource.sparkField(v.getField).dataType) {
  private val n = v.getListSize
  private val child = new ArrowColumnVector(v.getDataVector)

  override def getArray(i: Int): ColumnarArray =
    new ColumnarArray(child, i * n, n)
  override def isNullAt(i: Int): Boolean = v.isNull(i)
  override def hasNull(): Boolean = v.getNullCount > 0
  override def numNulls(): Int = v.getNullCount
  override def close(): Unit = v.close()

  private def notScalar: Nothing =
    throw new UnsupportedOperationException(s"$dataType is a list column")
  override def getBoolean(i: Int): Boolean = notScalar
  override def getByte(i: Int): Byte = notScalar
  override def getShort(i: Int): Short = notScalar
  override def getInt(i: Int): Int = notScalar
  override def getLong(i: Int): Long = notScalar
  override def getFloat(i: Int): Float = notScalar
  override def getDouble(i: Int): Double = notScalar
  override def getDecimal(i: Int, p: Int, s: Int): Decimal = notScalar
  override def getUTF8String(i: Int): UTF8String = notScalar
  override def getBinary(i: Int): Array[Byte] = notScalar
  override def getMap(i: Int): ColumnarMap = notScalar
  override def getChild(i: Int): ColumnVector = notScalar
}
