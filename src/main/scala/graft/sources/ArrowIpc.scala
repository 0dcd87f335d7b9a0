package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, OutputStream}

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.{BigIntVector, FieldVector, Float4Vector, Float8Vector, IntVector, VarCharVector, VectorSchemaRoot}
import org.apache.arrow.vector.complex.{FixedSizeListVector, ListVector}
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ArrowStreamWriter}
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.types._

/** Arrow IPC egress/ingest — the reference's entire reason to exist is
  * serving query results as Arrow record batches (S9 getStream,
  * Producer.java:86-284) and accepting Arrow streams as input (S5
  * acceptPut, Producer.java:440-510). Spark-first, both ends are
  * per-partition `mapPartitions` kernels: every partition independently
  * becomes one self-contained Arrow IPC stream (schema header + batches of
  * ≤ batchSize rows), so egress scales with partition parallelism and
  * nothing is collected to the driver. Partition streams interleave freely,
  * matching the reference's unordered-stream contract
  * (MANIFESTO.md:230-235).
  *
  * Type envelope mirrors the reference's (§1.2, GdsActionHandler.java:
  * 165-245): int32/int64/float32/float64/utf8 scalars and lists of
  * int32/int64/float32/float64/utf8. With `fixedSizeArrays=true`, array
  * columns freeze to `FixedSizeList(n)` from each stream's FIRST record
  * and every later record is validated against n — the reference's
  * embedding contract (GdsActionHandler.java:193-220 fixes the list width
  * from the first row; SURVEY §7.4-4's fail-fast ragged check). Default
  * batch size 1024 rows = the reference's ARROW_BATCH_SIZE
  * (Config.java:58-61).
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

  /** Shared egress kernel: stream `rows` as one Arrow IPC stream into
    * `out`, batch by batch — at no point is more than one record batch
    * held in memory, so the sink (heap blob or filesystem) decides the
    * footprint. With `fixedSizeArrays`, list widths freeze from the first
    * record (null arrays in the first record cannot size the list →
    * fail fast, matching the reference's first-record contract). */
  private def writeStream(rows: Iterator[Row], sparkSchema: StructType,
                          batchSize: Int, fixedSizeArrays: Boolean,
                          out: OutputStream): Unit = {
    val it = rows.buffered
    val dims: Map[String, Int] =
      if (!fixedSizeArrays) Map.empty
      else {
        val first = it.head
        sparkSchema.fields.zipWithIndex.collect {
          case (f, i) if f.dataType.isInstanceOf[ArrayType] =>
            require(!first.isNullAt(i),
              s"cannot freeze FixedSizeList width of '${f.name}': first " +
                "record is null")
            f.name -> first.getSeq[Any](i).length
        }.toMap
      }
    val allocator = new RootAllocator(Long.MaxValue)
    try {
      val root = VectorSchemaRoot.create(arrowSchema(sparkSchema, dims),
        allocator)
      try {
        val writer = new ArrowStreamWriter(root, null, out)
        writer.start()
        val vectors = root.getFieldVectors.asScala.toArray
        var n = 0
        def flush(): Unit = if (n > 0) {
          root.setRowCount(n)
          writer.writeBatch()
          root.allocateNew()
          n = 0
        }
        it.foreach { row =>
          var c = 0
          while (c < vectors.length) {
            appendCell(vectors(c), n, row, c, sparkSchema.fields(c).dataType)
            c += 1
          }
          n += 1
          if (n >= batchSize) flush()
        }
        flush()
        writer.end()
      } finally root.close()
    } finally allocator.close()
  }

  /** S9 — serialize each partition as one Arrow IPC stream (byte blob).
    * The row→vector transposition is the Spark analog of the reference's
    * WorkBuffer.convert (WorkBuffer.java:88-201), but lossless: no
    * backpressure drops (Producer.java:202-230 documents the reference
    * dropping rows under pressure; a mapPartitions kernel cannot lose
    * rows). For large partitions prefer [[writeIpcFiles]], which streams
    * batches straight to the filesystem instead of blobbing the whole
    * partition on-heap. */
  def toIpcStreams(df: DataFrame, batchSize: Int = DefaultBatchSize,
                   fixedSizeArrays: Boolean = false): Dataset[Array[Byte]] = {
    val sparkSchema = df.schema
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val out = new ByteArrayOutputStream()
        writeStream(rows, sparkSchema, batchSize, fixedSizeArrays, out)
        Iterator(out.toByteArray)
      }
    }
  }

  private[sources] def appendCell(v: FieldVector, idx: Int, row: Row, col: Int,
                         dt: DataType): Unit = {
    if (row.isNullAt(col)) {
      v match {
        case lv: ListVector => lv.setNull(idx)
        case flv: FixedSizeListVector => flv.setNull(idx)
        case iv: IntVector => iv.setNull(idx)
        case bv: BigIntVector => bv.setNull(idx)
        case fv: Float4Vector => fv.setNull(idx)
        case dv: Float8Vector => dv.setNull(idx)
        case sv: VarCharVector => sv.setNull(idx)
        case other => throw new IllegalStateException(s"vector $other")
      }
    } else (v, dt) match {
      case (iv: IntVector, IntegerType) =>
        iv.setSafe(idx, row.getInt(col))
      case (bv: BigIntVector, LongType) =>
        bv.setSafe(idx, row.getLong(col))
      case (fv: Float4Vector, FloatType) =>
        fv.setSafe(idx, row.getFloat(col))
      case (dv: Float8Vector, DoubleType) =>
        dv.setSafe(idx, row.getDouble(col))
      case (sv: VarCharVector, StringType) =>
        sv.setSafe(idx, row.getString(col).getBytes("UTF-8"))
      case (lv: ListVector, ArrayType(et, _)) =>
        val seq = row.getSeq[Any](col)
        val start = lv.startNewValue(idx)
        appendElements(lv.getDataVector.asInstanceOf[FieldVector], start,
          seq, et)
        lv.endValue(idx, seq.length)
      case (flv: FixedSizeListVector, ArrayType(et, _)) =>
        val seq = row.getSeq[Any](col)
        val n = flv.getListSize
        // SURVEY §7.4-4: ragged rows fail fast instead of silently
        // widening the frozen envelope (reference behavior:
        // GdsActionHandler.java:193-220)
        if (seq.length != n) throw new IllegalArgumentException(
          s"ragged array for FixedSizeList($n) column: got ${seq.length} " +
            s"elements at row $idx")
        flv.setNotNull(idx)
        appendElements(flv.getDataVector.asInstanceOf[FieldVector],
          idx * n, seq, et)
      case (vec, t) =>
        throw new IllegalStateException(s"cell $vec / $t")
    }
  }

  private def appendElements(child: FieldVector, start: Int, seq: Seq[Any],
                             et: DataType): Unit = {
    import scala.collection.immutable.ArraySeq
    // fast paths: Catalyst hands primitive arrays back as ArraySeq.ofX —
    // write straight from the backing array, no per-element boxing or
    // type dispatch (the hot loop of the float[256] embedding workload)
    (child, seq) match {
      case (cf: Float4Vector, ws: ArraySeq.ofFloat) =>
        val a = ws.unsafeArray
        var i = 0
        while (i < a.length) { cf.setSafe(start + i, a(i)); i += 1 }
      case (cd: Float8Vector, ws: ArraySeq.ofDouble) =>
        val a = ws.unsafeArray
        var i = 0
        while (i < a.length) { cd.setSafe(start + i, a(i)); i += 1 }
      case (cb: BigIntVector, ws: ArraySeq.ofLong) =>
        val a = ws.unsafeArray
        var i = 0
        while (i < a.length) { cb.setSafe(start + i, a(i)); i += 1 }
      case (ci: IntVector, ws: ArraySeq.ofInt) =>
        val a = ws.unsafeArray
        var i = 0
        while (i < a.length) { ci.setSafe(start + i, a(i)); i += 1 }
      case _ =>
        var i = 0
        seq.foreach { e =>
          (child, et) match {
            case (ci: IntVector, IntegerType) =>
              ci.setSafe(start + i, e.asInstanceOf[Int])
            case (cb: BigIntVector, LongType) =>
              cb.setSafe(start + i, e.asInstanceOf[Long])
            case (cf: Float4Vector, FloatType) =>
              cf.setSafe(start + i, e.asInstanceOf[Float])
            case (cd: Float8Vector, DoubleType) =>
              cd.setSafe(start + i, e.asInstanceOf[Double])
            case (cs: VarCharVector, StringType) =>
              cs.setSafe(start + i, e.asInstanceOf[String].getBytes("UTF-8"))
            case (c, t) => throw new IllegalStateException(s"list $c / $t")
          }
          i += 1
        }
    }
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
    val sparkSchema = df.schema
    df.rdd.mapPartitionsWithIndex { (pid, rows) =>
      if (rows.nonEmpty) {
        val p = new org.apache.hadoop.fs.Path(s"$dir/part-$pid.arrow")
        val out = HadoopFiles.fs(p).create(p, true)
        try writeStream(rows, sparkSchema, batchSize, fixedSizeArrays, out)
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
    * stream does. Reader/allocator are closed via a task-completion
    * listener as well as at end-of-stream, so a downstream `limit` (early
    * termination) or a schema mismatch cannot leak direct memory. */
  def fromIpcStreams(blobs: Dataset[Array[Byte]],
                     schema: StructType): DataFrame = {
    val spark = blobs.sparkSession
    val expected = comparableSchema(schema)
    val rows = blobs.rdd.flatMap { bytes =>
      val allocator = new RootAllocator(Long.MaxValue)
      val reader = new ArrowStreamReader(new ByteArrayInputStream(bytes),
        allocator)
      var closed = false
      def closeAll(): Unit = if (!closed) {
        closed = true
        reader.close()
        allocator.close()
      }
      Option(TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => closeAll()))
      try {
        val root = reader.getVectorSchemaRoot
        val got = ArrowIpcSource.sparkSchema(root.getSchema)
        require(comparableSchema(got) == expected,
          s"stream schema ${root.getSchema} != expected $schema")
        Iterator.unfold(()) { _ =>
          if (reader.loadNextBatch()) {
            val fields = root.getFieldVectors.asScala.toSeq
            val batch = (0 until root.getRowCount).map { i =>
              Row.fromSeq(fields.map(readCell(_, i)))
            }
            Some((batch, ()))
          } else {
            closeAll()
            None
          }
        }.flatten
      } catch {
        case e: Throwable => closeAll(); throw e
      }
    }
    spark.createDataFrame(rows, schema)
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

  private def readCell(v: FieldVector, i: Int): Any = {
    if (v.isNull(i)) null
    else v match {
      case iv: IntVector => iv.get(i)
      case bv: BigIntVector => bv.get(i)
      case fv: Float4Vector => fv.get(i)
      case dv: Float8Vector => dv.get(i)
      case sv: VarCharVector => new String(sv.get(i), "UTF-8")
      case lv: ListVector =>
        val child = lv.getDataVector
        (lv.getElementStartIndex(i) until lv.getElementEndIndex(i))
          .map(j => readCell(child.asInstanceOf[FieldVector], j))
      case flv: FixedSizeListVector =>
        val child = flv.getDataVector
        (flv.getElementStartIndex(i) until flv.getElementEndIndex(i))
          .map(j => readCell(child.asInstanceOf[FieldVector], j))
      case other => throw new IllegalStateException(s"vector $other")
    }
  }
}
