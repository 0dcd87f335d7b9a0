package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.ArrowStreamReader
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 reader and writer for Arrow IPC stream files — the
  * "custom DataSource" form of the reference's Arrow data plane:
  * `spark.read.format("graft.sources.ArrowIpcSource").load(dir)` turns a
  * directory of IPC streams (e.g. written by [[ArrowIpc.writeIpcFiles]])
  * into a DataFrame. One input partition per file, so a directory written
  * by N partitions reads back with N-way parallelism and no driver-side
  * materialization.
  *
  * Both directions go through [[ArrowIpc]]'s one codec: the scan is
  * columnar — each file's record batches are served as the
  * `ColumnarBatch`es of Spark's `ArrowColumnVector` (plus graft's
  * FixedSizeList vector) — and the writer feeds the plan's
  * `InternalRow`s to Spark's `ArrowWriter`. This object keeps only what
  * Spark lacks: the Arrow → Spark schema mapping ([[sparkSchema]]),
  * because Spark's `ArrowUtils` has no FixedSizeList, the reference's
  * frozen embedding envelope.
  *
  * Schema is inferred from the FIRST stream's header — the exact contract
  * the reference uses (schema derived from the first record / carried in
  * the put-stream: CypherActionHandler.java:72-149, BulkImportJob.java:
  * 49-51); every other file is validated against it at read time. Type
  * envelope as §1.2: int32/int64/float32/float64/utf8 and lists of
  * them, List or FixedSizeList.
  *
  * Every listing, open, create, rename and delete here goes through
  * [[HadoopFiles]]: one Hadoop config parse per JVM instead of one per
  * file operation, on the same checksummed file system, so written
  * files keep their `.crc` and reads still verify it.
  */
class ArrowIpcSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val files = ArrowIpcSource.listFiles(options.get("path"))
    // empty dir → empty schema, NOT an error: a WRITE to a fresh
    // directory resolves the table through this same path (the write
    // itself uses the query schema via LogicalWriteInfo). A READ of an
    // empty dir fails at scan planning instead (ArrowIpcScan).
    if (files.isEmpty) new StructType()
    else ArrowIpcSource.sparkSchema(
      ArrowIpcSource.readArrowSchema(files.head))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ArrowIpcTable(schema, properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

object ArrowIpcSource {

  private[sources] def listFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = HadoopFiles.fs(p)
    if (!fs.exists(p)) Seq.empty
    else if (fs.getFileStatus(p).isFile) Seq(dir)
    else fs.listStatus(p).toSeq.filter(_.isFile)
      .filterNot(st => st.getPath.getName.startsWith(".")) // in-flight tmp
      .map(_.getPath.toString).filterNot(_.contains("_SUCCESS")).sorted
  }

  private[sources] def readArrowSchema(file: String)
      : org.apache.arrow.vector.types.pojo.Schema = {
    val p = new Path(file)
    val fs = HadoopFiles.fs(p)
    val in = fs.open(p)
    val allocator = new RootAllocator(Long.MaxValue)
    try {
      val reader = new ArrowStreamReader(in, allocator)
      val s = reader.getVectorSchemaRoot.getSchema
      reader.close()
      s
    } finally {
      allocator.close()
      in.close()
    }
  }

  private[sources] def sparkField(f: Field): StructField = {
    def scalar(t: ArrowType): DataType = t match {
      case i: ArrowType.Int if i.getBitWidth == 32 => IntegerType
      case i: ArrowType.Int if i.getBitWidth == 64 => LongType
      case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.SINGLE => FloatType
      case fp: ArrowType.FloatingPoint
        if fp.getPrecision == FloatingPointPrecision.DOUBLE => DoubleType
      case _: ArrowType.Utf8 => StringType
      case other => throw new IllegalArgumentException(
        s"unsupported Arrow type: $other")
    }
    f.getType match {
      case _: ArrowType.List =>
        val child = f.getChildren.get(0)
        StructField(f.getName, ArrayType(scalar(child.getType)),
          nullable = true)
      case _: ArrowType.FixedSizeList =>
        // the reference's frozen embedding envelope
        // (GdsActionHandler.java:193-220) — loads as a plain array column
        val child = f.getChildren.get(0)
        StructField(f.getName, ArrayType(scalar(child.getType)),
          nullable = true)
      case t => StructField(f.getName, scalar(t), nullable = true)
    }
  }

  private[sources] def sparkSchema(
      s: org.apache.arrow.vector.types.pojo.Schema): StructType =
    StructType(s.getFields.asScala.map(sparkField).toSeq)
}

final class ArrowIpcTable(schema: StructType, path: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"arrow-ipc `$path`"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new ArrowIpcScan(schema, path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ArrowIpcWriteBuilder(info.schema(), path)
}

final class ArrowIpcScan(schema: StructType, path: String) extends Scan
    with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val files = ArrowIpcSource.listFiles(path)
    // schema.isEmpty = the table was resolved over an empty directory
    // (a fresh write target — Spark's write planning also touches the
    // target relation's scan, so this must stay plannable as 0
    // partitions). A NON-empty schema with no files means the files
    // vanished between inference and planning — fail loudly.
    require(files.nonEmpty || schema.isEmpty,
      s"no Arrow IPC files under $path")
    files.map(ArrowIpcFilePartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowIpcReaderFactory(schema)
}

final case class ArrowIpcFilePartition(file: String) extends InputPartition

/** Columnar: each file's record batches are served as they load. */
final class ArrowIpcReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val file = partition.asInstanceOf[ArrowIpcFilePartition].file
    val p = new Path(file)
    new ArrowIpc.BatchReader(HadoopFiles.fs(p).open(p), { root =>
      require(ArrowIpcSource.sparkSchema(root.getSchema) == schema,
        s"stream schema of $file does not match the inferred table schema")
      root.getFieldVectors.asScala.toSeq
    })
  }
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("Arrow IPC scans are columnar")
}

// ---------------------------------------------------------------- write

/** DSv2 WRITE path — the sink half of the data plane with real commit
  * semantics (the plain [[ArrowIpc.writeIpcFiles]] kernel has no task
  * commit protocol, so a retried/speculative task could leave torn
  * files; at cluster scale the protocol is the difference between a
  * sink and a demo):
  *
  *  - each task streams its partition into a DOT-PREFIXED temp file
  *    (readers ignore dot files) batch-by-batch — one record batch in
  *    memory at a time, same as the egress kernel;
  *  - task commit = atomic-rename temp → `part-<pid>-<taskId>.arrows`
  *    (the driver-side commit coordinator guarantees one committed
  *    attempt per task);
  *  - job commit = drop orphaned temps, honor truncate (delete part
  *    files not in this job's manifest), then `_SUCCESS`;
  *  - abort = delete temp + any committed file of this attempt.
  *
  * `df.write.format("graft.sources.ArrowIpcSource").option("path", dir)
  * .mode("append"|"overwrite").save()` round-trips through the read
  * path with per-file parallelism.
  */
final class ArrowIpcWriteBuilder(schema: StructType, path: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate()
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    doTruncate = true; this
  }
  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.Write {
      override def toBatch
          : org.apache.spark.sql.connector.write.BatchWrite =
        new ArrowIpcBatchWrite(schema, path, doTruncate)
    }
}

final case class ArrowIpcCommitMessage(file: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

final class ArrowIpcBatchWrite(schema: StructType, path: String,
                               truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {

  // Job-unique token baked into every part-file name: Spark task IDs are
  // only unique within ONE application, so append-mode jobs from two
  // applications writing the same directory would otherwise collide on
  // part-<pid>-<tid>.arrows and silently overwrite each other's commits.
  private val jobToken =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    new ArrowIpcWriterFactory(schema, path, jobToken)

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    // compare by file NAME: task-side Path.toString may carry a scheme
    // ("file:/...") the driver-side listing spells differently
    val committed = messages.collect {
      case ArrowIpcCommitMessage(f) if f.nonEmpty => new Path(f).getName
    }.toSet
    val dir = new Path(path)
    val fs = HadoopFiles.fs(dir)
    if (fs.exists(dir)) {
      fs.listStatus(dir).toSeq.filter(_.isFile).foreach { st =>
        val name = st.getPath.getName
        val isTemp = name.startsWith(".")
        val isOurs = committed.contains(name)
        // truncate = this job's manifest REPLACES the directory; append
        // keeps prior part files. Orphan temps always go.
        if (isTemp || (truncate && !isOurs && name != "_SUCCESS"))
          fs.delete(st.getPath, false)
      }
    }
    val ok = fs.create(new Path(dir, "_SUCCESS"), true)
    ok.close()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val fs = HadoopFiles.fs(new Path(path))
    messages.foreach {
      case ArrowIpcCommitMessage(f) if f != null && f.nonEmpty =>
        fs.delete(new Path(f), false)
      case _ => ()
    }
  }
}

final class ArrowIpcWriterFactory(schema: StructType, path: String,
                                  jobToken: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new ArrowIpcDataWriter(schema, path, partitionId, taskId, jobToken)
}

/** Streams one partition into one IPC file, batch-by-batch (≤ batchSize
  * rows of Arrow vectors in memory). Opens lazily on the first row so
  * empty partitions produce no file at all (matching the read side's
  * one-partition-per-file contract). */
final class ArrowIpcDataWriter(schema: StructType, path: String,
                               partitionId: Int, taskId: Long,
                               jobToken: String)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val tmpPath =
    new Path(path, f".part-$partitionId%05d-$jobToken-$taskId.arrows.tmp")
  private val finalPath =
    new Path(path, f"part-$partitionId%05d-$jobToken-$taskId.arrows")

  private var out: org.apache.hadoop.fs.FSDataOutputStream = _
  private var enc: ArrowIpc.StreamEncoder = _

  override def write(record: InternalRow): Unit = {
    if (enc == null) {
      val fs = HadoopFiles.fs(tmpPath)
      fs.mkdirs(new Path(path))
      out = fs.create(tmpPath, true)
      enc = new ArrowIpc.StreamEncoder(schema, Map.empty,
        ArrowIpc.DefaultBatchSize, out)
    }
    enc.write(record)
  }

  override def commit()
      : org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (enc == null) return ArrowIpcCommitMessage("")
    enc.finish()
    out.close()
    val fs = HadoopFiles.fs(tmpPath)
    // no delete(finalPath): the job token makes the name unique across
    // applications, so an existing file is a REAL conflict and the
    // rename below fails loudly instead of silently clobbering it
    require(fs.rename(tmpPath, finalPath),
      s"task commit rename failed: $tmpPath -> $finalPath")
    ArrowIpcCommitMessage(finalPath.toString)
  }

  override def abort(): Unit = {
    try if (out != null) out.close() catch { case _: Throwable => () }
    val fs = HadoopFiles.fs(tmpPath)
    fs.delete(tmpPath, false)
    ()
  }

  override def close(): Unit = if (enc != null) enc.close()
}
