package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Structured Streaming SOURCE over a live Flight server's append log —
  * continuous ingest from the reference's data plane:
  *
  * {{{
  * spark.readStream.format("graft.sources.FlightStreamSource")
  *   .option("host", h).option("port", p).option("token", t)
  *   .option("flight", name).load()
  * }}}
  *
  * Producers `DoPut` immutable batches under descriptor path
  * ["append", name] ([[FlightGrpc.Client.doPutAppend]]); the server
  * stages each batch's partitions as local IPC files and bumps a log
  * sequence number. This source maps Structured Streaming's offset
  * contract onto that log:
  *
  *  - `latestOffset` = log length (one gRPC `flight.log` action);
  *  - a micro-batch (start, end] plans ONE INPUT PARTITION PER STAGED
  *    FILE across the log range (`flight.log.tickets` action → tickets
  *    `name@seq#i`), so batch parallelism follows producer parallelism;
  *  - tasks reuse [[FlightReaderFactory]] — each drains its ticket
  *    over its own HTTP/2 connection; the server serves file bytes with
  *    no Spark job, so a reader fleet can never deadlock the server;
  *  - batches are immutable once appended and offsets are durable log
  *    indices, so checkpoint recovery replays exactly the uncommitted
  *    range — the same exactly-once-per-batch contract as the built-in
  *    file source.
  *
  * The reference's put-stream is fire-and-forget ingest
  * (BulkImportJob.java:49-51); this completes it into a replayable
  * streaming feed. */
class FlightStreamSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (host, port, token, flight) = FlightSource.opts(options)
    val cli = new FlightGrpc.Client(host, port, token)
    try StructType.fromDDL(
      cli.doAction("flight.log.schema", flight).asString)
    finally cli.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    val (host, port, token, flight) = FlightSource.opts(o)
    val maxBatches = Option(o.get("maxBatchesPerTrigger")).map(_.toInt)
    new FlightStreamTable(schema, host, port, token, flight, maxBatches)
  }

  override def supportsExternalMetadata(): Boolean = true
}

final class FlightStreamTable(schema: StructType, host: String, port: Int,
                              token: String, flight: String,
                              maxBatches: Option[Int])
    extends Table with SupportsRead {
  override def name(): String = s"flight-log `$flight` @ $host:$port"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = schema
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        new FlightMicroBatchStream(schema, host, port, token, flight,
          maxBatches)
    }
}

/** Offset = append-log length; serialized as its decimal string. */
final case class FlightLogOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

final class FlightMicroBatchStream(schema: StructType, host: String,
                                   port: Int, token: String, flight: String,
                                   maxBatches: Option[Int] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{ReadLimit, ReadMaxFiles}

  private def withClient[A](f: FlightGrpc.Client => A): A = {
    val cli = new FlightGrpc.Client(host, port, token)
    try f(cli) finally cli.close()
  }

  private def remoteLogSize: Long =
    withClient(_.doAction("flight.log", flight).asString.toLong)

  // Trigger.AvailableNow snapshot: the query drains to the log length
  // observed at start, in admission-capped micro-batches, then stops —
  // appends racing the drain wait for the next run
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = Some(remoteLogSize)
  }

  override def initialOffset(): Offset = FlightLogOffset(0L)

  override def latestOffset(): Offset = FlightLogOffset(remoteLogSize)

  /** Admission control: `maxBatchesPerTrigger` caps how many LOG
    * ENTRIES one micro-batch admits (a log entry is the unit a producer
    * committed — the analog of the file source's maxFilesPerTrigger). */
  override def getDefaultReadLimit: ReadLimit =
    maxBatches.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FlightLogOffset].seq
    val latest = availableNowCap.getOrElse(remoteLogSize)
    // a remote log SHORTER than the checkpointed offset means the
    // server restarted and lost appends — fail with the real diagnosis
    // instead of letting an inverted (start, end] range die in an
    // opaque server-side range check
    if (latest < s)
      throw new IllegalStateException(
        s"flight append log truncated below the checkpointed offset: " +
          s"remote length $latest < offset $s — the server lost " +
          "appends (restart?); clear the checkpoint or replay the log")
    limit match {
      case mf: ReadMaxFiles =>
        FlightLogOffset(math.min(s + mf.maxFiles().toLong, latest))
      case _ => FlightLogOffset(latest)
    }
  }

  override def reportLatestOffset(): Offset = FlightLogOffset(remoteLogSize)

  override def deserializeOffset(json: String): Offset =
    FlightLogOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FlightLogOffset].seq,
      end.asInstanceOf[FlightLogOffset].seq)
    if (s == e) Array.empty
    else withClient(
        _.doAction("flight.log.tickets", s"$flight\t$s\t$e").asString)
      .split("\n").filter(_.nonEmpty)
      .map(t => FlightEndpointPartition(
        t.getBytes(java.nio.charset.StandardCharsets.UTF_8)): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FlightReaderFactory(schema, host, port, token)

  /** Batches are immutable staged files; nothing to release per-commit
    * (the server's staging lifetime is the server's, not the query's). */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}
