package graft.sources

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

/** DataSource V2 reader over a LIVE Arrow Flight gRPC endpoint — the
  * consumer half of the reference's data plane as a first-class Spark
  * source (the public arrow-flight Spark connector pattern):
  *
  * {{{
  * spark.read.format("graft.sources.FlightSource")
  *   .option("host", h).option("port", p).option("token", t)
  *   .option("flight", name).load()
  * }}}
  *
  * Planning (driver): one gRPC `GetSchema` infers the Spark schema from
  * the wire's IPC-encapsulated Arrow schema; one `GetFlightInfo` returns
  * the endpoint list — ONE ENDPOINT PER SERVER-SIDE PARTITION (ticket
  * `name#i`, [[FlightService.partitionedFlightInfo]]). Execution: each
  * Spark task opens its own HTTP/2 connection and `DoGet`s exactly one
  * endpoint — N-way parallel consumption with no driver-side
  * materialization and no cross-task coordination, which is how a
  * 1000-executor cluster would drain a Flight server. A task buffers at
  * most its own partition's bytes (the server stages per-partition files
  * at GetFlightInfo time, so no nested Spark job runs under the reader
  * fleet — see FlightService's staging note).
  */
class FlightSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val (host, port, token, flight) = FlightSource.opts(options)
    val cli = new FlightGrpc.Client(host, port, token)
    try {
      val schemaBytes = cli.getSchema(flight)
      ArrowIpcSource.sparkSchema(
        org.apache.arrow.vector.ipc.message.MessageSerializer
          .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
            java.nio.channels.Channels.newChannel(
              new ByteArrayInputStream(schemaBytes)))))
    } finally cli.close()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val o = new CaseInsensitiveStringMap(properties)
    val (host, port, token, flight) = FlightSource.opts(o)
    new FlightTable(schema, host, port, token, flight)
  }

  override def supportsExternalMetadata(): Boolean = true
}

object FlightSource {
  private[sources] def opts(o: CaseInsensitiveStringMap)
      : (String, Int, String, String) = {
    def req(k: String): String = {
      val v = o.get(k)
      require(v != null && v.nonEmpty, s"flight source requires option '$k'")
      v
    }
    (o.getOrDefault("host", "127.0.0.1"), req("port").toInt,
      req("token"), req("flight"))
  }
}

final class FlightTable(schema: StructType, host: String, port: Int,
                        token: String, flight: String)
    extends Table with SupportsRead {
  override def name(): String = s"flight `$flight` @ $host:$port"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new FlightScanBuilder(schema, host, port, token, flight)
}

/** Column pruning AND filters push THROUGH the wire: the pruned schema
  * and a supported-predicate subset ride the (opaque) DoGet ticket as
  * `?cols=…&flt=…`, and the server re-encodes only the selected rows
  * and vectors — a filtered 2-column projection of a wide flight ships
  * just those bytes. Pushed filters are conservative data reduction:
  * `pushFilters` returns EVERY filter as residual, so Spark re-applies
  * them post-scan (the parquet model) and wire evaluation can only ship
  * extra rows, never change results. Pushable: eq/gt/ge/lt/le on
  * int/long/float/double columns, eq on strings, IsNotNull — per the
  * envelope the server can evaluate on raw Arrow vectors. */
final class FlightScanBuilder(full: StructType, host: String, port: Int,
                              token: String, flight: String)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  import org.apache.spark.sql.sources._

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  private def ident(c: String): Boolean =
    c.matches("[A-Za-z_][A-Za-z0-9_]*") // keeps the ticket grammar safe

  private def numLit(v: Any): Option[String] = v match {
    case i: java.lang.Integer => Some(s"l:$i")
    case l: java.lang.Long => Some(s"l:$l")
    case f: java.lang.Float => Some(s"d:${f.toDouble}")
    case d: java.lang.Double => Some(s"d:$d")
    case _ => None
  }

  private def eqLit(v: Any): Option[String] = v match {
    case s: String => Some("s:" + java.util.Base64.getUrlEncoder
      .withoutPadding.encodeToString(s.getBytes(UTF_8)))
    case other => numLit(other)
  }

  private def toTicket(f: Filter): Option[FlightService.TicketFilter] =
    f match {
      case EqualTo(c, v) if ident(c) =>
        eqLit(v).map(FlightService.TicketFilter(c, "eq", _))
      case GreaterThan(c, v) if ident(c) =>
        numLit(v).map(FlightService.TicketFilter(c, "gt", _))
      case GreaterThanOrEqual(c, v) if ident(c) =>
        numLit(v).map(FlightService.TicketFilter(c, "ge", _))
      case LessThan(c, v) if ident(c) =>
        numLit(v).map(FlightService.TicketFilter(c, "lt", _))
      case LessThanOrEqual(c, v) if ident(c) =>
        numLit(v).map(FlightService.TicketFilter(c, "le", _))
      case IsNotNull(c) if ident(c) =>
        Some(FlightService.TicketFilter(c, "nn", ""))
      case _ => None
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => toTicket(f).isDefined)
    filters // ALL residual: Spark re-applies, pushdown is reduction only
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    // push the projection only when EVERY required column name passes
    // the same ident() grammar the filters use — a name containing
    // '?', '&', ',' or '#' would corrupt the ticket's query-string
    // parse server-side; fall back to a full-stream fetch instead
    val colsPruned = required.fieldNames.toSeq != full.fieldNames.toSeq &&
      required.fieldNames.forall(ident)
    val parts = Seq(
      if (colsPruned) Seq("cols=" + required.fieldNames.mkString(","))
      else Nil,
      if (pushed.nonEmpty) Seq("flt=" + FlightService.encodeTicketFilters(
        pushed.flatMap(toTicket).toSeq))
      else Nil).flatten
    new FlightScan(required, host, port, token, flight,
      colsSuffix = if (parts.isEmpty) None
        else Some("?" + parts.mkString("&")))
  }
}

final class FlightScan(schema: StructType, host: String, port: Int,
                       token: String, flight: String,
                       colsSuffix: Option[String]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  /** Driver-side GetFlightInfo: triggers server-side staging once and
    * yields the per-partition tickets the tasks will DoGet. */
  override def planInputPartitions(): Array[InputPartition] = {
    val cli = new FlightGrpc.Client(host, port, token)
    try {
      cli.getFlightInfo(flight).endpoints.map { ep =>
        val raw = ep.ticket.ticket
        // the ?cols=/?flt= suffix is a GRAFT-SERVER ticket extension;
        // Flight tickets are opaque BYTES, so it may only ride tickets
        // that match our server's own printable `name#<i>` shape — a
        // foreign server's ticket passes through byte-identical (a
        // lossy UTF-8 round-trip would corrupt binary tickets); wire
        // pushdown is lost there, but the reader projects client-side
        val isAscii = raw.forall(b => b >= 0x20 && b < 0x7f)
        val asString = if (isAscii) new String(raw, UTF_8) else ""
        val isGraftTicket = isAscii && asString.startsWith(flight + "#") &&
          asString.substring(flight.length + 1).forall(_.isDigit)
        FlightEndpointPartition(
          if (isGraftTicket)
            (asString + colsSuffix.getOrElse("")).getBytes(UTF_8)
          else raw)
          : InputPartition
      }.toArray
    } finally cli.close()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new FlightReaderFactory(schema, host, port, token)
}

final case class FlightEndpointPartition(ticket: Array[Byte])
    extends InputPartition

/** One task's endpoint drain: its own gRPC connection, one DoGet, the
  * reassembled IPC stream served batch by batch. Columns are projected
  * BY NAME: a server that ignored (or never saw) the ticket's cols=
  * suffix ships its full column set, so the reader selects what the scan
  * needs and verifies the types instead of requiring schema identity. */
final class FlightReaderFactory(schema: StructType, host: String,
                                port: Int, token: String)
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean =
    true
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val ticket = partition.asInstanceOf[FlightEndpointPartition].ticket
    val cli = new FlightGrpc.Client(host, port, token)
    val blob =
      try {
        val msgs = cli.callOk("DoGet",
            Seq(FlightProto.Ticket(ticket).encode))
          .map(FlightProto.FlightData.decode)
          .map(fd => FlightProto.IpcMessage(fd.dataHeader, fd.dataBody))
        require(msgs.nonEmpty,
          s"empty DoGet stream for ticket ${new String(ticket, UTF_8)}")
        // one endpoint = one partition = one self-contained IPC stream
        FlightProto.joinIpcStream(msgs)
      } finally cli.close()
    new ArrowIpc.BatchReader(new ByteArrayInputStream(blob), { root =>
      val vs = schema.fields.toSeq.map { f =>
        Option(root.getVector(f.name)).getOrElse(
          throw new IllegalArgumentException(
            s"column ${f.name} missing from flight stream ${root.getSchema}"))
      }
      require(ArrowIpcSource.sparkSchema(new Schema(
          vs.map(_.getField).asJava)) == schema,
        s"flight stream schema ${root.getSchema} incompatible with " +
          s"expected $schema")
      vs
    })
  }
  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("Flight scans are columnar")
}
