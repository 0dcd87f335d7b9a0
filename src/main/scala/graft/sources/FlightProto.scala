package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

/** Arrow Flight PROTOCOL messages on the wire — the last offline-buildable
  * slice of the reference's gRPC surface (Producer.java:86-510 serves
  * FlightInfo/FlightData over grpc-java; App.java wires the server). This
  * environment ships no arrow-flight or grpc jars and no unshaded
  * protobuf-java (only ORC/Spark-Connect shaded copies, which are private
  * API), so the protobuf WIRE FORMAT is hand-rolled here from the public
  * spec: a protobuf message is a sequence of (field-number, wire-type)
  * tags with varint / length-delimited payloads — nothing more is needed
  * for the four Flight message shapes.
  *
  * Message shapes follow the public `arrow/flight/Flight.proto`:
  *
  *  - `FlightDescriptor { type=1 (enum: 0 UNKNOWN, 1 PATH, 2 CMD),
  *    cmd=2 (bytes), path=3 (repeated string) }`
  *  - `Ticket { ticket=1 (bytes) }`
  *  - `Location { uri=1 (string) }`
  *  - `FlightEndpoint { ticket=1 (Ticket), location=2 (repeated Location) }`
  *  - `FlightInfo { schema=1 (bytes: IPC-encapsulated Schema message),
  *    flight_descriptor=2, endpoint=3 (repeated), total_records=4 (int64),
  *    total_bytes=5 (int64) }`
  *  - `FlightData { flight_descriptor=1, data_header=2 (bytes: the
  *    flatbuffer Message), app_metadata=3 (bytes), data_body=1000 (bytes) }`
  *
  * [[FlightGrpc]] carries these messages as gRPC length-prefixed frames
  * over HTTP/2 — the session layer a stock `arrow-flight` client speaks.
  */
object FlightProto {

  // ---------------------------------------------------------------- wire
  /** Minimal protobuf wire writer: varint (wire type 0) and
    * length-delimited (wire type 2) are the only types Flight needs. */
  final class Writer {
    private val out = new ByteArrayOutputStream()
    def varint(v: Long): this.type = {
      var x = v
      while ((x & ~0x7FL) != 0L) { out.write(((x & 0x7F) | 0x80).toInt); x >>>= 7 }
      out.write(x.toInt)
      this
    }
    private def tag(field: Int, wt: Int): this.type = varint((field.toLong << 3) | wt)
    def int64Field(field: Int, v: Long): this.type =
      if (v == 0L) this else { tag(field, 0); varint(v) }
    def bytesField(field: Int, b: Array[Byte]): this.type =
      if (b == null || b.isEmpty) this
      else { tag(field, 2); varint(b.length.toLong); out.write(b); this }
    /** bytes field that emits even when empty (proto3 drops defaults, but
      * a present-but-empty data_body is meaningful in FlightData). */
    def bytesFieldAlways(field: Int, b: Array[Byte]): this.type = {
      tag(field, 2); varint(b.length.toLong); out.write(b); this
    }
    def stringField(field: Int, s: String): this.type =
      bytesField(field, s.getBytes(UTF_8))
    def messageField(field: Int, m: Array[Byte]): this.type =
      bytesField(field, m)
    def result(): Array[Byte] = out.toByteArray
  }

  /** Minimal protobuf wire reader: walks top-level fields, collecting
    * (fieldNumber → payloads); unknown fields are skipped per spec so a
    * richer peer (a real Flight client) stays compatible. */
  final class Reader(buf: Array[Byte]) {
    private var pos = 0
    def varint(): Long = {
      var shift = 0; var acc = 0L
      while (true) {
        val b = buf(pos); pos += 1
        acc |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
        require(shift < 64, "varint overflow")
      }
      acc
    }
    private def lengthDelimited(): Array[Byte] = {
      val n = varint().toInt
      require(n >= 0 && pos + n <= buf.length, s"bad ld length $n")
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + n)
      pos += n
      b
    }
    /** All fields, in order: (fieldNumber, Left(varint) | Right(bytes)). */
    def fields(): Seq[(Int, Either[Long, Array[Byte]])] = {
      val acc = Seq.newBuilder[(Int, Either[Long, Array[Byte]])]
      while (pos < buf.length) {
        val t = varint()
        val field = (t >>> 3).toInt
        (t & 7) match {
          case 0 => acc += field -> Left(varint())
          case 2 => acc += field -> Right(lengthDelimited())
          case 1 => pos += 8; () // fixed64: skip (unused by Flight)
          case 5 => pos += 4; () // fixed32: skip
          case wt => throw new IllegalArgumentException(s"wire type $wt")
        }
      }
      acc.result()
    }
  }

  private def bytesOf(fs: Seq[(Int, Either[Long, Array[Byte]])], f: Int): Array[Byte] =
    fs.collectFirst { case (`f`, Right(b)) => b }.getOrElse(Array.emptyByteArray)
  private def allBytesOf(fs: Seq[(Int, Either[Long, Array[Byte]])], f: Int): Seq[Array[Byte]] =
    fs.collect { case (`f`, Right(b)) => b }
  private def longOf(fs: Seq[(Int, Either[Long, Array[Byte]])], f: Int): Long =
    fs.collectFirst { case (`f`, Left(v)) => v }.getOrElse(0L)

  // ------------------------------------------------------------ messages
  object DescriptorType { val Unknown = 0; val Path = 1; val Cmd = 2 }

  final case class FlightDescriptor(dtype: Int, cmd: Array[Byte],
                                    path: Seq[String]) {
    def encode: Array[Byte] = {
      val w = new Writer().int64Field(1, dtype.toLong).bytesField(2, cmd)
      path.foreach(p => w.stringField(3, p))
      w.result()
    }
  }
  object FlightDescriptor {
    def path(segments: String*): FlightDescriptor =
      FlightDescriptor(DescriptorType.Path, Array.emptyByteArray, segments)
    def decode(b: Array[Byte]): FlightDescriptor = {
      val fs = new Reader(b).fields()
      FlightDescriptor(longOf(fs, 1).toInt, bytesOf(fs, 2),
        allBytesOf(fs, 3).map(new String(_, UTF_8)))
    }
  }

  final case class Ticket(ticket: Array[Byte]) {
    def encode: Array[Byte] = new Writer().bytesField(1, ticket).result()
    def asString: String = new String(ticket, UTF_8)
  }
  object Ticket {
    def of(s: String): Ticket = Ticket(s.getBytes(UTF_8))
    def decode(b: Array[Byte]): Ticket = Ticket(bytesOf(new Reader(b).fields(), 1))
  }

  final case class Location(uri: String) {
    def encode: Array[Byte] = new Writer().stringField(1, uri).result()
  }
  object Location {
    def decode(b: Array[Byte]): Location =
      Location(new String(bytesOf(new Reader(b).fields(), 1), UTF_8))
  }

  final case class FlightEndpoint(ticket: Ticket, locations: Seq[Location]) {
    def encode: Array[Byte] = {
      val w = new Writer().messageField(1, ticket.encode)
      locations.foreach(l => w.messageField(2, l.encode))
      w.result()
    }
  }
  object FlightEndpoint {
    def decode(b: Array[Byte]): FlightEndpoint = {
      val fs = new Reader(b).fields()
      FlightEndpoint(Ticket.decode(bytesOf(fs, 1)),
        allBytesOf(fs, 2).map(Location.decode))
    }
  }

  final case class FlightInfo(schema: Array[Byte],
                              descriptor: FlightDescriptor,
                              endpoints: Seq[FlightEndpoint],
                              totalRecords: Long, totalBytes: Long) {
    def encode: Array[Byte] = {
      val w = new Writer().bytesField(1, schema)
        .messageField(2, descriptor.encode)
      endpoints.foreach(e => w.messageField(3, e.encode))
      // total_records/bytes of -1 = unknown (Flight convention); int64 on
      // the wire is a plain (two's-complement) varint
      w.int64Field(4, totalRecords).int64Field(5, totalBytes)
      w.result()
    }
  }
  object FlightInfo {
    def decode(b: Array[Byte]): FlightInfo = {
      val fs = new Reader(b).fields()
      FlightInfo(bytesOf(fs, 1), FlightDescriptor.decode(bytesOf(fs, 2)),
        allBytesOf(fs, 3).map(FlightEndpoint.decode),
        longOf(fs, 4), longOf(fs, 5))
    }
  }

  final case class FlightData(descriptor: Option[FlightDescriptor],
                              dataHeader: Array[Byte],
                              appMetadata: Array[Byte],
                              dataBody: Array[Byte]) {
    def encode: Array[Byte] = {
      val w = new Writer()
      descriptor.foreach(d => w.messageField(1, d.encode))
      w.bytesField(2, dataHeader).bytesField(3, appMetadata)
      // data_body rides field 1000 (tag 8002) per Flight.proto — kept
      // last and always-present so a streaming decoder can splice the
      // Arrow body without re-buffering
      w.bytesFieldAlways(1000, dataBody)
      w.result()
    }
  }
  object FlightData {
    def decode(b: Array[Byte]): FlightData = {
      val fs = new Reader(b).fields()
      val desc = fs.collectFirst { case (1, Right(d)) => FlightDescriptor.decode(d) }
      FlightData(desc, bytesOf(fs, 2), bytesOf(fs, 3), bytesOf(fs, 1000))
    }
  }

  /** `Action { type=1 (string), body=2 (bytes) }` — the doAction request
    * (reference dispatches on type via its handler map,
    * Producer.java:513-541). */
  final case class Action(atype: String, body: Array[Byte]) {
    def encode: Array[Byte] =
      new Writer().stringField(1, atype).bytesField(2, body).result()
  }
  object Action {
    def of(atype: String, body: String = ""): Action =
      Action(atype, body.getBytes(UTF_8))
    def decode(b: Array[Byte]): Action = {
      val fs = new Reader(b).fields()
      Action(new String(bytesOf(fs, 1), UTF_8), bytesOf(fs, 2))
    }
  }

  /** `ActionType { type=1 (string), description=2 (string) }` — one
    * listActions entry (reference: ActionHandler.actionDescriptions,
    * Producer.java:543-550). */
  final case class ActionType(atype: String, description: String) {
    def encode: Array[Byte] = new Writer()
      .stringField(1, atype).stringField(2, description).result()
  }
  object ActionType {
    def decode(b: Array[Byte]): ActionType = {
      val fs = new Reader(b).fields()
      ActionType(new String(bytesOf(fs, 1), UTF_8),
        new String(bytesOf(fs, 2), UTF_8))
    }
  }

  /** `Result { body=1 (bytes) }` — the doAction response. */
  final case class ActionResult(body: Array[Byte]) {
    def encode: Array[Byte] = new Writer().bytesFieldAlways(1, body).result()
    def asString: String = new String(body, UTF_8)
  }
  object ActionResult {
    def of(s: String): ActionResult = ActionResult(s.getBytes(UTF_8))
    def decode(b: Array[Byte]): ActionResult =
      ActionResult(bytesOf(new Reader(b).fields(), 1))
  }

  /** `Criteria { expression=1 (bytes) }` — the listFlights request. An
    * empty expression lists everything (the reference ignores it,
    * Producer.java listFlights). */
  final case class Criteria(expression: Array[Byte]) {
    def encode: Array[Byte] = new Writer().bytesField(1, expression).result()
  }
  object Criteria {
    val all: Criteria = Criteria(Array.emptyByteArray)
    def decode(b: Array[Byte]): Criteria =
      Criteria(bytesOf(new Reader(b).fields(), 1))
  }

  /** `SchemaResult { schema=1 (bytes: IPC-encapsulated Schema) }` — the
    * getSchema response. */
  final case class SchemaResult(schema: Array[Byte]) {
    def encode: Array[Byte] = new Writer().bytesField(1, schema).result()
  }
  object SchemaResult {
    def decode(b: Array[Byte]): SchemaResult =
      SchemaResult(bytesOf(new Reader(b).fields(), 1))
  }

  /** `PutResult { app_metadata=1 (bytes) }` — one acceptPut ack (the
    * reference acks row counts through it, Producer.java acceptPut). */
  final case class PutResult(appMetadata: Array[Byte]) {
    def encode: Array[Byte] =
      new Writer().bytesFieldAlways(1, appMetadata).result()
    def asString: String = new String(appMetadata, UTF_8)
  }
  object PutResult {
    def of(s: String): PutResult = PutResult(s.getBytes(UTF_8))
    def decode(b: Array[Byte]): PutResult =
      PutResult(bytesOf(new Reader(b).fields(), 1))
  }

  /** `HandshakeRequest/HandshakeResponse { protocol_version=1 (uint64),
    * payload=2 (bytes) }` — the Flight auth handshake both directions
    * share one shape (reference: HorribleBasicAuthValidator exchanges the
    * shared secret through it). */
  final case class Handshake(protocolVersion: Long, payload: Array[Byte]) {
    def encode: Array[Byte] = new Writer()
      .int64Field(1, protocolVersion).bytesField(2, payload).result()
  }
  object Handshake {
    def of(payload: String): Handshake =
      Handshake(0L, payload.getBytes(UTF_8))
    def decode(b: Array[Byte]): Handshake = {
      val fs = new Reader(b).fields()
      Handshake(longOf(fs, 1), bytesOf(fs, 2))
    }
  }

  // -------------------------------------------- IPC stream <-> FlightData
  /** One encapsulated Arrow IPC message: the flatbuffer metadata (what
    * Flight puts in `data_header`) and the body bytes (`data_body`). */
  final case class IpcMessage(metadata: Array[Byte], body: Array[Byte])

  /** Split a self-contained Arrow IPC STREAM (as [[ArrowIpc.toIpcStreams]]
    * emits per partition) into its encapsulated messages — the exact
    * per-message framing a Flight `getStream` sends as FlightData frames:
    * first the Schema message (empty body), then one message per record
    * batch. Framing per the Arrow spec: 0xFFFFFFFF continuation, int32 LE
    * metadata length (flatbuffer, 8-padded), body of `bodyLength` bytes
    * read from the flatbuffer Message; end-of-stream = zero length. */
  def splitIpcStream(stream: Array[Byte]): Seq[IpcMessage] = {
    val bb = ByteBuffer.wrap(stream).order(ByteOrder.LITTLE_ENDIAN)
    val acc = Seq.newBuilder[IpcMessage]
    var done = false
    while (!done && bb.remaining() >= 4) {
      val first = bb.getInt()
      val metaLen =
        if (first == -1) { if (bb.remaining() < 4) throw truncated else bb.getInt() }
        else first // pre-1.0 stream without continuation marker
      if (metaLen == 0) done = true
      else {
        if (bb.remaining() < metaLen) throw truncated
        val meta = new Array[Byte](metaLen)
        bb.get(meta)
        val fb = org.apache.arrow.flatbuf.Message.getRootAsMessage(
          ByteBuffer.wrap(meta).order(ByteOrder.LITTLE_ENDIAN))
        val bodyLen = fb.bodyLength().toInt
        if (bb.remaining() < bodyLen) throw truncated
        val body = new Array[Byte](bodyLen)
        bb.get(body)
        acc += IpcMessage(meta, body)
      }
    }
    acc.result()
  }
  private def truncated = new IllegalArgumentException("truncated IPC stream")

  /** Stream an Arrow IPC STREAM's encapsulated messages from an
    * InputStream, one at a time — the heap-bounded form of
    * [[splitIpcStream]] for serving staged partition files: a DoGet of
    * a multi-GB partition holds ONE message in memory, not the file
    * plus a full split copy (the 8-concurrent-consumers OOM shape).
    * The caller owns closing the input. */
  def ipcMessageIterator(in: java.io.InputStream): Iterator[IpcMessage] =
    new Iterator[IpcMessage] {
      private val data = new java.io.DataInputStream(in)
      private var nextMsg: IpcMessage = _
      private var done = false
      private def le(i: Int): Int = Integer.reverseBytes(i)
      private def advance(): Unit = {
        if (done || nextMsg != null) return
        val first =
          try le(data.readInt())
          catch { case _: java.io.EOFException => done = true; return }
        val metaLen = if (first == -1) le(data.readInt()) else first
        if (metaLen == 0) { done = true; return }
        val meta = new Array[Byte](metaLen)
        data.readFully(meta)
        val fb = org.apache.arrow.flatbuf.Message.getRootAsMessage(
          ByteBuffer.wrap(meta).order(ByteOrder.LITTLE_ENDIAN))
        val body = new Array[Byte](fb.bodyLength().toInt)
        data.readFully(body)
        nextMsg = IpcMessage(meta, body)
      }
      def hasNext: Boolean = { advance(); nextMsg != null }
      def next(): IpcMessage = {
        advance()
        if (nextMsg == null) throw new NoSuchElementException
        val m = nextMsg; nextMsg = null; m
      }
    }

  /** Reassemble messages (e.g. decoded FlightData frames) back into a
    * self-contained IPC stream — byte-exact inverse of [[splitIpcStream]]
    * (metadata arrives already 8-padded from the original writer). */
  def joinIpcStream(msgs: Seq[IpcMessage]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val hdr = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
    msgs.foreach { m =>
      hdr.clear(); hdr.putInt(-1); hdr.putInt(m.metadata.length)
      out.write(hdr.array(), 0, 8)
      out.write(m.metadata)
      out.write(m.body)
    }
    hdr.clear(); hdr.putInt(-1); hdr.putInt(0) // end-of-stream
    out.write(hdr.array(), 0, 8)
    out.toByteArray
  }

  /** True iff this encapsulated message is a Schema header — the start of
    * a new logical stream (FPUT uses it to find partition boundaries). */
  def isSchemaMessage(m: IpcMessage): Boolean =
    org.apache.arrow.flatbuf.Message.getRootAsMessage(
      ByteBuffer.wrap(m.metadata).order(ByteOrder.LITTLE_ENDIAN))
      .headerType() == org.apache.arrow.flatbuf.MessageHeader.Schema

  /** Rows a message stream carries: the sum of its RecordBatch headers'
    * `length` — the row count a reader of the decoded batches sees,
    * read from the headers alone (no body is touched). */
  def rowCount(msgs: Seq[IpcMessage]): Long = msgs.iterator.map { m =>
    val fb = org.apache.arrow.flatbuf.Message.getRootAsMessage(
      ByteBuffer.wrap(m.metadata).order(ByteOrder.LITTLE_ENDIAN))
    if (fb.headerType() != org.apache.arrow.flatbuf.MessageHeader.RecordBatch)
      0L
    else fb.header(new org.apache.arrow.flatbuf.RecordBatch())
      .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch].length()
  }.sum

  /** Per-partition IPC streams (as [[ArrowIpc.toIpcStreams]] emits) as
    * ONE logical Flight stream: the first Schema message leads and the
    * later partitions' Schema headers are dropped, since a Flight
    * getStream or DoPut is a single Arrow stream (an upstream server
    * rejects a mid-stream Schema). `keepSchemas` keeps every partition's
    * header, for the append log, whose contract stages one file per
    * producer partition. Lazy: one partition's messages at a time. */
  def logicalStream(blobs: Iterator[Array[Byte]],
                    keepSchemas: Boolean = false): Iterator[IpcMessage] = {
    var sentSchema = false
    blobs.flatMap(splitIpcStream).filter { m =>
      !isSchemaMessage(m) || {
        val keep = keepSchemas || !sentSchema
        sentSchema = true
        keep
      }
    }
  }

  /** Regroup a flat FlightData-message sequence into self-contained
    * per-partition IPC streams: each Schema header starts a new stream
    * (Flight's stream framing — the schema message leads every stream). */
  def groupStreams(msgs: Seq[IpcMessage]): Seq[Array[Byte]] = {
    val blobs = Seq.newBuilder[Array[Byte]]
    var cur = List.empty[IpcMessage]
    msgs.foreach { m =>
      if (isSchemaMessage(m) && cur.nonEmpty) {
        blobs += joinIpcStream(cur.reverse)
        cur = List(m)
      } else cur ::= m
    }
    if (cur.nonEmpty) blobs += joinIpcStream(cur.reverse)
    blobs.result()
  }
}
