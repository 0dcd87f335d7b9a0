package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.types.{StringType, StructType}

/** The Flight SERVICE itself — catalog, ingest, ticketed jobs, actions —
  * factored out of the wire layer ([[FlightGrpc]]). This mirrors the
  * reference's own layering: Producer.java:86-510 implements the verbs
  * once and arrow-flight's gRPC bindings carry them; here the verbs live
  * in one class and the gRPC/HTTP/2 session layer carries them (one
  * service instance may front several [[FlightGrpc.Server]] endpoints).
  *
  * Every method either returns a value or THROWS with a message — the
  * transport translates failures into a non-zero `grpc-status` trailer.
  */
final class FlightService(val spark: SparkSession) {
  private val tables = TrieMap.empty[String, DataFrame]
  private val graphCatalog = new graft.operators.GraphCatalog(spark)
  // graph parts staged by the write actions until both halves arrive
  private val pendingGraphs =
    TrieMap.empty[String, (Option[DataFrame], Option[DataFrame])]
  // gds.write.* messages ticketed by doAction, resolved by a later
  // DoPut whose CMD descriptor carries the serialized Ticket — the
  // reference's client flow (neo4j_arrow.py:200-225 gds_write_nodes →
  // put with FlightDescriptor.for_command(ticket.serialize()))
  private val pendingWriteMsgs = TrieMap.empty[String, Array[Byte]]
  /** Large uploads ingested via the disk-spill path (observable in
    * specs: proves a big DoPut really avoided the heap route). */
  val spilledPuts = new java.util.concurrent.atomic.AtomicInteger(0)

  def register(name: String, df: DataFrame): Unit =
    registerBacked(name, df, None)

  /** Register `name`, recording the server-local dir backing `df` when
    * the data IS those files (a spilled put). Replacing a registration
    * invalidates its staged partition files (so partitioned readers
    * can never be served the PREVIOUS upload's rows) and retires the
    * previous registration's backing dirs. Synchronized against
    * [[stagePartitions]]: either the replacement retires the
    * just-staged files, or staging sees the new table — never a stale
    * `staged` entry over a new `tables` one. */
  private def registerBacked(name: String, df: DataFrame,
                             backing: Option[java.io.File]): Unit =
    synchronized {
      tables.put(name, df)
      // staged paths are Hadoop Path strings (`file:/tmp/...`) — resolve
      // through the URI or java.io.File would silently never match disk
      val oldStage = staged.remove(name).getOrElse(Nil)
        .map(f => FlightService.localFile(f).getParentFile).toSet
      val oldBacking = (backing match {
        case Some(d) => flightDirs.put(name, Set(d))
        case None => flightDirs.remove(name)
      }).getOrElse(Set.empty)
      retire(oldStage ++ (oldBacking -- backing))
    }

  /** Register a graph for `gds.read` requests (the reference resolves
    * GdsMessage.graph against its graph catalog,
    * GdsActionHandler.java:69-76). */
  def registerGraph(name: String, nodes: DataFrame, rels: DataFrame): Unit = {
    graphCatalog.register(name, nodes, rels); ()
  }

  def require(name: String): DataFrame =
    tables.getOrElse(name,
      throw new NoSuchElementException(s"not found: $name"))

  /** Catalog listing, sorted by flight name. */
  def list(): Seq[(String, DataFrame)] = tables.toSeq.sortBy(_._1)

  /** Fold one graph-write part in; register the graph once both halves
    * are present (a re-upload of either half re-registers). */
  private def stageGraphPart(graph: String, nodes: Option[DataFrame],
                             rels: Option[DataFrame]): Unit = {
    val merged = pendingGraphs.get(graph) match {
      case Some((n0, r0)) => (nodes.orElse(n0), rels.orElse(r0))
      case None => (nodes, rels)
    }
    pendingGraphs.put(graph, merged)
    merged match {
      case (Some(n), Some(r)) => graphCatalog.register(graph, n, r); ()
      case _ => ()
    }
  }

  /** IPC-encapsulated Arrow Schema message for a DataFrame — the byte
    * payload FlightInfo.schema and SchemaResult.schema carry. */
  def arrowSchemaBytes(df: DataFrame): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    val arrowSchema = new org.apache.arrow.vector.types.pojo.Schema(
      df.schema.fields.map(f => ArrowIpc.toArrowField(f)).toSeq.asJava)
    val baos = new java.io.ByteArrayOutputStream()
    org.apache.arrow.vector.ipc.message.MessageSerializer.serialize(
      new org.apache.arrow.vector.ipc.WriteChannel(
        java.nio.channels.Channels.newChannel(baos)), arrowSchema)
    baos.toByteArray
  }

  /** FlightInfo for a registered table (Producer.java:411-437 shape):
    * IPC-encapsulated Arrow schema, PATH descriptor, one endpoint whose
    * ticket is the table name, located at `locationUri`. -1 totals =
    * unknown (Flight convention; counting would run the query). */
  def flightInfoOf(name: String, df: DataFrame,
                   locationUri: String): FlightProto.FlightInfo =
    FlightProto.FlightInfo(
      schema = arrowSchemaBytes(df),
      descriptor = FlightProto.FlightDescriptor.path(name),
      endpoints = Seq(FlightProto.FlightEndpoint(
        FlightProto.Ticket.of(name),
        Seq(FlightProto.Location(locationUri)))),
      totalRecords = -1L, totalBytes = -1L)

  // -------------------------- per-partition endpoints (parallel readers)
  // Flight's scale model: GetFlightInfo returns one endpoint PER
  // PARTITION so a consumer fleet (e.g. the [[FlightSource]] DSv2
  // reader) fetches them in parallel — the pattern the public
  // arrow-flight Spark connectors use. Staging spills each partition's
  // IPC stream to a server-local file in ONE Spark job triggered at
  // GetFlightInfo time (driver-side — never inside DoGet, where a reader
  // fleet already holding every task slot would deadlock a nested job);
  // DoGet of `name#i` then serves file bytes with no Spark involvement.
  private val staged = TrieMap.empty[String, Seq[String]]
  private val stagedDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  // -------------------------- replaced-flight reclamation
  // A re-registered flight's previous backing files (staged partition
  // files from [[stagePartitions]], put-spill dirs from
  // [[ingestSpilledPut]]) are dead the moment the name points at new
  // data — without reclamation, a long-lived ingest server
  // re-uploading the same flight name grows disk linearly until
  // close(). Deletion happens after a grace window rather than
  // immediately: a reader that already OPENED a file is safe
  // regardless (unlink keeps the inode readable), so the grace only
  // covers the GetFlightInfo→DoGet gap of a reader racing the
  // replacement — after it, a straggler reading the replaced flight
  // fails loudly instead of being served deleted data. Retired dirs
  // stay in `stagedDirs`, so close() reclaims any still inside their
  // grace window; double deletes are idempotent.
  /** Grace before a replaced flight's files are deleted (ms). */
  @volatile var retireGraceMs: Long = 60000L
  private val flightDirs = TrieMap.empty[String, Set[java.io.File]]
  private lazy val retirer = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val th = new Thread(r, "graft-flight-retire")
        th.setDaemon(true)
        th
      })
    t.setExecuteExistingDelayedTasksAfterShutdownPolicy(false)
    t
  }
  private def deleteDir(d: java.io.File): Unit = {
    Option(d.listFiles).foreach(_.foreach(_.delete()))
    d.delete()
    ()
  }
  private def retire(dirs: Set[java.io.File]): Unit =
    if (dirs.nonEmpty) {
      val grace = retireGraceMs
      if (grace <= 0) dirs.foreach(deleteDir)
      else {
        retirer.schedule(new Runnable {
          override def run(): Unit = dirs.foreach(deleteDir)
        }, grace, java.util.concurrent.TimeUnit.MILLISECONDS)
        ()
      }
    }

  /** Stage a flight's partitions as local IPC files (idempotent per
    * registration); returns the files in partition order. Empty
    * partitions produce no file, so endpoint count ≤ partition count. */
  def stagePartitions(name: String): Seq[String] = synchronized {
    staged.getOrElse(name, {
      val df = require(name)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_flight_stage_").toFile
      stagedDirs.add(dir)
      ArrowIpc.writeIpcFiles(df, dir.getAbsolutePath)
      val files = ArrowIpcSource.listFiles(dir.getAbsolutePath)
      staged.put(name, files)
      files
    })
  }

  /** FlightInfo with one endpoint per staged partition — ticket
    * `name#<i>` indexes into [[stagePartitions]]'s file list. */
  def partitionedFlightInfo(name: String, df: DataFrame,
                            locationUri: String): FlightProto.FlightInfo = {
    val files = stagePartitions(name)
    FlightProto.FlightInfo(
      schema = arrowSchemaBytes(df),
      descriptor = FlightProto.FlightDescriptor.path(name),
      endpoints = files.indices.map(i => FlightProto.FlightEndpoint(
        FlightProto.Ticket.of(s"$name#$i"),
        Seq(FlightProto.Location(locationUri)))),
      totalRecords = -1L, totalBytes = -1L)
  }

  /** Resolve a partition ticket — `name#<i>` (staged table partition) or
    * `name@<seq>#<i>` (append-log batch partition), optionally with a
    * `?cols=a,b` projection suffix — to its staged blob; None if the
    * ticket is a plain flight name. Tickets are opaque per the Flight
    * contract, so carrying the projection inside them is how real Flight
    * servers push column pruning to the wire: the server re-encodes only
    * the requested vectors and a 2-column scan of a 40-column flight
    * ships 2 columns of bytes, not 40. */
  def partitionTicketMessages(fullTicket: String)
      : Option[(Iterator[FlightProto.IpcMessage], () => Unit)] = {
    val (ticket, params) = fullTicket.indexOf('?') match {
      case -1 => (fullTicket, Map.empty[String, String])
      case q => (fullTicket.substring(0, q),
        fullTicket.substring(q + 1).split("&").toSeq
          .filter(_.contains("="))
          .map { kv =>
            val eq = kv.indexOf('=')
            kv.substring(0, eq) -> kv.substring(eq + 1)
          }.toMap)
    }
    val cols = params.get("cols")
      .map(_.split(",").toSeq.filter(_.nonEmpty))
    val filters = params.get("flt")
      .map(FlightService.parseTicketFilters).getOrElse(Nil)
    val cut = ticket.lastIndexOf('#')
    if (cut < 0) return None
    val (prefix, idxS) = (ticket.substring(0, cut), ticket.substring(cut + 1))
    if (!idxS.nonEmpty || !idxS.forall(_.isDigit)) return None
    val i = idxS.toInt
    val at = prefix.lastIndexOf('@')
    val files =
      if (at >= 0 && prefix.substring(at + 1).nonEmpty &&
          prefix.substring(at + 1).forall(_.isDigit)) {
        val (name, seq) = (prefix.substring(0, at),
          prefix.substring(at + 1).toInt)
        val log = appendLog.getOrElse(name,
          throw new NoSuchElementException(s"no appended flight: $name"))
        Predef.require(seq >= 0 && seq < log.size,
          s"log seq $seq out of [0, ${log.size})")
        log(seq)
      } else staged.getOrElse(prefix,
        throw new NoSuchElementException(
          s"no staged partitions for $prefix — call GetFlightInfo first"))
    Predef.require(i >= 0 && i < files.size,
      s"partition $i out of [0, ${files.size})")
    if (cols.isEmpty && filters.isEmpty) {
      // STREAM the staged file: one IPC message on the heap at a time —
      // N concurrent DoGets cost N messages, never N whole partitions
      // (the pre-r10 whole-blob read OOMed 8 consumers x 240 MB files)
      val in = openLocalFile(files(i))
      Some((FlightProto.ipcMessageIterator(
        new java.io.BufferedInputStream(in, 1 << 16)), () => in.close()))
    } else {
      // pushdown path: input STREAMS from the file; only the projected/
      // filtered output (<= the pruned subset) materializes
      val in = openLocalFile(files(i))
      val out =
        try FlightService.filterProjectIpcStream(
          new java.io.BufferedInputStream(in, 1 << 16), filters, cols)
        finally in.close()
      Some((FlightProto.splitIpcStream(out).iterator, () => ()))
    }
  }

  /** Open a staged file through [[HadoopFiles]]: every staged DoGet
    * starts here, so the Hadoop defaults are parsed once per JVM rather
    * than once per open, and the read still verifies the file's `.crc`
    * (a corrupted staged file fails its DoGet). */
  private def openLocalFile(file: String): java.io.InputStream = {
    val p = new org.apache.hadoop.fs.Path(file)
    HadoopFiles.fs(p).open(p)
  }

  // ------------------------- streaming append log (readStream ingest)
  // A flight can be an APPEND LOG instead of a replaced table: each
  // DoPut with descriptor path ["append", name] stages one immutable
  // batch of per-partition IPC files and bumps the log's sequence
  // number. [[FlightStreamSource]] exposes the log to Structured
  // Streaming — offsets are log sequence numbers, micro-batch (start,
  // end] plans one input partition per staged file (ticket
  // `name@seq#i`), and DoGet serves file bytes with no Spark job, so a
  // reader fleet can never deadlock the server.
  private val appendLog = TrieMap.empty[String, Vector[Seq[String]]]
  private val appendSchemaDdl = TrieMap.empty[String, String]

  /** Append one batch to `name`'s log; returns the row count (from the
    * batch headers). The first append fixes the log's schema; later
    * appends must match. */
  def appendFlightData(name: String,
                       msgs: Seq[FlightProto.IpcMessage]): Long =
    synchronized {
      val schema = FlightService.sparkSchemaOfStream(msgs)
      appendSchemaDdl.get(name).foreach(d =>
        Predef.require(d == schema.toDDL,
          s"append schema drift for $name: ${schema.toDDL} != $d"))
      val df = materialize(msgs)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_flight_append_").toFile
      stagedDirs.add(dir)
      ArrowIpc.writeIpcFiles(df, dir.getAbsolutePath)
      val files = ArrowIpcSource.listFiles(dir.getAbsolutePath)
      appendLog.put(name, appendLog.getOrElse(name, Vector.empty) :+ files)
      appendSchemaDdl.put(name, schema.toDDL)
      FlightProto.rowCount(msgs)
    }

  /** Current log length (the streaming source's latestOffset). */
  def appendLogSize(name: String): Int =
    appendLog.get(name).map(_.size).getOrElse(0)

  def appendLogSchemaDdl(name: String): String =
    appendSchemaDdl.getOrElse(name,
      throw new NoSuchElementException(s"no appended flight: $name"))

  /** Tickets covering log range [from, until): one per staged file. */
  def appendTickets(name: String, from: Int, until: Int): Seq[String] = {
    val log = appendLog.getOrElse(name,
      throw new NoSuchElementException(s"no appended flight: $name"))
    Predef.require(0 <= from && from <= until && until <= log.size,
      s"log range [$from, $until) out of [0, ${log.size})")
    (from until until).flatMap(seq =>
      log(seq).indices.map(i => s"$name@$seq#$i"))
  }

  /** Delete staged partition files ([[FlightGrpc.Server]] calls this on
    * close). */
  def cleanupStaging(): Unit = {
    staged.clear()
    appendLog.clear()
    appendSchemaDdl.clear()
    flightDirs.clear()
    var d = stagedDirs.poll()
    while (d != null) {
      Option(d.listFiles).foreach(_.foreach(_.delete()))
      d.delete()
      d = stagedDirs.poll()
    }
  }

  /** FlightData frames → IPC messages, skipping frames with no header:
    * an upstream client's first DoExchange/DoPut frame may carry ONLY
    * the descriptor (pyarrow sends descriptor-only, then Schema), and
    * metadata-only frames are legal anywhere in a stream. */
  private def ipcMessages(
      frames: Seq[FlightProto.FlightData]): Seq[FlightProto.IpcMessage] =
    frames.collect {
      case fd if fd.dataHeader.nonEmpty =>
        FlightProto.IpcMessage(fd.dataHeader, fd.dataBody)
    }

  /** acceptPut of a LARGE upload the transport spilled to disk: `dir`
    * holds the decoded per-stream `.arrows` files (exactly the framing
    * [[ArrowIpc.writeIpcFiles]] produces), so the flight registers as a
    * LAZY DSv2 read over them — the table never materializes on the
    * server heap; readers stream file bytes per partition. The count
    * ack streams the files once (bounded: one batch of one file in
    * memory at a time). */
  def ingestSpilledPut(desc: FlightProto.FlightDescriptor,
                       dir: java.io.File, ddl: String): Long = {
    spilledPuts.incrementAndGet()
    stagedDirs.add(dir)
    val schema = StructType.fromDDL(ddl)
    val files = ArrowIpcSource.listFiles(dir.getAbsolutePath)
    Predef.require(files.nonEmpty, "spilled put produced no streams")
    def lazyDf: DataFrame = spark.read
      .format("graft.sources.ArrowIpcSource")
      .schema(schema)
      .option("path", dir.getAbsolutePath).load()
    // VALIDATE BEFORE MUTATING: the count is a deliberate full Arrow
    // decode of the spill (the fail-on-this-request contract, and the
    // ack value) — if it throws, the transport reclaims the files and
    // no catalog/append-log entry ever pointed at them. It also runs
    // OUTSIDE the lock below, so a 100 GB validation scan never blocks
    // other appends.
    val n = lazyDf.count()
    desc.path match {
      case Seq("append", name) => synchronized {
        appendSchemaDdl.get(name).foreach(d =>
          Predef.require(d == schema.toDDL,
            s"append schema drift for $name: ${schema.toDDL} != $d"))
        // the spill files ARE the staged batch — no re-write
        appendLog.put(name, appendLog.getOrElse(name, Vector.empty) :+ files)
        appendSchemaDdl.put(name, schema.toDDL)
        n
      }
      case Seq(name) =>
        registerBacked(name, lazyDf, Some(dir))
        n
      case other => throw new IllegalArgumentException(
        s"bad put path: $other")
    }
  }

  /** The rows of a FlightData message stream, schema from its leading
    * Schema message (Schema headers delimit the per-partition IPC
    * streams). Materializes NOW: ingest must fail on this request (bad
    * schema, ragged batch), not on a later reader's action. */
  private def materialize(msgs: Seq[FlightProto.IpcMessage]): DataFrame = {
    val schema = FlightService.sparkSchemaOfStream(msgs)
    import spark.implicits._
    ArrowIpc.fromIpcStreams(
        spark.createDataset(FlightProto.groupStreams(msgs)), schema)
      .localCheckpoint(true)
  }

  /** acceptPut: a FlightData message stream ingests as flight `name`;
    * returns the row count, read from the batch headers — the eager
    * checkpoint already decoded every row, so no second Spark action. */
  def ingestFlightData(name: String,
                       msgs: Seq[FlightProto.IpcMessage]): Long = {
    // registering invalidates any staging of the PREVIOUS upload
    register(name, materialize(msgs))
    FlightProto.rowCount(msgs)
  }

  /** DoExchange — the BIDIRECTIONAL verb the reference never had (its
    * Flight predates DoExchange adoption; ours completes the verb set):
    * the uploaded FlightData rows become view `input`, the CMD
    * descriptor's wire-codec CypherMessage runs over them, the result
    * streams back in the same call — transform-in-flight, no named
    * flight ever registered. */
  def exchange(frames: Seq[FlightProto.FlightData]): DataFrame = {
    val desc = frames.headOption.flatMap(_.descriptor)
      .getOrElse(throw new IllegalArgumentException(
        "first FlightData must carry a CMD descriptor"))
    Predef.require(desc.dtype == FlightProto.DescriptorType.Cmd,
      "descriptor must be CMD (a serialized CypherMessage)")
    val msg = ActionMessages.CypherMessage.deserialize(desc.cmd)
    materialize(ipcMessages(frames)).createOrReplaceTempView("input")
    spark.sql(msg.cypher).localCheckpoint(true)
  }

  /** gds.write.nodes / gds.write.relationships + put stream
    * (GdsActionHandler.java:76-150): the FIRST FlightData's CMD
    * descriptor carries the serialized write message — Flight's
    * descriptor-as-command convention. The message family is recognized
    * by its own key vocabulary (source_field ⇒ rels). Field names from
    * the message rename to the canonical columns, and the graph
    * registers once both halves have arrived. Returns the row count,
    * from the batch headers. */
  def putGraphPart(frames: Seq[FlightProto.FlightData]): Long = {
    val desc = frames.headOption.flatMap(_.descriptor)
      .getOrElse(throw new IllegalArgumentException(
        "first FlightData must carry a descriptor"))
    Predef.require(desc.dtype == FlightProto.DescriptorType.Cmd,
      "descriptor must be CMD (a serialized write message)")
    val msgs = ipcMessages(frames)
    val df = materialize(msgs)
    // the CMD is either the write message itself or a serialized Ticket
    // from a prior gds.write.* action (the reference client's flow)
    val cmdBytes = resolveWriteCmd(desc.cmd)
    val cmdJson = new String(cmdBytes, UTF_8)
    val (graphName, canon, isRels) =
      if (cmdJson.contains("\"source_field\"")) {
        val m = ActionMessages.GdsWriteRelsMessage.deserialize(cmdBytes)
        (m.graph, df
          .withColumnRenamed(m.sourceField, "START_ID")
          .withColumnRenamed(m.targetField, "END_ID")
          .withColumnRenamed(m.typeField, "TYPE"), true)
      } else {
        val m = ActionMessages.GdsWriteNodeMessage.deserialize(cmdBytes)
        val renamed = df.withColumnRenamed(m.idField, "ID")
          .withColumnRenamed(m.labelsField, "LABELS")
        // a scalar label column canonicalizes to a 1-elem label set
        // (LABELS is an array in the data model)
        val c = if (renamed.schema("LABELS").dataType == StringType)
          renamed.withColumn("LABELS", array(col("LABELS")))
        else renamed
        (m.graph, c, false)
      }
    if (isRels) stageGraphPart(graphName, None, Some(canon))
    else stageGraphPart(graphName, Some(canon), None)
    FlightProto.rowCount(msgs)
  }

  /** listActions (Producer.java:543-550). */
  def actionTypes: Seq[FlightProto.ActionType] = Seq(
    FlightProto.ActionType("cypher.read",
      "Submit a new query-based read job (SQL delegation)"),
    FlightProto.ActionType("gds.read",
      "Stream node or relationship properties from a graph"),
    FlightProto.ActionType("job.status", "Check the status of a Job"),
    FlightProto.ActionType("job.cancel", "Cancel a running Job"),
    FlightProto.ActionType("job.submit",
      "Run a registered table as a ticketed Job"),
    FlightProto.ActionType("info.jobs", "List currently active Jobs"),
    FlightProto.ActionType("info.version", "Get metadata on server info"),
    FlightProto.ActionType("flight.log",
      "Length of an append-log flight (streaming latestOffset)"),
    FlightProto.ActionType("flight.log.schema",
      "Schema DDL of an append-log flight"),
    FlightProto.ActionType("flight.log.tickets",
      "Partition tickets for an append-log range: name\\tfrom\\tuntil"),
    FlightProto.ActionType("gds.write.nodes",
      "Ticket a graph node-write; stream the rows via DoPut on the ticket"),
    FlightProto.ActionType("gds.write.relationships",
      "Ticket a graph rel-write; stream the rows via DoPut on the ticket"))

  /** Action bodies arrive in two encodings: [[FlightGrpc.Client]]'s
    * `doAction` sends the raw ticket string; the reference's client and
    * [[FlightGrpc.Client]]'s `jobStatus` send a serialized Ticket
    * PROTOBUF (neo4j_arrow.py:287-294 `status` passes
    * `ticket.serialize()`). Sniff: a proto Ticket decodes to field 1
    * bytes; raw strings fail the proto walk (or yield no field-1
    * payload) and pass through verbatim. The proto reading wins only
    * when the whole buffer decoded AND the extracted payload has the
    * UUID shape every ticket this server issues has (Jobs.submit and
    * gds.write.* both mint `UUID.randomUUID`) — a raw body whose bytes
    * coincidentally parse as a field-1 proto can then never be
    * misread as a ticket. */
  private def ticketString(body: Array[Byte]): String = {
    val raw = new String(body, UTF_8)
    try {
      val t = FlightProto.Ticket.decode(body)
      if (t.ticket.nonEmpty && isUuidTicket(t.asString)) t.asString else raw
    } catch { case scala.util.control.NonFatal(_) => raw }
  }

  /** 8-4-4-4-12 lowercase/uppercase hex — `UUID.randomUUID().toString`'s
    * exact shape. No raw UUID string can itself decode as a field-1
    * proto (its first byte is hex ASCII, never the 0x0a tag), so the
    * two encodings are disjoint under this guard. */
  private def isUuidTicket(s: String): Boolean =
    s.length == 36 && s.zipWithIndex.forall { case (c, i) =>
      if (i == 8 || i == 13 || i == 18 || i == 23) c == '-'
      else (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')
    }

  /** doAction — dispatch on type like the reference's handler map
    * (Producer.java:513-541; job.status = StatusHandler.java:20,
    * info.jobs/info.version = ServerInfoHandler.java:20-21; cypher.read =
    * CypherActionHandler.java:32,68-150; gds.read =
    * GdsActionHandler.java:33,69-76). Throws on unknown action / bad
    * body; the transport renders the failure. */
  def doAction(action: FlightProto.Action): FlightProto.ActionResult = {
    val body = new String(action.body, UTF_8)
    action.atype.toLowerCase match {
      case "job.status" =>
        graft.operators.Jobs.status(ticketString(action.body)) match {
          case Some(st) =>
            // reference wire contract: PENDING/PRODUCING/COMPLETE/ERROR
            // (StatusHandler serializes the enum name uppercase)
            FlightProto.ActionResult
              .of(st.toString.toUpperCase(java.util.Locale.ROOT))
          case None =>
            throw new NoSuchElementException("no job for ticket")
        }
      case "job.cancel" =>
        FlightProto.ActionResult.of(cancel(ticketString(action.body)))
      case "job.submit" =>
        val df = require(body)
        import scala.concurrent.ExecutionContext.Implicits.global
        FlightProto.ActionResult.of(graft.operators.Jobs.submit(df).ticket)
      case "info.jobs" =>
        FlightProto.ActionResult.of(
          graft.operators.Jobs.list().toSeq.sortBy(_._1)
            .map { case (t, st) => s"$t=$st" }.mkString(","))
      case "info.version" =>
        FlightProto.ActionResult.of(graft.operators.Jobs.version)
      case "flight.log" =>
        FlightProto.ActionResult.of(appendLogSize(body).toString)
      case "flight.log.schema" =>
        FlightProto.ActionResult.of(appendLogSchemaDdl(body))
      case "flight.log.tickets" =>
        val parts = body.split("\t")
        Predef.require(parts.length == 3,
          "flight.log.tickets body must be name\\tfrom\\tuntil")
        FlightProto.ActionResult.of(
          appendTickets(parts(0), parts(1).toInt, parts(2).toInt)
            .mkString("\n"))
      case "cypher.read" =>
        val msg = ActionMessages.CypherMessage.deserialize(action.body)
        // flight names that are valid identifiers become views; the
        // server session is shared, so a flight named like a
        // pre-registered external view would shadow it for this query —
        // acceptable for the control plane (flights here are namespaced
        // by convention, e.g. orders_put)
        tables.foreach { case (n, df) =>
          if (n.matches("[A-Za-z_][A-Za-z0-9_]*"))
            df.createOrReplaceTempView(n)
        }
        val result = spark.sql(msg.cypher) // analyzes EAGERLY: a bad
          // query fails THIS action, not a later read
        import scala.concurrent.ExecutionContext.Implicits.global
        val h = graft.operators.Jobs.submit(result)
        tables.put(h.ticket, result)
        FlightProto.ActionResult.of(h.ticket)
      case "gds.read" =>
        val msg = ActionMessages.GdsMessage.deserialize(action.body)
        val ref = graphCatalog.graph(msg.graph)
        val result = msg.requestType match {
          case "node" =>
            ref.nodeScan(props = msg.properties, labels = msg.filters,
              nodeId = Option(msg.nodeIdProperty).filter(_.nonEmpty))
          case "relationship" =>
            ref.relScan(props = msg.properties, types = msg.filters)
          case "khop" =>
            // the same bytes re-parse as a KHopMessage to carry k (the
            // reference does exactly this re-read, GdsActionHandler →
            // KHopMessage.java:75-104), and unlike the reference
            // (hardcoded 2) we honor the carried k
            val kmsg = ActionMessages.KHopMessage.deserialize(action.body)
            graft.operators.KHop.kHopEdges(
              if (msg.filters.isEmpty) ref.rels
              else ref.rels.where(col("TYPE").isin(msg.filters: _*)),
              k = kmsg.k)
        }
        import scala.concurrent.ExecutionContext.Implicits.global
        val h = graft.operators.Jobs.submit(result)
        tables.put(h.ticket, result)
        FlightProto.ActionResult.of(h.ticket)
      case "gds.write.nodes" | "gds.write.relationships" =>
        // ticket the write MESSAGE now (validating it parses); the rows
        // arrive via a later DoPut whose CMD descriptor is the
        // serialized Ticket (GdsActionHandler.java:76-150 server-side;
        // neo4j_arrow.py:200-225 + 352-377 client-side)
        if (action.atype.toLowerCase.endsWith("relationships"))
          ActionMessages.GdsWriteRelsMessage.deserialize(action.body)
        else ActionMessages.GdsWriteNodeMessage.deserialize(action.body)
        val ticket = java.util.UUID.randomUUID().toString
        pendingWriteMsgs.put(ticket, action.body)
        FlightProto.ActionResult.of(ticket)
      case other =>
        throw new UnsupportedOperationException(s"unsupported action: $other")
    }
  }

  /** A gds.write DoPut's CMD payload is either the write message itself
    * ([[FlightGrpc.Client]]'s `doPutGraphPart`) or a serialized Ticket
    * from a prior gds.write.* action (the reference's flow) — resolve to
    * the message bytes. */
  private[sources] def resolveWriteCmd(cmd: Array[Byte]): Array[Byte] = {
    val asTicket =
      try {
        val t = FlightProto.Ticket.decode(cmd)
        // consume-once: the reference flow is one DoPut per write
        // ticket, and removal keeps pendingWriteMsgs from growing
        // unboundedly on a long-lived server (a failed put re-actions).
        // Same UUID-shape guard as ticketString: a write MESSAGE whose
        // bytes happen to parse as a field-1 proto must not take the
        // ticket path.
        if (t.ticket.nonEmpty && isUuidTicket(t.asString))
          pendingWriteMsgs.remove(t.asString)
        else None
      } catch { case scala.util.control.NonFatal(_) => None }
    asTicket.getOrElse(cmd)
  }

  /** Cancel a job (the reference's Job.cancel(true), Producer.java:
    * 133-136): CANCELLED if this call stopped it, ALREADY_DONE if the
    * job beat the cancel to a terminal state; throws for an unknown
    * ticket. */
  def cancel(ticket: String): String =
    graft.operators.Jobs.cancel(ticket) match {
      case Some(true) => "CANCELLED"
      case Some(false) => "ALREADY_DONE"
      case None => throw new NoSuchElementException("unknown ticket")
    }
}

object FlightService {

  /** A server-local file from either a plain path or a Hadoop Path
    * string (`file:/tmp/...`) — the staging/spill machinery only ever
    * writes to local disk, so a scheme other than file never appears. */
  private[sources] def localFile(path: String): java.io.File = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    if (uri.getScheme == null) new java.io.File(path)
    else new java.io.File(uri.getPath)
  }
  /** Spark schema decoded from a stream's LEADING Arrow Schema message —
    * how a real Flight stream carries its schema (no side-channel DDL;
    * the gRPC server and client both use it). */
  def sparkSchemaOfStream(
      msgs: Seq[FlightProto.IpcMessage]): StructType = {
    val first = msgs.headOption.getOrElse(
      throw new IllegalArgumentException("empty Flight stream"))
    require(FlightProto.isSchemaMessage(first),
      "stream does not start with a Schema message")
    val bytes = FlightProto.joinIpcStream(Seq(first))
    val arrowSchema =
      org.apache.arrow.vector.ipc.message.MessageSerializer.deserializeSchema(
        new org.apache.arrow.vector.ipc.ReadChannel(
          java.nio.channels.Channels.newChannel(
            new java.io.ByteArrayInputStream(bytes))))
    ArrowIpcSource.sparkSchema(arrowSchema)
  }

  /** One pushed-down predicate riding an opaque DoGet ticket. `lit` is
    * typed-encoded: `l:<long>`, `d:<double>`, `s:<url-base64 utf8>`, or
    * empty for `nn` (IS NOT NULL). Ops: eq/gt/ge/lt/le/nn. */
  final case class TicketFilter(col: String, op: String, lit: String)

  def encodeTicketFilters(fs: Seq[TicketFilter]): String =
    fs.map(f => s"${f.col},${f.op},${f.lit}").mkString(";")

  def parseTicketFilters(s: String): Seq[TicketFilter] =
    s.split(";").toSeq.filter(_.nonEmpty).map { part =>
      val ps = part.split(",", 3)
      require(ps.length == 3, s"bad ticket filter: $part")
      TicketFilter(ps(0), ps(1), ps(2))
    }

  /** Re-encode an IPC stream keeping only rows matching `filters` and
    * only the `cols` columns (None = all) — the server half of
    * filter/column pushdown. Pushed filters are a DATA REDUCTION, not
    * the verdict: the Spark side re-applies every predicate residually
    * (the parquet model), so the wire evaluation can only ever ship
    * extra rows, never change results — but it must still match Spark
    * semantics to actually reduce (null comparisons false; NaN ordered
    * greatest and NaN == NaN, i.e. java.lang.Double.compare). `cols`
    * may be empty (a bare `count(*)` scan): the stream then carries
    * only row counts. */
  def filterProjectIpcStream(blob: Array[Byte],
                             filters: Seq[TicketFilter],
                             cols: Option[Seq[String]]): Array[Byte] =
    filterProjectIpcStream(new java.io.ByteArrayInputStream(blob),
      filters, cols)

  def filterProjectIpcStream(input: java.io.InputStream,
                             filters: Seq[TicketFilter],
                             cols: Option[Seq[String]]): Array[Byte] = {
    import scala.jdk.CollectionConverters._
    import org.apache.arrow.vector.{BigIntVector, Float4Vector, Float8Vector, IntVector, VarCharVector}
    val allocator =
      new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      input, allocator)
    try {
      val root = reader.getVectorSchemaRoot

      def compile(f: TicketFilter): Int => Boolean = {
        val v = Option(root.getVector(f.col)).getOrElse(
          throw new IllegalArgumentException(
            s"filter column not in stream: ${f.col}"))
        if (f.op == "nn") return i => !v.isNull(i)
        val test: Int => Boolean = f.op match {
          case "eq" => _ == 0
          case "gt" => _ > 0
          case "ge" => _ >= 0
          case "lt" => _ < 0
          case "le" => _ <= 0
          case other =>
            throw new IllegalArgumentException(s"bad filter op: $other")
        }
        f.lit.splitAt(2) match {
          case ("l:", s) =>
            val lit = s.toLong
            v match {
              case iv: IntVector => i => !iv.isNull(i) &&
                test(java.lang.Long.compare(iv.get(i).toLong, lit))
              case bv: BigIntVector => i => !bv.isNull(i) &&
                test(java.lang.Long.compare(bv.get(i), lit))
              case other => throw new IllegalArgumentException(
                s"long filter on non-integer column ${f.col}: $other")
            }
          case ("d:", s) =>
            val lit = java.lang.Double.parseDouble(s)
            v match {
              case fv: Float4Vector => i => !fv.isNull(i) &&
                test(java.lang.Double.compare(fv.get(i).toDouble, lit))
              case dv: Float8Vector => i => !dv.isNull(i) &&
                test(java.lang.Double.compare(dv.get(i), lit))
              case other => throw new IllegalArgumentException(
                s"double filter on non-float column ${f.col}: $other")
            }
          case ("s:", s) =>
            // strings push EQUALITY only (byte equality is
            // collation-free; range would need UTF8String binary order)
            require(f.op == "eq", s"string filter op must be eq: ${f.op}")
            val lit = java.util.Base64.getUrlDecoder.decode(s)
            v match {
              case sv: VarCharVector => i => !sv.isNull(i) &&
                java.util.Arrays.equals(sv.get(i), lit)
              case other => throw new IllegalArgumentException(
                s"string filter on non-utf8 column ${f.col}: $other")
            }
          case _ => throw new IllegalArgumentException(
            s"bad filter literal: ${f.lit}")
        }
      }

      val preds = filters.map(compile)
      val outNames = cols.getOrElse(
        root.getSchema.getFields.asScala.map(_.getName).toSeq)
      val srcVecs = outNames.map(c => Option(root.getVector(c)).getOrElse(
        throw new IllegalArgumentException(
          s"projection column not in stream: $c")))
      val outSchema = new org.apache.arrow.vector.types.pojo.Schema(
        srcVecs.map(_.getField).asJava)
      val outAlloc =
        new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val outRoot = org.apache.arrow.vector.VectorSchemaRoot
        .create(outSchema, outAlloc)
      val out = new java.io.ByteArrayOutputStream()
      val writer = new org.apache.arrow.vector.ipc.ArrowStreamWriter(
        outRoot, null, out)
      try {
        writer.start()
        while (reader.loadNextBatch()) {
          outRoot.allocateNew()
          val n = root.getRowCount
          val outVecs = outRoot.getFieldVectors
          var m = 0
          var i = 0
          while (i < n) {
            if (preds.forall(_(i))) {
              var c = 0
              while (c < srcVecs.length) {
                outVecs.get(c).copyFromSafe(i, m, srcVecs(c))
                c += 1
              }
              m += 1
            }
            i += 1
          }
          outRoot.setRowCount(m)
          writer.writeBatch()
        }
        writer.end()
        out.toByteArray
      } finally {
        writer.close()
        outRoot.close()
        outAlloc.close()
      }
    } finally {
      reader.close()
      allocator.close()
    }
  }
}
