package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.net.{InetAddress, ServerSocket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, lit, sequence, transform}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import org.apache.spark.perfbench.Bus

import graft.SparkEntry
import graft.sources.{ArrowIpc, FlightGrpc, FlightProto, FlightService, TpchGraph}

/** The program side of the benchmark (perfbench/run.py drives it).
  *
  * One JVM per run: a Spark session with graft.Bench's configuration, a
  * FlightGrpc.Server over its FlightService for the two Flight
  * workloads, and a line-oriented control socket on loopback through
  * which the load generator asks for set-up passes, counters, replay
  * probes and the in-JVM `loops` workload. Every answer is one JSON line.
  *
  * Args: `key=value` pairs — workload, work (scratch dir), sf, sfSmall,
  * vectorRows, parts (endpoints per staged flight), seed.
  */
object BenchServer {
  val Token = "perfbench-secret"

  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val work = Paths.get(opt("work"))
    val cpus = Runtime.getRuntime.availableProcessors
    // graft.Bench's session, plus a local dir inside the run's work dir
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // graft.Bench's session warm-up
    Calib.once(spark)

    val bench = new BenchServer(spark, opt)
    val ctl = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
    val ready = Json.obj("port" -> bench.flightPort, "ctl" -> ctl.getLocalPort,
      "token" -> Token)
    val tmp = work.resolve(".ready.tmp")
    Files.writeString(tmp, ready + "\n")
    Files.move(tmp, work.resolve("ready.json"), StandardCopyOption.ATOMIC_MOVE)

    // the load generator owns this JVM's stdin: EOF means it is gone, so
    // stop rather than outlive it
    val orphanWatch = new Thread(() => {
      while (System.in.read() >= 0) {}
      Runtime.getRuntime.halt(3)
    })
    orphanWatch.setDaemon(true)
    orphanWatch.start()

    val sock = ctl.accept()
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    val out = new PrintWriter(sock.getOutputStream, true)
    var line = in.readLine()
    while (line != null && line != "stop") {
      val reply =
        try bench.command(line.split(" ").toSeq)
        catch {
          case t: Throwable =>
            Json.obj("error" -> (t.getClass.getSimpleName + ": " +
              String.valueOf(t.getMessage)).take(400))
        }
      out.println(reply)
      line = in.readLine()
    }
    // the Flight server's close releases the staged files; the run's work
    // dir goes with the JVM, so the Spark session needs no orderly stop
    bench.close()
    out.println(Json.obj("stopped" -> true))
    sock.close()
    Runtime.getRuntime.halt(0)
  }
}

final class BenchServer(spark: SparkSession, opt: Map[String, String]) {
  private val workload = opt("workload")
  private val tracer = new Tracer(spark)
  private val server: Option[FlightGrpc.Server] =
    if (workload == "loops") None
    else Some(new FlightGrpc.Server(spark, BenchServer.Token).start())
  def flightPort: Int = server.map(_.port).getOrElse(0)
  private def service: FlightService = server.get.service

  def close(): Unit = server.foreach(_.close())

  def command(cmd: Seq[String]): String = cmd match {
    case Seq("setup") => setup()
    case Seq("stats") => stats()
    case Seq("calib") => Json.obj("calib_s" -> Calib.runs(spark, 3))
    case Seq("trace", flag) =>
      if (flag == "1") tracer.on() else tracer.off()
      Json.obj("trace" -> flag)
    case Seq("spans", file) =>
      Bus.drain(spark.sparkContext)
      Files.writeString(Paths.get(file), tracer.dump())
      Json.obj("file" -> file)
    case Seq("oracle_sql", queries) =>
      Json.obj(queries.split(",").toSeq.map(q => q -> SparkEntry.oracleSql(q)): _*)
    case Seq("replay_read", flight, n) => replayRead(flight, n.toInt)
    case Seq("replay_job", ticket) => replayJob(ticket)
    case Seq("replay_put", kind, file, cmdFile) =>
      replayPut(kind, Paths.get(file), Paths.get(cmdFile))
    case Seq("loops", queries, seed, passes, seconds, hash, settle, file) =>
      Loops.run(spark, opt("sfSmall"), queries.split(",").toSeq, seed.toLong,
        passes.toInt, seconds.toDouble, hash == "1", settle == "1", Paths.get(file))
    case other => throw new IllegalArgumentException(s"unknown: $other")
  }

  /** One set-up pass: what the workload's first request needs, built
    * again. Re-registering a name replaces it, so a repeated pass also
    * retires the previous staging. */
  private def setup(): String = {
    val t0 = System.nanoTime()
    val stage = mutable.LinkedHashMap.empty[String, Double]
    workload match {
      case "egress" =>
        val rows = opt("vectorRows").toLong
        val base = opt("seed").toLong * 1000003L % (1L << 40)
        val dim = 256
        // the reference's headline egress shape (FlightInteropServer's
        // bench flight): (int64 id, float[256]); 1024-row batches make
        // ~1 MiB messages
        service.register("vectors",
          spark.range(base, base + rows, 1L, opt("parts").toInt)
            .select(col("id"),
              transform(sequence(lit(0), lit(dim - 1)),
                i => ((col("id") + i) % 997).cast("float") / 997.0f)
                .as("embedding")))
        // equal endpoints: rels' own partitions run from 25 rows (nation)
        // to 600k (lineitem)
        service.register("rels",
          TpchGraph.rels(spark, opt("sf")).repartition(opt("parts").toInt))
        for (f <- Seq("vectors", "rels")) {
          val s0 = System.nanoTime()
          service.stagePartitions(f)
          stage(f) = (System.nanoTime() - s0) / 1e9
        }
      case "roundtrip" =>
        Seq("customer", "orders").foreach(t =>
          service.register(t, TpchGraph.table(spark, opt("sf"), t)))
        service.registerGraph("tpch", TpchGraph.nodes(spark, opt("sf")),
          TpchGraph.rels(spark, opt("sf")))
        val small = opt("sfSmall")
        service.registerGraph("tpch_small", TpchGraph.nodes(spark, small),
          TpchGraph.rels(spark, small))
      case "loops" =>
        // each query reads its own inputs, so set-up only resolves the
        // sf0.01 graph the loop operators read
        TpchGraph.nodes(spark, opt("sfSmall")).schema
        TpchGraph.rels(spark, opt("sfSmall")).schema
    }
    Json.obj("s" -> (System.nanoTime() - t0) / 1e9,
      "stage" -> Json.Raw(Json.obj(stage.toSeq: _*)))
  }

  private def stats(): String = {
    Bus.drain(spark.sparkContext)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1e3
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val (dirs, bytes) = TmpDirs.count()
    Json.obj(
      "catalog_size" -> server.map(_.service.list().size).getOrElse(0),
      "jobs_registered" -> graft.operators.Jobs.list().size,
      "spilled_puts" -> server.map(_.service.spilledPuts.get).getOrElse(0),
      "aborted" -> server.map(_.abortedResponses.get).getOrElse(0),
      "gc_s" -> gc, "heap_peak_mb" -> heapPeak,
      "tmp_dirs" -> dirs, "tmp_bytes" -> bytes)
  }

  /** FlightService.read_s and FlightProto.encode_s on endpoint 0 of a
    * staged flight, `n` times: drain `partitionTicketMessages`, then
    * encode the same messages as DoGet's FlightData frames. */
  private def replayRead(flight: String, n: Int): String = {
    val ticket = s"$flight#0"
    val per = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      val (it, closer) = service.partitionTicketMessages(ticket).get
      val msgs = try it.toVector finally closer()
      val t1 = System.nanoTime()
      var bytes = 0L
      msgs.foreach { m =>
        bytes += FlightProto.FlightData(None, m.metadata,
          Array.emptyByteArray, m.body).encode.length
      }
      val t2 = System.nanoTime()
      Json.obj("read_s" -> (t1 - t0) / 1e9, "encode_s" -> (t2 - t1) / 1e9,
        "messages" -> msgs.size, "bytes" -> bytes)
    }
    Json.obj("replays" -> Json.raw(per))
  }

  /** ArrowIpc.encode_s: `toIpcStreams` over a cached copy of a job's
    * result, so the replay times the encode and not the plan. */
  private def replayJob(ticket: String): String = {
    val df = service.require(ticket).cache()
    try {
      df.count()
      val t0 = System.nanoTime()
      val bytes = ArrowIpc.toIpcStreams(df).rdd.map(_.length.toLong).sum()
      Json.obj("encode_s" -> (System.nanoTime() - t0) / 1e9, "bytes" -> bytes)
    } finally { df.unpersist(true); () }
  }

  /** Replays one put — the Arrow IPC stream the load generator sent —
    * through FlightData.decode and the matching ingest route of a
    * scratch FlightService, and ArrowIpc.fromIpcStreams on its blobs. */
  private def replayPut(kind: String, file: Path, cmdFile: Path): String = {
    val msgs = FlightProto.splitIpcStream(Files.readAllBytes(file))
    val desc =
      if (kind == "gds_write") FlightProto.FlightDescriptor(
        FlightProto.DescriptorType.Cmd, Files.readAllBytes(cmdFile), Nil)
      else FlightProto.FlightDescriptor.path("replay")
    val encoded = msgs.zipWithIndex.map { case (m, i) =>
      FlightProto.FlightData(if (i == 0) Some(desc) else None, m.metadata,
        Array.emptyByteArray, m.body).encode
    }
    val t0 = System.nanoTime()
    val frames = encoded.map(FlightProto.FlightData.decode)
    val t1 = System.nanoTime()
    val ddl = FlightService.sparkSchemaOfStream(msgs).toDDL
    val scratch = new FlightService(spark)
    try {
      val t2 = System.nanoTime()
      val rows = kind match {
        case "put_heap" => scratch.ingestFlightData("replay", msgs)
        case "put_spill" =>
          val dir = Files.createTempDirectory("graft_put_spill_replay_")
          Files.copy(file, dir.resolve("part-00000.arrows"))
          scratch.ingestSpilledPut(desc, dir.toFile, ddl)
        case "gds_write" => scratch.putGraphPart(frames)
      }
      val t3 = System.nanoTime()
      import spark.implicits._
      ArrowIpc.fromIpcStreams(
        spark.createDataset(FlightProto.groupStreams(msgs)),
        StructType.fromDDL(ddl)).count()
      val t4 = System.nanoTime()
      Json.obj("decode_s" -> (t1 - t0) / 1e9, "ingest_s" -> (t3 - t2) / 1e9,
        "ipc_decode_s" -> (t4 - t3) / 1e9, "rows" -> rows)
    } finally scratch.cleanupStaging()
  }
}

/** Bench's `range(1e6)` sum: the session warm-up, and run again as a
  * host-speed calibration before and after a traced window. */
object Calib {
  def once(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id)").collect()
    (System.nanoTime() - t0) / 1e9
  }
  def runs(spark: SparkSession, n: Int): Seq[Double] =
    (1 to n).map(_ => once(spark))
}

/** The program's temp dirs under java.io.tmpdir: staged flights, put
  * spills and append logs. Counted to show whether they are released. */
object TmpDirs {
  private val Prefixes =
    Seq("graft_flight_stage_", "graft_put_spill_", "graft_flight_append_")
  def count(): (Int, Long) = {
    val root = Paths.get(System.getProperty("java.io.tmpdir"))
    val dirs = Option(root.toFile.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && Prefixes.exists(f.getName.startsWith))
    (dirs.length, dirs.map(d => Option(d.listFiles).getOrElse(Array.empty)
      .map(_.length).sum).sum)
  }
}

/** In-memory spans from listeners the benchmark registers on the
  * program's session — Spark jobs and stages, Catalyst phases, streaming
  * micro-batches — on only while a window is traced. Times are
  * CLOCK_MONOTONIC nanoseconds (System.nanoTime), the load generator's
  * clock; Spark's epoch-millisecond stamps are shifted onto it. */
final class Tracer(spark: SparkSession) {
  private val offsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def mono(epochMs: Long): Long = epochMs * 1000000L - offsetNs

  private val jobs = new ConcurrentLinkedQueue[String]()
  private val stages = new ConcurrentLinkedQueue[String]()
  private val execs = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()
  private val jobStarts =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String, Seq[Int])]()
  @volatile private var enabled = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobStarts.put(e.jobId, (mono(e.time),
        p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse(""),
        e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, group, exec, st) =>
        jobs.add(Json.obj("id" -> e.jobId, "start" -> start,
          "end" -> mono(e.time), "group" -> group, "exec" -> exec,
          "stages" -> st))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      def get[T](f: org.apache.spark.executor.TaskMetrics => T, zero: T): T =
        m.map(f).getOrElse(zero)
      stages.add(Json.obj("id" -> s.stageId,
        "start" -> mono(s.submissionTime.getOrElse(0L)),
        "end" -> mono(s.completionTime.getOrElse(0L)),
        "tasks" -> s.numTasks,
        "run_s" -> get(_.executorRunTime / 1e3, 0.0),
        "cpu_s" -> get(_.executorCpuTime / 1e9, 0.0),
        "gc_s" -> get(_.jvmGCTime / 1e3, 0.0),
        "shuffle_bytes" -> get(t => t.shuffleReadMetrics.remoteBytesRead +
          t.shuffleReadMetrics.localBytesRead +
          t.shuffleWriteMetrics.bytesWritten, 0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (enabled) {
      val ph = qe.tracker.phases
      def d(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      execs.add(Json.obj("exec" -> qe.id.toString, "end" -> System.nanoTime(),
        "analysis_s" -> d("analysis"), "optimization_s" -> d("optimization"),
        "planning_s" -> d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) batches.add(Json.obj("end" -> System.nanoTime(),
        "batch" -> e.progress.batchId, "rows" -> e.progress.numInputRows))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def on(): Unit = if (!enabled) {
    enabled = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def off(): Unit = if (enabled) {
    Bus.drain(spark.sparkContext)
    enabled = false
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Every span recorded so far, as one JSON document, and clears them. */
  def dump(): String = {
    def take(q: ConcurrentLinkedQueue[String]): Seq[String] = {
      val b = Seq.newBuilder[String]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    Json.obj("jobs" -> Json.raw(take(jobs)), "stages" -> Json.raw(take(stages)),
      "execs" -> Json.raw(take(execs)), "batches" -> Json.raw(take(batches)))
  }
}

/** The `loops` workload, in-JVM on one thread: whole passes over the
  * queries, each constructed and counted as graft.Bench does. The seed
  * picks a rotation of `queries`, kept for every pass, so each query
  * always follows the same one: a query runs faster right after itself
  * than after another, so an order reshuffled per pass moved every
  * query's time between passes. `passes` > 0 runs exactly that many;
  * otherwise passes run until `seconds` have gone, at least one. With
  * `hash`, the action collects the result for its canonical hash instead
  * of counting it. `leaked_rdds` counts the RDD ids a query added that
  * are still persisted when it returns. SparkContext holds persisted RDDs
  * weakly, so that count depends on when the last GC ran; with `settle`,
  * an untimed full GC first leaves only the RDDs still reachable. */
object Loops {
  def run(spark: SparkSession, sf: String, queries: Seq[String], seed: Long,
          passes: Int, seconds: Double, hash: Boolean, settle: Boolean,
          out: Path): String = {
    val k = java.lang.Math.floorMod(seed, queries.size.toLong).toInt
    val order = queries.drop(k) ++ queries.take(k)
    val sc = spark.sparkContext
    val records = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (if (passes > 0) pass < passes else pass == 0 || System.nanoTime() < deadline) {
      for (q <- order) {
        val rdds0 = sc.getPersistentRDDs.keySet
        val t0 = System.nanoTime()
        var t1 = t0
        var rows = -1L
        var digest = ""
        var err = ""
        try {
          val df = SparkEntry.queries(q)(spark, sf)
          t1 = System.nanoTime()
          if (hash) {
            val (n, h) = Hash.digest(df)
            rows = n
            digest = h
          } else rows = df.count()
        } catch {
          case t: Throwable =>
            err = (t.getClass.getSimpleName + ": " +
              String.valueOf(t.getMessage)).take(200)
        }
        val t2 = System.nanoTime()
        if (settle) System.gc()
        val leaked = (sc.getPersistentRDDs.keySet -- rdds0).size
        records += Json.obj("query" -> q, "pass" -> pass, "start" -> t0,
          "constructed" -> t1, "end" -> t2, "rows" -> rows, "hash" -> digest,
          "leaked_rdds" -> leaked, "error" -> err)
      }
      pass += 1
    }
    Files.writeString(out, Json.obj("ops" -> Json.raw(records.toSeq)))
    Json.obj("file" -> out.toString)
  }
}

/** The canonical result digest of graft.Verify / tools/check.py: SHA-256
  * over rows with columns sorted by name, each cell rendered
  * environment-independently, rows sorted as their encoded lines. */
object Hash {
  def cell(v: Any): String = v match {
    case null => "\u0000NULL"
    case d: java.lang.Double =>
      if (d.isNaN) "NaN" else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
      else String.format(java.util.Locale.ROOT, "%.17e", d)
    case f: java.lang.Float => cell(java.lang.Double.valueOf(f.toDouble))
    case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
    case other => other.toString
  }
  /** The result's row count and digest. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(col): _*).collect()
      .map(_.toSeq.map(cell).mkString("\u0001"))
    java.util.Arrays.sort(lines, java.util.Comparator.naturalOrder[String]())
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    (lines.length.toLong, md.digest().map(b => f"$b%02x").mkString)
  }
}

/** Just enough JSON for the control replies. */
object Json {
  final case class Raw(s: String)
  def raw(items: Seq[String]): Raw = Raw(items.mkString("[", ",", "]"))
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else String.format(java.util.Locale.ROOT, "%.9g", Double.box(d))
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
