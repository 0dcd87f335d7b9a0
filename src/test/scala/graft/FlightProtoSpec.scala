package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.FlightFixture.withFlight
import graft.sources.{ArrowIpc, FlightGrpc, FlightProto}

/** Wire-exactness of the hand-rolled Arrow Flight protobuf layer.
  *
  * The decoder used for the assertions here is NOT FlightProto.Reader —
  * it's an INDEPENDENT minimal proto parser written in this spec, so an
  * encode bug can't hide behind a mirrored decode bug. Shapes follow the
  * public `arrow/flight/Flight.proto` (field numbers asserted literally:
  * FlightData.data_body = 1000, FlightInfo.schema = 1, …). */
class FlightProtoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- independent proto parser (deliberately separate implementation)
  private def parse(b: Array[Byte]): Seq[(Int, Either[Long, Array[Byte]])] = {
    var pos = 0
    def vint(): Long = {
      var acc = 0L; var sh = 0
      var more = true
      while (more) {
        val x = b(pos) & 0xFF; pos += 1
        acc |= (x & 0x7FL) << sh; sh += 7; more = (x & 0x80) != 0
      }
      acc
    }
    val out = Seq.newBuilder[(Int, Either[Long, Array[Byte]])]
    while (pos < b.length) {
      val t = vint()
      val f = (t >>> 3).toInt
      (t & 7L) match {
        case 0 => out += f -> Left(vint())
        case 2 =>
          val n = vint().toInt
          out += f -> Right(java.util.Arrays.copyOfRange(b, pos, pos + n))
          pos += n
        case w => fail(s"unexpected wire type $w for field $f")
      }
    }
    out.result()
  }
  private def b1(fs: Seq[(Int, Either[Long, Array[Byte]])], f: Int): Array[Byte] =
    fs.collectFirst { case (`f`, Right(x)) => x }.getOrElse(fail(s"no field $f"))

  private def sample = (0L until 300L)
    .map(i => (i, s"s_$i", i.toDouble / 7.0)).toDF("id", "txt", "x")

  test("FlightDescriptor/Ticket/FlightInfo encode to spec field numbers " +
      "and survive an independent decode") {
    val d = FlightProto.FlightDescriptor.path("orders", "2024")
    val dfs = parse(d.encode)
    assert(dfs.collectFirst { case (1, Left(v)) => v }
      .contains(FlightProto.DescriptorType.Path.toLong))
    assert(dfs.collect { case (3, Right(p)) => new String(p, UTF_8) } ==
      Seq("orders", "2024"))

    val t = FlightProto.Ticket.of("orders")
    assert(new String(b1(parse(t.encode), 1), UTF_8) == "orders")

    val info = FlightProto.FlightInfo(
      schema = Array[Byte](1, 2, 3), descriptor = d,
      endpoints = Seq(FlightProto.FlightEndpoint(t,
        Seq(FlightProto.Location("grpc+tcp://127.0.0.1:9999")))),
      totalRecords = 300L, totalBytes = -1L)
    val ifs = parse(info.encode)
    assert(b1(ifs, 1).toSeq == Seq[Byte](1, 2, 3))
    val ep = parse(b1(ifs, 3))
    assert(new String(b1(parse(b1(ep, 1)), 1), UTF_8) == "orders")
    assert(new String(b1(parse(b1(ep, 2)), 1), UTF_8)
      == "grpc+tcp://127.0.0.1:9999")
    assert(ifs.collectFirst { case (4, Left(v)) => v }.contains(300L))
    // int64 -1 is a 10-byte two's-complement varint
    assert(ifs.collectFirst { case (5, Left(v)) => v }.contains(-1L))
    // and the mirrored decoder agrees with the independent one
    val rt = FlightProto.FlightInfo.decode(info.encode)
    assert(rt.totalRecords == 300L && rt.totalBytes == -1L &&
      rt.descriptor.path == Seq("orders", "2024"))
  }

  test("splitIpcStream finds Schema-first messages and joinIpcStream is " +
      "a byte-exact inverse") {
    val blobs = ArrowIpc.toIpcStreams(sample.repartition(3)).collect()
    assert(blobs.length == 3)
    blobs.foreach { blob =>
      val msgs = FlightProto.splitIpcStream(blob)
      assert(msgs.nonEmpty)
      assert(FlightProto.isSchemaMessage(msgs.head))
      assert(msgs.tail.forall(!FlightProto.isSchemaMessage(_)))
      assert(msgs.head.body.isEmpty) // Schema message carries no body
      // re-framing the messages reproduces the original stream bytes
      assert(FlightProto.joinIpcStream(msgs).toSeq == blob.toSeq)
      // the streaming iterator (staged-DoGet serving: one message on
      // the heap at a time) yields exactly the batch splitter's output
      val streamed = FlightProto.ipcMessageIterator(
        new java.io.ByteArrayInputStream(blob)).toSeq
      assert(streamed.size == msgs.size)
      streamed.zip(msgs).foreach { case (a, b) =>
        assert(a.metadata.toSeq == b.metadata.toSeq)
        assert(a.body.toSeq == b.body.toSeq)
      }
    }
  }

  test("FlightData frames carry header/body on fields 2/1000 and " +
      "reassemble into readable Arrow") {
    val blob = ArrowIpc.toIpcStreams(sample.coalesce(1)).collect().head
    val frames = FlightProto.splitIpcStream(blob).map(m =>
      FlightProto.FlightData(None, m.metadata, Array.emptyByteArray, m.body))
    frames.foreach { fd =>
      val fs = parse(fd.encode)
      assert(b1(fs, 2).toSeq == fd.dataHeader.toSeq)
      assert(fs.collectFirst { case (1000, Right(x)) => x.toSeq }
        .contains(fd.dataBody.toSeq))
    }
    // wire round-trip: encode → independent-parse → rebuild → read back
    val rebuilt = FlightProto.joinIpcStream(frames.map { fd =>
      val fs = parse(fd.encode)
      FlightProto.IpcMessage(b1(fs, 2),
        fs.collectFirst { case (1000, Right(x)) => x }.get)
    })
    val back = ArrowIpc.fromIpcStreams(
      spark.createDataset(Seq(rebuilt)), sample.schema)
    assert(back.as[(Long, String, Double)].collect().sorted.toSeq ==
      sample.as[(Long, String, Double)].collect().sorted.toSeq)
  }

  // FACTIONS/FACTION are ListActions/DoAction's short labels
  test("FACTIONS/FACTION carry Flight Action/ActionType/Result protos " +
      "for the reference's doAction vocabulary") {
    withFlight { (_, c) =>
      // listActions: the reference's action vocabulary (job.status =
      // StatusHandler, info.jobs/info.version = ServerInfoHandler)
      val actions = c.listActions()
      assert(actions.map(_.atype).toSet ==
        Set("cypher.read", "gds.read", "job.status", "job.cancel",
          "job.submit", "info.jobs", "info.version", "flight.log",
          "flight.log.schema", "flight.log.tickets", "gds.write.nodes",
          "gds.write.relationships"))
      actions.foreach { a =>
        val fs = parse(a.encode) // ActionType fields 1/2 per Flight.proto
        assert(new String(b1(fs, 1), UTF_8) == a.atype)
        assert(new String(b1(fs, 2), UTF_8) == a.description)
      }
      assert(c.doAction("info.version", "").asString.nonEmpty)
      assert(c.doAction("INFO.VERSION", "").asString ==
        c.doAction("info.version", "").asString) // case-insensitive dispatch
      // ticketed job through the Action path end-to-end
      c.doPut("tact", sample.coalesce(2))
      val ticket = c.submitJob("job.submit", "tact".getBytes(UTF_8))
      assert(ticket.nonEmpty)
      var st = c.jobStatus(ticket)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (st != "COMPLETE" && System.nanoTime() < deadline) {
        Thread.sleep(50); st = c.jobStatus(ticket)
      }
      assert(st == "COMPLETE")
      assert(c.doAction("info.jobs", "").asString.contains(ticket))
      // unknown action and unknown ticket fail with a grpc-status
      val e1 = intercept[FlightGrpc.GrpcException](c.doAction("nope", ""))
      assert(e1.code == FlightGrpc.Status.Unimplemented &&
        e1.getMessage.contains("unsupported action"))
      val e2 = intercept[FlightGrpc.GrpcException](
        c.doAction("job.status", "no-such-ticket"))
      assert(e2.code == FlightGrpc.Status.NotFound &&
        e2.getMessage.contains("no job for ticket"))
      // Action proto itself: type=1, body=2
      val afs = parse(FlightProto.Action.of("job.status", "T-1").encode)
      assert(new String(b1(afs, 1), UTF_8) == "job.status")
      assert(new String(b1(afs, 2), UTF_8) == "T-1")
    }
  }

  // FINFO/FGET/FPUT are GetFlightInfo/DoGet/DoPut's short labels
  test("FINFO/FGET/FPUT round-trip a table over the loopback with " +
      "Flight-framed payloads") {
    withFlight { (srv, c) =>
      assert(c.doPut("t", sample.repartition(4)) == 300L)
      val info = c.getFlightInfo("t")
      assert(info.descriptor.path == Seq("t"))
      assert(info.totalRecords == -1L && info.totalBytes == -1L)
      // one endpoint per staged partition, ticket `t#<i>`
      assert(info.endpoints.nonEmpty)
      assert(info.endpoints.map(_.ticket.asString) ==
        info.endpoints.indices.map(i => s"t#$i"))
      assert(info.endpoints.head.locations.head.uri
        == s"grpc+tcp://127.0.0.1:${srv.port}")
      // FlightInfo.schema is a real IPC-encapsulated Schema message
      val schema = org.apache.arrow.vector.ipc.message.MessageSerializer
        .deserializeSchema(new org.apache.arrow.vector.ipc.ReadChannel(
          java.nio.channels.Channels.newChannel(
            new java.io.ByteArrayInputStream(info.schema))))
      assert(schema.getFields.size() == 3)
      // a DoGet is ONE logical Arrow stream: exactly one Schema message,
      // leading, then the record batches of every partition
      val frames = c.callOk("DoGet", Seq(FlightProto.Ticket.of("t").encode))
        .map(FlightProto.FlightData.decode)
      val heads = frames.map(fd =>
        FlightProto.isSchemaMessage(
          FlightProto.IpcMessage(fd.dataHeader, fd.dataBody)))
      assert(heads.head && heads.count(identity) == 1)
      val got = c.readFlight(spark, info)
        .as[(Long, String, Double)].collect().sorted.toSeq
      assert(got == sample.as[(Long, String, Double)].collect().sorted.toSeq)
    }
  }
}
