package graft

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.ipc.ArrowStreamWriter
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ActionMessages, ArrowIpc, FlightProto, FlightService}

/** Put acks come from the stream's RecordBatch headers, not a second
  * Spark action: for a put of several streams of several batches, one
  * of them empty, every ingest route acks exactly the rows it
  * registered. */
class FlightPutAckSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 3 partition streams of 128-row batches, 1000 rows in all. */
  private def df: DataFrame = spark.range(0, 1000, 1, 3)
    .selectExpr("id as ID", "concat('L', id % 3) as LABELS",
      "cast(id as double) * 0.5 as score")

  /** A zero-row RecordBatch message of `df`'s Arrow schema. */
  private def emptyBatch(d: DataFrame): FlightProto.IpcMessage = {
    val alloc = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(ArrowIpc.arrowSchema(d.schema), alloc)
    val out = new java.io.ByteArrayOutputStream()
    val w = new ArrowStreamWriter(root, null, out)
    try {
      root.allocateNew()
      root.setRowCount(0)
      w.start(); w.writeBatch(); w.end()
    } finally { w.close(); root.close(); alloc.close() }
    FlightProto.splitIpcStream(out.toByteArray)(1)
  }

  /** `df`'s streams, with an empty batch after the first stream's first
    * batch. */
  private def msgs: Seq[FlightProto.IpcMessage] = {
    val d = df
    val all = ArrowIpc.toIpcStreams(d, batchSize = 128).collect().toSeq
      .flatMap(FlightProto.splitIpcStream)
    assert(all.count(FlightProto.isSchemaMessage) == 3)
    all.patch(2, Seq(emptyBatch(d)), 0)
  }

  private def withService(f: FlightService => Unit): Unit = {
    val svc = new FlightService(spark)
    try f(svc) finally svc.cleanupStaging()
  }

  test("a put acks its header row count, equal to the registered rows") {
    withService { svc =>
      val ack = svc.ingestFlightData("acked", msgs)
      assert(ack == 1000L)
      assert(ack == svc.require("acked").count())
    }
  }

  test("an append and a graph-part put ack their header row counts") {
    withService { svc =>
      val sent = msgs
      assert(svc.appendFlightData("acked_log", sent) == 1000L)
      val staged = svc.appendTickets("acked_log", 0, 1).map { t =>
        val (it, close) = svc.partitionTicketMessages(t).get
        try FlightProto.joinIpcStream(it.toSeq) finally close()
      }
      import spark.implicits._
      assert(ArrowIpc.fromIpcStreams(spark.createDataset(staged),
        FlightService.sparkSchemaOfStream(sent)).count() == 1000L)
      val desc = FlightProto.FlightDescriptor(FlightProto.DescriptorType.Cmd,
        ActionMessages.GdsWriteNodeMessage(db = "d", graph = "acked_g")
          .serialize, Nil)
      val frames = msgs.zipWithIndex.map { case (m, i) =>
        FlightProto.FlightData(if (i == 0) Some(desc) else None, m.metadata,
          Array.emptyByteArray, m.body)
      }
      assert(svc.putGraphPart(frames) == 1000L)
    }
  }
}
