package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.FlightFixture.withFlight
import graft.sources.{ActionMessages, FlightGrpc}
import graft.sources.ActionMessages.{CypherMessage, GdsMessage}

/** The reference's job-request message codecs on the wire, plus the
  * query-submission lifecycle they enable: an Action whose body is a
  * codec-serialized message, a ticket back, the result streamed by
  * ticket. Byte-layout assertions are done against the raw buffer (not
  * the codec's own deserializer) so encode bugs can't hide. */
class ActionMessagesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("CypherMessage wire layout: BIG_ENDIAN u16 length-prefixed " +
      "cypher, database, params — and deserialize inverts it") {
    val m = CypherMessage("neo4j", "SELECT 1 AS x", """{"lim":5}""")
    val b = m.serialize
    val buf = ByteBuffer.wrap(b).order(ByteOrder.BIG_ENDIAN)
    val cy = new Array[Byte](buf.getShort().toInt); buf.get(cy)
    assert(new String(cy, UTF_8) == "SELECT 1 AS x")
    val db = new Array[Byte](buf.getShort().toInt); buf.get(db)
    assert(new String(db, UTF_8) == "neo4j")
    val ps = new Array[Byte](buf.getShort().toInt); buf.get(ps)
    assert(new String(ps, UTF_8) == """{"lim":5}""")
    assert(buf.remaining() == 0)
    assert(CypherMessage.deserialize(b) == m)
    // non-ASCII round-trip: length prefixes count BYTES, not chars
    val uni = CypherMessage("db", "SELECT 'héllo – ✓'")
    assert(CypherMessage.deserialize(uni.serialize) == uni)
  }

  test("CypherMessage rejects fields beyond the u16 wire limit loudly") {
    val big = "x" * (Short.MaxValue + 1)
    val e = intercept[IllegalArgumentException](
      CypherMessage("db", big).serialize)
    assert(e.getMessage.contains("u16"))
  }

  test("GdsMessage JSON round-trips with the reference key vocabulary") {
    val m = GdsMessage(db = "neo4j", graph = "g", requestType = "node",
      properties = Seq("name", "acctbal"), filters = Seq("Customer"),
      nodeIdProperty = "alt_id", partitions = 8, batchSize = 512,
      listSize = 16)
    val json = new String(m.serialize, UTF_8)
    // the reference's exact keys (GdsMessage.java:36-45)
    Seq("\"db\"", "\"graph\"", "\"type\"", "\"filters\"",
      "\"properties\"", "\"node_id\"", "\"partitions\"",
      "\"batch_size\"", "\"list_size\"").foreach(k =>
      assert(json.contains(k), s"missing key $k in $json"))
    assert(GdsMessage.deserialize(m.serialize) == m)
    // defaults: db falls back to neo4j, lists to empty
    val minimal = GdsMessage.deserialize(
      """{"graph":"g2","type":"relationship"}""".getBytes(UTF_8))
    assert(minimal.db == "neo4j" && minimal.graph == "g2" &&
      minimal.properties.isEmpty && minimal.filters.isEmpty)
    // escapes survive
    val esc = GdsMessage(db = "d\"b", graph = "g\n2", requestType = "node")
    assert(GdsMessage.deserialize(esc.serialize) == esc)
    intercept[IllegalArgumentException] {
      GdsMessage(db = "x", graph = "g", requestType = "bogus")
    }
  }

  test("write-message codecs round-trip the reference key vocabularies") {
    import graft.sources.ActionMessages._
    val km = KHopMessage(db = "d", graph = "g", k = 3,
      relProperty = "weight", nodeIdProperty = "ID")
    val kj = new String(km.serialize, UTF_8)
    Seq("\"db\"", "\"graph\"", "\"k\"", "\"rel_property\"", "\"ID\"")
      .foreach(k => assert(kj.contains(k), s"missing $k in $kj"))
    assert(KHopMessage.deserialize(km.serialize) == km)
    // a GdsMessage body re-parsed as KHopMessage defaults k=2 — the
    // reference's dual-read of the same bytes
    val viaGds = KHopMessage.deserialize(
      GdsMessage(db = "d", graph = "g", requestType = "khop").serialize)
    assert(viaGds.k == 2 && viaGds.graph == "g")

    val nm = GdsWriteNodeMessage(db = "d", graph = "g",
      idField = "node_id", labelsField = "labs")
    val nj = new String(nm.serialize, UTF_8)
    Seq("\"id_field\"", "\"labels_field\"").foreach(k =>
      assert(nj.contains(k)))
    assert(GdsWriteNodeMessage.deserialize(nm.serialize) == nm)

    val rm = GdsWriteRelsMessage(db = "d", graph = "g",
      sourceField = "s", targetField = "t", typeField = "ty")
    val rj = new String(rm.serialize, UTF_8)
    Seq("\"source_field\"", "\"target_field\"", "\"type_field\"")
      .foreach(k => assert(rj.contains(k)))
    assert(GdsWriteRelsMessage.deserialize(rm.serialize) == rm)
  }

  test("gds.write over the wire: CMD-descriptor FlightData streams build " +
      "a graph queryable by gds.read") {
    import graft.sources.ActionMessages.{GdsWriteNodeMessage, GdsWriteRelsMessage}
    withFlight { (_, c) =>
      // client-side tables with NON-canonical field names + scalar label
      val nodes = (0L until 40L)
        .map(i => (i, if (i % 2 == 0) "Even" else "Odd", i * 1.5))
        .toDF("node_id", "lab", "score")
      val rels = (0L until 39L).map(i => (i, i + 1, "NEXT"))
        .toDF("s", "t", "ty")
      // DoPut with a CMD descriptor carrying the write message itself
      assert(c.doPutGraphPart(GdsWriteNodeMessage(db = "graft",
        graph = "wg", idField = "node_id", labelsField = "lab").serialize,
        nodes.repartition(2)) == 40L)
      // graph not complete yet: gds.read must fail NOT_FOUND
      val e = intercept[FlightGrpc.GrpcException](
        c.submitJob("gds.read", GdsMessage(db = "graft", graph = "wg",
          requestType = "node").serialize))
      assert(e.code == FlightGrpc.Status.NotFound)
      assert(e.getMessage.contains("not found"))
      assert(c.doPutGraphPart(GdsWriteRelsMessage(db = "graft",
        graph = "wg", sourceField = "s", targetField = "t",
        typeField = "ty").serialize, rels.repartition(2)) == 39L)
      // both halves arrived: the graph serves reads with canonical
      // columns and the scalar label canonicalized to a label set
      val nt = c.submitJob("gds.read", GdsMessage(db = "graft",
        graph = "wg", requestType = "node", filters = Seq("Even")).serialize)
      val gotN = c.doGet(spark, nt)
      assert(gotN.count() == 20L)
      assert(gotN.columns.take(2).toSeq == Seq("ID", "LABELS"))
      val kt = c.submitJob("gds.read", GdsMessage(db = "graft",
        graph = "wg", requestType = "khop", filters = Seq("NEXT")).serialize)
      // 2-hop on the 40-node path graph: interior origins see 4 edges
      val gotK = c.doGet(spark, kt)
      val perOrigin = gotK.groupBy($"origin").count()
        .as[(Long, Long)].collect().toMap
      assert(perOrigin(20L) == 4L && perOrigin(0L) == 2L)
    }
  }

  // FXCHG is DoExchange's short label
  test("FXCHG (DoExchange): upload + query + result stream in ONE call, " +
      "nothing registered server-side") {
    withFlight { (_, c) =>
      val df = (0L until 300L).map(i => (i, s"g${i % 4}", i * 1.5))
        .toDF("id", "grp", "v")
      val got = c.doExchange(spark,
          CypherMessage("graft",
            "SELECT grp, count(*) AS n, sum(v) AS sv FROM input " +
              "GROUP BY grp"),
          df.repartition(3))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      val want = df.groupBy($"grp")
        .agg(count(lit(1)).as("n"), sum($"v").as("sv"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == want)
      // the exchange left no flight behind
      assert(c.listFlights().isEmpty)
      // a bad query fails the exchange call itself
      val e = intercept[FlightGrpc.GrpcException](
        c.doExchange(spark, CypherMessage("graft", "SELECT nope FROM input"),
          df.limit(5)))
      assert(e.code != FlightGrpc.Status.Ok && e.getMessage.contains("nope"))
      // and the connection survives for the next verb
      assert(c.doAction("info.version", "").asString.nonEmpty)
    }
  }

  // FGET is DoGet's short label
  test("cypher.read over the wire: CypherMessage body -> ticket -> " +
      "FGET streams the query result") {
    withFlight { (_, c) =>
      val df = (0L until 200L).map(i => (i, s"g${i % 3}", i * 2.5))
        .toDF("id", "grp", "v")
      c.doPut("t200", df.repartition(2))
      val ticket = c.submitJob("cypher.read", CypherMessage("graft",
        "SELECT grp, count(*) AS n, sum(v) AS sv FROM t200 GROUP BY grp")
        .serialize)
      assert(ticket.nonEmpty)
      // the ticketed result is a flight: DoGet it back
      val got = c.doGet(spark, ticket)
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      val want = df.groupBy($"grp").agg(count(lit(1)).as("n"),
          sum($"v").as("sv"))
        .as[(String, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got == want)
      // and the job lifecycle applies to it (ticket is pollable)
      assert(Set("PENDING", "PRODUCING", "COMPLETE")(c.jobStatus(ticket)))
      // a broken query fails the ACTION, not a later stream read
      val e = intercept[FlightGrpc.GrpcException](
        c.submitJob("cypher.read",
          CypherMessage("graft", "SELECT no_such FROM t200").serialize))
      assert(e.getMessage.contains("no_such"))
    }
  }

  test("gds.read over the wire: GdsMessage node/relationship requests " +
      "against a registered graph match the GraphRef scans") {
    withFlight { (srv, c) =>
      val nodes = (0L until 60L).map(i =>
          (i, Seq(if (i % 2 == 0) "Even" else "Odd"), s"n$i", i * 1.5))
        .toDF("ID", "LABELS", "name", "score")
      val rels = (0L until 59L).map(i => (i, i + 1, "NEXT", i.toDouble))
        .toDF("START_ID", "END_ID", "TYPE", "weight")
      srv.registerGraph("g", nodes, rels)
      val ref = graft.operators.GraphRef(nodes, rels)
      val nt = c.submitJob("gds.read", GdsMessage(db = "graft", graph = "g",
        requestType = "node", properties = Seq("name"),
        filters = Seq("Even")).serialize)
      val gotN = c.doGet(spark, nt)
      val wantN = ref.nodeScan(props = Seq("name"), labels = Seq("Even"))
      assert(gotN.count() == 30L)
      assert(gotN.select($"ID", $"name").as[(Long, String)].collect().toSet
        == wantN.select($"ID", $"name").as[(Long, String)].collect().toSet)
      val rt = c.submitJob("gds.read", GdsMessage(db = "graft", graph = "g",
        requestType = "relationship", properties = Seq("weight"),
        filters = Seq("NEXT")).serialize)
      val gotR = c.doGet(spark, rt)
      val wantR = ref.relScan(props = Seq("weight"), types = Seq("NEXT"))
      assert(gotR.count() == wantR.count())
      // unknown graph fails the action with NOT_FOUND
      val e = intercept[FlightGrpc.GrpcException](
        c.submitJob("gds.read", GdsMessage(db = "graft", graph = "nope",
          requestType = "node").serialize))
      assert(e.code == FlightGrpc.Status.NotFound)
    }
  }
}
