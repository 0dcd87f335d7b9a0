package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{ActionMessages, FlightGrpc, FlightProto}

/** End-to-end exercise of the REAL gRPC/HTTP/2 Flight transport
  * (sources/FlightGrpc): every RPC rides Netty's HTTP/2 codec on the
  * loopback — connection preface, SETTINGS, HPACK, stream multiplexing
  * and flow-control windows are all the genuine article, with gRPC's
  * length-prefixed message framing and grpc-status trailers on top:
  * what a grpc-java Flight client speaks on the wire. */
class FlightGrpcSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample = (0L until 500L)
    .map(i => (i, s"name_$i", Array.tabulate(4)(j => (i + j).toDouble)))
    .toDF("id", "name", "vec")

  private def withServer(f: FlightGrpc.Server => Unit): Unit = {
    val srv = new FlightGrpc.Server(spark, token = "sekrit").start()
    try f(srv) finally srv.close()
  }

  private def withClient(srv: FlightGrpc.Server)(
      f: FlightGrpc.Client => Unit): Unit = {
    val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
    try f(c) finally c.close()
  }

  test("handshake accepts the shared secret and rejects others") {
    withServer { srv =>
      withClient(srv) { c =>
        assert(c.handshake("sekrit"))
        assert(!c.handshake("wrong"))
      }
    }
  }

  test("calls without credentials fail UNAUTHENTICATED (16); " +
      "basic auth with the secret as password passes") {
    withServer { srv =>
      srv.register("people", sample)
      withClient(srv) { c =>
        val r = c.callRaw("ListFlights",
          Seq(FlightProto.Criteria.all.encode), authHeader = None)
        assert(r.status == FlightGrpc.Status.Unauthenticated)
        // a wrong bearer also fails
        val r1 = c.callRaw("ListFlights",
          Seq(FlightProto.Criteria.all.encode),
          authHeader = Some("Bearer wrong"))
        assert(r1.status == FlightGrpc.Status.Unauthenticated)
        // a Basic credential (any user, secret as password) passes —
        // the reference's HorribleBasicAuthValidator contract
        val basic = java.util.Base64.getEncoder
          .encodeToString("anyone:sekrit".getBytes(UTF_8))
        val r2 = c.callRaw("ListFlights",
          Seq(FlightProto.Criteria.all.encode),
          authHeader = Some(s"Basic $basic"))
        assert(r2.status == 0 && r2.messages.size == 1)
      }
    }
  }

  test("listFlights + getSchema + getFlightInfo carry wire-exact " +
      "FlightInfo/SchemaResult protos") {
    withServer { srv =>
      srv.register("people", sample)
      withClient(srv) { c =>
        val infos = c.listFlights()
        assert(infos.map(_.descriptor.path) == Seq(Seq("people")))
        assert(infos.head.schema.nonEmpty)
        assert(infos.head.endpoints.head.locations.head.uri
          .startsWith("grpc+tcp://127.0.0.1:"))
        val fi = c.getFlightInfo("people")
        assert(fi.descriptor.path == Seq("people"))
        // SchemaResult bytes match FlightInfo.schema (same encapsulated
        // Arrow Schema message)
        assert(java.util.Arrays.equals(c.getSchema("people"),
          fi.schema))
        val e = intercept[FlightGrpc.GrpcException](c.getFlightInfo("nope"))
        assert(e.code == FlightGrpc.Status.NotFound)
      }
    }
  }

  test("doPut then doGet round-trips a table exactly (schema from the " +
      "wire, no side-channel DDL)") {
    withServer { srv =>
      withClient(srv) { c =>
        val n = c.doPut("people_put", sample.repartition(4))
        assert(n == 500L)
        val back = c.doGet(spark, "people_put")
        assert(back.schema.fieldNames.toSeq == Seq("id", "name", "vec"))
        val a = back.select($"id", $"name", $"vec"(2).as("v2"))
          .as[(Long, String, Double)].collect().toSet
        val b = sample.select($"id", $"name", $"vec"(2).as("v2"))
          .as[(Long, String, Double)].collect().toSet
        assert(a == b)
      }
    }
  }

  test("a >1 MiB transfer crosses HTTP/2 flow-control windows in both " +
      "directions without stalling") {
    withServer { srv =>
      withClient(srv) { c =>
        // ~2.4 MB of payload: far beyond the 64 KiB initial window, so
        // this only passes if WINDOW_UPDATE replenishment works on both
        // client and server sides
        val big = (0L until 30000L)
          .map(i => (i, ("x" * 64) + i.toString))
          .toDF("id", "pad")
        assert(c.doPut("big", big.repartition(3)) == 30000L)
        val back = c.doGet(spark, "big")
        assert(back.count() == 30000L)
        assert(back.agg(sum(length($"pad"))).as[Long].head ==
          big.agg(sum(length($"pad"))).as[Long].head)
      }
    }
  }

  test("DoAction cypher.read submits a query; DoGet streams the ticketed " +
      "result; job.status reaches COMPLETE") {
    withServer { srv =>
      srv.register("people", sample)
      withClient(srv) { c =>
        // submitJob decodes the serialized-Ticket Result.body (the
        // reference client's `_submit` contract over gRPC); jobStatus
        // polls with a serialized-Ticket body the same way
        val ticket = c.submitJob("cypher.read",
          ActionMessages.CypherMessage("graft",
            "SELECT id % 5 AS g, count(*) AS n FROM people GROUP BY 1")
            .serialize)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        var st = c.jobStatus(ticket)
        while (st != "COMPLETE" && st != "ERROR" &&
            System.nanoTime() < deadline) {
          Thread.sleep(50)
          st = c.jobStatus(ticket)
        }
        assert(st == "COMPLETE")
        val res = c.doGet(spark, ticket)
        assert(res.as[(Long, Long)].collect().toMap ==
          Map(0L -> 100L, 1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 100L))
        // job.cancel on a terminal job loses the race, non-destructively
        assert(c.doAction("job.cancel", ticket).asString == "ALREADY_DONE")
        assert(c.doAction("job.status", ticket).asString == "COMPLETE")
        // cancelling a ticket no job owns is NOT_FOUND
        val e = intercept[FlightGrpc.GrpcException](
          c.doAction("job.cancel", "no-such"))
        assert(e.code == FlightGrpc.Status.NotFound &&
          e.getMessage.contains("unknown ticket"))
      }
    }
  }

  test("GetFlightInfo with a CMD descriptor runs the command and points " +
      "at the result flight (descriptor-as-command)") {
    withServer { srv =>
      srv.register("people", sample)
      withClient(srv) { c =>
        val fi = c.getFlightInfoCmd(ActionMessages.CypherMessage("graft",
          "SELECT count(*) AS n FROM people"))
        assert(fi.endpoints.nonEmpty)
        assert(c.readFlight(spark, fi).as[Long].head == 500L)
      }
    }
  }

  test("DoExchange transforms in flight: rows up, query result back in " +
      "the same RPC") {
    withServer { srv =>
      withClient(srv) { c =>
        val out = c.doExchange(spark,
          ActionMessages.CypherMessage("graft",
            "SELECT id % 3 AS g, count(*) AS n, sum(id) AS s " +
              "FROM input GROUP BY 1"),
          sample.repartition(2))
        val got = out.as[(Long, Long, Long)].collect().toSet
        val want = sample.groupBy(($"id" % 3).as("g"))
          .agg(count(lit(1)).as("n"), sum($"id").as("s"))
          .as[(Long, Long, Long)].collect().toSet
        assert(got == want)
      }
    }
  }

  test("a DoPut of an EMPTY DataFrame fails with a clean InvalidArgument, " +
      "not a client-side crash") {
    withServer { srv =>
      withClient(srv) { c =>
        val e = intercept[FlightGrpc.GrpcException](
          c.doPut("empty", spark.range(0L).toDF("id")))
        assert(e.code == FlightGrpc.Status.InvalidArgument)
        // the connection survives the empty upload
        c.doPut("after", spark.range(5L).toDF("id"))
        assert(c.doGet(spark, "after").count() == 5L)
      }
    }
  }

  test("a DoPut past the spill threshold ingests via disk (lazy DSv2 " +
      "read), round-trips exactly, and a second append batch follows") {
    withServer { srv =>
      withClient(srv) { c =>
        // ~12 MB of padded rows: well past the 4 MB spill threshold
        val big = spark.range(0L, 150000L)
          .select($"id", lpad($"id".cast("string"), 64, "p").as("pad"))
          .repartition(3)
        assert(c.doPut("spilled", big) == 150000L)
        assert(srv.service.spilledPuts.get() == 1,
          "large put did not take the spill route")
        val back = c.doGet(spark, "spilled")
        assert(back.count() == 150000L)
        assert(back.agg(sum(length($"pad")), sum($"id")).as[(Long, Long)]
          .head == (150000L * 64, 150000L * 149999L / 2))
        // append-log spill: the staged batch IS the spill files
        assert(c.doPutAppend("spill_log", big) == 150000L)
        assert(srv.service.spilledPuts.get() == 2)
        assert(c.doAction("flight.log", "spill_log").asString == "1")
        // a small put still takes the in-memory route
        c.doPut("tiny", spark.range(0L, 10L).toDF("id"))
        assert(srv.service.spilledPuts.get() == 2)
        assert(c.doGet(spark, "tiny").count() == 10L)
      }
    }
  }

  test("a client vanishing mid-DoGet aborts the server's producer loop " +
      "(disconnect hook) and leaves the server serving") {
    withServer { srv =>
      // big enough that the stream is still in flight when the client
      // dies: ~60 MB of padded rows
      srv.register("big_stream", spark.range(0L, 800000L)
        .select($"id", lpad($"id".cast("string"), 64, "x").as("pad"))
        .repartition(4))
      val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      val puller = new Thread(() =>
        try c.call("DoGet", Seq(FlightProto.Ticket.of("big_stream").encode))
        catch { case _: Throwable => () })
      puller.start()
      Thread.sleep(300) // let the producer start streaming
      c.close()         // vanish mid-response
      puller.join(10000)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (srv.abortedResponses.get() == 0 &&
          System.nanoTime() < deadline) Thread.sleep(100)
      assert(srv.abortedResponses.get() == 1,
        "producer loop did not abort on client disconnect")
      // the server is unharmed: a fresh connection completes a full RPC
      withClient(srv) { c2 =>
        assert(c2.doGet(spark, "big_stream").count() == 800000L)
      }
    }
  }

  test("listActions matches the service's action surface") {
    withServer { srv =>
      withClient(srv) { c =>
        assert(c.listActions().map(_.atype).toSet == Set("cypher.read",
          "gds.read", "job.status", "job.cancel", "job.submit",
          "info.jobs", "info.version", "flight.log", "flight.log.schema",
          "flight.log.tickets", "gds.write.nodes",
            "gds.write.relationships"))
      }
    }
  }

  test("RPCs multiplex: concurrent DoGets on ONE connection both complete") {
    withServer { srv =>
      srv.register("people", sample)
      srv.register("people2", sample.withColumn("id", $"id" + 1000L))
      withClient(srv) { c =>
        val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
        try {
          val f1 = pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = c.doGet(spark, "people").count()
          })
          val f2 = pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = c.doGet(spark, "people2").count()
          })
          assert(f1.get(120, java.util.concurrent.TimeUnit.SECONDS) == 500L)
          assert(f2.get(120, java.util.concurrent.TimeUnit.SECONDS) == 500L)
        } finally pool.shutdownNow()
      }
    }
  }

  test("unknown methods are UNIMPLEMENTED (12); unknown tickets NOT_FOUND " +
      "(5); malformed proto is INVALID_ARGUMENT/UNKNOWN, never a hang") {
    withServer { srv =>
      withClient(srv) { c =>
        val r = c.call("NoSuchMethod", Seq(Array.emptyByteArray))
        assert(r.status == FlightGrpc.Status.Unimplemented)
        val e = intercept[FlightGrpc.GrpcException](c.doGet(spark, "ghost"))
        assert(e.code == FlightGrpc.Status.NotFound)
        val bad = c.call("DoGet", Seq("not a proto!!!!!".getBytes(UTF_8)))
        assert(bad.status != 0)
      }
    }
  }

  test("two client connections are served at once") {
    withServer { srv =>
      srv.register("people", sample)
      withClient(srv) { c1 =>
        withClient(srv) { c2 =>
          assert(c1.listFlights().map(_.descriptor.path) == Seq(Seq("people")))
          assert(c2.getFlightInfo("people").endpoints.nonEmpty)
          // both connections hold a DoGet open at the same time
          val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
          try {
            val fs = Seq(c1, c2).map(c => pool.submit(
              new java.util.concurrent.Callable[Long] {
                def call(): Long = c.doGet(spark, "people").count()
              }))
            fs.foreach(f =>
              assert(f.get(120, java.util.concurrent.TimeUnit.SECONDS) == 500L))
          } finally pool.shutdownNow()
        }
      }
    }
  }

  test("two gRPC endpoints can front ONE shared service: put via one, " +
      "read via the other") {
    val a = new FlightGrpc.Server(spark, "sekrit").start()
    val b = new FlightGrpc.Server(spark, "sekrit",
      sharedService = Some(a.service)).start()
    try {
      withClient(a) { ca =>
        assert(ca.doPut("shared_t", sample) == 500L)
        withClient(b) { cb =>
          assert(cb.listFlights().map(_.descriptor.path) ==
            Seq(Seq("shared_t")))
          assert(cb.doGet(spark, "shared_t").count() == 500L)
        }
      }
    } finally { b.close(); a.close() }
  }
}
