package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.TimeoutException

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.FlightGrpc

/** TLS + ALPN over the gRPC Flight transport — the final session-layer
  * piece of a stock `grpc+tls://` Flight endpoint (the reference deploys
  * arrow-flight over grpc-java, which requires ALPN-negotiated h2 when
  * TLS is on; gRPC PROTOCOL-HTTP2.md). Key material is generated here
  * with plain JDK `keytool` (PKCS12 keystore; cert exported into a
  * truststore the client pins), so no self-signed-cert codegen against
  * sun.security internals and no external CA.
  *
  * What this pins down beyond FlightGrpcSpec's cleartext h2c coverage:
  *  - the JDK SSLEngine really negotiates ALPN "h2" both ways,
  *  - every verb (here: handshake, put, info, get) runs unchanged over
  *    the encrypted session — the H2 layer doesn't notice TLS below it,
  *  - FlightInfo locations advertise the grpc+tls:// scheme,
  *  - a client that doesn't trust the server cert fails the handshake
  *    (pinned trust actually verifies; it's not a trust-all shim),
  *  - a cleartext client against a TLS port fails rather than hangs.
  */
class FlightTlsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val pass = "changeit"

  /** keytool -genkeypair into a PKCS12 keystore + exported-cert
    * truststore; returns (keystore, truststore). */
  private lazy val stores: (Path, Path) = {
    val dir = Files.createTempDirectory("flight-tls")
    val ks = dir.resolve("server.p12")
    val cert = dir.resolve("server.cer")
    val ts = dir.resolve("trust.p12")
    def run(args: String*): Unit = {
      val p = new ProcessBuilder((Seq("keytool") ++ args): _*)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes())
      assert(p.waitFor() == 0, s"keytool failed:\n$out")
    }
    run("-genkeypair", "-alias", "flight", "-keyalg", "RSA",
      "-keysize", "2048", "-validity", "1", "-storetype", "PKCS12",
      "-keystore", ks.toString, "-storepass", pass,
      "-dname", "CN=127.0.0.1", "-ext", "san=ip:127.0.0.1")
    run("-exportcert", "-alias", "flight", "-keystore", ks.toString,
      "-storepass", pass, "-file", cert.toString)
    run("-importcert", "-alias", "flight", "-noprompt", "-storetype",
      "PKCS12", "-keystore", ts.toString, "-storepass", pass,
      "-file", cert.toString)
    (ks, ts)
  }

  private def withTlsServer(f: FlightGrpc.Server => Unit): Unit = {
    val srv = new FlightGrpc.Server(spark, token = "sekrit",
      tls = Some(FlightGrpc.Tls.ServerTls(stores._1.toString, pass))).start()
    try f(srv) finally srv.close()
  }

  private def tlsClient(srv: FlightGrpc.Server): FlightGrpc.Client =
    new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit",
      tls = Some(FlightGrpc.Tls.ClientTls(stores._2.toString, pass)))

  test("full verb roundtrip over TLS: ALPN h2, put, info with grpc+tls " +
      "locations, parallel-endpoint read back") {
    withTlsServer { srv =>
      val df = (0L until 800L).map(i => (i, i * 3 + 1)).toDF("id", "v")
      val c = tlsClient(srv)
      try {
        assert(c.negotiatedProtocol.contains("h2"))
        assert(c.handshake("sekrit"))
        assert(c.doPut("tls_table", df) == 800L)
        val info = c.getFlightInfo("tls_table")
        assert(info.endpoints.nonEmpty)
        assert(info.endpoints.forall(_.locations.head.uri
          .startsWith("grpc+tls://127.0.0.1:")))
        val back = c.readFlight(spark, info)
        assert(back.count() == 800L)
        assert(back.agg(org.apache.spark.sql.functions.sum("v"))
          .head.getLong(0) == (0L until 800L).map(_ * 3 + 1).sum)
      } finally c.close()
    }
  }

  test("a client without the server cert in its truststore fails the " +
      "TLS handshake (pinned trust verifies)") {
    withTlsServer { srv =>
      // an empty truststore: valid PKCS12, trusts nothing
      val empty = Files.createTempFile("empty-trust", ".p12")
      val ks = java.security.KeyStore.getInstance("PKCS12")
      ks.load(null, pass.toCharArray)
      val out = Files.newOutputStream(empty)
      try ks.store(out, pass.toCharArray) finally out.close()
      val t0 = System.nanoTime()
      val err = intercept[Exception] {
        val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit",
          tls = Some(FlightGrpc.Tls.ClientTls(empty.toString, pass)))
        c.close()
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // the handshake error itself surfaces, not the ALPN barrier's timeout
      assert(secs < 5.0, s"handshake failure took $secs s")
      val chain = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).toList
      assert(!chain.exists(_.isInstanceOf[TimeoutException]),
        s"timed out instead of reporting the cause: $chain")
      ()
    }
  }

  test("a cleartext h2c client against a TLS port fails loudly") {
    withTlsServer { srv =>
      intercept[Exception] {
        val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
        try c.listFlights() finally c.close()
      }
      ()
    }
  }
}
