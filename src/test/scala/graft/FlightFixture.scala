package graft

import graft.sources.FlightGrpc

/** A gRPC Flight server over the shared test session, and one client
  * connected to it; both are closed when `f` returns. */
object FlightFixture {
  def withFlight(f: (FlightGrpc.Server, FlightGrpc.Client) => Unit): Unit = {
    val srv = new FlightGrpc.Server(TestSpark.spark, token = "sekrit").start()
    try {
      val c = new FlightGrpc.Client("127.0.0.1", srv.port, "sekrit")
      try f(srv, c) finally c.close()
    } finally srv.close()
  }
}
