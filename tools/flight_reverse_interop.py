#!/usr/bin/env python3
"""Reverse interop: graft's gRPC Flight CLIENT + FlightSource DSv2 reader
against an UPSTREAM `pyarrow.flight` SERVER.

tools/flight_interop.py proves graft's server against the stock client;
this proves graft's client against the stock server. A served-but-
mirrored misreading of the gRPC convention cannot survive both
directions. The pyarrow server here stands in for any stock Flight
deployment (the reference's server is arrow-flight/grpc-java — the same
upstream wire).

Usage: python3 tools/flight_reverse_interop.py
Writes INTEROP_REVERSE.json; exits non-zero on failure.
"""
import json
import pathlib
import shutil
import subprocess
import sys
import threading

import pyarrow as pa
import pyarrow.flight as flight

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
from flight_interop import ADD_OPENS, REPO  # noqa: E402

ROWS = 100000
TABLE = pa.table({
    "id": pa.array(range(ROWS), pa.int64()),
    "name": pa.array([f"n{i}" for i in range(ROWS)], pa.string()),
    "score": pa.array([i / 7.0 for i in range(ROWS)], pa.float64()),
})
ID_SUM = ROWS * (ROWS - 1) // 2


class StockServer(flight.FlightServerBase):
    """A minimal upstream Flight server: one flight 't' split over two
    endpoints, plus do_put/do_action surfaces the graft client hits."""

    def __init__(self):
        super().__init__("grpc+tcp://127.0.0.1:0")
        self.received = {}

    def _info(self, descriptor):
        half = ROWS // 2
        eps = [
            flight.FlightEndpoint(b"part0", []),
            flight.FlightEndpoint(b"part1", []),
        ]
        return flight.FlightInfo(TABLE.schema, descriptor, eps,
                                 ROWS, TABLE.nbytes)

    def list_flights(self, context, criteria):
        yield self._info(flight.FlightDescriptor.for_path("t"))

    def get_flight_info(self, context, descriptor):
        return self._info(descriptor)

    def get_schema(self, context, descriptor):
        return flight.SchemaResult(TABLE.schema)

    def do_get(self, context, ticket):
        half = ROWS // 2
        part = TABLE.slice(0, half) if ticket.ticket == b"part0" \
            else TABLE.slice(half)
        return flight.RecordBatchStream(part)

    def do_put(self, context, descriptor, reader, writer):
        got = reader.read_all()
        self.received[tuple(descriptor.path)] = got
        writer.write(pa.py_buffer(str(got.num_rows).encode()))

    def do_action(self, context, action):
        if action.type == "job.status":
            return iter([flight.Result(b"COMPLETE")])
        raise NotImplementedError(action.type)

    def do_exchange(self, context, descriptor, reader, writer):
        # echo: read the client's whole upload, stream it straight back —
        # any framing misreading (descriptor-only first frame, schema
        # handling, body offsets) breaks the roundtrip checksum
        data = reader.read_all()
        writer.begin(data.schema)
        writer.write_table(data)


class StockTlsServer(StockServer):
    """The same surface behind TLS — proves the graft CLIENT's TLS+ALPN
    stack against an upstream TLS listener."""

    def __init__(self, cert_pem, key_pem):
        flight.FlightServerBase.__init__(
            self, "grpc+tls://127.0.0.1:0",
            tls_certificates=[(cert_pem, key_pem)])
        self.received = {}


def make_tls_material(tmpdir):
    """Self-signed PEM pair (openssl) for the pyarrow server + a PKCS12
    truststore (keytool) holding the cert for the graft client."""
    cert = f"{tmpdir}/stock.crt"
    key = f"{tmpdir}/stock.key"
    trust = f"{tmpdir}/stock_trust.p12"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", key, "-out", cert, "-days", "1",
         "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True)
    subprocess.run(
        ["keytool", "-importcert", "-alias", "stock", "-noprompt",
         "-storetype", "PKCS12", "-keystore", trust,
         "-storepass", "changeit", "-file", cert],
        check=True, capture_output=True)
    return (pathlib.Path(cert).read_bytes(), pathlib.Path(key).read_bytes(),
            trust)


def main():
    server = StockServer()
    port = server.port
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    import tempfile
    tmpdir = tempfile.mkdtemp(prefix="graft_reverse_tls_")
    try:
        run_client(server, port, tmpdir)
    finally:
        # the stock server's cert, key and truststore
        shutil.rmtree(tmpdir, ignore_errors=True)


def run_client(server, port, tmpdir):
    """Drive the graft client against both stock servers; exits 0 only
    when every step passed."""
    cert_pem, key_pem, truststore = make_tls_material(tmpdir)
    tls_server = StockTlsServer(cert_pem, key_pem)
    tls_port = tls_server.port
    threading.Thread(target=tls_server.serve, daemon=True).start()
    print(f"[reverse] pyarrow {pa.__version__} server on :{port}, "
          f"tls on :{tls_port}")

    cp = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
    cmd = ["java"] + [a for p in ADD_OPENS
                      for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx4g", "-Dspark.ui.enabled=false", "-cp", cp,
        "graft.tools.FlightReverseClient", "127.0.0.1", str(port),
        str(ROWS), str(ID_SUM), str(tls_port), truststore]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    steps = {}
    for line in proc.stdout.splitlines():
        line = line.strip()
        if line.startswith('{"step"'):
            o = json.loads(line)
            steps[o["step"]] = "pass" if o["ok"] else f"FAIL {o.get('err')}"
            print(f"  {'ok' if o['ok'] else 'FAIL'} {o['step']}")
    ok = proc.returncode == 0 and steps and \
        all(v == "pass" for v in steps.values())
    # server-side verification of the upload the graft client pushed
    upload = server.received.get((b"uploaded",)) or \
        server.received.get(("uploaded",))
    if ok:
        if upload is None or upload.num_rows != 1000:
            ok = False
            steps["server_saw_upload"] = "FAIL upload missing/short"
        else:
            ks = sorted(upload.column("k").to_pylist())
            steps["server_saw_upload"] = (
                "pass" if ks == list(range(1000)) else "FAIL content drift")
            ok = steps["server_saw_upload"] == "pass"
    if not steps:
        steps["client_run"] = f"FAIL rc={proc.returncode}: " + \
            (proc.stderr or "")[-400:]
    out = {"pyarrow": pa.__version__, "direction": "graft-client -> stock-server",
           "steps": steps, "ok": ok}
    pathlib.Path(REPO, "INTEROP_REVERSE.json").write_text(
        json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    server.shutdown()
    tls_server.shutdown()
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()


