#!/usr/bin/env python3
"""Benchmark of the Flight data plane and the loop operators.

Usage:
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), starts one program
JVM (perfbench.BenchServer: graft.Bench's Spark session plus, for the
Flight workloads, a FlightGrpc.Server), drives it from this one process
for S seconds, checks every output, stops the JVM and prints the result
as the last line of stdout. Workloads, metrics and the layer map are in
perfbench/README.md.

With --trace 1 the run measures an untraced window and then a traced one
of the same length and prints the per-layer metrics, among them the
traced/untraced latency ratio as the tracing overhead.
"""
import argparse
import json
import os
import pathlib
import queue
import random
import shutil
import signal
import socket
import struct
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import layers  # noqa: E402
from layers import median, op_p50, tail  # noqa: E402

# the data location graft.Bench and the specs default to
DATA = pathlib.Path(os.environ.get("PERFBENCH_DATA", "/root/testdata"))
SF = DATA / "sf0.1"
SF_SMALL = DATA / "sf0.01"
NPROC = os.cpu_count() or 4
SETUP_PASSES = 3
VECTOR_ROWS = 65536         # 64 MiB of (int64, float[256]) rows
PARTS = 2 * NPROC           # endpoints per staged flight
HEAP = "3g"                 # -Xms = -Xmx: heap sizing moved RSS between runs
RUN_LIMIT_S = 150           # a run that takes longer stops and fails
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TPCH = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")

now = time.monotonic_ns  # CLOCK_MONOTONIC, as the JVM's System.nanoTime


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ the JVM
class Program:
    """The program JVM and its control socket."""

    def __init__(self, workload, work, classes, seed):
        self.work = work
        (work / "tmp").mkdir(parents=True)
        cmd = (["java"] +
               [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work / 'tmp'}",
                f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                "-cp", f"{classes}:{build.SPARK_JARS}/*", "perfbench.BenchServer",
                f"workload={workload}", f"work={work}", f"sf={SF}",
                f"sfSmall={SF_SMALL}", f"vectorRows={VECTOR_ROWS}",
                f"parts={PARTS}", f"seed={seed}"])
        self.log = open(work / "server.log", "w")
        self.launch_ns = now()
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=self.log,
                                     stderr=self.log, cwd=work)
        try:
            ready = work / "ready.json"
            while not ready.exists():
                if self.proc.poll() is not None:
                    raise RuntimeError(f"program JVM exited {self.proc.returncode}"
                                       f"\n{self.log_tail()}")
                time.sleep(0.005)
            self.ready_ns = now()
            self.ready = json.loads(ready.read_text())
            self.sock = socket.create_connection(("127.0.0.1", self.ready["ctl"]))
            self.rf = self.sock.makefile("r")
        except BaseException:
            self.proc.kill()
            self.proc.wait()
            self.log.close()
            raise

    def log_tail(self):
        try:
            return (self.work / "server.log").read_text()[-3000:]
        except OSError:
            return ""

    def __call__(self, *words):
        self.sock.sendall((" ".join(str(w) for w in words) + "\n").encode())
        r = json.loads(self.rf.readline())
        if "error" in r:
            raise RuntimeError(f"{words[0]}: {r['error']}")
        return r

    def stop(self):
        """Ask the JVM to stop; close its stdin (it halts on EOF); kill it
        if it has not ended in 15 s."""
        try:
            self.sock.settimeout(5)
            self.sock.sendall(b"stop\n")
            self.rf.readline()
        except OSError:
            pass
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=15)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.sock.close()
        self.log.close()


def flight_client(prog):
    import pyarrow.flight as flight
    c = flight.FlightClient(f"grpc+tcp://127.0.0.1:{prog.ready['port']}")
    pair = c.authenticate_basic_token("bench", prog.ready["token"])
    return c, flight.FlightCallOptions(headers=[pair])


def cypher_message(sql):
    """The reference's CypherMessage: u16-length-prefixed utf8 fields."""
    c, d, p = sql.encode(), b"graft", b"{}"
    return struct.pack(f"!H{len(c)}sH{len(d)}sH{len(p)}s",
                       len(c), c, len(d), d, len(p), p)


class Op:
    """One timed operation: its wall span, client spans by layer (lists
    of monotonic-ns intervals) and exact counts."""
    __slots__ = ("kind", "variant", "t0", "t1", "ok", "rows", "bytes", "messages",
                 "spans", "first_at", "polls", "ticket", "leaked_rdds")

    def __init__(self, kind, variant=""):
        self.kind, self.variant = kind, variant
        self.t0, self.t1, self.ok = now(), 0, False
        self.rows = self.bytes = self.messages = self.polls = self.leaked_rdds = 0
        self.spans, self.first_at, self.ticket = {}, 0, None

    @property
    def wall(self):
        return (self.t1 - self.t0) / 1e9

    def span(self, name, t0, t1):
        self.spans.setdefault(name, []).append((t0, t1))


def read_stream(c, opts, ticket, op, cols, keep_last=False):
    """DoGet a ticket and drain it into op's counts; returns the
    per-column sums and, when asked, the per-column mins and the last
    batch."""
    import pyarrow.compute as pc
    sums, mins, last = [0] * len(cols), [None] * len(cols), None
    t0 = now()
    for chunk in c.do_get(ticket, opts):
        b = chunk.data
        if not op.first_at:
            op.first_at = now()
        op.rows += b.num_rows
        op.messages += 1
        op.bytes += b.nbytes
        for i, name in enumerate(cols):
            s = pc.sum(b.column(name)).as_py()
            if s is not None:
                sums[i] += s
            if keep_last:
                lo = pc.min(b.column(name)).as_py()
                if lo is not None and (mins[i] is None or lo < mins[i]):
                    mins[i] = lo
        last = b
    op.span("doget", t0, now())
    op.first_at = op.first_at or now()
    return sums, mins, (last if keep_last else None)


def close_enough(got, want):
    if isinstance(want, int) and isinstance(got, int):
        return got == want
    return abs(got - want) <= 1e-9 * max(1.0, abs(want))


def duck():
    """DuckDB views over the same parquet the program reads."""
    import duckdb
    con = duckdb.connect()
    for sf, tag in ((SF, ""), (SF_SMALL, "_small")):
        for t in TPCH:
            con.execute(f"CREATE VIEW {t}{tag} AS SELECT * FROM "
                        f"read_parquet('{sf}/{t}.parquet')")
    return con


def rels_sql(tag=""):
    """TpchGraph.rels in DuckDB: the canonical relationship table."""
    return f"""(
      SELECT 1000000000 + o_custkey AS start_id, 4000000000 + o_orderkey AS end_id,
             'PLACED' AS type, NULL::DOUBLE AS quantity, NULL::DOUBLE AS extendedprice
      FROM orders{tag}
      UNION ALL SELECT 4000000000 + l_orderkey, 3000000000 + l_partkey, 'CONTAINS',
             l_quantity, l_extendedprice FROM lineitem{tag}
      UNION ALL SELECT 3000000000 + l_partkey, 2000000000 + l_suppkey, 'SUPPLIED_BY',
             NULL, l_extendedprice FROM lineitem{tag}
      UNION ALL SELECT 1000000000 + c_custkey, 5000000000 + c_nationkey, 'FROM_NATION',
             NULL, NULL FROM customer{tag}
      UNION ALL SELECT 2000000000 + s_suppkey, 5000000000 + s_nationkey, 'FROM_NATION',
             NULL, NULL FROM supplier{tag}
      UNION ALL SELECT 5000000000 + n_nationkey, 6000000000 + n_regionkey, 'IN_REGION',
             NULL, NULL FROM nation{tag})"""


# ------------------------------------------------------------ workloads
class Workload:
    """One JVM: set-up passes, a fixed warm-up, an untraced window and,
    when traced, a traced window of the same length."""
    name = ""

    def __init__(self, args, work, classes):
        self.args, self.work, self.classes = args, work, classes
        self.rng = random.Random(args.seed)
        self.errors = []
        self.late_failures = 0  # read-back and pin failures, outside the window
        self.tracing = False

    def fail(self, msg):
        if len(self.errors) < 50:
            self.errors.append(msg)

    def prepare(self):
        """Client-side inputs and oracles that need no JVM."""

    def client_setup(self, prog):
        """After the set-up passes: what the clients need from the server."""

    def pin(self, prog):
        """Oracles that need the program (untimed)."""

    def warmup(self, prog):
        raise NotImplementedError

    def window(self, prog, seconds):
        raise NotImplementedError

    def readback(self, prog):
        pass

    def replays(self, prog, ops):
        return {}

    def run(self):
        self.prepare()
        prog = Program(self.name, self.work, self.classes, self.args.seed)
        res = {}
        try:
            res["stage"], passes = [], []
            for _ in range(SETUP_PASSES):
                r = prog("setup")
                passes.append(r["s"])
                res["stage"].append(r["stage"])
            self.client_setup(prog)
            ready_s = (prog.ready_ns - prog.launch_ns) / 1e9
            res["setup_s"] = ready_s + median(passes)
            self.pin(prog)
            t0 = now()
            self.warmup(prog)
            res["warmup_s"] = (now() - t0) / 1e9
            log(f"ready {ready_s:.2f}s set-up passes {[round(x, 2) for x in passes]} "
                f"stage {res['stage'][-1]} warm-up {res['warmup_s']:.2f}s")
            trace = self.args.trace == 1
            if trace:
                res["calib"] = prog("calib")["calib_s"]
            cpu0, t0 = time.process_time(), now()
            res["ops"] = self.window(prog, self.args.seconds)
            res["window_s"] = (now() - t0) / 1e9
            res["client_cpu_s"] = time.process_time() - cpu0
            if trace:
                prog("trace", 1)
                self.tracing = True
                res["traced_ops"] = self.window(prog, self.args.seconds)
                self.tracing = False
                prog("trace", 0)
                spans = self.work / "spans.json"
                prog("spans", spans)
                res["spans"] = json.loads(spans.read_text())
                res["stats_traced"] = prog("stats")
                res["replays"] = self.replays(prog, res["traced_ops"])
                res["calib"] += prog("calib")["calib_s"]
            self.readback(prog)
        finally:
            prog.stop()
        return res

    def e2e(self, res):
        ops = res["ops"]
        good = [o for o in ops if o.ok]
        return {
            "setup_s": (res["setup_s"], "s"),
            "ok_ratio": (len(good) / max(1, len(ops)), "fraction"),
            "op_p50_s": (op_p50(ops), "s"),
            "rows_s": (sum(o.rows for o in good) / res["window_s"], "rows/s"),
        }

    def details(self, res):
        """Ungated figures for reading: each kind's median, count and tail."""
        out = {}
        for k, walls in layers.by_kind(res["ops"]).items():
            tv, rank = tail(walls)
            out[f"{k}.p50_s"] = (median(walls), "s")
            out[f"{k}.n"] = (len(walls), "count")
            out[f"{k}.tail_s"] = (tv, f"s@p{rank:.1f}/n={len(walls)}")
        return out


class Rounds(Workload):
    """Flight clients in phases of one request kind. A round is one phase
    of each kind in a seeded order; the warm-up is a fixed number of
    rounds and the window runs whole rounds."""
    kinds = ()
    clients = 2

    def phase(self, clients, kind):
        raise NotImplementedError

    def rounds(self, prog, n=None, deadline=None):
        clients = [flight_client(prog) for _ in range(self.clients)]
        ops, r, curve = [], 0, []
        while (r < n) if n is not None else (r == 0 or now() < deadline):
            order = list(self.kinds)
            self.rng.shuffle(order)
            got = []
            for k in order:
                got += self.phase(clients, k)
            curve.append(op_p50(got))
            ops += got
            r += 1
        for c, _ in clients:
            c.close()
        log("round op_p50_s " + " ".join(f"{x:.4f}" for x in curve))
        return ops

    def window(self, prog, seconds):
        return self.rounds(prog, deadline=now() + int(seconds * 1e9))


class Egress(Rounds):
    """DoGet of two staged flights by NPROC/2 clients, one connection
    each, in phases of one flight."""
    name = "egress"
    kinds = ("vectors", "rels")
    clients = max(1, NPROC // 2)
    warm_rounds = 12  # with 8, the window's first round was still ~15% slow

    def prepare(self):
        con = duck()
        n, s = con.execute(f"SELECT count(*), sum(start_id) + sum(end_id) "
                           f"FROM {rels_sql()}").fetchone()
        self.rels_total = (int(n), int(s))
        self.rels_pinned = None
        self.base = self.args.seed * 1000003 % (1 << 40)  # as BenchServer's setup

    def client_setup(self, prog):
        import pyarrow.flight as flight
        c, opts = flight_client(prog)
        self.endpoints = {f: [ep.ticket for ep in c.get_flight_info(
            flight.FlightDescriptor.for_path(f), opts).endpoints] for f in self.kinds}
        c.close()

    def check_vectors(self, op, sums, mins, last):
        """Closed form: an endpoint is one contiguous id range of
        VECTOR_ROWS/PARTS ids, embedding[i] = ((id + i) % 997) / 997."""
        import numpy as np
        n = VECTOR_ROWS // PARTS
        lo = mins[0]
        if op.rows != n or lo is None or (lo - self.base) % n or \
                not self.base <= lo < self.base + VECTOR_ROWS or \
                sums[0] != n * lo + n * (n - 1) // 2:
            return False
        i = last.num_rows - 1
        vid = last.column("id")[i].as_py()
        got = np.asarray(last.column("embedding")[i].as_py(), dtype=np.float32)
        want = ((vid + np.arange(256)) % 997).astype(np.float32) / np.float32(997)
        return bool(np.array_equal(got, want))

    def phase(self, clients, flight):
        q = queue.Queue()
        tickets = list(self.endpoints[flight])
        self.rng.shuffle(tickets)
        for t in tickets:
            q.put(t)
        ops, lock = [], threading.Lock()
        cols = ["id"] if flight == "vectors" else ["START_ID", "END_ID"]

        def worker(c, opts):
            while True:
                try:
                    t = q.get_nowait()
                except queue.Empty:
                    return
                op = Op(flight)
                op.ticket = t.ticket.decode()
                try:
                    sums, mins, last = read_stream(c, opts, t, op, cols,
                                                   keep_last=flight == "vectors")
                    op.t1 = now()
                    if flight == "vectors":
                        op.ok = self.check_vectors(op, sums, mins, last)
                    else:
                        got = (op.rows, sum(sums))
                        op.ok = self.rels_pinned is None or \
                            self.rels_pinned.get(op.ticket) == got
                        op.variant = got
                    if not op.ok:
                        self.fail(f"{flight} {op.ticket}: wrong rows or checksum")
                except Exception as e:  # noqa: BLE001 — counted, reported
                    op.t1 = now()
                    self.fail(f"{flight} DoGet: {e}")
                with lock:
                    ops.append(op)

        ths = [threading.Thread(target=worker, args=co, daemon=True) for co in clients]
        for t in ths:
            t.start()
        for t in ths:
            t.join()
        return ops

    def warmup(self, prog):
        ops = self.rounds(prog, n=self.warm_rounds)
        # the first full read of rels pins each endpoint's checksum, once
        # the whole flight agrees with DuckDB
        first = {}
        for o in ops:
            if o.kind == "rels" and o.ok:
                first.setdefault(o.ticket, o.variant)
        total = (sum(v[0] for v in first.values()), sum(v[1] for v in first.values()))
        if len(first) != len(self.endpoints["rels"]) or total != self.rels_total:
            self.fail(f"rels: {total} != DuckDB {self.rels_total}")
            self.late_failures += 1
            self.rels_pinned = {}
        else:
            self.rels_pinned = first
        self.late_failures += sum(1 for o in ops if not o.ok)

    def replays(self, prog, ops):
        return {"read": {f: prog("replay_read", f, 3)["replays"] for f in self.kinds}}

    def details(self, res):
        good = [o for o in res["ops"] if o.ok]
        return {**super().details(res),
                "egress_mb_s": (sum(o.bytes for o in good) / 1e6 / res["window_s"], "MB/s")}


class Roundtrip(Rounds):
    """Small and medium requests both ways by 2 clients, in phases of one
    request kind. Within a phase the clients take the kind's two variants
    in a seeded assignment, so each phase carries the same work whatever
    the seed."""
    name = "roundtrip"
    kinds = layers.PUT_KINDS + layers.JOB_KINDS
    warm_rounds = 5  # the round median still falls through the first four
    NODE = {"Customer": ("acctbal", "customer", "c_custkey", "c_acctbal", 1000000000),
            "Part": ("retailprice", "part", "p_partkey", "p_retailprice", 3000000000)}
    REL = {"CONTAINS": "quantity", "SUPPLIED_BY": "extendedprice"}
    SQL = {
        "segment": ("SELECT c_mktsegment AS seg, count(*) AS n, "
                    "sum(c_acctbal) AS bal FROM customer GROUP BY c_mktsegment",
                    ["n", "bal"]),
        "status": ("SELECT o_orderstatus AS st, count(*) AS n, "
                   "sum(o_totalprice) AS total FROM orders GROUP BY o_orderstatus",
                   ["n", "total"]),
    }
    VARIANTS = {"node_scan": sorted(NODE), "rel_scan": sorted(REL), "cypher": sorted(SQL),
                "put_heap": [0, 1], "put_spill": [0, 1], "gds_write": [0, 1]}

    def prepare(self):
        self.poll_s = dict.fromkeys(self.kinds, 0.001)
        self.last = {}
        con = duck()
        self.expect = {}
        for label, (prop, t, key, col, base) in self.NODE.items():
            n, s, p = con.execute(f"SELECT count(*), sum({base} + {key}), "
                                  f"sum({col}) FROM {t}").fetchone()
            self.expect[("node_scan", label)] = (int(n), int(s), float(p))
        for typ, prop in self.REL.items():
            n, s, e, v = con.execute(
                f"SELECT count(*), sum(start_id), sum(end_id), sum({prop}) "
                f"FROM {rels_sql('_small')} WHERE type = '{typ}'").fetchone()
            self.expect[("rel_scan", typ)] = (int(n), int(s) + int(e), float(v))
        for name, (sql, cols) in self.SQL.items():
            r = con.execute(f"SELECT count(*), {', '.join(f'sum({c})' for c in cols)} "
                            f"FROM ({sql})").fetchone()
            self.expect[("cypher", name)] = (int(r[0]), int(r[1]), float(sum(r[2:])))
        self.payloads = self.make_payloads()

    def make_payloads(self):
        """Two seeded variants per put kind."""
        import numpy as np
        import pyarrow as pa
        rng = np.random.default_rng(self.args.seed)

        def table(n):
            k = rng.permutation(n).astype("int64") + int(rng.integers(0, 1 << 20))
            return pa.table({"k": pa.array(k), "v": pa.array(rng.random(n)),
                             "s": pa.array([f"{x:024d}" for x in k])})

        def graph(n_nodes, n_rels):
            ids = rng.permutation(n_nodes).astype("int64") + 10_000
            labels = [["A"] if i % 3 else ["A", "B"] for i in range(n_nodes)]
            nodes = pa.table({"ID": pa.array(ids),
                              "LABELS": pa.array(labels, pa.list_(pa.string())),
                              "age": pa.array(rng.integers(0, 100, n_nodes))})
            rels = pa.table({"START_ID": pa.array(rng.choice(ids, n_rels)),
                             "END_ID": pa.array(rng.choice(ids, n_rels)),
                             "TYPE": pa.array(rng.choice(["KNOWS", "LIKES"], n_rels)),
                             "weight": pa.array(rng.random(n_rels))})
            return nodes, rels

        # 44 B a row: heap ~1.5 MiB, below the 4 MiB spill threshold;
        # spill ~6 MiB, above it
        return {"put_heap": [table(36_000) for _ in range(2)],
                "put_spill": [table(144_000) for _ in range(2)],
                "gds_write": [graph(20_000, 60_000) for _ in range(2)]}

    def put(self, c, opts, desc, t, op):
        t0 = now()
        w, r = c.do_put(desc, t.schema, opts)
        w.write_table(t, max_chunksize=4096)
        w.done_writing()
        ack = int(r.read().to_pybytes())
        w.close()
        op.span("doput", t0, now())
        return ack

    def action(self, c, opts, atype, body, op):
        import pyarrow.flight as flight
        t0 = now()
        res = list(c.do_action(flight.Action(atype, body), opts))
        op.span("doaction", t0, now())
        return flight.Ticket.deserialize(res[0].body.to_pybytes())

    def wait(self, c, opts, ticket, op, poll_s):
        """job.status until PRODUCING or COMPLETE."""
        import pyarrow.flight as flight
        t0 = now()
        while True:
            st = list(c.do_action(flight.Action("job.status", ticket.serialize()),
                                  opts))[0].body.to_pybytes().decode()
            op.polls += 1
            if st in ("PRODUCING", "COMPLETE"):
                break
            if st != "PENDING":
                raise RuntimeError(f"job status {st}")
            time.sleep(poll_s)
        op.span("wait", t0, now())

    def job(self, c, opts, kind, param):
        """The reference client's job flow: submit, poll, DoGet; checked
        against DuckDB on the same parquet."""
        op = Op(kind, param)
        if kind == "cypher":
            atype, body = "cypher.read", cypher_message(self.SQL[param][0])
            cols = list(self.SQL[param][1])
        else:
            msg = {"db": "graft", "graph": "tpch", "filters": [param], "node_id": "",
                   "properties": []}
            if kind == "node_scan":
                msg.update(type="node", properties=["name", self.NODE[param][0]])
                cols = ["ID", self.NODE[param][0]]
            else:
                msg.update(type="relationship", graph="tpch_small",
                           properties=[self.REL[param]])
                cols = ["START_ID", "END_ID", "value"]
            atype, body = "gds.read", json.dumps(msg).encode()
        try:
            ticket = self.action(c, opts, atype, body, op)
            op.ticket = ticket.ticket.decode()
            self.wait(c, opts, ticket, op, self.poll_s[kind])
            sums, _, _ = read_stream(c, opts, ticket, op, cols)
            op.t1 = now()
            if kind == "cypher":
                got = (op.rows, int(sums[0]), float(sums[1]))
            else:
                got = (op.rows, int(sum(sums[:-1])), float(sums[-1]))
            want = self.expect[(kind, param)]
            op.ok = got[:2] == want[:2] and close_enough(got[2], want[2])
            if not op.ok:
                self.fail(f"{kind}/{param}: {got} != {want}")
        except Exception as e:  # noqa: BLE001 — counted, reported
            op.t1 = now()
            self.fail(f"{kind}/{param}: {e}")
        return op

    def write(self, c, opts, kind, variant, slot, i):
        """Heap and spill puts go to one of two names per client, so
        replacement and retirement run; gds writes to one graph per client."""
        import pyarrow.flight as flight
        op = Op(kind, variant)
        try:
            if kind == "gds_write":
                nodes, rels = self.payloads[kind][variant]
                name = f"g_{i}"
                acks = []
                for atype, msg, t in (
                        ("gds.write.nodes", {"db": "graft", "graph": name, "id_field": "ID",
                                             "labels_field": "LABELS"}, nodes),
                        ("gds.write.relationships",
                         {"db": "graft", "graph": name, "source_field": "START_ID",
                          "target_field": "END_ID", "type_field": "TYPE"}, rels)):
                    ticket = self.action(c, opts, atype, json.dumps(msg).encode(), op)
                    acks.append(self.put(c, opts, flight.FlightDescriptor.for_command(
                        ticket.serialize()), t, op))
                op.rows = nodes.num_rows + rels.num_rows
                op.ok = acks == [nodes.num_rows, rels.num_rows]
            else:
                t = self.payloads[kind][variant]
                name = f"{kind}_{i}_{slot}"
                ack = self.put(c, opts, flight.FlightDescriptor.for_path(name), t, op)
                op.rows = t.num_rows
                op.ok = ack == t.num_rows
            if op.ok:
                self.last[name] = (kind, variant)
            else:
                self.fail(f"{kind}: PutResult rows differ from rows sent")
        except Exception as e:  # noqa: BLE001 — counted, reported
            self.fail(f"{kind}: {e}")
        op.t1 = now()
        return op

    def phase(self, clients, kind):
        params = list(self.VARIANTS[kind])
        self.rng.shuffle(params)
        slots = [self.rng.randrange(2) for _ in clients]
        out = [None] * len(clients)

        def one(i):
            c, opts = clients[i]
            if kind in layers.PUT_KINDS:
                out[i] = self.write(c, opts, kind, params[i], slots[i], i)
            else:
                out[i] = self.job(c, opts, kind, params[i])

        ths = [threading.Thread(target=one, args=(i,), daemon=True)
               for i in range(len(clients))]
        for t in ths:
            t.start()
        for t in ths:
            t.join()
        return out

    def warmup(self, prog):
        ops = self.rounds(prog, n=self.warm_rounds)
        self.late_failures += sum(1 for o in ops if not o.ok)
        # job.status polling sleeps at most 1/50 of the kind's median
        for k, walls in layers.by_kind(ops).items():
            self.poll_s[k] = median(walls) / 50

    def readback(self, prog):
        """Untimed: every name's content equals its last acknowledged put."""
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.flight as flight
        c, opts = flight_client(prog)
        for name, (kind, variant) in sorted(self.last.items()):
            try:
                if kind == "gds_write":
                    want, key = self.payloads[kind][variant][0], "ID"
                    op = Op(kind)
                    ticket = self.action(c, opts, "gds.read", json.dumps(
                        {"db": "graft", "graph": name, "type": "node", "node_id": "",
                         "properties": ["age"], "filters": []}).encode(), op)
                    self.wait(c, opts, ticket, op, 0.001)
                    got = c.do_get(ticket, opts).read_all()
                else:
                    want, key = self.payloads[kind][variant], "k"
                    info = c.get_flight_info(flight.FlightDescriptor.for_path(name), opts)
                    got = pa.concat_tables([c.do_get(ep.ticket, opts).read_all()
                                            for ep in info.endpoints])
                if (got.num_rows, pc.sum(got.column(key)).as_py()) != \
                        (want.num_rows, pc.sum(want.column(key)).as_py()):
                    raise RuntimeError("content differs from the last put")
            except Exception as e:  # noqa: BLE001 — counted, reported
                self.fail(f"read-back {name}: {e}")
                self.late_failures += 1
        c.close()

    def replays(self, prog, ops):
        """ArrowIpc.encode_s on one result of each job kind; FlightData
        decode, ingest and ArrowIpc decode on one put of each kind."""
        import pyarrow as pa
        out = {"job": {}, "put": {}}
        for k in layers.JOB_KINDS:
            op = next((o for o in ops if o.kind == k and o.ok), None)
            if op:
                out["job"][k] = prog("replay_job", op.ticket)
        cmd = self.work / "put_cmd.json"
        cmd.write_text(json.dumps({"db": "graft", "graph": "replay", "id_field": "ID",
                                   "labels_field": "LABELS"}))
        for k in layers.PUT_KINDS:
            t = self.payloads[k][0]
            t = t[0] if k == "gds_write" else t
            f = self.work / f"{k}.arrows"
            with pa.OSFile(str(f), "wb") as sink:
                with pa.ipc.new_stream(sink, t.schema) as w:
                    w.write_table(t, max_chunksize=4096)
            out["put"][k] = prog("replay_put", k, f, cmd)
        return out


class Loops(Workload):
    """The loop and streaming operators, in-JVM on one thread, no wire:
    two untimed warm passes, then whole passes until the window ends."""
    name = "loops"
    kinds = tuple(layers.LOOP_QUERIES)

    def pin(self, prog):
        """Each query's rows and canonical hash from SparkEntry's oracle
        SQL, run by DuckDB over the same parquet and hashed as
        tools/check.py hashes."""
        import hashlib
        sql = prog("oracle_sql", ",".join(self.kinds))
        con = duck()
        for t in TPCH:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM {t}_small")
        self.expect = {}
        for q in self.kinds:
            rel = con.sql(sql[q])
            cols = sorted(rel.columns)
            rows = rel.project(", ".join(f'"{c}"' for c in cols)).fetchall()
            md = hashlib.sha256()
            for line in sorted("\x01".join(canon_cell(v) for v in r) for r in rows):
                md.update(line.encode("utf-8"))
                md.update(b"\n")
            self.expect[q] = {"rows": len(rows), "hash": md.hexdigest()}

    def passes(self, prog, passes=0, seconds=0.0, hashed=False, settle=False):
        f = self.work / f"loops_{now()}.json"
        prog("loops", ",".join(self.kinds), self.args.seed, passes, seconds,
             int(hashed), int(settle), f)
        ops = []
        for r in json.loads(f.read_text())["ops"]:
            op = Op(r["query"], r["pass"])
            op.t0, op.t1, op.rows = r["start"], r["end"], max(0, r["rows"])
            op.span("construct", r["start"], r["constructed"])
            op.span("action", r["constructed"], r["end"])
            op.leaked_rdds = r["leaked_rdds"]
            want = self.expect[op.kind]
            op.ok = not r["error"] and r["rows"] == want["rows"] and \
                (not hashed or r["hash"] == want["hash"])
            if not op.ok:
                self.fail(f"{op.kind}: rows {r['rows']} hash {r['hash'][:12]} "
                          f"error {r['error']!r} != {want}")
            ops.append(op)
        return ops

    def warmup(self, prog):
        """Two whole passes. The first collects every result and checks
        its canonical hash; the second runs exactly as the window does."""
        walls = []
        for hashed in (True, False):
            ops = self.passes(prog, passes=1, hashed=hashed)
            self.late_failures += sum(1 for o in ops if not o.ok)
            walls.append(sum(o.wall for o in ops))
        log("warm passes " + " ".join(f"{w:.2f}s" for w in walls))

    def window(self, prog, seconds):
        """The traced window also settles the heap after each op, so that
        `leaked_rdds` counts only reachable RDDs."""
        return self.passes(prog, seconds=seconds, settle=self.tracing)

    def details(self, res):
        out = super().details(res)
        for k in self.kinds:
            leaks = [o.leaked_rdds for o in res.get("traced_ops", []) if o.kind == k]
            if leaks:
                out[f"{k}.leaked_rdds"] = (max(leaks), "count(repeats)" if len(set(leaks)) == 1
                                           else f"count(varies {min(leaks)}..{max(leaks)})")
        return out


def canon_cell(v):
    """One cell as graft.Verify and tools/check.py render it."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return "%.17e" % v
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


WORKLOADS = {w.name: w for w in (Egress, Roundtrip, Loops)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    for d in (SF, SF_SMALL):
        if not (d / "lineitem.parquet").exists():
            raise SystemExit(f"perfbench: no input data at {d}")
    classes = build.build()

    def overrun(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")
    signal.signal(signal.SIGALRM, overrun)
    signal.alarm(RUN_LIMIT_S)
    root = build.build_dir() / "work"
    # a run killed before its clean-up leaves its work dir; clear them
    shutil.rmtree(root, ignore_errors=True)
    work = root / f"run-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        w = WORKLOADS[args.workload](args, work, classes)
        res = w.run()
        e2e = w.e2e(res)
        shown = {**e2e, **w.details(res)}
        if args.trace:
            per = layers.layer_metrics(w, res)
            units = dict(layers.PER_LAYER)
            metrics = {k: (v, units[k]) for k, v in per.items()}
            shown.update(metrics)
        else:
            metrics = e2e
        for name, (v, unit) in shown.items():
            print(f"{args.workload:10s} {name:44s} {v:14.6g} {unit}")
        for e in w.errors[:20]:
            print(f"{args.workload:10s} ERROR {e}")
        ops = res["ops"] + res.get("traced_ops", [])
        failed = sum(1 for o in ops if not o.ok)
        correct = failed == 0 and w.late_failures == 0
        out = {"correct": correct, "attempted": len(ops), "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
        print(json.dumps(out))
        return 0 if correct else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
