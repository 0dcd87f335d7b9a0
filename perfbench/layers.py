"""Per-layer metrics of a traced run (perfbench/run.py --trace 1).

Every figure is measured from outside the program: client spans around
the benchmark's own calls, spans from the Spark, Catalyst and streaming
listeners the benchmark registers on the program's session
(perfbench.Tracer), counters read through public fields, and replays of
a layer's public function on the run's own inputs. README.md maps each
metric to the end-to-end metric it should move.

Server spans join the client's ops by request id where Spark carries one
(a ticketed job's Spark job group is its ticket) and otherwise by time:
a Spark job belongs to the ops whose span contains its start, shared
equally when concurrent ops all contain it.
"""
import math
import statistics

LOOP_QUERIES = {"khop_3": "KHop", "pagerank": "GraphAlgos",
                "sssp_bf": "GraphAlgos", "stream_khop_2": "GraphStreams"}
JOB_KINDS = ("cypher", "node_scan", "rel_scan")
PUT_KINDS = ("put_heap", "put_spill", "gds_write")

# every per-layer metric, in BENCHMARK.json's order, with its unit
PER_LAYER = [
    ("FlightGrpc.doget_s", "s"), ("FlightGrpc.first_batch_s", "s"),
    ("FlightGrpc.messages", "count"), ("FlightGrpc.body_bytes", "bytes"),
    ("FlightGrpc.doput_s", "s"), ("FlightGrpc.doaction_s", "s"),
    ("FlightGrpc.status_polls", "count"), ("FlightGrpc.aborted_responses", "count"),
    ("FlightProto.encode_s", "s"), ("FlightProto.decode_s", "s"),
    ("FlightService.stage_s", "s"), ("FlightService.read_s", "s"),
    ("FlightService.ingest_s", "s"), ("FlightService.spilled_puts", "count"),
    ("FlightService.catalog_size", "count"), ("FlightService.tmp_dirs", "count"),
    ("FlightService.tmp_bytes", "bytes"),
    ("ArrowIpc.encode_s", "s"), ("ArrowIpc.decode_s", "s"),
    ("Jobs.wait_s", "s"), ("Jobs.registered", "count"),
    ("Jobs.spark_jobs", "count"), ("Jobs.useful_jobs_ratio", "ratio"),
    ("Catalyst.analysis_s", "s"), ("Catalyst.optimization_s", "s"),
    ("Catalyst.planning_s", "s"),
    ("Spark.jobs", "count"), ("Spark.stages", "count"), ("Spark.tasks", "count"),
    ("Spark.executor_run_s", "s"), ("Spark.executor_cpu_s", "s"),
    ("Spark.gc_s", "s"), ("Spark.shuffle_bytes", "bytes"),
    ("Spark.driver_gap_s", "s"),
] + [(f"{mod}.{q}.{k}", u) for q, mod in LOOP_QUERIES.items()
     for k, u in (("construct_s", "s"), ("action_s", "s"), ("jobs", "count"),
                  ("driver_gap_s", "s"), ("leaked_rdds", "count"))] + [
    ("GraphStreams.stream_khop_2.micro_batches", "count"),
    ("jvm.warmup_s", "s"), ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MiB"),
    ("client.cpu_s", "s"), ("host.calib_s", "s"), ("drift.p50_ratio", "ratio"),
    ("trace.overhead_ratio", "ratio"),
]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least 10 samples beyond it, with its
    rank; the maximum, at rank 100, when there are 10 samples or fewer."""
    s = sorted(xs)
    if len(s) <= 10:
        return (s[-1] if s else 0.0), 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def by_kind(ops):
    out = {}
    for o in ops:
        if o.ok:
            out.setdefault(o.kind, []).append(o.wall)
    return out


def op_p50(ops):
    """Geometric mean over the op kinds of each kind's median latency:
    every kind weighs the same, whatever the mix."""
    return geomean([median(v) for v in by_kind(ops).values()])


def drift(ops):
    """Growth over the window: for each kind, the median of its ops in the
    window's last third over that in its first third; the geometric mean
    over the kinds that have ops in both. 1.0 when none has (a `loops`
    window of one pass)."""
    ops = [o for o in ops if o.ok]
    if not ops:
        return 1.0
    lo, hi = min(o.t0 for o in ops), max(o.t1 for o in ops)
    cut1, cut2 = lo + (hi - lo) / 3, hi - (hi - lo) / 3
    first = by_kind([o for o in ops if o.t0 < cut1])
    last = by_kind([o for o in ops if o.t0 >= cut2])
    ratios = [median(last[k]) / median(first[k]) for k in first if k in last]
    return geomean(ratios) if ratios else 1.0


def union_len(intervals, lo, hi):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_s(op, name):
    return sum(b - a for a, b in op.spans.get(name, ())) / 1e9


class Attribution:
    """Spark jobs, stages, query executions and micro-batches joined to
    the traced ops."""

    def __init__(self, ops, spans):
        self.ops = ops
        self.stages = {s["id"]: s for s in spans["stages"]}
        self.per_op = [{"jobs": 0.0, "doget_jobs": 0.0, "stages": {}, "execs": set(),
                        "batches": 0} for _ in ops]
        by_ticket = {o.ticket: i for i, o in enumerate(ops) if o.ticket}
        for j in spans["jobs"]:
            if j["group"] in by_ticket:
                owners = [by_ticket[j["group"]]]
            else:
                owners = [i for i, o in enumerate(ops) if o.t0 <= j["start"] <= o.t1]
            for i in owners:
                p, w = self.per_op[i], 1.0 / len(owners)
                p["jobs"] += w
                if any(a <= j["start"] <= b for a, b in ops[i].spans.get("doget", ())):
                    p["doget_jobs"] += w
                for sid in j["stages"]:
                    p["stages"][sid] = w
                if j["exec"]:
                    p["execs"].add(j["exec"])
        owner = {e: i for i, p in enumerate(self.per_op) for e in p["execs"]}
        self.catalyst = [dict.fromkeys(("analysis_s", "optimization_s", "planning_s"), 0.0)
                         for _ in ops]
        for e in spans["execs"]:
            i = owner.get(e["exec"])
            if i is None:
                hits = [k for k, o in enumerate(ops) if o.t0 <= e["end"] <= o.t1]
                i = hits[0] if len(hits) == 1 else None
            if i is not None:
                for k in self.catalyst[i]:
                    self.catalyst[i][k] += e[k]
        for b in spans["batches"]:
            for i, o in enumerate(ops):
                if o.t0 <= b["end"] <= o.t1:
                    self.per_op[i]["batches"] += 1

    def stage_sum(self, i, key):
        return sum(self.stages[s][key] * w for s, w in self.per_op[i]["stages"].items()
                   if s in self.stages)

    def driver_gap_s(self, i):
        """Op wall time minus the union of its Spark stages' intervals."""
        o = self.ops[i]
        iv = [(self.stages[s]["start"], self.stages[s]["end"])
              for s in self.per_op[i]["stages"] if s in self.stages]
        return (o.t1 - o.t0 - union_len(iv, o.t0, o.t1)) / 1e9


def layer_metrics(w, res):
    """Every PER_LAYER metric of one traced run; a layer the workload does
    not reach reads 0."""
    ops = res["traced_ops"]
    a = Attribution(ops, res["spans"])
    n = len(ops) or 1
    rep = res.get("replays", {})
    st = res["stats_traced"]
    m = {}

    def put(name, value):
        m[name] = float(value)

    gets = [o for o in ops if o.ok and "doget" in o.spans]
    put("FlightGrpc.doget_s", median([span_s(o, "doget") for o in gets]))
    put("FlightGrpc.first_batch_s",
        median([(o.first_at - o.spans["doget"][0][0]) / 1e9 for o in gets]))
    put("FlightGrpc.messages", mean([o.messages for o in gets]))
    put("FlightGrpc.body_bytes", mean([o.bytes for o in gets]))
    puts = [o for o in ops if o.ok and "doput" in o.spans]
    put("FlightGrpc.doput_s", median([span_s(o, "doput") for o in puts]))
    acts = [o for o in ops if o.ok and "doaction" in o.spans]
    put("FlightGrpc.doaction_s", median([span_s(o, "doaction") for o in acts]))
    jobs = [o for o in ops if o.ok and "wait" in o.spans]
    put("FlightGrpc.status_polls", mean([o.polls for o in jobs]))
    put("FlightGrpc.aborted_responses", st["aborted"])

    reads = rep.get("read", {})
    put("FlightProto.encode_s", sum(median([r["encode_s"] for r in v]) for v in reads.values()))
    put_rep = rep.get("put", {})
    put("FlightProto.decode_s", sum(r["decode_s"] for r in put_rep.values()))

    put("FlightService.stage_s", median([sum(p.values()) for p in res["stage"]]))
    put("FlightService.read_s", sum(median([r["read_s"] for r in v]) for v in reads.values()))
    put("FlightService.ingest_s", sum(r["ingest_s"] for r in put_rep.values()))
    for k in ("spilled_puts", "catalog_size", "tmp_dirs", "tmp_bytes"):
        put(f"FlightService.{k}", st[k])

    put("ArrowIpc.encode_s", sum(r["encode_s"] for r in rep.get("job", {}).values()))
    put("ArrowIpc.decode_s", sum(r["ipc_decode_s"] for r in put_rep.values()))

    jidx = [i for i, o in enumerate(ops) if o.ok and "wait" in o.spans]
    put("Jobs.wait_s", median([span_s(ops[i], "wait") for i in jidx]))
    put("Jobs.registered", st["jobs_registered"])
    spark_jobs = sum(a.per_op[i]["jobs"] for i in jidx)
    put("Jobs.spark_jobs", spark_jobs / len(jidx) if jidx else 0.0)
    put("Jobs.useful_jobs_ratio",
        sum(a.per_op[i]["doget_jobs"] for i in jidx) / spark_jobs if spark_jobs else 0.0)

    for k in ("analysis_s", "optimization_s", "planning_s"):
        put(f"Catalyst.{k}", sum(c[k] for c in a.catalyst) / n)

    idx = range(len(ops))
    put("Spark.jobs", sum(p["jobs"] for p in a.per_op) / n)
    put("Spark.stages", sum(len(p["stages"]) for p in a.per_op) / n)
    for k, key in (("tasks", "tasks"), ("executor_run_s", "run_s"),
                   ("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                   ("shuffle_bytes", "shuffle_bytes")):
        put(f"Spark.{k}", sum(a.stage_sum(i, key) for i in idx) / n)
    put("Spark.driver_gap_s", mean([a.driver_gap_s(i) for i in idx if a.per_op[i]["jobs"]]))

    for q, mod in LOOP_QUERIES.items():
        qi = [i for i, o in enumerate(ops) if o.kind == q and o.ok]
        pre = f"{mod}.{q}"
        put(f"{pre}.construct_s", median([span_s(ops[i], "construct") for i in qi]))
        put(f"{pre}.action_s", median([span_s(ops[i], "action") for i in qi]))
        put(f"{pre}.jobs", median([a.per_op[i]["jobs"] for i in qi]))
        put(f"{pre}.driver_gap_s", median([a.driver_gap_s(i) for i in qi]))
        put(f"{pre}.leaked_rdds", median([ops[i].leaked_rdds for i in qi]))
    put("GraphStreams.stream_khop_2.micro_batches",
        median([a.per_op[i]["batches"] for i, o in enumerate(ops)
                if o.kind == "stream_khop_2" and o.ok]))

    put("jvm.warmup_s", res["warmup_s"])
    put("jvm.gc_s", st["gc_s"])
    put("jvm.heap_peak_mb", st["heap_peak_mb"])
    put("client.cpu_s", res["client_cpu_s"])
    put("host.calib_s", median(res["calib"]))
    put("drift.p50_ratio", drift(res["ops"]))
    put("trace.overhead_ratio", op_p50(ops) / max(op_p50(res["ops"]), 1e-12))
    assert list(m) == [k for k, _ in PER_LAYER], "per-layer metric list out of sync"
    return m
