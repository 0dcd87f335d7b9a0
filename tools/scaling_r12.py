#!/usr/bin/env python3
"""r12 parallel-scaling evidence (VERDICT r11 #1): run the heaviest
CPU-bound queries at a larger effective input (SPARK_GRAFT_BLOWUP) at 8 vs
32 cores with spark.sql.shuffle.partitions FIXED (decoupled from the core
count via SPARK_GRAFT_SHUFFLE_PARTITIONS), so the low-core run executes the
same task graph and the ratio measures CPU scaling, not task sizing.

Writes scaling_r12.json: per query, seconds at 8 and 32 cores and the
speedup, plus the run configuration. Restores the committed
bench_full.json afterwards (graft.Bench overwrites it per run).

Usage: python3 tools/scaling_r12.py [blowup] [runs]
"""
import json, os, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BF = os.path.join(REPO, "bench_full.json")

BLOWUP = sys.argv[1] if len(sys.argv) > 1 else "4"
RUNS = sys.argv[2] if len(sys.argv) > 2 else "2"
QUERIES = os.environ.get("SCALING_QUERIES",
    "khop_3_dense,khop_dense,khop_dense_hot,khop_chunks,pipeline_corpus,"
    "dag_levels,kcore,four_cycles,ktruss,dedup_clusters,lsh_recall,"
    "decontaminate,node2vec_walks,triangle_count")
PARTS = os.environ.get("SCALING_PARTS", "64")

def bench(cpus):
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
               SPARK_GRAFT_CPUS=str(cpus),
               SPARK_GRAFT_SHUFFLE_PARTITIONS=PARTS,
               SPARK_GRAFT_BLOWUP=BLOWUP,
               SPARK_GRAFT_BENCH_ONLY=QUERIES,
               SPARK_GRAFT_BENCH_RUNS=RUNS)
    subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=REPO,
                   env=env, check=True, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    with open(BF) as f:
        return json.load(f)["queries"]

saved = open(BF).read()
try:
    t32 = bench(32)
    t8 = bench(8)
finally:
    open(BF, "w").write(saved)
out = {
    "config": {"blowup": int(BLOWUP), "sf": "/root/testdata/sf0.1",
               "shuffle_partitions": int(PARTS), "runs_min_of": int(RUNS),
               "cpus": [8, 32],
               "note": "shuffle partitions fixed (decoupled from cores); "
                       "min-of-%s per cell; same JVM methodology as Bench" % RUNS},
    "per_query": {},
}
for q in sorted(t32):
    s8, s32 = t8.get(q), t32.get(q)
    out["per_query"][q] = {
        "sec_8cpu": s8, "sec_32cpu": s32,
        "speedup_32_over_8": round(s8 / s32, 2) if s8 and s32 else None,
    }
with open(os.path.join(REPO, "scaling_r12.json"), "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
print(json.dumps(out, indent=1, sort_keys=True))
