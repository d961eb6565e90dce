#!/usr/bin/env python
"""Connected-components (dup_clusters) scaling at amortizing EDGE scale.

The dedup suite's dup_clusters stage runs over the planted-dup
corpus's LSH pairs — only ~30k edges at clones=200, so its wall is
almost entirely per-round fixed cost (the every-round localCheckpoint
and 4 scheduled jobs per large-star/small-star round: 3 exchanges plus
the checkpoint) and its 2->8 ratio measures the round BARRIER, not the
operator. This harness times the same operator on deterministic graphs
where every round moves millions of rows — the regime a 100 TB
near-dup graph actually occupies:

- ``chain``: chains of CHAIN_LEN nodes over n ids ->
  n*(CHAIN_LEN-1)/CHAIN_LEN edges, multi-round convergence;
- ``hub``: one node linked to n leaves — the hot-component case. Each
  star is a window min partitioned by node, so the hub's whole
  neighbourhood lands in ONE task (no skew split for a hot key).

Levels run in taskset-pinned subprocesses (reused JVMs degrade the
second level; unpinned local[N] burns all machine cores in helper
threads), best-of-2 per level.

Usage: python scripts/cc_scaling.py [--graph chain|hub] [n]
       python scripts/cc_scaling.py --graph hub --level <cpus> <n>
n defaults to 8_000_000 nodes (chain) or leaves (hub).
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHAIN_LEN = 8


def _graph(spark, graph: str, n: int, par: int):
    """(docs, edges, expected survivors) for a chain or hub graph."""
    from pyspark.sql import functions as F

    if graph == "hub":
        edges = spark.range(1, n + 1, numPartitions=par).selectExpr(
            "CAST(0 AS BIGINT) AS doc_id_a", "id AS doc_id_b")
        n_docs, want = n + 1, 1
    else:
        edges = (spark.range(n, numPartitions=par)
                 .where(F.expr(f"id % {CHAIN_LEN} != {CHAIN_LEN - 1} "
                               f"AND id + 1 < {n}"))
                 .selectExpr("id AS doc_id_a", "id + 1 AS doc_id_b"))
        n_docs, want = n, -(-n // CHAIN_LEN)  # one survivor per chain
    docs = spark.range(n_docs, numPartitions=par) \
        .withColumnRenamed("id", "doc_id")
    return docs, edges, want


def level(graph: str, cpus: int, n: int) -> None:
    import bench
    from geozero_spark.operators import dedup

    spark = bench._session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs, edges, want = _graph(spark, graph, n, max(cpus * 4, 16))
    edges = edges.persist()
    n_edges = edges.count()
    walls, jobs = [], []
    kept = None
    for i in range(2):
        sc.setJobGroup(f"cc{i}", "dup_clusters")
        t0 = time.perf_counter()
        kept = dedup.dup_clusters(docs, edges).where("keep").count()
        walls.append(round(time.perf_counter() - t0, 3))
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"cc{i}")))
    assert kept == want, kept
    print(json.dumps({"graph": graph, "cpus": cpus, "nodes": n,
                      "edges": n_edges, "survivors": kept,
                      "wall_s": min(walls), "walls": walls, "jobs": jobs,
                      "edges_per_s": round(n_edges / min(walls), 1)}))
    spark.stop()


def main():
    args = sys.argv[1:]
    graph = "chain"
    if "--graph" in args:
        i = args.index("--graph")
        graph = args.pop(i + 1)
        args.pop(i)
        if graph not in ("chain", "hub"):
            sys.exit(f"unknown graph {graph!r}: use chain or hub")
    if "--level" in args:
        i = args.index("--level")
        level(graph, int(args[i + 1]), int(args[i + 2]))
        return
    n = int(args[0]) if args else 8_000_000
    import shutil
    what = (f"chain graph (chains of {CHAIN_LEN})" if graph == "chain"
            else "hub graph (one node, n leaves)")
    out = {"workload": f"dup_clusters over {what}", "levels": {}}
    for cpus in (2, 8):
        cmd = [sys.executable, os.path.abspath(__file__), "--graph",
               graph, "--level", str(cpus), str(n)]
        if shutil.which("taskset"):
            cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
        o = subprocess.run(cmd, capture_output=True, text=True,
                           check=True, cwd=REPO).stdout
        line = [ln for ln in o.splitlines() if ln.startswith("{")][-1]
        out["levels"][str(cpus)] = json.loads(line)
    a = out["levels"]["2"]["edges_per_s"]
    b = out["levels"]["8"]["edges_per_s"]
    out["scaling_efficiency"] = round(b / (a * 4), 3)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
