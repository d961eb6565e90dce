#!/usr/bin/env python
"""Connected-components (dup_clusters) scaling at amortizing EDGE scale.

The dedup suite's dup_clusters stage runs over the planted-dup
corpus's LSH pairs — only ~30k edges at clones=200, far under
``dedup.SMALL_GRAPH_EDGES``, so it takes the one-task union-find and
its wall is fixed cost. This harness times the operator's two paths
on deterministic graphs where the star path moves millions of rows
per round — the regime a 100 TB near-dup graph actually occupies:

- ``chain``: chains of CHAIN_LEN nodes over n ids ->
  n*(CHAIN_LEN-1)/CHAIN_LEN edges, multi-round convergence;
- ``hub``: one node linked to n leaves — the hot-component case. Each
  star is a window min partitioned by node, so the hub's whole
  neighbourhood lands in ONE task (no skew split for a hot key);
- ``path``: ONE chain through all n nodes, its ids permuted
  (i * PERM_MUL mod n) so chain neighbours are far apart in id order —
  the union-find's most-passes case. Only the default path is timed:
  the star path needs O(log n) rounds of the full edge set here.

Each level reports both paths (``path`` only the default one): the
star rounds with ``dedup.SMALL_GRAPH_EDGES = 0``, and the default
bound, under which a graph of at most that many edges is one
union-find task (``one_task`` says whether it was).
``worker_peak_rss_mb`` is the largest peak RSS (VmHWM) among the
session's Python workers, read after the default runs: the star path
starts no Python worker, so it is the union-find task's footprint.

Levels run in taskset-pinned subprocesses (reused JVMs degrade the
second level; unpinned local[N] burns all machine cores in helper
threads), best-of-2 per path and level.

Usage: python scripts/cc_scaling.py [--graph chain|hub|path] [n]
       python scripts/cc_scaling.py --graph hub --level <cpus> <n>
n defaults to 8_000_000 nodes (chain) or leaves (hub), and to
4_000_001 nodes for a path (4M edges, the default one-task bound).
"""

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHAIN_LEN = 8
PERM_MUL = 2654435761  # a prime: i -> i * PERM_MUL mod n permutes ids
GRAPHS = ("chain", "hub", "path")


def _graph(spark, graph: str, n: int, par: int):
    """(docs, edges, expected survivors) for a chain, hub or path
    graph."""
    from pyspark.sql import functions as F

    if graph == "hub":
        edges = spark.range(1, n + 1, numPartitions=par).selectExpr(
            "CAST(0 AS BIGINT) AS doc_id_a", "id AS doc_id_b")
        n_docs, want = n + 1, 1
    elif graph == "path":
        if n % PERM_MUL == 0:
            sys.exit(f"n must not be a multiple of {PERM_MUL}")
        edges = spark.range(n - 1, numPartitions=par).selectExpr(
            f"id * {PERM_MUL} % {n} AS doc_id_a",
            f"(id + 1) * {PERM_MUL} % {n} AS doc_id_b")
        n_docs, want = n, 1
    else:
        edges = (spark.range(n, numPartitions=par)
                 .where(F.expr(f"id % {CHAIN_LEN} != {CHAIN_LEN - 1} "
                               f"AND id + 1 < {n}"))
                 .selectExpr("id AS doc_id_a", "id + 1 AS doc_id_b"))
        n_docs, want = n, -(-n // CHAIN_LEN)  # one survivor per chain
    docs = spark.range(n_docs, numPartitions=par) \
        .withColumnRenamed("id", "doc_id")
    return docs, edges, want


def _worker_peak_mb(sc) -> float:
    """Largest VmHWM among the Python processes under the JVM."""
    todo, peak = [sc._gateway.proc.pid], 0
    while todo:
        pid = todo.pop()
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):  # per thread
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo += [int(k) for k in f.read().split()]
            with open(f"/proc/{pid}/status") as f:
                st = dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:  # exited while walking
            continue
        if st["Name"].strip().startswith("python"):
            peak = max(peak, int(st["VmHWM"].split()[0]))
    return round(peak / 1024, 1)


def level(graph: str, cpus: int, n: int) -> None:
    import bench
    from geozero_spark.operators import dedup

    spark = bench._session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    docs, edges, want = _graph(spark, graph, n, max(cpus * 4, 16))
    edges = edges.persist()
    n_edges = edges.count()
    out = {"graph": graph, "cpus": cpus, "nodes": n, "edges": n_edges}
    paths = {"star": 0, "default": dedup.SMALL_GRAPH_EDGES}
    if graph == "path":
        del paths["star"]
    for path, bound in paths.items():
        dedup.SMALL_GRAPH_EDGES = bound
        walls, jobs = [], []
        for i in range(2):
            sc.setJobGroup(f"{path}{i}", "dup_clusters")
            t0 = time.perf_counter()
            kept = dedup.dup_clusters(docs, edges).where("keep").count()
            walls.append(round(time.perf_counter() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(
                f"{path}{i}")))
            assert kept == want, (path, kept)
        out[path] = {"wall_s": min(walls), "walls": walls, "jobs": jobs,
                     "edges_per_s": round(n_edges / min(walls), 1)}
    out["default"]["one_task"] = n_edges <= dedup.SMALL_GRAPH_EDGES
    out["default"]["worker_peak_rss_mb"] = _worker_peak_mb(sc)
    print(json.dumps(out))
    spark.stop()


def main():
    args = sys.argv[1:]
    graph = "chain"
    if "--graph" in args:
        i = args.index("--graph")
        graph = args.pop(i + 1)
        args.pop(i)
        if graph not in GRAPHS:
            sys.exit(f"unknown graph {graph!r}: use one of {GRAPHS}")
    if "--level" in args:
        i = args.index("--level")
        level(graph, int(args[i + 1]), int(args[i + 2]))
        return
    n = int(args[0]) if args else (
        4_000_001 if graph == "path" else 8_000_000)
    import shutil
    what = {"chain": f"chain graph (chains of {CHAIN_LEN})",
            "hub": "hub graph (one node, n leaves)",
            "path": "one path with permuted ids"}[graph]
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
    out["scaling_efficiency"] = {
        path: round(out["levels"]["8"][path]["edges_per_s"]
                    / (out["levels"]["2"][path]["edges_per_s"] * 4), 3)
        for path in ("star", "default") if path in out["levels"]["2"]}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
