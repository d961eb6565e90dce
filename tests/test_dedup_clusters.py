"""connected_components / dup_clusters vs a union-find ground truth."""

import random

import pytest

from geozero_spark.operators import dedup


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


# the two connected_components paths: the one-task union-find under
# the default bound, the star rounds with the bound at 0 (an empty edge
# set takes the one-task path under both)
_PATHS = {"one-task": dedup.SMALL_GRAPH_EDGES, "star": 0}


def _on_both_paths(run):
    """``{path: run()}`` with SMALL_GRAPH_EDGES set for each path."""
    out = {}
    for path, bound in _PATHS.items():
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(dedup, "SMALL_GRAPH_EDGES", bound)
            out[path] = run()
    return out


def _components(df):
    return {r["node"]: r["comp"]
            for r in dedup.connected_components(
                df, "doc_id_a", "doc_id_b").collect()}


def _check(spark, edges):
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    want = _uf_components(edges)
    for path, got in _on_both_paths(lambda: _components(df)).items():
        assert got == want, path


def test_cc_chain(spark):
    # a long path needs multiple large/small-star rounds
    _check(spark, [(i, i + 1) for i in range(1, 41)])


def test_cc_reversed_chain_and_star(spark):
    _check(spark, [(i + 1, i) for i in range(1, 30)]
           + [(100, k) for k in range(101, 120)])


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 60
        edges = [(rng.randrange(n) + 1, rng.randrange(n) + 1)
                 for _ in range(45)]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_cc_two_cliques_with_bridge(spark):
    clique1 = [(a, b) for a in range(1, 6) for b in range(a + 1, 6)]
    clique2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    _check(spark, clique1 + clique2)
    _check(spark, clique1 + clique2 + [(5, 10)])


def test_cc_duplicated_and_reversed_pairs(spark):
    # no up-front distinct: duplicates and both orientations of a pair
    # must give the same components as the set of pairs
    chain = [(i, i + 1) for i in range(1, 12)]
    _check(spark, chain * 3)
    _check(spark, chain + [(b, a) for a, b in chain])
    _check(spark, [(7, 3), (3, 7), (3, 7), (9, 7), (7, 9)])


def test_cc_self_loops(spark):
    # a self-loop adds no edge: a node seen only in loops has no pair
    df = spark.createDataFrame([(1, 2), (2, 2), (5, 5), (3, 2), (3, 3)],
                               "doc_id_a long, doc_id_b long")
    want = _uf_components([(1, 2), (3, 2)])
    for path, got in _on_both_paths(lambda: _components(df)).items():
        assert got == want, path


def test_cc_hub_with_chain_tail(spark):
    # one window partition holds the hub's whole neighbourhood; the
    # tail needs further rounds after the hub star collapses
    hub = [(1000, leaf) for leaf in range(2000, 2200)]
    tail = [(2199, 3000)] + [(i, i + 1) for i in range(3000, 3030)]
    _check(spark, hub + tail)


def _plan_nodes(jdf):
    """Class names of the executed (AQE final) plan; reused exchanges
    are not descended into, so each shuffle is counted once."""
    todo, out = [jdf.queryExecution().executedPlan()], []
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.finalPhysicalPlan())
            continue
        out.append(cls)
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def test_star_round_plan_shape(spark):
    # a round is three exchanges (sym by u, small-star by u, distinct)
    # and no join: both stars are window mins over rows already there
    e = spark.createDataFrame([(i + 1, i) for i in range(1, 30)],
                              "u long, v long")
    r = dedup._star_round(e)
    r.collect()
    nodes = _plan_nodes(r._jdf)
    assert not [n for n in nodes if "Join" in n], nodes
    assert nodes.count("ShuffleExchangeExec") <= 3, nodes


def test_cc_not_converged_raises(spark, monkeypatch):
    # max_rounds bounds only the star path: a 40-edge chain is under
    # the default bound and would take the one-task union-find
    monkeypatch.setattr(dedup, "SMALL_GRAPH_EDGES", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 41)],
                               "doc_id_a long, doc_id_b long")
    with pytest.raises(RuntimeError, match="max_rounds=1"):
        dedup.connected_components(df, "doc_id_a", "doc_id_b",
                                   max_rounds=1)


def test_cc_one_task_path_matches_union_find(spark):
    """Under the default bound the components come from ONE union-find
    task (a single-partition MapInArrow over the checkpointed edges),
    exact on self-loops, duplicate and reversed pairs, an empty edge
    set and a long chain whose ids are shuffled along it."""
    rng = random.Random(11)
    ids = list(range(1, 20_001))
    rng.shuffle(ids)
    chain = list(zip(ids, ids[1:]))
    graphs = {
        "loops": [(4, 4), (1, 2), (2, 2), (9, 9), (3, 2), (3, 3)],
        "dup_rev": [(5, 1), (1, 5), (1, 5), (8, 5), (7, 6), (6, 7)],
        "empty": [],
        "chain": chain,
    }
    for name, edges in graphs.items():
        df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
        out = dedup.connected_components(df, "doc_id_a", "doc_id_b")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        assert out.rdd.getNumPartitions() == 1, name
        got = {r["node"]: r["comp"] for r in out.collect()}
        assert got == _uf_components(
            [(a, b) for a, b in edges if a != b]), name
    assert set(got.values()) == {1}


# jobs of one dup_clusters plus one collect in the test session
# (local[8], 8 shuffle partitions, AQE) on the one-task path: the edge
# checkpoint, the union-find and join exchanges and the result stage
# (5 measured). The star path schedules 4 more per round (21 here).
DUP_CLUSTERS_JOB_BUDGET = 6


def test_dup_clusters_job_budget(spark):
    docs = spark.range(1, 601).withColumnRenamed("id", "doc_id")
    # 100 chains of 6: several star rounds, one union-find task
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 601) if i % 6],
        "doc_id_a long, doc_id_b long")
    sc = spark.sparkContext
    sc.setJobGroup("dup_clusters_budget", "dup_clusters plus one collect")
    try:
        rows = dedup.dup_clusters(docs, pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sum(r["keep"] for r in rows) == 100
    jobs = sc.statusTracker().getJobIdsForGroup("dup_clusters_budget")
    assert len(jobs) <= DUP_CLUSTERS_JOB_BUDGET, sorted(jobs)


def test_dup_clusters_keep_policy(spark):
    docs = spark.createDataFrame([(i,) for i in range(1, 9)],
                                 "doc_id long")
    pairs = spark.createDataFrame([(2, 5), (5, 7), (3, 4)],
                                  "doc_id_a long, doc_id_b long")
    want = {1: (1, True), 2: (2, True), 3: (3, True), 4: (3, False),
            5: (2, False), 6: (6, True), 7: (2, False), 8: (8, True)}
    for path, rows in _on_both_paths(lambda: {
            r["doc_id"]: (r["cluster_id"], r["keep"])
            for r in dedup.dup_clusters(docs, pairs).collect()}).items():
        assert rows == want, path


def test_cc_empty_pairs(spark):
    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert dedup.connected_components(
        pairs, "doc_id_a", "doc_id_b").count() == 0
