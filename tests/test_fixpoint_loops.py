"""Fixpoint-loop contracts: connected_components' and sssp's
state-size gates pick a form without changing results, sssp keeps its
i-round contract, every loop raises when its round budget runs out,
and loops run in their own session: the caller's conf never changes,
not even while a loop runs, and loop results plan under it."""

import threading

import pytest

import pidb_rdf_spark.analytics as A
from pidb_rdf_spark import frontier

_CONF_KEYS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.codegen.wholeStage",
)

EDGES = [
    (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (20, 21),
    (5, 1), (12, 10),
]

WEDGES = [(a, b, (a + b) % 5 + 1) for a, b in EDGES]


def test_connected_components_gate_paths_identical(spark, monkeypatch):
    """Both sides of the state-size gate compute the same components:
    forcing the pinned rounds (gate=0) and the planner-default rounds
    (gate=inf) on one graph must agree row-for-row."""
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", 0)
    pinned = sorted(map(tuple, A.connected_components(pairs).collect()))
    monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", 10**9)
    small = sorted(map(tuple, A.connected_components(pairs).collect()))
    assert pinned == small


def _naive_sssp(edges, sources, rounds):
    """i naive undirected Bellman-Ford rounds: min cost over paths of
    at most ``rounds`` edges."""
    dist = dict.fromkeys(sources, 0)
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in edges:
            for u, v in ((a, b), (b, a)):
                if u in dist and dist[u] + w < nxt.get(v, float("inf")):
                    nxt[v] = dist[u] + w
        dist = nxt
    return sorted(dist.items())


def test_sssp_gate_paths_identical(spark, monkeypatch):
    """Both tiers of frontier.relax's state-size gate (the pinned
    full-node-state layout and the frontier-sized form) keep sssp's
    i-round contract: bounded (2 rounds) or converged (20) they return
    exactly the naive i-round distances."""
    e = spark.createDataFrame(WEDGES, ["src", "dst", "weight"])
    s = spark.createDataFrame([(1,), (20,)], ["node"])
    for gate in (0, 10**9):  # pinned, frontier-sized
        monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", gate)
        for max_iter in (2, 20):  # unconverged and converged
            got = sorted(
                map(tuple, A.sssp(e, s, directed=False, max_iter=max_iter).collect())
            )
            assert got == _naive_sssp(WEDGES, (1, 20), max_iter)


PATH = [(i, i + 1) for i in range(8)]  # diameter 8


@pytest.mark.parametrize("gate", [0, 10**9], ids=["pinned", "aqe"])
def test_connected_components_budget_exhaustion_raises(spark, monkeypatch, gate):
    """A path longer than max_iter raises on both sides of the gate
    instead of returning unconverged labels."""
    monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", gate)
    pairs = spark.createDataFrame(PATH, ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iter=3"):
        A.connected_components(pairs, max_iter=3)
    got = dict(map(tuple, A.connected_components(pairs, max_iter=20).collect()))
    assert got == dict.fromkeys(range(9), 0)


def test_star_components_budget_exhaustion_raises(spark):
    """Same policy for the large-star/small-star rounds."""
    pairs = spark.createDataFrame(PATH, ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iter=1"):
        A.connected_components_star(pairs, max_iter=1)
    got = dict(map(tuple, A.connected_components_star(pairs).collect()))
    assert got == dict.fromkeys(range(9), 0)


def test_frontier_loops_budget_exhaustion_raises(spark):
    """The frontier loops share one policy: an exhausted budget raises
    (shortest_hops, closure), an explicit bound returns the bounded
    answer (sssp)."""
    from pidb_rdf_spark.inference import transitive_closure

    pairs = spark.createDataFrame(PATH, ["src", "dst"])
    s = spark.createDataFrame([(0,)], ["node"])
    with pytest.raises(RuntimeError, match="max_iter=3"):
        A.shortest_hops(pairs, s, max_iter=3)
    with pytest.raises(RuntimeError, match="max_iter=3"):
        transitive_closure(
            pairs.selectExpr("src AS child", "dst AS parent"), max_iter=3
        )
    w = pairs.selectExpr("src", "dst", "1 AS weight")
    got = dict(map(tuple, A.sssp(w, s, max_iter=3).collect()))
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_scc_budget_exhaustion_raises(spark):
    """SCC's min-label propagation raises when max_iter runs out
    instead of splitting a 12-cycle into singletons."""
    pairs = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="max_iter=4"):
        A.strongly_connected_components(pairs, max_iter=4).collect()
    got = A.strongly_connected_components(pairs, max_iter=50).collect()
    assert {r.component for r in got} == {0} and len(got) == 12


def test_kcore_budget_exhaustion_raises(spark):
    """kcore raises when max_rounds runs out while a round would still
    peel (the remainder would be a superset of the k-core); a path
    has an empty 2-core."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="max_rounds=2"):
        A.kcore(pairs, 2, max_rounds=2)
    assert A.kcore(pairs, 2, max_rounds=5).isEmpty()
    assert A.kcore(pairs, 2).isEmpty()


def test_ktruss_budget_exhaustion_raises(spark):
    """ktruss charges its budget by kcore's rule: a peel past
    max_rounds raises, and the round that peels nothing is not
    charged. K4 plus a triangle with a dangling edge needs one peel
    at k=3 (the dangling edge)."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (5, 6), (5, 7), (6, 7), (7, 8)],
        ["src", "dst"],
    )
    with pytest.raises(RuntimeError, match="max_rounds=0"):
        A.ktruss(pairs, 3, max_rounds=0)
    assert A.ktruss(pairs, 3, max_rounds=1).count() == 9


def test_interleaved_fixpoint_loops_restore_conf(spark, monkeypatch):
    """Loops running concurrently on ONE session never change its conf:
    a third thread polling the caller's conf while pagerank,
    connected_components and label_propagation run sees only the
    pre-loop values, and all results are correct."""
    # force connected_components into a pinned loop session regardless
    # of size; pagerank and label_propagation always pin
    monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", 0)
    before = {k: spark.conf.get(k) for k in _CONF_KEYS}
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    results: dict = {}
    errors: list = []
    polls: list = []
    done = threading.Event()

    def run(name, fn):
        try:
            results[name] = sorted(map(tuple, fn(pairs).collect()))
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    def poll():
        while not done.is_set():
            polls.append({k: spark.conf.get(k) for k in _CONF_KEYS})
            done.wait(0.01)

    loops = {
        "cc": A.connected_components,
        "lpa": A.label_propagation,
        "pr": A.pagerank,
    }
    threads = [threading.Thread(target=run, args=kv) for kv in loops.items()]
    poller = threading.Thread(target=poll)
    poller.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    done.set()
    poller.join(timeout=60)
    assert not any(t.is_alive() for t in (*threads, poller))
    assert not errors
    assert polls and all(p == before for p in polls)
    assert {k: spark.conf.get(k) for k in _CONF_KEYS} == before
    # results stay correct under interleaving
    for name, fn in loops.items():
        assert results[name] == sorted(map(tuple, fn(pairs).collect()))


def test_loop_session_keeps_runtime_conf(spark):
    """A loop session is a clone of the caller's: conf set at runtime
    (session time zone, case sensitivity) holds inside the loop, where
    a fresh session would fall back to the defaults."""
    keys = {
        "spark.sql.session.timeZone": "Asia/Tokyo",
        "spark.sql.caseSensitive": "true",
    }
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k, v in keys.items():
            spark.conf.set(k, v)
        loop, _ = frontier.pinned(spark, 10)
        assert {k: loop.conf.get(k) for k in keys} == keys
        assert loop.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_loop_results_plan_under_caller_conf(spark):
    """A loop's result belongs to the caller's session: a query over it
    plans under the caller's conf (AQE on), while the loop itself
    planned without AQE. Building the loop session leaves the
    process-wide ``RDD.toDF`` on the caller's session too."""
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    pr = A.pagerank(pairs)
    assert pr.sparkSession is spark
    plan = pr.groupBy("rank").count()._jdf.queryExecution().executedPlan()
    assert "AdaptiveSparkPlan" in plan.toString()
    rdd_df = spark.sparkContext.parallelize([(1,)]).toDF(["a"])
    assert rdd_df.sparkSession is spark
    loop, _ = frontier.pinned(spark, 10)
    looped = frontier.bind(pr, loop).groupBy("rank").count()
    assert "AdaptiveSparkPlan" not in (
        looped._jdf.queryExecution().executedPlan().toString()
    )

