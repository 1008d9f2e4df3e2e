"""Fixpoint-loop contracts: connected_components' and sssp's
state-size gates pick a form without changing results, sssp keeps its
i-round contract, every loop raises when its round budget runs out,
and `_fixpoint_conf`'s session-global conf mutation is safe under
interleaved loops."""

import threading

import pytest

import pidb_rdf_spark.analytics as A

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
    forcing the pinned path (gate=0) and the small AQE path (gate=inf)
    on one graph must agree row-for-row."""
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    monkeypatch.setattr(A, "_FIXPOINT_MIN_STATE_ROWS", 0)
    pinned = sorted(map(tuple, A.connected_components(pairs).collect()))
    monkeypatch.setattr(A, "_FIXPOINT_MIN_STATE_ROWS", 10**9)
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
        monkeypatch.setattr(A, "_FIXPOINT_MIN_STATE_ROWS", gate)
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
    monkeypatch.setattr(A, "_FIXPOINT_MIN_STATE_ROWS", gate)
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


def test_interleaved_fixpoint_loops_restore_conf(spark, monkeypatch):
    """Two loop operators running concurrently on ONE session must not
    corrupt each other's saved conf (_FIXPOINT_LOCK serializes the
    conf-mutating loops); afterwards every touched key reads exactly
    its pre-loop value and both results are correct."""
    # force connected_components through _fixpoint_conf regardless of
    # size; label_propagation always runs under it
    monkeypatch.setattr(A, "_FIXPOINT_MIN_STATE_ROWS", 0)
    before = {k: spark.conf.get(k) for k in _CONF_KEYS}
    pairs = spark.createDataFrame(EDGES, ["src", "dst"])
    results: dict = {}
    errors: list = []

    def run_cc():
        try:
            results["cc"] = sorted(
                map(tuple, A.connected_components(pairs).collect())
            )
        except Exception as exc:  # pragma: no cover - failure detail
            errors.append(exc)

    def run_lpa():
        try:
            results["lpa"] = sorted(
                map(tuple, A.label_propagation(pairs).collect())
            )
        except Exception as exc:  # pragma: no cover
            errors.append(exc)

    threads = [threading.Thread(target=run_cc), threading.Thread(target=run_lpa)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    after = {k: spark.conf.get(k) for k in _CONF_KEYS}
    assert after == before
    # results stay correct under interleaving
    assert results["cc"] == sorted(
        map(tuple, A.connected_components(pairs).collect())
    )
    assert results["lpa"] == sorted(
        map(tuple, A.label_propagation(pairs).collect())
    )
