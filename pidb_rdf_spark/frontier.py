"""One semi-naive round driver for every frontier-shaped graph loop:
BFS hop counts, Brandes' forward pass, Bellman-Ford distances and the
transitive closure (the reference's one iterative computation,
``MicroReasoners.java:20-22``).

State rows are keyed by ``(origin, node)``; ``origin`` is optional (a
multi-source search that only wants the nearest source omits it).
Each round joins ONLY the last round's frontier against the edges, so
total work is O(state rows reached), not O(edges x rounds). Two
combine modes:

- :func:`reach` (BFS): a row settles in the first round that reaches
  it and never changes; its ``hops`` is that round. With a ``sigma``
  seed column, each arrival sums its frontier predecessors' sigma —
  Brandes' shortest-path count. Because settled rows never change,
  the state is the union of the pinned per-round frontiers and is
  never re-materialized.
- :func:`relax` (min-plus Bellman-Ford): a row's ``dist`` drops
  whenever a frontier row offers a strictly cheaper path. One
  aggregation per round merges the old state with the candidates,
  ``min(struct(dist, is_new))``, so ties keep the old row
  (false < true) and ``is_new`` marks exactly the reached-or-improved
  rows — the next frontier. The merged state re-pins every round.
  After i rounds ``dist`` is the minimum cost over paths of at most i
  edges, whether or not the loop converged.

Round discipline: each round's new frame is checkpointed lazily, and
the single ``count()`` that tests termination also materializes it —
one probe per round, where an eager checkpoint plus an ``isEmpty``
probe costs two.

Convergence policy, shared by every fixpoint loop in the package
(connected components and its star form included): a round limit is
either a BUDGET or a BOUND.

- A budget (the default) that runs out while the loop is still
  changing raises ``RuntimeError``. A truncated fixpoint — hop counts,
  distances, closure pairs, component labels — is a wrong answer, not
  an approximation.
- An explicit bound (``bounded=True``) returns the answer after that
  many rounds: ``sssp``'s i-round contract and Cypher's ``*..m``
  upper bound.

Size choice: :func:`relax` without origins (``sssp``) carries a state
of at least ``analytics._FIXPOINT_MIN_STATE_ROWS`` nodes in a pinned
full-node-state layout under ``analytics._fixpoint_conf``, which keeps
the edges partitioned by src across rounds instead of re-shuffling or
broadcasting per round (sf0.1 full edge set, 786k nodes, 8 rounds on 4
cores: ~20 s pinned vs ~29 s frontier-sized, which also ran out of
broadcast memory on a 4 GB driver). Apart from that tier the driver
never touches session conf; callers that pin a loop layout wrap the
call themselves.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_RAISE_HINT = "raise max_iter above the number of rounds the fixpoint needs"


def exhausted(
    what: str, max_rounds: int, hint: str = _RAISE_HINT, doing: str = "changing"
) -> RuntimeError:
    """The error every fixpoint loop raises when its round budget runs
    out before convergence."""
    return RuntimeError(
        f"{what}: still {doing} after max_iter={max_rounds} rounds — a "
        f"truncated fixpoint would be a wrong answer; {hint}"
    )


def _drive(state, frontier, step, merge, fresh, max_rounds, bounded, what, hint, doing):
    """Run ``step(r, frontier, state)`` for r = 1..max_rounds. The
    step's frame is pinned lazily; ``fresh`` selects the next frontier
    from it, and that frontier's count both materializes the pin and
    ends the loop when it is zero. ``merge`` folds the pinned frame
    into the state."""
    for r in range(1, max_rounds + 1):
        pinned = step(r, frontier, state).localCheckpoint(eager=False)
        frontier = fresh(pinned)
        if frontier.count() == 0:
            return state
        state = merge(state, pinned)
    if not bounded:
        raise exhausted(what, max_rounds, hint, doing)
    return state


def _keys(seeds: DataFrame) -> list[str]:
    return ["origin", "node"] if "origin" in seeds.columns else ["node"]


def reach(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int,
    *,
    bounded: bool = False,
    what: str = "reach",
    hint: str = _RAISE_HINT,
) -> tuple[DataFrame, list[DataFrame]]:
    """BFS from ``seeds`` — ``([origin,] node[, sigma])`` rows, distinct
    per key — over ``edges`` ``(src, dst)``, which the caller pins (the
    loop re-scans it every round). Returns ``(state, levels)``:
    ``levels[i]`` holds the ``([origin,] node, hops[, sigma])`` rows
    settled in round i (``levels[0]`` = the seeds, hops 0) and
    ``state`` is their union."""
    keys = _keys(seeds)
    okey = keys[:-1]
    sig = ["sigma"] if "sigma" in seeds.columns else []

    def step(r, frontier, levels):
        nxt = frontier.select(*okey, F.col("node").alias("src"), *sig).join(
            edges, on="src"
        )
        if sig:
            nxt = nxt.groupBy(*okey, F.col("dst").alias("node")).agg(
                F.sum("sigma").alias("sigma")
            )
        else:
            nxt = nxt.select(*okey, F.col("dst").alias("node")).dropDuplicates()
        return nxt.join(
            _union(levels).select(*keys), on=keys, how="leftanti"
        ).select(*keys, F.lit(r).cast("long").alias("hops"), *sig)

    seed = seeds.select(
        *keys, F.lit(0).cast("long").alias("hops"), *sig
    ).localCheckpoint(eager=False)
    levels = _drive(
        [seed], seed, step, lambda lv, p: lv + [p], lambda p: p,
        max_rounds, bounded, what, hint, "expanding",
    )
    return _union(levels), levels


def relax(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int,
    *,
    bounded: bool = False,
    what: str = "relax",
    hint: str = _RAISE_HINT,
) -> DataFrame:
    """Min-plus Bellman-Ford from ``seeds`` — ``([origin,] node, dist)``
    rows, distinct per key — over ``edges`` ``(src, dst, w)``, which
    the caller pins. Weights must be non-negative; integral weights
    keep ``min`` exact. Returns ``([origin,] node, dist)``."""
    keys = _keys(seeds)
    okey = keys[:-1]

    def step(_r, frontier, state):
        cand = (
            frontier.select(*okey, F.col("node").alias("src"), "dist")
            .join(edges, on="src")
            .select(
                *okey,
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
                F.lit(True).alias("is_new"),
            )
        )
        return (
            state.select(*keys, "dist", F.lit(False).alias("is_new"))
            .unionByName(cand)
            .groupBy(*keys)
            .agg(F.min(F.struct("dist", "is_new")).alias("s"))
            .select(*keys, F.col("s.dist").alias("dist"), F.col("s.is_new").alias("is_new"))
        )

    if not okey:
        # lazy: analytics imports this module
        from pidb_rdf_spark import analytics

        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .unionAll(seeds.select("node"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        n = nodes.count()
        if n >= analytics._FIXPOINT_MIN_STATE_ROWS:
            return _relax_pinned(
                edges, seeds, nodes, n, max_rounds, bounded, what, hint
            )
    seed = seeds.select(*keys, "dist", F.lit(True).alias("is_new")).localCheckpoint(
        eager=False
    )
    state = _drive(
        seed, seed, step, lambda _s, p: p, lambda p: p.filter("is_new"),
        max_rounds, bounded, what, hint, "relaxing",
    )
    return state.select(*keys, "dist")


def _relax_pinned(edges, seeds, nodes, n, max_rounds, bounded, what, hint):
    """The large-state tier of :func:`relax` without origins: the
    state is EVERY node (``dist`` NULL = unreached) under
    ``analytics._fixpoint_conf``'s static layout — edges laid out by
    src once, state by node once, so the frontier⋈edges join is
    co-partitioned and each round is one contribution shuffle (GROUP BY
    dst) plus a layout-preserving merge left-join. A candidate wins
    only when strictly smaller, so the i-round invariant is the
    frontier-sized tier's."""
    from pidb_rdf_spark.analytics import _fixpoint_conf, _loop_view

    spark = edges.sparkSession
    with _fixpoint_conf(spark, n) as n_parts:
        ew = edges.repartition(n_parts, "src").localCheckpoint(eager=True)
        state = (
            nodes.join(seeds, on="node", how="left")
            .select("node", "dist", F.col("dist").isNotNull().alias("is_new"))
            .repartition(n_parts, "node")
            .localCheckpoint(eager=True)
        )
        vs = _loop_view(state, "relax_state")
        ve = _loop_view(ew, "relax_edges")
        improved = "c.nd IS NOT NULL AND (s.dist IS NULL OR c.nd < s.dist)"
        round_sql = f"""
            SELECT s.node,
                   CASE WHEN {improved} THEN c.nd ELSE s.dist END AS dist,
                   ({improved}) AS is_new
            FROM {vs} s
            LEFT JOIN (
              SELECT e.dst AS node, min(f.dist + e.w) AS nd
              FROM {ve} e JOIN {vs} f ON e.src = f.node AND f.is_new
              GROUP BY e.dst
            ) c ON s.node = c.node
        """

        def step(_r, _frontier, state):
            state.createOrReplaceTempView(vs)
            return spark.sql(round_sql)

        try:
            state = _drive(
                state, None, step, lambda _s, p: p,
                lambda p: p.filter("is_new"), max_rounds, bounded, what, hint,
                "relaxing",
            )
        finally:
            spark.catalog.dropTempView(vs)
            spark.catalog.dropTempView(ve)
    return state.filter(F.col("dist").isNotNull()).select("node", "dist")


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionAll, frames)
