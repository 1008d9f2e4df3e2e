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

Loop sessions: :func:`pinned` gives a loop its own clone of the
caller's session, with a static layout (AQE off, size-derived shuffle
partitions, no broadcasts, codegen off for small states) set on the
clone only; the caller's session conf is never changed, so loops need
no lock and a query another thread runs meanwhile plans under the
caller's conf. :func:`bind` moves frames into the loop session and
results back. :func:`rounds` is the SQL-text round driver on top of
:func:`_drive` for the vertex-program loops (PageRank, HITS,
eigenvector, label propagation, min-label components, SCC's
partitioned min-label and :func:`relax`'s large-state tier): pinned,
the static frames are laid out by their join key once, and each round
re-runs the same statement text over the re-registered state view.
Min-label components pin from ``_FIXPOINT_MIN_STATE_ROWS`` nodes; SCC
runs the same rounds with the caller's planner defaults at every size
(no workload has measured a pinned SCC).
:func:`relax` without origins (``sssp``) switches to that pinned
full-node-state tier at ``_FIXPOINT_MIN_STATE_ROWS`` nodes, which
keeps the edges partitioned by src across rounds instead of
re-shuffling or broadcasting per round (sf0.1 full edge set, 786k
nodes, 8 rounds on 4 cores: ~20 s pinned vs ~29 s frontier-sized,
which also ran out of broadcast memory on a 4 GB driver).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RAISE_HINT = "raise max_iter above the number of rounds the fixpoint needs"

# Below this state size, whole-stage codegen is off in a pinned loop
# session: Janino compilation of each round's stages costs more than
# interpreting a few-MB state ever could (measured ~1.3 s of the 4.7 s
# pagerank wall at sf0.1). Above it, codegen pays for itself.
_LOOP_CODEGEN_OFF_MAX_ROWS = 5_000_000

# Target state rows per partition of a pinned loop: N = clamp(rows //
# this + 1, 1, the caller's shuffle partitions), so a KB-sized state
# gets 1 partition and a cluster session keeps its configured
# parallelism once the state is big enough to use it.
_LOOP_ROWS_PER_PARTITION = 100_000

# State-size gate of the loops with a small tier (min-label
# components, relax without origins): the first size at which
# the sizer allocates a second partition. Below it a pinned loop runs
# on ONE partition with broadcasts off and setup shuffles that never
# amortize; the caller's planner defaults win there.
_FIXPOINT_MIN_STATE_ROWS = _LOOP_ROWS_PER_PARTITION


def exhausted(
    what: str,
    max_rounds: int,
    hint: str = _RAISE_HINT,
    doing: str = "changing",
    budget: str = "max_iter",
) -> RuntimeError:
    """The error every fixpoint loop raises when its round budget
    (the ``budget`` parameter) runs out before convergence."""
    return RuntimeError(
        f"{what}: still {doing} after {budget}={max_rounds} rounds — a "
        f"truncated fixpoint would be a wrong answer; {hint}"
    )


def _clone(spark: SparkSession) -> SparkSession:
    # cloneSession, not newSession: a new session drops the runtime
    # conf the caller set (session time zone, case sensitivity). The
    # wrapper skips SparkSession.__init__, which would rebind the
    # process-wide RDD.toDF to the clone.
    loop = object.__new__(SparkSession)
    loop._sc, loop._jsc, loop._jvm = spark._sc, spark._jsc, spark._jvm
    loop._profiler_collector = spark._profiler_collector
    loop._jsparkSession = spark._jsparkSession.cloneSession()
    return loop


def pinned(spark: SparkSession, n_state_rows: int) -> tuple[SparkSession, int]:
    """A loop session for a state of ``n_state_rows`` rows and the
    partition count N to lay the loop frames out with. The session is
    a clone of ``spark`` (runtime conf, temp views and UDFs included)
    with a STATIC layout set on the clone only:

    - AQE off. AQE runs every Exchange as its own job (123 jobs for a
      10-round pagerank at sf0.1, 28 without), and a
      ``localCheckpoint`` under AQE loses its hash layout, so every
      round would re-shuffle both join sides. With AQE off the
      checkpoints keep ``HashPartitioning`` and a round has one data
      shuffle, its aggregation.
    - ``shuffle.partitions=N``, size-derived: the round aggregates land
      on the N partitions the loop frames were laid out with, so the
      state⋈contribution joins need no exchange.
    - no auto-broadcast: a per-round broadcast build of the state is a
      job per round; the co-partitioned sort-merge join is free.
    - whole-stage codegen off for states up to
      ``_LOOP_CODEGEN_OFF_MAX_ROWS`` rows.

    The caller's session is never changed."""
    loop = _clone(spark)
    n_parts = max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            int(n_state_rows) // _LOOP_ROWS_PER_PARTITION + 1,
        ),
    )
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    loop.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    loop.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if n_state_rows <= _LOOP_CODEGEN_OFF_MAX_ROWS:
        loop.conf.set("spark.sql.codegen.wholeStage", "false")
    return loop, n_parts


def bind(df: DataFrame, spark: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``spark``: it plans and runs under
    that session's conf."""
    return DataFrame(
        spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, df._jdf.logicalPlan()
        ),
        spark,
    )


def rounds(
    spark: SparkSession,
    n_state_rows: int,
    static: dict,
    state: tuple,
    steps: list,
    max_rounds: int,
    *,
    flag: str | None = None,
    pin: bool = True,
    bounded: bool = False,
    what: str = "rounds",
    hint: str = _RAISE_HINT,
    doing: str = "changing",
) -> dict:
    """Run SQL-text rounds in a loop session: each round re-parses the
    same statement text over the re-registered state view, ~3 py4j
    calls a round instead of ~25 DataFrame-API calls (180-240 ms a
    round of driver time at sf0.1). ``static`` maps a view
    name to ``(frame, key)``; ``state`` is ``(frame, key)``; a key is
    a column or a list of columns. ``steps`` is a list of ``(view,
    sql)`` statements run in order each round; each result is
    registered under its view for the statements after it, and the
    LAST step's view holds the state (registered before round one).

    Pinned (``pin``, see :func:`pinned`), every frame is laid out by
    its key once and checkpointed; unpinned, the rounds run with the
    caller's planner defaults in a plain clone of its session (the
    clone keeps the fixed view names private to the call; it costs
    nothing measurable next to the rounds).

    Without ``flag`` the rounds run exactly ``max_rounds`` times,
    every statement pinned eagerly. With ``flag`` they run until no
    row of the state has that column true, through :func:`_drive`:
    one lazy pin and one probe per round, and the convergence policy
    of this module (``bounded``, ``what``, ``hint``, ``doing``).

    Returns ``{view: frame}`` for the state and every step that ran,
    bound to ``spark``."""
    loop, n_parts = pinned(spark, n_state_rows) if pin else (_clone(spark), 0)

    def lay(df, key):
        df = bind(df, loop)
        if not pin:
            return df
        keys = [key] if isinstance(key, str) else key
        return df.repartition(n_parts, *keys).localCheckpoint(eager=True)

    for view, (df, key) in static.items():
        lay(df, key).createOrReplaceTempView(view)
    *inner, (sview, last_sql) = steps
    out = {}

    def step(_r, _frontier, cur):
        cur.createOrReplaceTempView(sview)
        for view, sql in inner:
            out[view] = loop.sql(sql).localCheckpoint(eager=True)
            out[view].createOrReplaceTempView(view)
        return loop.sql(last_sql)

    cur = lay(*state)
    if flag is None:
        for r in range(max_rounds):
            cur = step(r, None, cur).localCheckpoint(eager=True)
    else:
        cur = _drive(
            cur, None, step, lambda _s, p: p, lambda p: p.filter(flag),
            max_rounds, bounded, what, hint, doing,
        )[0]
    out[sview] = cur
    return {view: bind(df, spark) for view, df in out.items()}


def _drive(state, frontier, step, merge, fresh, max_rounds, bounded, what, hint, doing):
    """Run ``step(r, frontier, state)`` for r = 1..max_rounds. The
    step's frame is pinned lazily; ``fresh`` selects the next frontier
    from it, and that frontier's count both materializes the pin and
    ends the loop when it is zero. ``merge`` folds the pinned frame
    into the state. Returns ``(state, sizes)``: ``sizes`` holds the
    frontier count of every merged round."""
    sizes = []
    for r in range(1, max_rounds + 1):
        pinned = step(r, frontier, state).localCheckpoint(eager=False)
        frontier = fresh(pinned)
        n = frontier.count()
        if n == 0:
            return state, sizes
        state = merge(state, pinned)
        sizes.append(n)
    if not bounded:
        raise exhausted(what, max_rounds, hint, doing)
    return state, sizes


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
) -> tuple[DataFrame, list[DataFrame], list[int]]:
    """BFS from ``seeds`` — ``([origin,] node[, sigma])`` rows, distinct
    per key — over ``edges`` ``(src, dst)``, which the caller pins (the
    loop re-scans it every round). Returns ``(state, levels, sizes)``:
    ``levels[i]`` holds the ``([origin,] node, hops[, sigma])`` rows
    settled in round i (``levels[0]`` = the seeds, hops 0), ``state``
    is their union, and ``sizes[i]`` is the row count of
    ``levels[i + 1]``, counted by the round's termination probe."""
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
    levels, sizes = _drive(
        [seed], seed, step, lambda lv, p: lv + [p], lambda p: p,
        max_rounds, bounded, what, hint, "expanding",
    )
    return _union(levels), levels, sizes


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
        nodes = (
            edges.select(F.col("src").alias("node"))
            .unionAll(edges.select(F.col("dst").alias("node")))
            .unionAll(seeds.select("node"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        n = nodes.count()
        if n >= _FIXPOINT_MIN_STATE_ROWS:
            return _relax_pinned(
                edges, seeds, nodes, n, max_rounds, bounded, what, hint
            )
    seed = seeds.select(*keys, "dist", F.lit(True).alias("is_new")).localCheckpoint(
        eager=False
    )
    state = _drive(
        seed, seed, step, lambda _s, p: p, lambda p: p.filter("is_new"),
        max_rounds, bounded, what, hint, "relaxing",
    )[0]
    return state.select(*keys, "dist")


def _relax_pinned(edges, seeds, nodes, n, max_rounds, bounded, what, hint):
    """The large-state tier of :func:`relax` without origins: the
    state is EVERY node (``dist`` NULL = unreached) in a pinned
    :func:`rounds` loop — edges laid out by src once, state by node
    once, so the frontier⋈edges join is co-partitioned and each round
    is one contribution shuffle (GROUP BY dst) plus a layout-preserving
    merge left-join. A candidate wins only when strictly smaller, so
    the i-round invariant is the frontier-sized tier's."""
    improved = "c.nd IS NOT NULL AND (s.dist IS NULL OR c.nd < s.dist)"
    round_sql = f"""
        SELECT s.node,
               CASE WHEN {improved} THEN c.nd ELSE s.dist END AS dist,
               ({improved}) AS is_new
        FROM state s
        LEFT JOIN (
          SELECT e.dst AS node, min(f.dist + e.w) AS nd
          FROM edges e JOIN state f ON e.src = f.node AND f.is_new
          GROUP BY e.dst
        ) c ON s.node = c.node
    """
    state = nodes.join(seeds, on="node", how="left").select(
        "node", "dist", F.col("dist").isNotNull().alias("is_new")
    )
    state = rounds(
        edges.sparkSession, n, {"edges": (edges, "src")}, (state, "node"),
        [("state", round_sql)], max_rounds, flag="is_new", bounded=bounded,
        what=what, hint=hint, doing="relaxing",
    )["state"]
    return state.filter(F.col("dist").isNotNull()).select("node", "dist")


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionAll, frames)
