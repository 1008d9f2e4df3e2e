"""Iterative graph analytics: connected components, BFS hop counts,
shortest paths, centralities, PageRank, and near-dup clustering built
on them.

The reference's only iterative compute is its ontology closure
(``semantics/inference/MicroReasoners.java:20-22``, mirrored here by
``inference.transitive_closure``); these operators extend the same
driver-side semi-naive loop — the one computation Catalyst cannot
express in a single plan (SURVEY.md §4) — to the whole-graph
analytics a 100 TB pipeline needs (duplicate clustering, reachability
tiers, link-based quality scores).

Scale shape shared by every loop below:
- each iteration is one equi-join + one aggregation (both shuffle on
  the node id — a cluster co-partitions them after the first stage);
- a ``localCheckpoint`` per round truncates lineage so the plan does
  not grow with iteration count;
- convergence tests run on the frontier / delta only, never the full
  state;
- min-label propagation converges in O(diameter) rounds; for
  pathological diameters ``connected_components_star`` provides the
  pointer-doubling alternative (O(log n) rounds).

The frontier-shaped loops (BFS, Bellman-Ford, Brandes' forward pass)
run on :mod:`pidb_rdf_spark.frontier`, whose module docstring states
the convergence policy every loop here follows: a round budget that
runs out raises; only an explicit bound returns a bounded answer. The
vertex-program loops (PageRank, HITS, eigenvector, label propagation,
min-label components, SCC) run their SQL-text rounds through
``frontier.rounds``; the loops with their own bodies (star
components, betweenness, Louvain, the neighborhood function) run in a
``frontier.pinned`` loop session. Either way a loop's layout conf is
set on its own session: loops never change the caller's conf.
"""

from __future__ import annotations

from functools import reduce
from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pidb_rdf_spark import frontier

# negative_samples broadcasts its ranked-vocabulary draw join only
# when the exact vocab count (from ranked_vocabulary's bounded count
# pass) provably fits: ~40 B/row keeps this cap well under the
# default 10 MB autoBroadcast threshold. A corpus-scale vocabulary
# falls back to the sort-merge plan unchanged. Module-level so tests
# can pin both sides of the boundary.
_NEG_BROADCAST_MAX_VOCAB = 250_000


def _components_driver_side(spark, edge_rows, id_dtype) -> DataFrame:
    """Union-find over a driver-resident (bounded) edge list; output
    matches the distributed fixpoint exactly: (node, component) with
    component = min reachable node id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    out = []
    for nodes in members.values():
        comp = min(nodes)
        out.extend((n, comp) for n in nodes)
    out.sort()
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("node", id_dtype, False),
            T.StructField("component", id_dtype, False),
        ]
    )
    return spark.createDataFrame(out, schema=schema)


def _edge_list(
    pairs: DataFrame,
    src: str,
    dst: str,
    directed: bool,
    weight: str | None = None,
    loops: bool = False,
) -> DataFrame:
    """The one edge list of the analytics operators, ``(src, dst,
    __w)`` rows, unpinned. Its convention (flow style; the distance
    metrics keep theirs in :func:`_cost_edges`):

    - weighted (``weight`` names a column): NULL and w <= 0 edges
      drop, and parallel weights sum;
    - unweighted: distinct pairs, ``__w`` the exact literal 1.0, so a
      weighted expression over it is bitwise its unweighted form;
    - undirected adds the reverse of every edge;
    - self-loops drop unless ``loops`` is set."""
    e = pairs.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        *([] if weight is None else [F.col(weight).cast("double").alias("__w")]),
    )
    if weight is not None:
        e = e.filter(F.col("__w") > 0)
    if not directed:
        rev = [F.col("dst").alias("src"), F.col("src").alias("dst")]
        e = e.unionAll(e.select(*rev, *e.columns[2:]))
    if not loops:
        e = e.filter(F.col("src") != F.col("dst"))
    if weight is None:
        return e.dropDuplicates().withColumn("__w", F.lit(1.0))
    return e.groupBy("src", "dst").agg(F.sum("__w").alias("__w"))


def _node_set(edges: DataFrame) -> DataFrame:
    """The distinct ``node`` frame of ``edges``' endpoints."""
    return (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    small_cap: int | None = None,
) -> DataFrame:
    """(node, component) over the undirected graph of ``pairs``;
    component = the minimum node id reachable from the node (a
    canonical, deterministic representative). Min-label propagation
    to fixpoint.

    ``small_cap``: if set and the symmetrized edge set has at most
    that many rows, components are computed driver-side with
    union-find in one collect — ~2 Spark jobs per propagation round
    otherwise dominate wall-clock on small pair sets (near-dup pair
    graphs are usually tiny relative to the corpus). Above the cap
    the distributed fixpoint runs unchanged."""
    edges = _edge_list(pairs, src, dst, False)
    if small_cap is not None:
        probe = edges.limit(small_cap + 1).collect()
        if len(probe) <= small_cap:
            return _components_driver_side(
                pairs.sparkSession, probe, edges.schema["src"].dataType
            )
    edges = edges.localCheckpoint(eager=True)
    nodes = _node_set(edges).localCheckpoint(eager=True)
    n = nodes.count()
    # State-size gate: below frontier._FIXPOINT_MIN_STATE_ROWS the same
    # rounds run with the caller's planner defaults (AQE, broadcasts)
    return _min_label(
        edges.select("src", F.col("dst").alias("node")),
        nodes.select("node", F.col("node").alias("label")),
        n, max_iter, n >= frontier._FIXPOINT_MIN_STATE_ROWS,
        "connected_components",
    ).select("node", F.col("label").alias("component"))


def _min_label(edges, labels, n, max_iter, pin, what, part=()):
    """Min-label propagation to fixpoint: every node of ``labels``
    (node, *part, label) repeatedly takes the min of its own label
    and the labels of its ``edges`` (src, node, *part) neighbors, the
    label flowing from ``node`` to ``src`` within one ``part`` key. One
    :func:`frontier.rounds` statement per round — the neighbor-min
    aggregate is the one exchange of a pinned round (GROUP BY over
    the co-partitioned join ∪ own label) and the convergence flag
    ``__chg`` rides the same statement as a layout-preserving
    self-join. min() over ids is order-independent, so the pinned and
    the planner-default (``pin`` false) forms give identical labels."""
    k = "".join(f", {c}" for c in part)
    round_sql = f"""
        SELECT node{k}, m.label, (m.label != l.label) AS __chg
        FROM (
          SELECT node{k}, min(label) AS label
          FROM (
            SELECT e.src AS node{k}, nl.label
            FROM edges e JOIN labels nl USING (node{k})
            UNION ALL
            SELECT node{k}, label FROM labels
          )
          GROUP BY node{k}
        ) m JOIN labels l USING (node{k})
    """
    key = ["node", *part]
    return frontier.rounds(
        labels.sparkSession, n, {"edges": (edges, key)}, (labels, key),
        [("labels", round_sql)], max_iter, flag="__chg", pin=pin, what=what,
    )["labels"]


def connected_components_star(
    pairs: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 25
) -> DataFrame:
    """(node, component) by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — O(log n) rounds instead of min-label propagation's
    O(diameter), the documented upgrade path for long-path graphs at
    scale (SCALE.md). Output contract identical to
    ``connected_components``: component = min reachable node id.

    Each round is two joins + two min-aggregates over the current
    edge set (no per-node neighbor collects — hub skew stays in hash
    aggregates, which partial-aggregate map-side). Convergence = the
    canonical edge set stops changing."""
    edges = _edge_list(pairs, src, dst, False).localCheckpoint(eager=True)
    all_nodes = _node_set(edges).localCheckpoint(eager=True)

    def min_nbr(e):
        # m(u) = min(Γ(u) ∪ {u})
        return (
            e.groupBy("src")
            .agg(F.min("dst").alias("_mn"))
            .select("src", F.least(F.col("src"), F.col("_mn")).alias("m"))
        )

    spark = edges.sparkSession
    n_cur = edges.count()
    # the alternating rounds run in a pinned loop session; the edge
    # set is the loop state, so it is the sizer
    loop, _ = frontier.pinned(spark, n_cur)
    cur = frontier.bind(edges, loop)
    for _ in range(max_iter):
        # large-star: (v, m(u)) for v ∈ Γ(u), v > u
        m = min_nbr(cur)
        large = (
            cur.join(m, on="src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        ls = (
            large.unionAll(m.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
        )
        # lazy: two consumers (m2, small) share the one
        # materialization that rides nxt's count below
        ls = ls.unionAll(
            ls.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates().localCheckpoint(eager=False)
        # small-star: (v, m(u)) for v ∈ Γ(u), v < u — plus (u, m(u))
        m2 = min_nbr(ls)
        small = (
            ls.join(m2, on="src")
            .filter(F.col("dst") < F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        nxt = (
            small.unionAll(m2.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates()
        )
        nxt = nxt.unionAll(
            nxt.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates().localCheckpoint(eager=False)
        # convergence: both frames are deduplicated SETS, so
        # equality ⟺ equal size AND nxt \ cur = ∅. One count (which
        # also materializes the lazy round checkpoint) replaces the
        # two per-round exceptAll probes; the anti-join only runs on
        # the rare round where the sizes actually match.
        n_nxt = nxt.count()
        changed = n_nxt != n_cur or not nxt.join(
            cur, on=["src", "dst"], how="leftanti"
        ).isEmpty()
        cur = nxt
        n_cur = n_nxt
        if not changed:
            break
    else:
        raise frontier.exhausted("connected_components_star", max_iter)
    cur = frontier.bind(cur, spark)
    # at the fixpoint every non-root neighbors its component min
    labels = min_nbr(cur).select(
        F.col("src").alias("node"), F.col("m").alias("component")
    )
    # isolated-after-contraction roots keep themselves
    roots = all_nodes.join(labels.select("node"), on="node", how="leftanti")
    return labels.unionAll(
        roots.select("node", F.col("node").alias("component"))
    )


def shortest_hops(
    pairs: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    max_iter: int = 50,
) -> DataFrame:
    """(node, hops) = unweighted BFS distance from the nearest source
    node. ``sources`` is a one-column DataFrame of node ids. A
    :func:`frontier.reach` loop (semi-naive: total work is O(edges
    reached), not O(edges x diameter)); ``max_iter`` is a round budget
    that raises when it runs out."""
    seeds = sources.select(F.col(sources.columns[0]).alias("node")).dropDuplicates()
    return frontier.reach(
        _hop_edges(pairs, src, dst, directed), seeds, max_iter, what="shortest_hops"
    )[0]


def sssp(
    pairs: DataFrame,
    sources: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    directed: bool = True,
    max_iter: int = 20,
) -> DataFrame:
    """(node, dist) = minimum-cost distance from the nearest source
    node — bounded Bellman-Ford with semi-naive frontiers
    (:func:`frontier.relax`).

    Each round relaxes ONLY edges out of nodes whose distance improved
    last round, and the loop exits early at the fixpoint. ``max_iter``
    is a BOUND, not a budget: after i rounds ``dist`` equals the
    minimum cost over paths of <= i edges, which is what makes the
    operator replayable — an oracle that unrolls i naive rounds
    matches this exactly, converged or not.

    Weights must be non-negative and INTEGRAL: min() over exact longs
    is partition-order-independent, where float path sums can tie
    apart by rounding.
    """
    from pyspark.sql import types as T

    wtype = pairs.schema[weight].dataType
    if not isinstance(
        wtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        # a silent cast('long') would TRUNCATE fractional weights and
        # return wrong shortest paths; pre-scale to integers (e.g.
        # cents) instead
        raise ValueError(
            f"sssp requires integral weights, got {wtype.simpleString()}; "
            "scale fractional weights to integers first"
        )
    e = pairs.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast("long").alias("w"),
        # NULL weight = no usable edge: dropped here, because NULL
        # would win min(struct(dist, ...)) (NULLs sort first) and
        # poison every downstream distance
    ).filter(F.col("w").isNotNull())
    if not directed:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    seeds = sources.select(
        F.col(sources.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).dropDuplicates(["node"])
    return frontier.relax(
        e.localCheckpoint(eager=True), seeds, max_iter, bounded=True, what="sssp"
    )


def pagerank(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    personalize: DataFrame | None = None,
    weight: str | None = None,
) -> DataFrame:
    """(node, rank) after ``n_iter`` synchronous power iterations with
    uniform teleport and dangling-mass redistribution; Σrank = 1 every
    round. Fixed iteration count (not an epsilon test) keeps the
    result deterministic and the loop bounded.

    ``weight`` names an edge-weight column for WEIGHTED PageRank:
    a node's rank splits over its out-edges proportionally to weight
    (w/Σw_out instead of 1/out-degree). Zero/negative-weight edges
    are dropped up front (they carry no mass; a node whose every
    out-edge is dropped becomes dangling). The unweighted path is
    bit-for-bit untouched — its oracle entries replay the exact
    float op order.

    ``personalize``: a one-column frame of seed nodes switches to
    PERSONALIZED PageRank — teleport and dangling mass return to the
    seed set (uniformly over it) instead of all nodes, so rank
    measures proximity to the seeds (the recommender / graph-feature
    workhorse). Seeds absent from the graph are ignored; an empty
    effective seed set raises. The uniform path is bit-for-bit
    unchanged (its oracle entry replays the exact float op order)."""
    spark = pairs.sparkSession
    if weight is None:
        edges = pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    else:
        edges = pairs.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("double").alias("w"),
        ).filter(F.col("w") > 0)
    edges = edges.localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    m = None
    if personalize is not None:
        seeds = (
            personalize.select(
                F.col(personalize.columns[0]).alias("node")
            )
            .dropDuplicates()
            .join(nodes, on="node")
            .localCheckpoint(eager=True)
        )
        m = seeds.count()
        if m == 0:
            raise ValueError("no personalization seed exists in the graph")
    # Pinned rounds: the per-round join key is src on the edge side
    # and node on the state side, so both are laid out ONCE before the
    # loop — per round, the only data shuffle left is the contribution
    # aggregation (map-side partial, ≤|V| rows after it), and the
    # dangling mass rides along as a 1-row scalar subquery, never a
    # driver round-trip. The per-node out-degree is FOLDED INTO the
    # edge frame (one setup join), and the dangling test is a static
    # per-node flag (sdeg NULL = no out-edges) carried in the state.
    # The float expressions are the ones the oracle replays.
    if weight is None:
        out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    else:
        out_deg = edges.groupBy("src").agg(F.sum("w").alias("deg"))
    ew_cols = ["src", "dst", "deg"] + (["w"] if weight is not None else [])
    ew = edges.join(out_deg, on="src").select(*ew_cols)
    state = nodes.join(
        out_deg.withColumnRenamed("src", "node"), on="node", how="left"
    ).withColumnRenamed("deg", "sdeg")
    if personalize is None:
        state = state.select("node", (F.lit(1.0) / n).alias("rank"), "sdeg")
    else:
        state = (
            state.join(
                seeds.select("node", F.lit(1).alias("__s")),
                on="node",
                how="left",
            )
            .withColumn(
                "pref",
                F.when(F.col("__s").isNotNull(), F.lit(1.0 / m))
                .otherwise(F.lit(0.0)),
            )
            .select("node", F.col("pref").alias("rank"), "sdeg", "pref")
        )
    share = "st.rank / e.deg" if weight is None else "st.rank * e.w / e.deg"
    dang = "(SELECT coalesce(sum(rank), 0.0d) FROM state WHERE sdeg IS NULL)"
    if personalize is None:
        rank_expr = (
            f"{(1.0 - damping) / n!r}d + {damping!r}d * {dang} / {float(n)!r}d"
            f" + {damping!r}d * coalesce(c.in_rank, 0.0d)"
        )
        keep = "s.sdeg"
    else:
        rank_expr = (
            f"{1.0 - damping!r}d * s.pref + {damping!r}d * {dang} * s.pref"
            f" + {damping!r}d * coalesce(c.in_rank, 0.0d)"
        )
        keep = "s.sdeg, s.pref"
    round_sql = f"""
        SELECT s.node, {rank_expr} AS rank, {keep}
        FROM state s
        LEFT JOIN (
          SELECT e.dst AS node, sum({share}) AS in_rank
          FROM edges e JOIN state st ON e.src = st.node
          GROUP BY e.dst
        ) c ON s.node = c.node
    """
    state = frontier.rounds(
        spark, n, {"edges": (ew, "src")}, (state, "node"),
        [("state", round_sql)], n_iter,
    )["state"]
    return state.select("node", "rank")


def near_dup_clusters(
    pairs: DataFrame,
    all_ids: DataFrame | None = None,
    a: str = "a",
    b: str = "b",
    small_cap: int | None = 100_000,
) -> DataFrame:
    """(id, cluster) from near-duplicate pairs: connected components
    over the pair graph, so transitively-linked duplicates land in one
    cluster with the minimum member id as its deterministic canonical.
    With ``all_ids`` (one id column), unpaired ids come back as
    singleton clusters — the standard keep-one-per-cluster dedup
    output is then ``filter(id == cluster)``.

    Near-dup pair graphs are sparse relative to the corpus (LSH
    candidate pairs that survived exact verification), so by default
    components run driver-side (union-find) when the pair set fits
    under ``small_cap`` rows — the distributed min-label loop costs
    ~2 jobs × O(diameter) rounds, which dominates on small inputs.
    Past the cap the distributed fixpoint runs; singleton handling is
    a single leftanti join either way."""
    comp = connected_components(
        pairs, src=a, dst=b, small_cap=small_cap
    ).withColumnRenamed(
        "node", "id"
    ).withColumnRenamed("component", "cluster")
    if all_ids is None:
        return comp
    ids = all_ids.select(F.col(all_ids.columns[0]).alias("id")).dropDuplicates()
    singles = ids.join(comp.select("id"), on="id", how="leftanti").select(
        "id", F.col("id").alias("cluster")
    )
    return comp.unionAll(singles)


def triangle_count(
    pairs: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, triangles): how many triangles each node participates in,
    over the undirected simple graph of ``pairs``. The standard
    cohesion signal — on a near-dup pair graph, high counts flag
    template/boilerplate families whose members all match each other.

    Plan: canonical orientation (u < v) makes each triangle countable
    exactly once as u < v < w; two equi-joins build and close wedges
    (no driver loop — this one IS a single Catalyst plan). Skew note:
    wedge counts are Σdeg², so at scale the hot keys are high-degree
    nodes — AQE skew-split handles moderate skew; beyond that the known
    fix is degree-ordered orientation (each edge charged to its
    lower-degree endpoint), not needed at current sizes."""
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    wedge = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("x"), F.col("e1.v").alias("y"), F.col("e2.v").alias("z")
        )
    )
    tri = wedge.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("z")), on=["x", "z"], how="leftsemi"
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def local_clustering(
    pairs: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, triangles, degree, lcc): each node's local clustering
    coefficient over the undirected simple graph — lcc = 2·t /
    (d·(d−1)), the fraction of its neighbor pairs that are themselves
    connected (how clique-like the node's neighborhood is; the
    Watts-Strogatz per-node statistic). Degree < 2 ⇒ 0.0 (the
    NetworkX convention — no neighbor pairs to close).

    Plan: :func:`triangle_count`'s wedge-close joins + one degree
    aggregate + a left join (zero-triangle nodes keep their row).
    The lcc float is ONE division of two small exact integers —
    IEEE-deterministic, so cross-engine oracles compare it directly,
    no bucketing needed. Same Σdeg² wedge-skew note as
    triangle_count."""
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    tri = triangle_count(e, src="u", dst="v")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("degree"))
    )
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            "degree",
            F.when(
                F.col("degree") >= 2,
                F.lit(2.0)
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


_PEEL_HINT = "long chains peel O(n) rounds — raise max_rounds"


def _peel(edges, k, rounds, max_rounds, what):
    """Peel the nodes of degree < k from the symmetric ``edges`` to a
    fixpoint: per round one degree aggregation and two semi-joins.
    ``rounds`` peels are already charged to ``max_rounds``; a round
    that peels nothing is not charged, and a peel past the budget
    raises. Returns ``(edges, deg, rounds)``, ``deg`` the fixpoint's
    (src, __deg) frame."""
    while True:
        # symmetric view: a node's degree is its out-degree here
        deg = edges.groupBy("src").agg(F.count("*").alias("__deg"))
        if deg.filter(F.col("__deg") < k).limit(1).isEmpty():
            return edges, deg, rounds
        if rounds >= max_rounds:
            raise frontier.exhausted(
                what, max_rounds, _PEEL_HINT, "peeling", "max_rounds"
            )
        rounds += 1
        keep = deg.filter(F.col("__deg") >= k).select("src").localCheckpoint(
            eager=True
        )
        edges = (
            edges.join(keep, on="src", how="leftsemi")
            .join(keep.withColumnRenamed("src", "dst"), on="dst", how="leftsemi")
            .localCheckpoint(eager=True)
        )


def kcore(
    pairs: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 100,
) -> DataFrame:
    """(node) rows of the k-core: the maximal subgraph of the
    undirected simple graph of ``pairs`` in which every node has
    degree >= k. The standard noise filter before community/cohesion
    analysis — at pipeline scale it strips the long tail of weakly
    connected documents from a near-dup or citation graph before the
    expensive stages.

    Plan: iterative peel — each round computes current degrees (one
    aggregation) and drops nodes below k (one semi-join on each
    endpoint); converges when a round removes nothing. Rounds equal
    the peeling depth: small on real (power-law) graphs, but O(n) in
    the adversarial chain case (k=2 peels two chain ends per round) —
    the same long-path caveat as min-label components. ``max_rounds``
    is a budget: when it runs out while another round would still
    peel, the call raises (the unpeeled remainder would be a superset
    of the k-core). Lineage truncated per round, convergence tested
    on a one-row probe only."""
    if k < 1:
        raise ValueError("k must be >= 1")
    edges = _edge_list(pairs, src, dst, False).localCheckpoint(eager=True)
    edges = _peel(edges, k, 0, max_rounds, "kcore")[0]
    return edges.select(F.col("src").alias("node")).dropDuplicates()


def core_numbers(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 200,
) -> DataFrame:
    """(node, coreness) for every node of the undirected simple graph
    of ``pairs``: coreness = the largest k such that the node belongs
    to the k-core — the per-node refinement of :func:`kcore` (one
    call yields every core membership at once: ``coreness >= k`` IS
    the k-core). The standard graph-degeneracy profile used to rank
    how deeply embedded a document/account sits in a near-dup or
    interaction graph.

    Algorithm: ascending-threshold peel. At stage k, nodes with
    degree < k peel (to a per-stage fixpoint); EVERY node that
    vanishes during stage k — peeled directly or isolated because
    its last neighbors peeled — has coreness k-1, captured as a set
    difference of the surviving node sets, so no node can fall
    through unassigned. Nodes never appearing in ``pairs`` are not in
    the edge-induced node set and get no row (coreness 0 by
    convention — prepend them with a left join if needed).

    Plan shape per round: one degree aggregation + two semi-joins,
    id-keyed, lineage truncated — identical to :func:`kcore`; total
    rounds = Σ per-stage peel depth, bounded by ``max_rounds`` and
    RAISING on exhaustion (a truncated peel would mislabel every
    remaining node, so silent truncation is not an option). Rounds
    are only charged when something actually peels: once a stage
    reaches its fixpoint, the threshold JUMPS to the surviving
    minimum degree + 1 (every threshold in between peels nothing, so
    a dense region — e.g. a template family forming a near-clique —
    costs O(peel depth) rounds, not O(degeneracy))."""
    edges = _edge_list(pairs, src, dst, False).localCheckpoint(eager=True)
    survivors = (
        edges.select(F.col("src").alias("node"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    out: list[DataFrame] = []
    k = 2
    rounds = 0
    while not edges.limit(1).isEmpty():
        # peel at threshold k to a fixpoint; at the fixpoint the same
        # degree frame yields the min surviving degree — the next
        # threshold with any work to do (the full min aggregate runs
        # once per stage, not once per round)
        edges, deg, rounds = _peel(edges, k, rounds, max_rounds, "core_numbers")
        min_deg = deg.agg(F.min("__deg").alias("m")).first()["m"]
        next_k = (min_deg or k) + 1
        now = (
            edges.select(F.col("src").alias("node"))
            .dropDuplicates()
            .localCheckpoint(eager=True)
        )
        gone = survivors.join(now, on="node", how="leftanti").select(
            "node", F.lit(k - 1).cast("long").alias("coreness")
        )
        out.append(gone.localCheckpoint(eager=True))
        survivors = now
        k = next_k
    acc = out[0] if out else survivors.select(
        "node", F.lit(0).cast("long").alias("coreness")
    ).limit(0)
    for p in out[1:]:
        acc = acc.unionAll(p)
    return acc


def label_propagation(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    weight: str | None = None,
) -> DataFrame:
    """(node, community) by synchronous label propagation over the
    undirected graph: every node starts in its own community (its own
    id); each round it adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — fully
    deterministic, unlike classic asynchronous LPA. ``weight`` names
    an edge-weight column for weighted LPA (each round adopts the
    label with the largest incident WEIGHT sum; edges per
    :func:`_edge_list`). A fixed round
    count keeps the loop bounded (LPA has no convergence guarantee;
    5 rounds is the conventional cut). Known synchronous-LPA caveat
    (GraphFrames documents the same): bipartite/star regions can
    oscillate between two label states instead of settling — use
    ``connected_components`` when the graph is a star forest.

    Plan per round: one join to carry neighbor labels, one
    count-aggregation per (node, label), one max_by tie-broken
    reduction — all shuffles keyed on node id. No arrays are
    collected per node (safe for power-law degrees at scale)."""
    edges = _edge_list(pairs, src, dst, False, weight).localCheckpoint(eager=True)
    # Pinned rounds: edges laid out by dst (the per-round join key)
    # once, labels by node. Per round the whole most-frequent-label
    # step is ONE statement: the (node, label) weight aggregate, a
    # max-over-node window instead of a best-aggregate + re-join, and
    # the tie-break min — two exchanges (to (src, community), then to
    # src).
    nodes = _node_set(edges).localCheckpoint(eager=True)
    round_sql = """
        SELECT node, min(community) AS community
        FROM (
          SELECT src AS node, community, sum(__w) AS __n,
                 max(sum(__w)) OVER (PARTITION BY src) AS __m
          FROM edges e JOIN labels l ON e.dst = l.node
          GROUP BY src, community
        )
        WHERE __n = __m
        GROUP BY node
    """
    return frontier.rounds(
        pairs.sparkSession, nodes.count(), {"edges": (edges, "dst")},
        (nodes.select("node", F.col("node").alias("community")), "node"),
        [("labels", round_sql)], n_iter,
    )["labels"]


def modularity(
    pairs: DataFrame,
    assignment: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> float:
    """Newman modularity Q of a community ``assignment`` (columns
    ``node, community``) over the undirected simple graph of
    ``pairs``: Q = Σ_c (e_c/m − (d_c/2m)²), where e_c counts
    intra-community edges, d_c sums member degrees and m is the edge
    total. ``weight`` names an edge-weight column for the weighted
    form (Newman 2004: weight sums replace the counts). The standard
    quality score for a label-propagation / Louvain clustering
    (Q > ~0.3 reads as real structure) — pass the same ``weight`` you
    gave :func:`louvain` / :func:`label_propagation` so the metric
    scores what the algorithm optimized.

    Plan: two broadcast-sized aggregations (per-community edge and
    degree sums) folded into one driver scalar — the metric is a
    single float, so the final collect is one row."""
    per_c = modularity_table(
        pairs, assignment, src=src, dst=dst, weight=weight
    )
    row = per_c.select(F.sum("contribution").alias("q")).first()
    return float(row["q"] or 0.0)


def modularity_table(
    pairs: DataFrame,
    assignment: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Per-community modularity decomposition: (community, e_c
    intra-community edge count, d_c degree sum, m total edge count,
    q_num, contribution). Summing ``contribution`` =
    e_c/m − (d_c/2m)² gives Newman Q — :func:`modularity` does
    exactly that — and the per-community rows localize WHERE the
    structure (or its absence) lives, which is what one actually
    inspects when a clustering underperforms.

    Unweighted, ``q_num`` = 4·m·e_c − d_c² is the EXACT integer
    numerator of the contribution over the common denominator 4m²
    (contribution = q_num / 4m²) — bit-identical on any engine, so
    cross-engine comparisons should use it rather than the float (a
    1-ulp ``pow`` difference survives rounding at boundary values;
    the float here is computed with plain multiplication for the same
    reason).

    ``weight`` switches to the weighted decomposition (Newman 2004):
    e_c = intra-community weight sum, d_c = strength (weighted
    degree) sum, m = total weight — same column NAMES, double type —
    with the edge convention of :func:`_edge_list` (the one
    :func:`louvain` and :func:`label_propagation` use). The
    exact-integer compare property is unweighted-only; weighted q_num
    is just 4m²·contribution as a float.

    Plan shape: the deduplicated undirected edge list is computed
    once (localCheckpoint) and feeds the edge total m, the
    intra-edge aggregate and the degree aggregate; community sums
    are community-cardinality-sized. Empty graph -> empty frame."""
    if weight is not None:
        return _modularity_table_weighted(pairs, assignment, src, dst, weight)
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    m = e.count()
    asg = assignment.select(
        F.col(assignment.columns[0]).alias("node"),
        F.col(assignment.columns[1]).alias("community"),
    ).dropDuplicates(["node"])
    if m == 0:
        ctype = asg.schema["community"].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            [],
            f"community {ctype}, e_c long, d_c long, m long,"
            " q_num decimal(38,0), contribution double",
        )
    tagged = (
        e.join(asg.withColumnRenamed("node", "u"), on="u")
        .withColumnRenamed("community", "cu")
        .join(asg.withColumnRenamed("node", "v"), on="v")
        .withColumnRenamed("community", "cv")
    )
    intra = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.count("*").alias("e_c"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    dsum = (
        deg.join(asg, on="node")
        .groupBy("community")
        .agg(F.sum("deg").alias("d_c"))
    )
    ec = F.coalesce(F.col("e_c"), F.lit(0)).cast("long")
    dc = F.col("d_c").cast("long")
    # q_num = 4*m*e_c - d_c^2 in decimal(38,0): int64 overflows once
    # m exceeds ~1.5e9 edges (4m^2 > 2^63), which a 100 TB-scale
    # graph reaches routinely; decimal keeps the value EXACT to 38
    # digits (m up to ~1e13 edges), preserving the bit-identical
    # cross-engine compare this column exists for
    q_num = (
        F.lit(4 * m).cast("decimal(19,0)") * ec.cast("decimal(19,0)")
        - dc.cast("decimal(19,0)") * dc.cast("decimal(19,0)")
    ).cast("decimal(38,0)")
    return dsum.join(intra, on="community", how="left").select(
        "community",
        ec.alias("e_c"),
        dc.alias("d_c"),
        F.lit(m).cast("long").alias("m"),
        q_num.alias("q_num"),
        (
            q_num.cast("double")
            / F.lit(4.0 * float(m) * float(m))
        ).alias("contribution"),
    )


def _modularity_table_weighted(
    pairs: DataFrame,
    assignment: DataFrame,
    src: str,
    dst: str,
    weight: str,
) -> DataFrame:
    """Weighted branch of :func:`modularity_table` — same skeleton
    (one pinned edge frame feeding the total, the intra aggregate and
    the strength aggregate) with weight sums in place of counts."""
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
            F.col(weight).cast("double").alias("__w"),
        )
        .filter((F.col("u") != F.col("v")) & (F.col("__w") > 0))
        .groupBy("u", "v")
        .agg(F.sum("__w").alias("__w"))
        .localCheckpoint(eager=True)
    )
    m = float(e.agg(F.sum("__w")).first()[0] or 0.0)
    asg = assignment.select(
        F.col(assignment.columns[0]).alias("node"),
        F.col(assignment.columns[1]).alias("community"),
    ).dropDuplicates(["node"])
    if m == 0.0:
        ctype = asg.schema["community"].dataType.simpleString()
        return e.sparkSession.createDataFrame(
            [],
            f"community {ctype}, e_c double, d_c double, m double,"
            " q_num double, contribution double",
        )
    tagged = (
        e.join(asg.withColumnRenamed("node", "u"), on="u")
        .withColumnRenamed("community", "cu")
        .join(asg.withColumnRenamed("node", "v"), on="v")
        .withColumnRenamed("community", "cv")
    )
    intra = (
        tagged.filter(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("community"))
        .agg(F.sum("__w").alias("e_c"))
    )
    deg = (
        e.select(F.col("u").alias("node"), "__w")
        .unionAll(e.select(F.col("v").alias("node"), "__w"))
        .groupBy("node")
        .agg(F.sum("__w").alias("deg"))
    )
    dsum = (
        deg.join(asg, on="node")
        .groupBy("community")
        .agg(F.sum("deg").alias("d_c"))
    )
    ec = F.coalesce(F.col("e_c"), F.lit(0.0))
    dc = F.col("d_c").cast("double")
    return dsum.join(intra, on="community", how="left").select(
        "community",
        ec.alias("e_c"),
        dc.alias("d_c"),
        F.lit(m).alias("m"),
        (F.lit(4.0 * m) * ec - dc * dc).alias("q_num"),
        (
            (F.lit(4.0 * m) * ec - dc * dc) / F.lit(4.0 * m * m)
        ).alias("contribution"),
    )


def strongly_connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 25,
    max_iter: int = 50,
) -> DataFrame:
    """(node, component) over the DIRECTED graph of ``pairs``:
    component = the minimum node id in the node's strongly connected
    component. The directed sibling of ``connected_components`` —
    cycle detection, dependency condensation, link-graph analysis.

    Algorithm (FW-BW-MIN, the standard distributed SCC): per round,
    compute each node's forward-min f(v) (smallest id among v and its
    ancestors) and backward-min b(v) (smallest id among v and its
    descendants) WITHIN its current partition. Nodes with f = b are
    mutually reachable with that pivot — their SCC is settled and
    removed. SCCs never span different (f, b) classes, so the
    remaining nodes re-partition by the exact (p, f, b) string key and
    iterate. Rounds needed = recursion depth of the partition
    refinement (small on real graphs: every round settles at least
    each partition's pivot SCC); an exhausted ``max_rounds`` raises —
    never a silently under-merged answer.

    Scale shape: every step is an equi-join or a min-aggregate keyed
    on (node, partition); no arrays, no driver-side graph state. The
    partition key is an exact concatenated string (grows one id per
    round, bounded by max_rounds) — exactness over a hashed key's
    2^-64 cross-partition leak."""
    e = _edge_list(pairs, src, dst, True).localCheckpoint(eager=True)
    work_nodes = _node_set(e).select(
        "node", F.lit("r").alias("p")
    ).localCheckpoint(eager=True)
    settled_parts: list = []
    for _ in range(max_rounds):
        node_p = work_nodes
        ep = (
            e.join(node_p.withColumnRenamed("node", "src"), on="src")
            .withColumnRenamed("p", "ps")
            .join(node_p.withColumnRenamed("node", "dst"), on="dst")
            .filter(F.col("ps") == F.col("p"))
            .select("src", "dst", "p")
            .localCheckpoint(eager=True)
        )
        # ONE min-label loop runs both passes, the direction d in the
        # partition key: the forward-min (d = 0) flows along the edges,
        # the backward-min (d = 1) against them. Planner-default rounds
        # at every size (no workload has measured a pinned SCC)
        labels = _min_label(
            ep.select(
                F.col("dst").alias("src"), F.col("src").alias("node"), "p",
                F.lit(0).alias("d"),
            ).unionAll(
                ep.select("src", F.col("dst").alias("node"), "p", F.lit(1).alias("d"))
            ),
            node_p.select(
                "node", "p", F.explode(F.array(F.lit(0), F.lit(1))).alias("d"),
                F.col("node").alias("label"),
            ),
            0, max_iter, False, "strongly_connected_components", ("p", "d"),
        )
        joined = labels.groupBy("node", "p").agg(
            *[
                F.min(F.when(F.col("d") == d, F.col("label"))).alias(c)
                for d, c in ((0, "m"), (1, "mb"))
            ]
        ).localCheckpoint(eager=True)
        settled = joined.filter(F.col("m") == F.col("mb")).select(
            "node", F.col("m").alias("component")
        )
        settled_parts.append(settled.localCheckpoint(eager=True))
        rest = joined.filter(F.col("m") != F.col("mb"))
        if rest.isEmpty():
            return reduce(DataFrame.unionAll, settled_parts)
        work_nodes = rest.select(
            "node",
            F.concat_ws(
                "|", F.col("p"), F.col("m").cast("string"),
                F.col("mb").cast("string"),
            ).alias("p"),
        ).localCheckpoint(eager=True)
    raise frontier.exhausted(
        "strongly_connected_components", max_rounds,
        "each round is one forward + one backward propagation — raise "
        "max_rounds", "refining partitions", "max_rounds",
    )


def closeness_centrality(
    pairs: DataFrame,
    sources: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_iter: int = 50,
    weight: str | None = None,
) -> DataFrame:
    """(node, n_reached, sum_hops, closeness, harmonic) per source
    node: closeness = n_reached / sum_hops over the nodes it reaches
    (0.0 for isolated nodes), harmonic = sum(1/hops) — the variant
    that stays well-defined across disconnected graphs.

    ``weight`` names an edge-weight column for the weighted form:
    distances become minimum path COSTS (per-origin semi-naive
    Bellman-Ford — the :func:`sssp` relaxation keyed by origin) and
    ``sum_hops`` carries the cost sums as doubles under the same
    column names, over the distance-metric edges of
    :func:`_cost_edges`.

    One multi-source BFS keyed by origin: state rows are
    (origin, node, hops), each round joins only the last frontier
    against the edges (semi-naive), so total work is
    O(|sources| x edges reached) — exact closeness over every node is
    quadratic by definition; at scale pass a SAMPLE of nodes as
    ``sources`` (the estimate is unbiased under uniform sampling,
    scale by N/|sources| if an absolute total is needed).
    """
    edges = (
        _hop_edges(pairs, src, dst, directed)
        if weight is None
        else _cost_edges(pairs, src, dst, weight, directed, "double")
    )
    if sources is None:
        sources = _node_set(edges)
    origins = (
        sources.select(F.col(sources.columns[0]).alias("origin"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    seeds = origins.select("origin", F.col("origin").alias("node"))
    if weight is None:
        state = frontier.reach(
            edges, seeds, max_iter, what="closeness_centrality"
        )[0]
    else:
        # rounds needed = the max EDGE COUNT of any minimum-cost path,
        # which can reach V-1 when many cheap hops undercut a direct edge
        state = frontier.relax(
            edges, seeds.withColumn("dist", F.lit(0.0)), max_iter,
            what="closeness_centrality",
        ).withColumnRenamed("dist", "hops")
    return _closeness_from_state(origins, state)


def _hop_edges(pairs, src, dst, directed) -> DataFrame:
    """Pinned unweighted :func:`_edge_list` edges for the hop-count
    metrics. A self-loop never shortens a path; a directed graph keeps
    it, so a node seen only in one still gets its row."""
    return _edge_list(pairs, src, dst, directed, loops=directed).localCheckpoint(
        eager=True
    )


def _cost_edges(pairs, src, dst, weight, directed, dtype) -> DataFrame:
    """Pinned (src, dst, w) edges for a DISTANCE metric: parallel edges
    take the CHEAPEST weight (min — unlike :func:`_edge_list`, where
    parallel weights sum); zero/negative/NULL weights and
    self-loops drop; undirected adds both directions."""
    e = pairs.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(weight).cast(dtype).alias("w"),
    ).filter((F.col("w") > 0) & (F.col("src") != F.col("dst")))
    if not directed:
        e = e.unionAll(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    return e.groupBy("src", "dst").agg(F.min("w").alias("w")).localCheckpoint(
        eager=True
    )


def _endpoints_and_origins(edges: DataFrame, sources: DataFrame | None):
    """Pinned distinct edge endpoints ``(node)`` and pinned distinct
    origins ``(origin)``: ``sources``' first column, or every
    endpoint."""
    all_nodes = _node_set(edges).localCheckpoint(eager=True)
    origins = (
        all_nodes.select(F.col("node").alias("origin"))
        if sources is None
        else sources.select(F.col(sources.columns[0]).alias("origin")).dropDuplicates()
    ).localCheckpoint(eager=True)
    return all_nodes, origins


def _closeness_from_state(origins: DataFrame, state: DataFrame) -> DataFrame:
    """Fold (origin, node, hops) distance state into the closeness
    output frame — shared by the BFS (long hops) and weighted
    Bellman-Ford (double costs) branches."""
    per = (
        state.filter(F.col("hops") > 0)
        .groupBy("origin")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.sum("hops").alias("sum_hops"),
            F.sum(F.lit(1.0) / F.col("hops")).alias("harmonic"),
        )
    )
    return (
        origins.join(per, on="origin", how="left")
        .select(
            F.col("origin").alias("node"),
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
            F.coalesce("sum_hops", F.lit(0)).alias("sum_hops"),
            F.when(
                F.coalesce("sum_hops", F.lit(0)) > 0,
                F.col("n_reached") / F.col("sum_hops"),
            ).otherwise(F.lit(0.0)).alias("closeness"),
            F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"),
        )
    )


def _dag_rank(state: DataFrame) -> DataFrame:
    """dense_rank(dist) - 1 per origin over settled (origin, node,
    dist) rows — the shortest-path DAG's topological layering in ONE
    window shuffle, partitioned by origin (never SinglePartition;
    pinned by tests/test_plan_shape.py)."""
    return state.withColumn(
        "rk",
        F.dense_rank().over(
            Window.partitionBy("origin").orderBy(F.col("dist"))
        )
        - 1,
    )


def _betweenness_weighted(
    pairs: DataFrame,
    sources: DataFrame | None,
    src: str,
    dst: str,
    directed: bool,
    max_iter: int,
    weight: str,
) -> DataFrame:
    """Weighted Brandes (positive INTEGRAL weights — the sssp guard:
    the shortest-path-DAG membership test is the exact equality
    ``dist(u) + w == dist(v)``, which only never-misses when every
    distance is an exact long; pre-scale fractional weights to
    integers, e.g. cents). Edges per :func:`_cost_edges`, as in
    weighted closeness.

    Shape: (1) per-origin semi-naive Bellman-Ford settles
    dist(origin, node) — the sssp relaxation keyed by origin;
    (2) ONE dense_rank window per origin turns distances into a
    topological layering of the shortest-path DAG (every DAG
    predecessor has a strictly smaller distance, hence a smaller
    rank — no iterative level computation needed); (3) forward sigma
    accumulates per rank level over the explicit DAG edges (Brandes'
    counting); (4) the backward dependency pass descends the ranks,
    joining each level's DAG out-edges against the ACCUMULATED
    settled suffix (a weighted DAG successor may sit any number of
    ranks above, not exactly one as in BFS). Every shuffle is keyed
    on (origin, node); per-round frames are localCheckpoint-pinned.
    Exact all-sources betweenness is O(V x E) by definition — at
    scale pass a SAMPLE of nodes as ``sources`` (Brandes-Pich)."""
    from pyspark.sql import types as T

    wtype = pairs.schema[weight].dataType
    if not isinstance(
        wtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        raise ValueError(
            "betweenness_centrality(weight=...) requires integral "
            f"weights, got {wtype.simpleString()}; the shortest-path "
            "DAG test dist(u) + w == dist(v) needs exact arithmetic — "
            "scale fractional weights to integers first"
        )
    edges = _cost_edges(pairs, src, dst, weight, directed, "long")
    all_nodes, origins = _endpoints_and_origins(edges, sources)
    # -- (1) Bellman-Ford: settle dist(origin, node), semi-naive ------
    state = frontier.relax(
        edges,
        origins.select(
            "origin",
            F.col("origin").alias("node"),
            F.lit(0).cast("long").alias("dist"),
        ),
        max_iter,
        what="betweenness_centrality",
        hint="a truncated Bellman-Ford would corrupt the shortest-path "
        "DAG; raise max_iter (rounds needed = the max EDGE COUNT of any "
        "minimum-cost path)",
    )
    # -- (2) rank = dense_rank(dist) per origin: a topological
    #    layering of the DAG in one window shuffle (partitioned by
    #    origin — never SinglePartition; plan-pinned on _dag_rank)
    ranked = _dag_rank(state).localCheckpoint(eager=True)
    max_rank = ranked.agg(F.max("rk")).first()[0] or 0
    # explicit shortest-path DAG: u -> v iff dist(u) + w == dist(v)
    dag = (
        ranked.select("origin", F.col("node").alias("src"), "dist")
        .join(edges, on="src")
        .join(
            ranked.select(
                "origin",
                F.col("node").alias("dst"),
                F.col("dist").alias("__dd"),
                F.col("rk").alias("__rkd"),
            ),
            on=["origin", "dst"],
        )
        .filter(F.col("dist") + F.col("w") == F.col("__dd"))
        .select("origin", "src", "dst", F.col("__rkd").alias("rk_dst"))
        .localCheckpoint(eager=True)
    )
    # -- (3) forward sigma, rank level by rank level -------------------
    levels: list[DataFrame] = [
        ranked.filter(F.col("rk") == 0).select(
            "origin", "node", F.lit(1).cast("double").alias("sigma")
        ).localCheckpoint(eager=True)
    ]
    settled = levels[0]
    for r in range(1, max_rank + 1):
        nxt = (
            dag.filter(F.col("rk_dst") == r)
            .join(
                settled.select(
                    "origin", F.col("node").alias("src"), "sigma"
                ),
                on=["origin", "src"],
            )
            .groupBy("origin", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        settled = settled.unionAll(nxt)
    # -- (4) backward dependencies, descending ranks -------------------
    upper = levels[max_rank].withColumn("delta", F.lit(0.0))
    parts = [upper]
    upperall = upper
    for r in range(max_rank - 1, -1, -1):
        cur = levels[r]
        contrib = (
            cur.select("origin", F.col("node").alias("src"), "sigma")
            .join(dag.select("origin", "src", "dst"), on=["origin", "src"])
            .join(
                upperall.select(
                    "origin",
                    F.col("node").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                on=["origin", "dst"],
            )
            .groupBy("origin", F.col("src").alias("node"))
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("sigma_w"))
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("acc")
            )
        )
        done = (
            cur.join(contrib, on=["origin", "node"], how="left")
            .withColumn("delta", F.coalesce("acc", F.lit(0.0)))
            .drop("acc")
            .localCheckpoint(eager=True)
        )
        parts.append(done)
        upperall = upperall.unionAll(done)
    per_node = (
        reduce(DataFrame.unionAll, parts)
        .filter(F.col("node") != F.col("origin"))
        .groupBy("node")
        .agg(F.sum("delta").alias("betweenness"))
    )
    scale = F.col("betweenness") / 2 if not directed else F.col("betweenness")
    return all_nodes.join(per_node, on="node", how="left").select(
        "node",
        F.coalesce(scale, F.lit(0.0)).alias("betweenness"),
    )


def betweenness_centrality(
    pairs: DataFrame,
    sources: DataFrame | None = None,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    max_iter: int = 50,
    weight: str | None = None,
) -> DataFrame:
    """(node, betweenness) — Brandes' algorithm as DataFrame rounds.

    ``weight`` names an edge-weight column for the weighted form
    (positive integral weights; see :func:`_betweenness_weighted`).

    Forward: a multi-source BFS keyed by origin settles each node's
    level and shortest-path count sigma (sigma sums over the level-k
    predecessors when level k+1 settles — exactly Brandes' counting).
    Backward: dependencies accumulate level by level, deepest first:
    delta(v) = sum over successors w of sigma(v)/sigma(w)*(1+delta(w));
    betweenness(v) = sum of delta(v) over all origins, halved for
    undirected graphs (each path is seen from both ends).

    Exact betweenness from every source is O(V x E) by definition —
    the classic result; at scale pass a SAMPLE of nodes as
    ``sources`` (Brandes-Pich estimation: scale by N/|sources|).
    Rounds = 2 x BFS depth; each round is bounded equi-joins with
    per-round ``localCheckpoint`` lineage truncation.
    """
    if weight is not None:
        return _betweenness_weighted(
            pairs, sources, src, dst, directed, max_iter, weight
        )
    edges = _hop_edges(pairs, src, dst, directed)
    all_nodes, origins = _endpoints_and_origins(edges, sources)
    # both passes run in a pinned loop session (per-level checkpoints
    # keep their hash layout; exchanges stop materializing one job
    # each) — the settled state is at most |origins| x |nodes| rows,
    # the honest upper bound for the layout sizer. The edge frame is
    # laid out by src ONCE (both passes join on src), never per level.
    spark = edges.sparkSession
    loop, n_parts = frontier.pinned(spark, origins.count() * all_nodes.count())
    edges = (
        frontier.bind(edges, loop)
        .repartition(n_parts, "src")
        .localCheckpoint(eager=True)
    )
    all_nodes = frontier.bind(all_nodes, loop)
    origins = frontier.bind(origins, loop)
    # -- forward: settle (origin, node) -> (hops, sigma), level by level
    levels = frontier.reach(
        edges,
        origins.select(
            "origin",
            F.col("origin").alias("node"),
            F.lit(1).cast("double").alias("sigma"),
        ),
        max_iter,
        what="betweenness_centrality",
    )[1]
    depth = len(levels) - 1
    # -- backward: each (origin, node)'s delta is a function of the
    # level ABOVE it only, so it is computed exactly once — process
    # one level frame at a time (per-round work ∝ that level's size,
    # never the whole state: the shape that survives deep graphs);
    # the per-level frames are already in hand from the forward pass
    upper = levels[depth].withColumn("delta", F.lit(0.0))
    parts = [upper]
    for lvl in range(depth - 1, -1, -1):
        cur = levels[lvl]
        contrib = (
            cur.select("origin", F.col("node").alias("src"), "sigma")
            .join(edges, on="src")
            .join(
                upper.select(
                    "origin",
                    F.col("node").alias("dst"),
                    F.col("sigma").alias("sigma_w"),
                    F.col("delta").alias("delta_w"),
                ),
                on=["origin", "dst"],
            )
            .groupBy("origin", F.col("src").alias("node"))
            .agg(
                F.sum(
                    (F.col("sigma") / F.col("sigma_w"))
                    * (F.lit(1.0) + F.col("delta_w"))
                ).alias("acc")
            )
        )
        upper = (
            cur.join(contrib, on=["origin", "node"], how="left")
            .withColumn("delta", F.coalesce("acc", F.lit(0.0)))
            .drop("acc")
            .localCheckpoint(eager=False)
        )
        parts.append(upper)
    per_node = (
        reduce(DataFrame.unionAll, parts)
        .filter(F.col("node") != F.col("origin"))
        .groupBy("node")
        .agg(F.sum("delta").alias("betweenness"))
    )
    scale = F.col("betweenness") / 2 if not directed else F.col("betweenness")
    return frontier.bind(
        all_nodes.join(per_node, on="node", how="left").select(
            "node", F.coalesce(scale, F.lit(0.0)).alias("betweenness")
        ),
        spark,
    )


def node_similarity(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = False,
    threshold: float = 0.0,
    max_degree: int | None = None,
) -> DataFrame:
    """(a, b, n_common, jaccard) for node pairs sharing at least one
    neighbor, a < b: jaccard = |N(a) & N(b)| / |N(a) | N(b)| over
    (out-)neighbor sets.

    Scale shape: candidates come only from the common-neighbor
    equi-join (never all pairs); a neighbor of degree d contributes
    d*(d-1)/2 candidate pairs, so hot hubs dominate — ``max_degree``
    drops neighbors above the cap from candidate GENERATION only
    (pairs whose every common neighbor is a hub are lost — the
    standard mitigation); surviving candidates are then re-counted
    against the FULL neighbor set (the bucketed-candidates +
    exact-verify shape used across this repo), so every emitted
    (n_common, jaccard) is exact."""
    nbrs = (
        _edge_list(pairs, src, dst, directed, loops=directed)
        .select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .localCheckpoint(eager=True)
    )
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # r13: same single-task wedge-expansion hazard as
    # link_prediction — spread the (materialized, so the partition
    # probe is free) neighbor table up to the core count before the
    # self-join; no-op at corpus scale.
    gen = nbrs
    if nbrs.rdd.getNumPartitions() < (cores := pairs.sparkSession.sparkContext.defaultParallelism):
        gen = gen.repartition(cores)
    if max_degree is not None:
        nbr_deg = nbrs.groupBy("nbr").agg(F.count(F.lit(1)).alias("nd"))
        gen = nbrs.join(
            nbr_deg.filter(F.col("nd") <= max_degree).select("nbr"),
            on="nbr",
            how="leftsemi",
        )
    common = (
        gen.select(F.col("node").alias("a"), "nbr")
        .join(gen.select(F.col("node").alias("b"), "nbr"), on="nbr")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    if max_degree is not None:
        # exact-verify: re-count common neighbors of the surviving
        # candidates over the uncapped neighbor set
        common = (
            common.select("a", "b")
            .join(nbrs.select(F.col("node").alias("a"), "nbr"), on="a")
            .join(
                nbrs.select(F.col("node").alias("b"), "nbr"),
                on=["b", "nbr"],
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return (
        common.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), on="a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), on="b")
        .select(
            "a",
            "b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("da") + F.col("db") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
    )


def _pin(df: DataFrame) -> DataFrame:
    """Materialize an iterative-loop state frame with BOTH plan
    truncation and sane statistics: persist -> count -> localCheckpoint
    -> unpersist. Each half matters for a loop whose round r+1 plan
    references round r's frame several times:

    - WITHOUT the checkpoint, the analyzed logical tree multiplies
      per round (k references x r rounds = k^r nodes) until plan
      strings alone OOM the driver (observed: AdaptiveSparkPlanExec
      explainString at 8g heap).
    - WITHOUT the cache hop, localCheckpoint copies the PLAN's stats
      onto the LogicalRDD, and join-stats are BigInt PRODUCTS of the
      children — round r+1's checkpoint stats are round r's raised to
      the #joins power, and by round ~8 the optimizer spends minutes
      in Toom-Cook BigInteger multiplies (jstack-verified under
      LogicalRDD.rewriteStatsAndConstraints).

    Checkpointing THROUGH InMemoryRelation truncates the lineage AND
    stamps the real cached byte count as the stats — small and
    non-compounding."""
    cached = df.persist()
    cached.count()
    out = cached.localCheckpoint(eager=True)
    cached.unpersist()
    return out


def _louvain_moves(
    edges: DataFrame, labels: DataFrame, two_m: float, n_rounds: int
) -> DataFrame:
    """The Louvain local-move phase, synchronous and deterministic:
    each round every node considers its neighbor communities (plus
    its own) and takes the one maximizing the modularity gain
    proxy k_u(c) − deg_u·tot(c)/2m (Blondel et al. 2008 eq. 2 with
    the constant terms dropped), ties broken by the SMALLEST
    community id; a node moves only on strictly positive advantage
    over staying. Two guards break the synchronous-swap cycles that
    plague parallel Louvain (adjacent nodes trading communities
    forever): the MINIMUM-LABEL rule (Lu, Halappanavar &
    Kalyanaraman 2015 — a singleton may move to another singleton
    only toward the smaller community id, so the lower-id one waits
    and absorbs) and TWO-CLASS alternation (each round only the
    md5-parity half of the nodes is move-eligible — the
    graph-coloring trick at its cheapest, deterministic under any
    partitioning AND replayable by any engine with md5, which is
    what lets the DuckDB oracle unroll the rounds). Residual cycles on adversarial symmetric
    structures are bounded by ``n_rounds`` (the caveat
    label_propagation also documents); convergence = two consecutive
    quiet rounds (one per class). ``edges`` is the symmetric
    weighted edge list (src, dst, w); ``labels`` is
    (node, community).

    Plan per round: degree/tot aggregates (community-cardinality-
    sized, broadcast-friendly), one join to tag neighbor communities,
    one (node, community) weight aggregate, one max_by reduction —
    every shuffle keyed on node id, no per-node arrays."""
    # degree INCLUDES self-loop weight (a contracted supernode's
    # degree is the sum of its members' degrees — that is exactly the
    # doubled internal weight the symmetric list folds into its self
    # edge); k_u(c) EXCLUDES self-edges (a node's own loop moves with
    # it, contributing identically to Q wherever it sits, so counting
    # it on the stay side would bias every supernode toward staying)
    from pidb_rdf_spark.operators.hashing import md5_prefix_long

    labels = _pin(labels)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.sum("w").alias("deg")
    ).localCheckpoint(eager=True)
    # the only per-round consumer of ext joins it on dst, so lay it
    # out by dst ONCE before the rounds (in the loop session the
    # shuffle partitions match, so the per-round k_uc join reuses this
    # layout with no new exchange)
    n_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    ext = (
        edges.filter(F.col("src") != F.col("dst"))
        .repartition(n_parts, "dst")
        .localCheckpoint(eager=True)
    )
    quiet = 0
    for r in range(n_rounds):
        tot = (
            labels.join(deg, on="node")
            .groupBy("community")
            .agg(F.sum("deg").alias("tot"), F.count("*").alias("csize"))
        )
        # weight from u into each neighbor community c: k_u(c)
        k_uc = (
            ext.join(
                labels.withColumnRenamed("node", "dst").withColumnRenamed(
                    "community", "c"
                ),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"), "c")
            .agg(F.sum("w").alias("k"))
        )
        # guarantee a row for the CURRENT community (k=0 when u has no
        # direct edge into it) so the stay-gain baseline always exists
        # and the move test compares true gains, never a 0.0 stand-in
        k_uc = (
            k_uc.unionByName(
                labels.select(
                    "node",
                    F.col("community").alias("c"),
                    F.lit(0.0).alias("k"),
                )
            )
            .groupBy("node", "c")
            .agg(F.max("k").alias("k"))
        )
        # candidate gain of joining c (tot excludes u when u in c, so
        # subtract u's own degree from its current community's total)
        cand = (
            k_uc.join(labels, on="node")
            .join(deg, on="node")
            .join(
                tot.select(
                    F.col("community").alias("c"),
                    "tot",
                    F.col("csize").alias("tsize"),
                ),
                on="c",
            )
            .join(
                tot.select("community", F.col("csize").alias("cursize")),
                on="community",
            )
            .select(
                "node",
                "c",
                (
                    F.col("k")
                    - F.col("deg")
                    * (
                        F.col("tot")
                        - F.when(
                            F.col("c") == F.col("community"), F.col("deg")
                        ).otherwise(F.lit(0.0))
                    )
                    / F.lit(two_m)
                ).alias("gain"),
                (F.col("c") == F.col("community")).alias("is_cur"),
                # minimum-label anti-swap rule: a singleton may move to
                # another singleton only toward the SMALLER id
                (
                    (F.col("c") == F.col("community"))
                    | (F.col("cursize") > 1)
                    | (F.col("tsize") > 1)
                    | (F.col("c") < F.col("community"))
                ).alias("allowed"),
            )
        )
        # stay unless some ALLOWED community strictly beats the
        # current one; ties among improvers break to the smallest id
        # argmax by (gain desc, c asc): min_by over (-gain, c) keeps
        # the smallest-id tie-break working for ANY orderable id type
        # (negating c itself would crash on string community ids)
        best = (
            cand.filter(F.col("allowed"))
            .groupBy("node")
            .agg(
                F.min_by(
                    F.struct(F.col("gain"), F.col("c")),
                    F.struct((-F.col("gain")).alias("__ng"), F.col("c")),
                ).alias("b"),
                F.max(
                    F.when(F.col("is_cur"), F.col("gain"))
                ).alias("cur_gain"),
            )
            .select(
                "node",
                F.when(
                    (
                        F.col("b.gain")
                        > F.coalesce(F.col("cur_gain"), F.lit(0.0))
                    )
                    & (
                        # alternation class = md5 parity (the cross-
                        # engine-replayable hash idiom, operators/
                        # hashing.py): any engine with md5 replays
                        # the class split exactly, which is what lets
                        # the DuckDB oracle unroll the rounds
                        F.pmod(md5_prefix_long(F.col("node"), 4), F.lit(2))
                        == F.lit(r % 2)
                    ),
                    F.col("b.c"),
                ).alias("moved"),
            )
        )
        # pin the JOINED frame (still carrying the moved flag): the
        # settled probe then reads the materialized checkpoint with a
        # cheap filter instead of re-joining new vs old labels per
        # round (one fewer per-round job; `moved` is non-null
        # exactly when the node changed community, since the argmax
        # requires a STRICT improvement over the current community)
        joined = _pin(labels.join(best, on="node", how="left"))
        settled = joined.filter(F.col("moved").isNotNull()).isEmpty()
        labels = joined.select(
            "node",
            F.coalesce(F.col("moved"), F.col("community")).alias(
                "community"
            ),
        )
        if settled:
            quiet += 1
            if quiet >= 2:  # both alternation classes settled
                break
        else:
            quiet = 0
    return labels


def louvain(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    levels: int = 2,
    n_rounds: int = 10,
    weight: str | None = None,
) -> DataFrame:
    """(node, community) by Louvain-style modularity optimization
    (Blondel et al. 2008), deterministic. ``weight`` names an edge
    weight column for the weighted form (edges per
    :func:`_edge_list`; without it the simple unweighted graph is
    used): ``levels`` passes of the
    synchronous local-move phase (:func:`_louvain_moves` —
    modularity-gain argmax per node, smallest-id tie-break, bounded
    rounds, move only on strict improvement) each followed by graph
    COARSENING (communities contract to super-nodes, parallel edge
    weights sum, self-loops kept so supernode degrees equal their
    members' degree sums — the standard Louvain contraction). The one
    documented deviation from the sequential original: moves are
    synchronous with the two anti-swap guards (see
    :func:`_louvain_moves`) — the distributed-Louvain norm, since
    sequential sweeps don't parallelize. Quality is pinned in tests
    via :func:`modularity` on the ORIGINAL graph. Community ids are
    canonical min member ids, so output is
    partitioning-independent.

    Scale shape: each level's graph is community-cardinality-sized —
    the classic Louvain contraction that makes level 2+ nearly free;
    all shuffles are keyed on node/community ids, the assignment
    mapping back through levels is one hash join per level. Fixed
    bounds everywhere (synchronous moves have no convergence
    guarantee; the early-exit fires when a round moves nothing)."""
    e = _edge_list(pairs, src, dst, False, weight).withColumnRenamed("__w", "w")
    e = e.localCheckpoint(eager=True)
    if e.isEmpty():
        # typed empty frame: node/community carry the INPUT id type
        # (string doc ids are first-class here, as in the LPA family)
        return e.select(
            F.col("src").alias("node"), F.col("src").alias("community")
        ).limit(0)
    return _louvain_levels(e, levels, n_rounds)


def _louvain_levels(e: DataFrame, levels: int, n_rounds: int) -> DataFrame:
    """The level loop of :func:`louvain`, run in a pinned loop session
    (:func:`frontier.pinned`): the ~8-exchange round body does not
    materialize one job per exchange, round r+1 reuses round r's
    checkpointed hash layout, and no round builds a broadcast."""
    spark = e.sparkSession
    two_m = float(
        e.agg(F.sum("w").alias("s")).first()["s"]
    )  # symmetric list already counts each edge twice
    nodes = e.select(F.col("src").alias("node")).dropDuplicates()
    assign = nodes.select(
        "node", F.col("node").alias("community")
    ).localCheckpoint(eager=True)
    loop, _ = frontier.pinned(spark, assign.count())
    e = frontier.bind(e, loop)
    assign = frontier.bind(assign, loop)
    for _ in range(levels):
        moved = _louvain_moves(
            e, assign.select(F.col("community").alias("node")).dropDuplicates()
            .select("node", F.col("node").alias("community")),
            two_m,
            n_rounds,
        )
        # canonicalize community ids to the min super-node member
        canon = moved.groupBy("community").agg(F.min("node").alias("__c"))
        lab = moved.join(canon, on="community").select(
            "node", F.col("__c").alias("community")
        )
        # map the full assignment through this level's result
        assign = (
            assign.join(
                lab.select(
                    F.col("node").alias("community"),
                    F.col("community").alias("__new"),
                ),
                on="community",
            )
            .select("node", F.col("__new").alias("community"))
            .localCheckpoint(eager=True)
        )
        # coarsen: contract communities, sum parallel weights. Self
        # loops are KEPT — the symmetric list counts every internal
        # edge twice, so the self-loop carries exactly the doubled
        # internal weight that makes a supernode's degree equal the
        # sum of its members' degrees (without it, level-2 gains are
        # computed against starved degrees and distinct communities
        # spuriously merge — the resolution contract the ring-of-
        # cliques test pins)
        contracted = (
            e.join(
                lab.select(
                    F.col("node").alias("src"), F.col("community").alias("cs")
                ),
                on="src",
            )
            .join(
                lab.select(
                    F.col("node").alias("dst"), F.col("community").alias("cd")
                ),
                on="dst",
            )
            .groupBy(F.col("cs").alias("src"), F.col("cd").alias("dst"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
        # converged when no inter-community edges remain to optimize
        if contracted.filter(F.col("src") != F.col("dst")).isEmpty():
            break
        e = contracted
    return frontier.bind(assign, spark)


def link_prediction(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    exclude_existing: bool = True,
    max_degree: int | None = None,
) -> DataFrame:
    """Classic link-prediction scores for candidate node pairs of the
    undirected simple graph of ``pairs`` (a < b, at least one common
    neighbor): ``n_common`` (common-neighbors count),
    ``pref_attachment`` = deg(a)·deg(b) (both exact integers),
    ``adamic_adar`` = Σ_z 1/ln(deg(z)) and ``resource_alloc`` =
    Σ_z 1/deg(z) over common neighbors z — the standard
    neighborhood-based predictors (Liben-Nowell & Kleinberg 2003).
    ``exclude_existing`` keeps only NON-adjacent pairs (the actual
    prediction targets).

    Scale shape: candidates come from the common-neighbor wedge join
    only (the :func:`node_similarity` shape — never all pairs); the
    per-z scores join z's degree BEFORE aggregation, so one
    vocabulary-sized join + one candidate-keyed aggregate.
    ``max_degree`` caps hub explosion in candidate generation (pairs
    connected only through hotter hubs are dropped — documented
    recall trade, same as node_similarity); every common neighbor z
    has deg(z) >= 2 by construction, so 1/ln(deg) is finite. The
    integer scores are engine-exact; the float sums are
    order-sensitive (use the ints for cross-engine comparison)."""
    nbrs = _edge_list(pairs, src, dst, False).select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    ).localCheckpoint(eager=True)
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    # r13: the wedge self-join below BROADCASTS one side, so its
    # explosive output (Σ deg(z)² rows) is produced on the stream
    # side's partitioning — on a small/AQE-coalesced input that was
    # ONE task doing the entire wedge expansion + partial aggregate
    # (measured sf0.1: a 5.5 s single-task stage in a 5.8 s query).
    # The checkpoint above is materialized, so its partition count is
    # a free metadata read (probing BEFORE the checkpoint would
    # execute the whole upstream plan a second time — measured
    # regression); when the count is sub-core the stream side gets an
    # explicit round-robin spread, which also evens out hot-hub rows
    # (guide §2.5/§2.6). No-op at corpus scale.
    gen = nbrs
    if nbrs.rdd.getNumPartitions() < (cores := pairs.sparkSession.sparkContext.defaultParallelism):
        gen = gen.repartition(cores)
    if max_degree is not None:
        nbr_deg = nbrs.groupBy("nbr").agg(F.count(F.lit(1)).alias("nd"))
        gen = nbrs.join(
            nbr_deg.filter(F.col("nd") <= max_degree).select("nbr"),
            on="nbr",
            how="leftsemi",
        )
    wedges = (
        gen.select(F.col("node").alias("a"), "nbr")
        .join(gen.select(F.col("node").alias("b"), "nbr"), on="nbr")
        .filter(F.col("a") < F.col("b"))
        .join(
            deg.select(F.col("node").alias("nbr"), F.col("deg").alias("zd")),
            on="nbr",
        )
    )
    scores = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common"),
        F.sum(F.lit(1.0) / F.log(F.col("zd"))).alias("adamic_adar"),
        F.sum(F.lit(1.0) / F.col("zd")).alias("resource_alloc"),
    )
    if exclude_existing:
        existing = nbrs.select(
            F.col("node").alias("a"), F.col("nbr").alias("b")
        )
        scores = scores.join(existing, on=["a", "b"], how="leftanti")
    return (
        scores.join(
            deg.select(F.col("node").alias("a"), F.col("deg").alias("da")),
            on="a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("deg").alias("db")),
            on="b",
        )
        .select(
            "a",
            "b",
            "n_common",
            (F.col("da") * F.col("db")).alias("pref_attachment"),
            "adamic_adar",
            "resource_alloc",
        )
    )


def degree_assortativity(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One-row (n_edges, assortativity): Newman's degree
    assortativity coefficient — the Pearson correlation of endpoint
    degrees over the DIRECTED-pair expansion of the undirected simple
    graph (each edge contributes both (deg_u, deg_v) and
    (deg_v, deg_u), the standard symmetric convention, so r is
    exchange-invariant). r > 0 = hubs attach to hubs (social-network
    shape), r < 0 = hubs attach to leaves (star/dependency shape) —
    the one-number profile that tells you whether hub-cap mitigations
    (max_degree in node_similarity / link_prediction) will bite.

    Plan: one degree aggregate + two id-keyed joins + one 1-row
    correlation aggregate (map-side combinable). Returns NULL
    assortativity when degrees have zero variance (a regular graph —
    undefined, mirroring the corr() convention)."""
    e = (
        pairs.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("double").alias("deg"))
    )
    both = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    scored = (
        both.join(deg.withColumnsRenamed({"node": "u", "deg": "du"}), on="u")
        .join(deg.withColumnsRenamed({"node": "v", "deg": "dv"}), on="v")
    )
    # corr() under ANSI throws DIVIDE_BY_ZERO on zero variance; build
    # the Pearson ratio from pop moments with an explicit guard (the
    # n factors cancel, so this equals corr where corr is defined)
    agg = scored.agg(
        (F.count("*") / 2).cast("long").alias("n_edges"),
        F.covar_pop("du", "dv").alias("__cov"),
        F.stddev_pop("du").alias("__su"),
        F.stddev_pop("dv").alias("__sv"),
    )
    return agg.select(
        "n_edges",
        F.when(
            (F.col("__su") > 0) & (F.col("__sv") > 0),
            F.col("__cov") / (F.col("__su") * F.col("__sv")),
        ).alias("assortativity"),
    )


def eigenvector_centrality(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 20,
    directed: bool = False,
    weight: str | None = None,
) -> DataFrame:
    """(node, score) — eigenvector centrality by synchronous power
    iteration with L2 normalization each round (the textbook/GDS
    formulation: score ∝ the sum of in-neighbors' scores, so a node
    is central when its neighbors are). Fixed ``n_iter`` rounds keep
    the loop bounded and SQL-replayable; on a connected non-bipartite
    graph 20 rounds is well past visual convergence (pin exact values
    against a dense twin, as the tests do, rather than assuming a
    fixpoint). ``weight`` scales each propagated score by the edge
    weight (edges per :func:`_edge_list`, self-loops kept).

    Plan shape per round — identical to one :func:`hits` half-step:
    one equi-join of the score vector against the edge list + one
    sum-aggregate keyed on the receiving node (map-side partial), and
    the L2 norm folds back as a one-row broadcast cross join, no
    driver round-trip. State is |V| doubles, checkpointed per round.
    Nodes with no in-edges decay to 0 (the standard behavior — use
    :func:`pagerank` when teleport mass is wanted)."""
    edges = _edge_list(pairs, src, dst, directed, weight, loops=True)
    edges = edges.localCheckpoint(eager=True)
    nodes = _node_set(edges).localCheckpoint(eager=True)
    # Pinned rounds: edges laid out by src (the per-round join key)
    # once; each round is the one contribution shuffle plus a 1-row
    # L2-norm scalar subquery.
    nrm = "(SELECT sqrt(sum(score * score)) FROM raw)"
    round_sql = f"""
        WITH raw AS (
          SELECT e.dst AS node, sum(e.__w * st.score) AS score
          FROM edges e JOIN score st ON e.src = st.node
          GROUP BY e.dst
        )
        SELECT node,
               CASE WHEN {nrm} > 0 THEN score / {nrm}
                    ELSE 0.0d END AS score
        FROM raw
    """
    score = frontier.rounds(
        pairs.sparkSession, nodes.count(), {"edges": (edges, "src")},
        (nodes.select("node", F.lit(1.0).alias("score")), "node"),
        [("score", round_sql)], n_iter,
    )["score"]
    return nodes.join(score, on="node", how="left").select(
        "node", F.coalesce("score", F.lit(0.0)).alias("score")
    )


def hits(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    weight: str | None = None,
) -> DataFrame:
    """(node, hub, authority) — Kleinberg's HITS, synchronous power
    iterations with L2 normalization each half-step (the textbook
    formulation, so an unrolled SQL oracle can replay it).
    ``weight`` names an edge-weight column for the weighted form
    (each propagated score multiplies by w; edges per
    :func:`_edge_list`, self-loops kept).

    Per iteration: authority = normalize(A^T h) is one equi-join +
    one aggregation; hub = normalize(A a) the same; each L2 norm is
    a one-row aggregate folded back as a broadcast cross join (the
    PageRank dangling-mass shape — no driver round-trip). State is
    2 x |V| doubles, checkpointed per round."""
    edges = _edge_list(pairs, src, dst, True, weight, loops=True)
    edges = edges.localCheckpoint(eager=True)
    nodes = _node_set(edges).localCheckpoint(eager=True)

    # Pinned rounds: the two half-steps join the edge list on
    # DIFFERENT keys (src for the authority step, dst for the hub
    # step), so the edge frame is laid out TWICE before the loop — two
    # one-time shuffles instead of two per round. Rows absent from a
    # half-step's aggregate are implicit zeros (they change neither
    # the L2 norm nor the next propagation); the 0-fill happens once
    # at the end. Each round pins both statements eagerly: left lazy,
    # the hub step's plan nests the auth step's scalar subquery inside
    # its own, and subquery reuse does NOT cross that nesting
    # (measured 2.5-9 s PER ROUND at sf0.1 from the recomputation).
    a_nrm = "(SELECT sqrt(sum(authority * authority)) FROM a_raw)"
    auth_sql = f"""
        WITH a_raw AS (
          SELECT e.dst AS node, sum(e.__w * st.hub) AS authority
          FROM e_src e JOIN hub st ON e.src = st.node
          GROUP BY e.dst
        )
        SELECT node,
               CASE WHEN {a_nrm} > 0 THEN authority / {a_nrm}
                    ELSE 0.0d END AS authority
        FROM a_raw
    """
    h_nrm = "(SELECT sqrt(sum(hub * hub)) FROM h_raw)"
    hub_sql = f"""
        WITH h_raw AS (
          SELECT e.src AS node, sum(e.__w * a.authority) AS hub
          FROM e_dst e JOIN auth a ON e.dst = a.node
          GROUP BY e.src
        )
        SELECT node,
               CASE WHEN {h_nrm} > 0 THEN hub / {h_nrm}
                    ELSE 0.0d END AS hub
        FROM h_raw
    """
    out = frontier.rounds(
        pairs.sparkSession, nodes.count(),
        {"e_src": (edges, "src"), "e_dst": (edges, "dst")},
        (nodes.select("node", F.lit(1.0).alias("hub")), "node"),
        [("auth", auth_sql), ("hub", hub_sql)], n_iter,
    )
    auth = out.get("auth", nodes.select("node", F.lit(1.0).alias("authority")))
    return (
        nodes.join(out["hub"], on="node", how="left")
        .join(auth, on="node", how="left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )


def ktruss(
    pairs: DataFrame,
    k: int = 3,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 50,
) -> DataFrame:
    """(a, b) canonical edges of the k-truss: the maximal subgraph in
    which every edge participates in >= k-2 triangles — the
    EDGE-level cohesion filter (strictly stronger than the (k-1)-core;
    the standard community-backbone extraction over a near-dup or
    co-occurrence graph).

    Plan: iterative edge peel. Per round, each edge's support =
    common-neighbor count, computed as two equi-joins against the
    symmetric adjacency (edges x avg-degree join rows, the same wedge
    shape ``triangle_count`` uses — never per-triangle enumeration);
    edges below support k-2 drop; converge when a round drops
    nothing. Rounds = peeling depth (small on clique-family graphs);
    ``max_rounds`` is a budget under :func:`kcore`'s rule: a round
    that peels nothing is not charged, and a peel past the budget
    raises (never a silent superset). Lineage truncated per round."""
    if k < 3:
        raise ValueError("k must be >= 3 (k=2 is just the edge set)")
    e = (
        _edge_list(pairs, src, dst, False)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .localCheckpoint(eager=True)
    )
    n = e.count()
    for r in range(max_rounds + 1):
        if n == 0:
            return e
        adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
            e.select(F.col("b").alias("x"), F.col("a").alias("n"))
        )
        sup = (
            e.join(adj.withColumnsRenamed({"x": "a", "n": "w"}), on="a")
            .join(
                adj.withColumnsRenamed({"x": "b", "n": "w"}),
                on=["b", "w"],
            )
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("__sup"))
        )
        kept = (
            e.join(sup.filter(F.col("__sup") >= k - 2), on=["a", "b"], how="leftsemi")
            .localCheckpoint(eager=True)
        )
        n_kept = kept.count()
        if n_kept == n:
            return kept
        if r == max_rounds:
            raise frontier.exhausted(
                "ktruss", max_rounds, _PEEL_HINT, "peeling", "max_rounds"
            )
        e, n = kept, n_kept


def _walks(pairs, walk_len, n_walks, src, dst, salt, directed, weight, pq=None):
    """The walk kernel of :func:`random_walks` and
    :func:`node2vec_walks`: ``n_walks`` walks of up to ``walk_len``
    steps from every node of the :func:`_edge_list` graph (self-loops
    dropped), as (start, walk, step, node) rows, step 0 = the start.
    Walks stop early at sinks.

    Step s of walk (start, walk) draws h = md5(salt:start:walk:s), a
    52-bit integer. An unbiased step (every step of a random walk,
    the first of a node2vec walk) takes neighbor rank ``h mod deg +
    1`` in the sorted adjacency, or, weighted, the cumsum pick over
    the edge weights. Node2vec (``pq`` = (p, q)) steps s >= 2 take
    the cumsum pick over w · bias(prev, x). The cumsum pick is the
    first candidate in ranked-adjacency order whose cumulative weight
    exceeds u·total, u = h / 2^52 — a fixed-order sum, so walks
    replay bit-for-bit on any engine and partitioning.

    Scale shape: adjacency is a RANKED EDGE TABLE (node, rank,
    neighbor — one row_number window over edges), never per-node
    neighbor arrays. A rank step is one join of the walkers against
    (degree, rank) on the current node; a cumsum step joins deg(cur)
    candidates per walker and sums them in a per-(start, walk)
    window. Per-step checkpoints are lazy with no per-step probe: the
    driver never blocks between steps, every checkpoint materializes
    once under the collecting action, and a walker set that dies
    early flows through the remaining steps as empty joins."""
    if walk_len < 1 or n_walks < 1:
        raise ValueError("walk_len and n_walks must be >= 1")
    from pidb_rdf_spark.operators.hashing import md5_prefix_long

    e = _edge_list(pairs, src, dst, directed, weight)
    rk = e.select(
        F.col("src").alias("cur"),
        F.col("dst").alias("nbr"),
        "__w",
        F.row_number()
        .over(Window.partitionBy("src").orderBy("dst"))
        .alias("rk"),
    ).localCheckpoint(eager=False)
    deg = rk.groupBy("cur").agg(F.max("rk").alias("deg"))
    prev_adj = rk.select(
        F.col("cur").alias("prev"), "nbr", F.lit(1).alias("__adj")
    )
    walkers = _node_set(e).select(
        F.col("node").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("walk"),
        "node",
    ).localCheckpoint(eager=False)
    out = walkers.select(
        "start", "walk", F.lit(0).cast("int").alias("step"), "node"
    )
    for s in range(1, walk_len + 1):
        h = md5_prefix_long(
            F.concat(
                F.lit(salt + ":"),
                F.col("start").cast("string"),
                F.lit(":"),
                F.col("walk").cast("string"),
                F.lit(f":{s}"),
            ),
            52,
        )
        cur = walkers.withColumnRenamed("node", "cur")  # sinks drop out
        if weight is None and (pq is None or s == 1):
            picked = (
                cur.join(deg, on="cur")
                .withColumn("rk", (h % F.col("deg") + 1).cast("int"))
                .join(rk, on=["cur", "rk"])
            )
        else:
            cand, wt = cur.join(rk, on="cur"), F.col("__w")
            if pq is not None and s > 1:
                cand = cand.join(prev_adj, on=["prev", "nbr"], how="left")
                # unweighted, __w is the literal 1.0 and 1.0·bias is
                # exact, so the draws are those of the bias alone
                wt = wt * (
                    F.when(F.col("nbr") == F.col("prev"), F.lit(1.0 / pq[0]))
                    .when(F.col("__adj").isNotNull(), F.lit(1.0))
                    .otherwise(F.lit(1.0 / pq[1]))
                )
            # the lower bound is the LAGGED cumsum (bit-identical
            # floats), never cum - wt re-derived: a float round there
            # could pick zero or two candidates at a boundary
            w = Window.partitionBy("start", "walk")
            wo = w.orderBy("rk")
            ut = F.col("__u") * F.col("__tot")
            picked = (
                cand.withColumn("__cum", F.sum(wt).over(wo))
                .withColumn(
                    "__lo", F.coalesce(F.lag("__cum").over(wo), F.lit(0.0))
                )
                .withColumn("__tot", F.sum(wt).over(w))
                .withColumn("__u", h / F.lit(float(1 << 52)))
                .filter((F.col("__cum") > ut) & (F.col("__lo") <= ut))
            )
        walkers = picked.select(
            "start", "walk", F.col("cur").alias("prev"), F.col("nbr").alias("node")
        ).localCheckpoint(eager=False)
        out = out.unionAll(
            walkers.select(
                "start", "walk", F.lit(s).cast("int").alias("step"), "node"
            )
        )
    return out


def random_walks(
    pairs: DataFrame,
    walk_len: int = 5,
    n_walks: int = 1,
    src: str = "src",
    dst: str = "dst",
    salt: str = "walk",
    directed: bool = True,
    weight: str | None = None,
) -> DataFrame:
    """Deterministic random walks — the DeepWalk/node2vec corpus
    sampler: ``n_walks`` walks of up to ``walk_len`` steps from every
    node; step s of walk (start, w) moves to neighbor index
    ``md5(salt:start:w:s) mod degree`` in the (sorted) adjacency —
    NO RNG state, so the same walks come out on any engine, any
    partitioning, any rerun (and a SQL oracle replays them). Walks
    stop early at sinks. Output: (start, walk, step, node) rows,
    step 0 = the start itself.

    ``weight`` switches to weight-proportional steps: the draw
    becomes the fixed-order cumsum pick over the ranked adjacency
    (edges per :func:`_edge_list`). The weighted step inspects every
    neighbor of each walker (deg(cur) rows per walker) where the
    unweighted step is a rank point-join — the inherent cost of
    weighted sampling without per-node alias tables. Every step is
    :func:`node2vec_walks`' first step; :func:`_walks` is the shared
    kernel and states the scale shape."""
    return _walks(pairs, walk_len, n_walks, src, dst, salt, directed, weight)


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
    start: str = "start",
    walk: str = "walk",
    step: str = "step",
    node: str = "node",
) -> DataFrame:
    """(center, context, offset) skip-gram training pairs from a
    :func:`random_walks` frame — the DeepWalk/node2vec corpus step
    between walk sampling and embedding training. For every walk
    position, each neighbor within ``window`` steps (both directions)
    becomes a context row; offset is signed (context step − center
    step), so downstream distance weighting stays possible.

    Scale shape: NO self-join — one window sort per walk and
    ``window`` ``lead()`` taps; each lead-k pair is emitted in both
    directions by construction (the backward pair of (i, i+k) is
    (i+k, i)), so the output is exactly the skip-gram bag. Output
    mass is ≤ 2 * window * walk rows — linear in the corpus.
    Walks are deterministic, so the pairs replay in a SQL oracle."""
    if window < 1:
        raise ValueError("window must be >= 1")
    w = Window.partitionBy(start, walk).orderBy(F.col(step))
    taps = walks.select(
        F.col(start).alias("start"),
        F.col(walk).alias("walk"),
        F.col(node).alias("center"),
        *[
            F.lead(node, k).over(w).alias(f"__c{k}")
            for k in range(1, window + 1)
        ],
    )
    tapped = taps.select(
        "start",
        "walk",
        "center",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("off"),
                        F.col(f"__c{k}").alias("ctx"),
                    )
                    for k in range(1, window + 1)
                ]
            )
        ).alias("p"),
    ).filter(F.col("p.ctx").isNotNull())
    fwd = tapped.select(
        "start", "walk", "center",
        F.col("p.ctx").alias("context"),
        F.col("p.off").alias("offset"),
    )
    bwd = tapped.select(
        "start", "walk",
        F.col("p.ctx").alias("center"),
        F.col("center").alias("context"),
        (-F.col("p.off")).alias("offset"),
    )
    return fwd.unionAll(bwd)


def _ranked_local(
    nodes: DataFrame, col: str, n_partitions: int | None
) -> DataFrame:
    """The lazy ranking stage of :func:`ranked_vocabulary` — kept
    separate so tests can pin its executed plan (no SinglePartition
    exchange) before the checkpoint hides it."""
    spark = nodes.sparkSession
    if n_partitions is None:
        n_partitions = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")), 1
        )
    return (
        nodes.repartitionByRange(n_partitions, F.col(col))
        .select(F.col(col), F.spark_partition_id().alias("__pid"))
        .withColumn(
            "__lrk",
            F.row_number().over(
                Window.partitionBy("__pid").orderBy(F.col(col))
            ),
        )
    )


def ranked_vocabulary(
    nodes: DataFrame, col: str = "__nn", out: str = "__rk",
    n_partitions: int | None = None, return_total: bool = False,
):
    """Dense global rank 1..n of a DISTINCT-valued column WITHOUT a
    single-partition sort — the scale-safe replacement for
    ``row_number().over(Window.orderBy(col))``, which Spark executes
    as ONE task holding every row (fatal on a billion-node
    vocabulary). Two passes instead:

    1. range-repartition by ``col`` (ordered, non-overlapping
       partitions), rank locally within each partition;
    2. per-partition row counts — a ``n_partitions``-row aggregate,
       collected driver-side (bounded by construction: one row per
       shuffle partition) — become cumulative offsets folded in as a
       literal map, so global rank = offset[pid] + local rank.

    Global ranks are partition-boundary-independent (ranges are
    ordered and disjoint), so the result equals the naive window
    bit-for-bit; the input is materialized (localCheckpoint) so the
    count pass and the output share one set of boundaries. The plan
    contains NO SinglePartition exchange (plan-pinned in
    tests/test_plan_shape.py). Input must be duplicate-free in
    ``col`` (ranks of ties would be partition-order-dependent)."""
    local = _ranked_local(nodes, col, n_partitions).localCheckpoint(
        eager=True
    )
    counts = {
        r["__pid"]: r["c"]
        for r in local.groupBy("__pid").agg(F.count("*").alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # ``acc`` is the exact total row count — already on the driver
    # from the bounded per-partition count pass, so callers that need
    # |vocab| (return_total=True) get it WITHOUT another aggregation
    # job over the data (r13: negative_samples used to re-derive it
    # as a max-rank broadcast aggregate).
    if not offsets:
        empty = local.select(F.col(col), F.col("__lrk").alias(out))
        return (empty, 0) if return_total else empty
    omap = F.create_map(
        *[x for pid in sorted(offsets) for x in (F.lit(pid), F.lit(offsets[pid]))]
    )
    ranked = local.select(
        F.col(col),
        (F.element_at(omap, F.col("__pid")) + F.col("__lrk"))
        .cast("int")
        .alias(out),
    )
    return (ranked, acc) if return_total else ranked


def node2vec_walks(
    pairs: DataFrame,
    walk_len: int = 5,
    n_walks: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    src: str = "src",
    dst: str = "dst",
    salt: str = "n2v",
    directed: bool = True,
    weight: str | None = None,
) -> DataFrame:
    """Deterministic node2vec-biased walks (Grover & Leskovec 2016):
    like :func:`random_walks` but step s ≥ 2 weights each candidate
    x from cur by its relation to the PREVIOUS node — 1/``p`` for
    returning (x = prev), 1 for staying near (x adjacent to prev),
    1/``q`` for exploring outward. Low p ⇒ backtracking (BFS-like
    neighborhoods), low q ⇒ outward drift (DFS-like). Step 1 is
    :func:`random_walks`' step (no prev yet), exactly node2vec's
    convention.

    ``weight`` names an edge-weight column (the paper's weighted
    form: transition weight = w(cur, x) · bias; edges per
    :func:`_edge_list`). The weighted step 1 draws proportional to w;
    the unweighted one is the modular rank pick.

    Determinism contract: the draw is the fixed-order cumsum pick of
    :func:`_walks` (exact dyadic bias weights; the weighted form
    multiplies the input weights in the same fixed order), so walks
    replay bit-for-bit on any engine/partitioning (pinned against
    pure-python twins, weighted and unweighted).

    Scale shape: per step s ≥ 2, ONE join of the walkers against the
    ranked edge table on the current node (candidate rows =
    Σ deg(cur) — the intrinsic node2vec cost of inspecting every
    candidate's relation to prev), one left join against the edge set
    keyed (prev, candidate) for the adjacency class, and one
    per-(start, walk) window for the cumsum pick (partition size =
    deg(cur), never global). No per-node arrays, no alias tables."""
    if p <= 0 or q <= 0:
        raise ValueError("p and q must be > 0")
    return _walks(
        pairs, walk_len, n_walks, src, dst, salt, directed, weight, (p, q)
    )


def negative_samples(
    pairs: DataFrame,
    k: int = 5,
    salt: str = "neg",
    center: str = "center",
    context: str = "context",
    hash_cols: list | None = None,
) -> DataFrame:
    """``k`` deterministic uniform negative nodes per skip-gram pair
    row — the word2vec/node2vec negative-sampling step. Draw i of a
    row is the node at rank ``md5(salt:<hash_cols>:i) mod n`` in the
    sorted distinct-node table (nodes = everything appearing as
    center or context), so the corpus replays bit-for-bit in any
    engine — no RNG state, stable under repartitioning. Accidental
    collisions with the row's own center/context are filtered (the
    word2vec convention), so a row may carry fewer than ``k``
    negatives (probability ~2k/n).

    ``hash_cols`` (default: every column of ``pairs``) feeds the
    draw hash — include walk/occurrence ids so repeated (center,
    context) bag entries draw independent negatives.

    Scale shape: the node table is ranked by
    :func:`ranked_vocabulary` — range-partitioned two-pass ranking,
    NO single-partition sort, no driver-side vocab (only the
    per-partition count vector is collected, bounded by the shuffle
    partition count); pairs explode x k and take ONE equi-join
    against it on the drawn rank — never a range join. Output:
    pairs' columns + (neg_i, negative)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    clash = {"neg_i", "negative", "__rk", "__n", "__nn"} & set(pairs.columns)
    if clash:
        raise ValueError(f"pairs already has reserved column(s): {sorted(clash)}")
    from pidb_rdf_spark.operators.hashing import md5_prefix_long

    hash_cols = list(hash_cols) if hash_cols is not None else list(pairs.columns)
    # two consumers read `pairs` (the vocab scan and the exploded draw
    # frame); without a checkpoint the whole upstream pipeline — for
    # the walks corpus, the skip-gram window over the walk joins —
    # computes twice (r13; lazy: materializes once on first use,
    # no extra job)
    pairs = pairs.localCheckpoint(eager=False)
    nodes = (
        pairs.select(F.col(center).alias("__nn"))
        .unionAll(pairs.select(F.col(context).alias("__nn")))
        .dropDuplicates()
    )
    ranked, n_vocab = ranked_vocabulary(
        nodes, col="__nn", out="__rk", return_total=True
    )
    # |vocab| comes free with the ranking's bounded count pass — as a
    # plan literal it replaces the old max-rank broadcast aggregate
    # (same integer by construction: ranks are dense 1..n), deleting a
    # crossJoin subtree and its broadcast-build job (r13, guide §2.4).
    key = F.concat_ws(
        ":", F.lit(salt), *[F.col(c).cast("string") for c in hash_cols]
    )
    ex = pairs.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(k))).alias("neg_i")
    ).withColumn(
        "__rk",
        (
            md5_prefix_long(
                F.concat(key, F.lit(":"), F.col("neg_i").cast("string")),
                52,
            )
            % F.lit(n_vocab)
            + F.lit(1)
        ).cast("int"),
    )
    # The draw join: without a hint the planner size-estimates the
    # ranked vocab from its checkpoint and picks a sort-merge join —
    # shuffling the WHOLE exploded corpus by the draw rank (guide §8's
    # anti-pattern: heavy rows moved by a key unrelated to any
    # downstream layout). The vocab's exact row count is in hand, so
    # broadcast it whenever it provably fits (~40 B/row, cap well
    # under the default 10 MB autoBroadcast threshold); a corpus-scale
    # vocabulary falls back to the sort-merge plan unchanged.
    if 0 < n_vocab <= _NEG_BROADCAST_MAX_VOCAB:
        ranked = F.broadcast(ranked)
    out = (
        ex.join(ranked, on="__rk")
        .withColumnRenamed("__nn", "negative")
        .drop("__rk")
    )
    return out.filter(
        (F.col("negative") != F.col(center))
        & (F.col("negative") != F.col(context))
    )


def neighborhood_function(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
    max_radius: int = 16,
    tier: str = "sketch",
    registers_log2: int = 6,
) -> list:
    """ANF / HyperANF neighborhood function (Palmer et al. 2002;
    Boldi-Vigna 2011): ``N(r)`` = the number of (node, reachable)
    pairs within ``r`` hops, for r = 0..convergence — the curve
    behind effective-diameter and connectivity profiling at scales
    where per-pair BFS is unthinkable. Returns ``[(radius,
    n_pairs)]`` rows (driver-side list: one float per radius, bounded
    by ``max_radius``); feed to :func:`effective_diameter`.

    Two tiers (the exact-verifier vs scale-path doctrine):

    - ``tier="exact"``: materializes per-node reachability balls as
      (node, member) pairs via the house semi-naive frontier loop —
      O(sum of ball sizes) state, the small-graph oracle tier
      (SQL-replayable; the driver entry uses it).
    - ``tier="sketch"`` (default, the 100 TB path): HyperANF — each
      node carries 2^registers_log2 HLL registers (the md5 hash
      contract: register index = low bits, rho = leading-zero rank of
      the rest, EXACT via base-2 string length, no float log); each
      round every node element-wise-maxes its out-neighbors'
      registers into its own — ONE edge join + one m-column max
      aggregate per round, state is V x m bytes, convergence when no
      register changes. N(r) comes from the standard HLL estimator
      (alpha_m m^2 / sum 2^-reg, linear-counting small-range
      correction) summed over nodes.

    Directed=True counts OUT-reachability balls; False symmetrizes.
    Registers are exact integers all the way — the sketch itself is
    bit-deterministic on any engine/partitioning; only the final
    per-radius float estimate carries summation-order noise (~1e-12
    relative)."""
    from pidb_rdf_spark.operators.hashing import md5_prefix_long

    if tier not in ("exact", "sketch"):
        raise ValueError("tier must be 'exact' or 'sketch'")
    if max_radius < 1:
        raise ValueError("max_radius must be >= 1")
    edges = _edge_list(pairs, src, dst, directed, loops=directed)
    edges = edges.localCheckpoint(eager=True)
    nodes = _node_set(edges).localCheckpoint(eager=True)

    if tier == "exact":
        # a bounded frontier.reach from every node in a loop session
        # sized by the ball-state bound, the edge frame laid out by
        # src once; N(r) sums the level sizes the rounds' termination
        # probes already counted (N(0) = one (node, node) pair each)
        n = nodes.count()
        loop, n_parts = frontier.pinned(edges.sparkSession, n * (max_radius + 1))
        e_by_src = frontier.bind(edges, loop).repartition(n_parts, "src")
        sizes = frontier.reach(
            e_by_src.localCheckpoint(eager=True),
            frontier.bind(nodes, loop).select(F.col("node").alias("origin"), "node"),
            max_radius, bounded=True,
        )[2]
        return list(enumerate(accumulate(float(k) for k in [n, *sizes])))

    b = int(registers_log2)
    if not 4 <= b <= 12:
        raise ValueError("registers_log2 must be in [4, 12]")
    m = 1 << b
    # init: one hashed element (the node itself) per register set.
    # h = 52-bit md5; idx = h mod m, w = h div m (52-b bits);
    # rho = (52-b) - bitlen(w) + 1, exact via conv(w, 10, 2) length
    h = md5_prefix_long(F.col("node").cast("string"), 52)
    w = F.floor(h / m).cast("long")
    rho = F.when(
        w == 0, F.lit(52 - b + 1)
    ).otherwise(F.lit(52 - b) - F.length(F.conv(w, 10, 2)) + 1)
    idx = (h % m).cast("int")
    regs = nodes.select(
        "node",
        F.array(
            *[
                F.when(idx == i, rho).otherwise(F.lit(0)).cast("int")
                for i in range(m)
            ]
        ).alias("regs"),
    ).localCheckpoint(eager=True)

    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    est = F.aggregate(
        "regs", F.lit(0.0), lambda acc, x: acc + F.pow(2.0, -x)
    )
    zeros = F.size(F.filter("regs", lambda x: x == 0))
    raw = F.lit(alpha * m * m) / est
    # linear counting below the standard 2.5m threshold
    node_est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)

    def total(rf: DataFrame) -> float:
        return float(
            rf.agg(F.sum(node_est).alias("t")).first()["t"] or 0.0
        )

    # pinned loop session (same discipline as the exact tier), edge
    # frame laid out by dst once, per-round checkpoints lazy (the
    # stable-probe materializes them)
    loop, n_parts = frontier.pinned(edges.sparkSession, nodes.count())
    edges = (
        frontier.bind(edges, loop)
        .repartition(n_parts, "dst")
        .localCheckpoint(eager=True)
    )
    regs = frontier.bind(regs, loop)
    out = [(0, total(regs))]
    for r in range(1, max_radius + 1):
        contrib = (
            edges.join(
                regs.select(F.col("node").alias("dst"), "regs"),
                on="dst",
            )
            .groupBy(F.col("src").alias("node"))
            .agg(
                *[
                    F.max(F.col("regs")[i]).alias(f"__r{i}")
                    for i in range(m)
                ]
            )
        )
        new = (
            regs.join(contrib, on="node", how="left")
            .select(
                "node",
                F.array(
                    *[
                        F.greatest(
                            F.col("regs")[i],
                            F.coalesce(F.col(f"__r{i}"), F.lit(0)),
                        )
                        for i in range(m)
                    ]
                ).alias("regs"),
            )
            .localCheckpoint(eager=False)
        )
        stable = (
            new.join(regs.withColumnRenamed("regs", "__old"), on="node")
            .filter(F.col("regs") != F.col("__old"))
            .isEmpty()
        )
        regs = new
        if stable:
            break
        out.append((r, total(regs)))
    return out


def effective_diameter(nf: list, fraction: float = 0.9) -> float:
    """Effective diameter from a :func:`neighborhood_function` curve:
    the (linearly interpolated) radius at which ``fraction`` of the
    final reachable-pair count is covered — the ANF convention. A
    single-radius curve (already converged at 0) returns 0.0."""
    if not 0 < fraction <= 1:
        raise ValueError("fraction must be in (0, 1]")
    if not nf:
        raise ValueError("empty neighborhood function")
    target = fraction * nf[-1][1]
    prev_r, prev_n = nf[0]
    if prev_n >= target:
        return 0.0
    for r, n in nf[1:]:
        if n >= target:
            # interpolate within the step that crosses the target
            return prev_r + (target - prev_n) / (n - prev_n) * (r - prev_r)
        prev_r, prev_n = r, n
    return float(nf[-1][0])
