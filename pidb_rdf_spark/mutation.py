"""Graph mutation operators (SURVEY.md §2.2 M1-M9).

The reference mutates record-at-a-time inside thread-local
transactions (``Neo4jGraph.java:306-345``): ``addVertex``
(:150-159), ``Vertex.addEdge`` (``Neo4jVertex.java:48-60``),
property set/remove (``Neo4jVertex.java:63-92``,
``Neo4jEdge.java:95-123``), vertex remove with edge cascade
(``Neo4jVertex.java:68-71``, ``NoMultiNoMetaNeo4jTrait.java:71-84``),
label add/remove (``Neo4jVertex.java:158-172``), and graph variables
(``Neo4jGraphVariables.java:33-79``).

The Spark-native equivalent is **batch, set-oriented, immutable**:
every mutation returns a NEW PropertyGraph whose tables are the old
ones plus a transformation — append for inserts, left-anti for
deletes, column rewrite for property updates. Durability is a table
write with an atomic swap (``save_graph``), replacing the
reference's transaction semantics (SURVEY.md §3: batch jobs + atomic
table swaps; non-transactional by design).

Scale notes: inserts are unions (no shuffle); deletes are left-anti
hash joins against a (small) key set — broadcast when the delete set
is small; property updates are narrow projections. Nothing here
collects to the driver.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.graph import NODE_CORE, SIDECAR_COLS, PropertyGraph
from pidb_rdf_spark.session import local_frame


def _derive(
    graph: PropertyGraph, nodes: DataFrame | None = None,
    edges: DataFrame | None = None, summary=None,
) -> PropertyGraph:
    """``graph`` after a mutation: ``nodes``/``edges`` replace its
    tables when given; spark, namespaces and variables carry over.
    The summary is dropped unless the caller passes the one it
    provably keeps: property writes and removals (of any key but a
    core column) and element removals keep ``graph.summary``, and a
    vertex insert keeps it minus the uri prefix of each label a new
    row carries without that prefix. Every other mutation (edge
    inserts, label changes) drops it."""
    return PropertyGraph(
        spark=graph.spark,
        nodes=graph.nodes if nodes is None else nodes,
        edges=graph.edges if edges is None else edges,
        namespaces=graph.namespaces,
        variables=graph.variables,
        summary=summary,
    )


def _kept(graph: PropertyGraph, key: str):
    """The summary a write of property ``key`` keeps: all of it,
    unless the key is a core column (``uri``, ``labels``, ...)."""
    return None if key in NODE_CORE else graph.summary


def _empty_props():
    return F.from_json(F.lit("{}"), "map<string,string>")


def _resolve_where(df: DataFrame, where):
    """Normalize a mutation predicate: a boolean ``Column``, or a
    ``DataFrame`` whose FIRST column holds matching ids (semi-join
    membership — the distributed form used by the Cypher write
    clauses; no ids are ever collected to the driver). Returns
    ``(df, cond, drop_cols)``."""
    if isinstance(where, DataFrame):
        key = "id" if "id" in where.columns else where.columns[0]
        ids = where.select(F.col(key).alias("id")).dropDuplicates()
        df = df.join(ids.withColumn("__w", F.lit(True)), on="id", how="left")
        return df, F.col("__w").isNotNull(), ["__w"]
    return df, where, []


# ---------------------------------------------------------------------------
# M1 / M2: add vertices / edges
# ---------------------------------------------------------------------------


def add_vertices(graph: PropertyGraph, rows: list[dict]) -> PropertyGraph:
    """M1: append vertices. Each row: ``{"uri": ..., "labels": [...],
    "props": {...}}``. Ids are ``xxhash64(uri)`` — deterministic and
    executor-computable, no id-assignment coordination (the reference
    's store assigns ids centrally, ``Neo4jGraph.java:153-154``)."""
    data = [
        (r["uri"], r.get("labels", []), {k: str(v) for k, v in r.get("props", {}).items()})
        for r in rows
    ]
    new = local_frame(
        graph.spark, data, "uri string, labels array<string>, props map<string,string>"
    ).select(F.xxhash64("uri").alias("id"), "uri", "labels", "props")
    summary = graph.summary
    if summary is not None:
        summary = summary.without_prefixes({
            lab for uri, labels, _ in data for lab in labels or ()
            if not (uri or "").startswith(summary.uri_prefix.get(lab, ""))
        })
    return _derive(
        graph, nodes=graph.nodes.unionByName(new, allowMissingColumns=True),
        summary=summary,
    )


def add_vertices_frame(
    graph: PropertyGraph,
    rows_frame: DataFrame,
    labels: list[str],
    props: dict | None = None,
    expr_props: dict | None = None,
    uri_expr: Column | None = None,
) -> PropertyGraph:
    """M1 distributed form: mint ONE new vertex per input row of
    ``rows_frame`` — Cypher ``MATCH ... CREATE (n:L {..})``
    cardinality (zero matched rows create zero nodes, N rows create N
    distinct nodes). ``props`` are constants; ``expr_props`` map keys
    to Columns evaluated against each input row (the bulk-ingest
    idiom ``UNWIND $batch AS row CREATE (n {k: row.k})``) — NULL
    values are omitted, as in Cypher. ``uri_expr`` gives each row its
    EXPLICIT identity (``CREATE (n {uri: row.uri})``); rows where it
    is NULL fall back to the minted uuid uri. Without it, uris/ids
    are minted executor-side via ``uuid()``; no collect either way."""
    props = {k: str(v) for k, v in (props or {}).items()}
    pairs = [F.lit(x) for kv in sorted(props.items()) for x in kv]
    for k in sorted(expr_props or {}):
        pairs.extend([F.lit(k), expr_props[k].cast("string")])
    pmap = (
        F.map_filter(F.create_map(*pairs), lambda _, v: v.isNotNull())
        if pairs
        else _empty_props()
    )
    labs = (
        F.array(*[F.lit(x) for x in labels])
        if labels
        else F.array().cast("array<string>")
    )
    minted = F.concat(
        F.lit("urn:cypher:"), F.expr("replace(uuid(), '-', '')")
    )
    uri_col = (
        F.coalesce(uri_expr.cast("string"), minted)
        if uri_expr is not None
        else minted
    )
    new = rows_frame.select(
        uri_col.alias("uri"),
        pmap.alias("props"),
    ).select(
        F.xxhash64("uri").alias("id"),
        "uri",
        labs.alias("labels"),
        "props",
    )
    # uuid() is non-deterministic: pin the minted rows NOW so later
    # re-scans of the unioned plan (task retry, AQE replan, the same
    # frame on both sides of a self-join) see identical ids
    new = new.localCheckpoint(eager=True)
    # every new row may carry a uri outside its labels' prefixes
    return _derive(
        graph, nodes=graph.nodes.unionByName(new, allowMissingColumns=True),
        summary=graph.summary and graph.summary.without_prefixes(labels or ()),
    )


def add_edges(
    graph: PropertyGraph, rows: list[dict], dedup: bool = True
) -> PropertyGraph:
    """M2 + M10: append edges ``{"src_uri": ..., "predicate": ...,
    "dst_uri": ..., "props": {...}}``, skipping any (src, predicate,
    dst) that already exists — the reference's dedup-on-insert
    (``DirectStatementLoader.java:281-305``) as one left-anti join
    (its lower-degree-side probe trick is moot under hash join).

    Endpoint ids are resolved by joining against ``nodes.uri`` (so the
    edge attaches correctly even on graphs whose ids are NOT
    ``xxhash64(uri)``, e.g. graphify's banded ids), falling back to
    ``xxhash64(uri)`` only for endpoints not yet in the graph."""
    data = [
        (
            r["src_uri"],
            r["predicate"],
            r["dst_uri"],
            {k: str(v) for k, v in r.get("props", {}).items()},
        )
        for r in rows
    ]
    raw = local_frame(
        graph.spark, data,
        "src_uri string, predicate string, dst_uri string, props map<string,string>",
    )
    src_map = graph.nodes.select(
        F.col("uri").alias("src_uri"), F.col("id").alias("__src_id")
    )
    dst_map = graph.nodes.select(
        F.col("uri").alias("dst_uri"), F.col("id").alias("__dst_id")
    )
    new = (
        raw.join(src_map, on="src_uri", how="left")
        .join(dst_map, on="dst_uri", how="left")
        .select(
            # canonical edge-id scheme shared with importer.py /
            # neo4j_csv.py / graphson.py / graphml.py: multi-arg
            # xxhash64(src uri, dst uri, predicate). Field boundaries
            # are structural, so ('urn:x:a','bc','d') vs
            # ('urn:x:ab','c','d') cannot collide, and the same
            # logical edge hashes identically on every ingest path.
            F.xxhash64("src_uri", "dst_uri", "predicate").alias("id"),
            F.coalesce("__src_id", F.xxhash64("src_uri")).alias("src"),
            F.coalesce("__dst_id", F.xxhash64("dst_uri")).alias("dst"),
            "predicate",
            "props",
        )
    )
    if dedup:
        # dedup-on-insert covers the BATCH too: two identical rows in
        # one call would otherwise both pass the anti-join and insert
        # two edge rows sharing one content-hash id
        new = (
            new.dropDuplicates(["src", "predicate", "dst"])
            .join(
                graph.edges.select("src", "predicate", "dst"),
                on=["src", "predicate", "dst"],
                how="leftanti",
            )
            .select(*[c for c in graph.edges.columns])
        )
    return _derive(graph, edges=graph.edges.unionByName(new))


def add_edges_frame(
    graph: PropertyGraph,
    pairs: DataFrame,
    predicate: str,
    props: dict | None = None,
    dedup: bool = True,
    expr_props: dict | None = None,
) -> PropertyGraph:
    """M2/M10 distributed form: insert one ``predicate`` edge per
    (src, dst) row of ``pairs`` (its first two columns are node ids —
    e.g. a Cypher ``MATCH ... CREATE (a)-[:T]->(b)`` frame). Never
    collects: the pair set stays a DataFrame.

    ``dedup=True`` is MERGE/M10 semantics (dedup-on-insert via one
    left-anti join against the existing edges, reference
    ``DirectStatementLoader.java:281-305``; deterministic edge ids).
    ``dedup=False`` is Cypher CREATE semantics: one NEW edge per
    input row, multi-edges allowed, ids minted executor-side.
    ``expr_props`` map keys to Columns evaluated against each pairs
    row (NULL values omitted) — CREATE only: dedup would have to
    compare map columns, which Spark set operations cannot.

    Edge-id provenance: this frame path mints ids from the endpoint
    NODE IDS (xxhash64 over src/dst/predicate[/row]), while the
    row-path (:func:`add_edges`) hashes endpoint URIS — both stable
    and unique, but the same logical edge gets a different id
    depending on which path created it first. Dedup keys on
    (src, predicate, dst), so no duplicates arise; just don't expect
    cross-path id EQUALITY for frame-created edges."""
    s, d = pairs.columns[:2]
    props = {k: str(v) for k, v in (props or {}).items()}
    map_args = [F.lit(x) for kv in sorted(props.items()) for x in kv]
    if expr_props:
        if dedup:
            raise ValueError(
                "expr_props requires dedup=False (CREATE semantics)"
            )
        for k in sorted(expr_props):
            map_args.extend([F.lit(k), expr_props[k].cast("string")])
        pmap = F.map_filter(
            F.create_map(*map_args), lambda _, v: v.isNotNull()
        )
    else:
        pmap = F.create_map(*map_args) if map_args else _empty_props()
    if dedup:
        eid = F.xxhash64(
            F.concat_ws(":", F.lit(predicate), F.col("src"), F.col("dst"))
        )
        base = (
            pairs.select(F.col(s).alias("src"), F.col(d).alias("dst"))
            .dropDuplicates()
            .withColumn("__pm", pmap)
        )
    else:
        eid = F.xxhash64(
            F.concat_ws(":", F.lit(predicate), F.col("src"), F.col("dst"), F.expr("uuid()"))
        )
        # evaluate the property map against the FULL pairs row first
        # (expression props may read any of its columns)
        base = pairs.select(
            F.col(s).alias("src"), F.col(d).alias("dst"), pmap.alias("__pm")
        )
    new = base.select(
        eid.alias("id"),
        "src",
        "dst",
        F.lit(predicate).alias("predicate"),
        F.col("__pm").alias("props"),
    )
    if dedup:
        new = new.join(
            graph.edges.select("src", "predicate", "dst"),
            on=["src", "predicate", "dst"],
            how="leftanti",
        ).select(*graph.edges.columns)
    else:
        # uuid()-minted ids are non-deterministic: pin them NOW so
        # re-scans of the unioned plan see identical edge ids (the
        # relationship-uniqueness filter self-joins this frame)
        new = new.localCheckpoint(eager=True)
    return _derive(graph, edges=graph.edges.unionByName(new))


# ---------------------------------------------------------------------------
# M3 / M8: property set / remove
# ---------------------------------------------------------------------------


def set_vertex_property(
    graph: PropertyGraph, where, key: str, value
) -> PropertyGraph:
    """M3: set a property on every vertex matching ``where`` (a
    boolean Column, or an id DataFrame — see ``_resolve_where``).
    Updates the typed hot column when one exists, and always the
    schemaless ``props`` map (reference single-value semantics,
    ``NoMultiNoMetaNeo4jTrait.java:87-110``)."""
    base, where, tmp = _resolve_where(graph.nodes, where)
    nodes = base.withColumn(
        "props",
        F.when(
            where,
            F.map_concat(
                F.map_filter(F.col("props"), lambda k, _: k != key),
                F.create_map(F.lit(key), F.lit(str(value))),
            ),
        ).otherwise(F.col("props")),
    )
    if key in graph.nodes.columns:
        dtype = dict(graph.nodes.dtypes)[key]
        nodes = nodes.withColumn(
            key, F.when(where, F.lit(value).cast(dtype)).otherwise(F.col(key))
        )
    return _derive(graph, nodes=nodes.drop(*tmp), summary=_kept(graph, key))


def remove_vertex_property(graph: PropertyGraph, where, key: str) -> PropertyGraph:
    """M3 (remove form): drop a key from matching vertices' property
    maps (hot column set to NULL)."""
    base, where, tmp = _resolve_where(graph.nodes, where)
    nodes = base.withColumn(
        "props",
        F.when(
            where, F.map_filter(F.col("props"), lambda k, _: k != key)
        ).otherwise(F.col("props")),
    )
    if key in graph.nodes.columns:
        dtype = dict(graph.nodes.dtypes)[key]
        nodes = nodes.withColumn(
            key, F.when(where, F.lit(None).cast(dtype)).otherwise(F.col(key))
        )
    return _derive(graph, nodes=nodes.drop(*tmp), summary=_kept(graph, key))


def replace_vertex_properties(
    graph: PropertyGraph, where, props: dict
) -> PropertyGraph:
    """M3 (replace form, Cypher ``SET n = {map}``): the matched
    vertices' property set becomes EXACTLY ``props`` — the schemaless
    map is rebuilt from the dict and every typed hot column not named
    in it nulls out (``SET n = {}`` clears everything). One
    column-rewrite pass, no shuffle."""
    base, where, tmp = _resolve_where(graph.nodes, where)
    if props:
        pairs: list = []
        for k, v in props.items():
            pairs.extend([F.lit(k), F.lit(str(v))])
        new_map = F.create_map(*pairs)
    else:
        new_map = _empty_props()
    nodes = base.withColumn(
        "props", F.when(where, new_map).otherwise(F.col("props"))
    )
    dtypes = dict(graph.nodes.dtypes)
    for col in graph.nodes.columns:
        if col in NODE_CORE or col in SIDECAR_COLS:
            continue
        val = (
            F.lit(props[col]).cast(dtypes[col])
            if col in props
            else F.lit(None).cast(dtypes[col])
        )
        nodes = nodes.withColumn(
            col, F.when(where, val).otherwise(F.col(col))
        )
    return _derive(graph, nodes=nodes.drop(*tmp), summary=graph.summary)


def replace_edge_properties(
    graph: PropertyGraph, where, props: dict
) -> PropertyGraph:
    """M8 (replace form): matched edges' property maps become exactly
    ``props`` (edges carry no typed hot columns)."""
    base, where, tmp = _resolve_where(graph.edges, where)
    if props:
        pairs: list = []
        for k, v in props.items():
            pairs.extend([F.lit(k), F.lit(str(v))])
        new_map = F.create_map(*pairs)
    else:
        new_map = _empty_props()
    edges = base.withColumn(
        "props", F.when(where, new_map).otherwise(F.col("props"))
    )
    return _derive(graph, edges=edges.drop(*tmp), summary=graph.summary)


def set_edge_property(graph: PropertyGraph, where, key: str, value) -> PropertyGraph:
    """M8: set a property on matching edges (``Neo4jEdge.java:114-123``)."""
    base, where, tmp = _resolve_where(graph.edges, where)
    edges = base.withColumn(
        "props",
        F.when(
            where,
            F.map_concat(
                F.map_filter(F.col("props"), lambda k, _: k != key),
                F.create_map(F.lit(key), F.lit(str(value))),
            ),
        ).otherwise(F.col("props")),
    )
    return _derive(graph, edges=edges.drop(*tmp), summary=graph.summary)


def remove_edge_property(graph: PropertyGraph, where, key: str) -> PropertyGraph:
    """M8 (remove form): drop a key from matching edges' property maps
    (``Neo4jEdge.java:95-112`` property removal)."""
    base, where, tmp = _resolve_where(graph.edges, where)
    edges = base.withColumn(
        "props",
        F.when(
            where, F.map_filter(F.col("props"), lambda k, _: k != key)
        ).otherwise(F.col("props")),
    )
    return _derive(graph, edges=edges.drop(*tmp), summary=graph.summary)


# ---------------------------------------------------------------------------
# M5 / M6: removals
# ---------------------------------------------------------------------------


def remove_vertices(graph: PropertyGraph, ids: DataFrame | list) -> PropertyGraph:
    """M5: delete vertices and cascade-delete every edge touching
    them (reference ``Vertex.remove`` detaches relationships first,
    ``NoMultiNoMetaNeo4jTrait.java:71-84``). Two left-anti joins; the
    id set is broadcast when small."""
    if isinstance(ids, list):
        ids = local_frame(graph.spark, [(int(i),) for i in ids], "id long")
    key = "id" if "id" in ids.columns else ids.columns[0]
    ids = ids.select(F.col(key).alias("id"))
    nodes = graph.nodes.join(ids, on="id", how="leftanti")
    edges = (
        graph.edges.join(
            ids.withColumnRenamed("id", "src"), on="src", how="leftanti"
        )
        .join(ids.withColumnRenamed("id", "dst"), on="dst", how="leftanti")
        .select(*graph.edges.columns)
    )
    return _derive(graph, nodes=nodes, edges=edges, summary=graph.summary)


def remove_edges(graph: PropertyGraph, ids: DataFrame | list) -> PropertyGraph:
    """M6: delete edges by id (``Neo4jEdge.java:65-77``)."""
    if isinstance(ids, list):
        ids = local_frame(graph.spark, [(int(i),) for i in ids], "id long")
    key = "id" if "id" in ids.columns else ids.columns[0]
    edges = graph.edges.join(
        ids.select(F.col(key).alias("id")), on="id", how="leftanti"
    )
    return _derive(graph, edges=edges, summary=graph.summary)


# ---------------------------------------------------------------------------
# M7: label add / remove
# ---------------------------------------------------------------------------


def add_label(graph: PropertyGraph, where, label: str) -> PropertyGraph:
    """M7: set-semantics label add (``Neo4jVertex.java:158-166`` —
    duplicate adds are no-ops)."""
    base, where, tmp = _resolve_where(graph.nodes, where)
    nodes = base.withColumn(
        "labels",
        F.when(
            where, F.array_union(F.col("labels"), F.array(F.lit(label)))
        ).otherwise(F.col("labels")),
    )
    return _derive(graph, nodes=nodes.drop(*tmp))


def remove_label(graph: PropertyGraph, where, label: str) -> PropertyGraph:
    """M7: label remove (``Neo4jVertex.java:168-172``)."""
    base, where, tmp = _resolve_where(graph.nodes, where)
    nodes = base.withColumn(
        "labels",
        F.when(
            where, F.array_remove(F.col("labels"), label)
        ).otherwise(F.col("labels")),
    )
    return _derive(graph, nodes=nodes.drop(*tmp))


# ---------------------------------------------------------------------------
# M4: meta-properties (properties OF vertex properties)
# ---------------------------------------------------------------------------

# One sidecar array column on nodes; each element is one vertex-property
# instance that carries meta-properties. The reference materializes
# these as hidden VERTEX_PROPERTY nodes linked by hidden edges
# (``MultiMetaNeo4jTrait.java:126-170`` setVertexProperty token dance,
# :207-246 setProperty/getProperty on the property node); a struct
# array is the columnar equivalent — no extra table, no join to read,
# prunable by Parquet when untouched.
META_COL = "__meta"
META_SCHEMA = "array<struct<key:string,value:string,meta:map<string,string>>>"


def _with_meta_col(nodes: DataFrame) -> DataFrame:
    if META_COL in nodes.columns:
        return nodes
    return nodes.withColumn(META_COL, F.lit(None).cast(META_SCHEMA))


def set_meta_property(
    graph: PropertyGraph, where, key: str, value, meta: dict
) -> PropertyGraph:
    """M4: attach meta-properties to the ``(key, value)`` instance of
    every vertex matching ``where``. Existing meta keys for that
    instance are overwritten, others kept (reference
    ``MultiMetaNeo4jTrait.setProperty``, :207-224)."""
    value = str(value)
    meta = {k: str(v) for k, v in meta.items()}
    new_map = F.create_map(
        *[F.lit(x) for kv in sorted(meta.items()) for x in kv]
    ).cast("map<string,string>")
    nodes = _with_meta_col(graph.nodes)
    arr = F.coalesce(F.col(META_COL), F.array().cast(META_SCHEMA))
    is_target = lambda e: (e["key"] == key) & (e["value"] == value)  # noqa: E731
    exists = F.exists(arr, is_target)
    merged = F.transform(
        arr,
        lambda e: F.when(
            is_target(e),
            F.struct(
                e["key"].alias("key"),
                e["value"].alias("value"),
                F.map_concat(
                    F.map_filter(
                        e["meta"], lambda k, _: ~k.isin(*meta.keys())
                    ),
                    new_map,
                ).alias("meta"),
            ),
        ).otherwise(e),
    )
    appended = F.array_append(
        arr,
        F.struct(
            F.lit(key).alias("key"),
            F.lit(value).alias("value"),
            new_map.alias("meta"),
        ),
    )
    nodes = nodes.withColumn(
        META_COL,
        F.when(where & exists, merged)
        .when(where, appended)
        .otherwise(F.col(META_COL)),
    )
    return _derive(graph, nodes=nodes, summary=graph.summary)


def get_meta_properties(
    graph: PropertyGraph, key: str | None = None
) -> DataFrame:
    """M4 (read): one row per (vertex, property instance, meta key):
    ``id, uri, prop_key, prop_value, meta_key, meta_value`` (reference
    ``getProperty``/``getProperties`` on Neo4jVertexProperty,
    ``MultiMetaNeo4jTrait.java:226-246``)."""
    n = _with_meta_col(graph.nodes)
    ex = n.select("id", "uri", F.explode(META_COL).alias("e"))
    if key is not None:
        ex = ex.filter(F.col("e.key") == key)
    return ex.select(
        "id",
        "uri",
        F.col("e.key").alias("prop_key"),
        F.col("e.value").alias("prop_value"),
        F.explode(F.col("e.meta")).alias("meta_key", "meta_value"),
    )


def remove_meta_property(
    graph: PropertyGraph, where, key: str, value, meta_key: str | None = None
) -> PropertyGraph:
    """M4 (remove): drop one meta key (or with ``meta_key=None`` the
    whole instance entry) from matching vertices; entries whose meta
    map empties out are dropped (reference ``removeVertexProperty``
    deletes the property node, ``MultiMetaNeo4jTrait.java:189-205``)."""
    value = str(value)
    nodes = _with_meta_col(graph.nodes)
    arr = F.coalesce(F.col(META_COL), F.array().cast(META_SCHEMA))
    is_target = lambda e: (e["key"] == key) & (e["value"] == value)  # noqa: E731
    if meta_key is None:
        cleaned = F.filter(arr, lambda e: ~is_target(e))
    else:
        cleaned = F.filter(
            F.transform(
                arr,
                lambda e: F.when(
                    is_target(e),
                    F.struct(
                        e["key"].alias("key"),
                        e["value"].alias("value"),
                        F.map_filter(
                            e["meta"], lambda k, _: k != meta_key
                        ).alias("meta"),
                    ),
                ).otherwise(e),
            ),
            lambda e: F.size(F.map_keys(e["meta"])) > 0,
        )
    nodes = nodes.withColumn(
        META_COL, F.when(where, cleaned).otherwise(F.col(META_COL))
    )
    return _derive(graph, nodes=nodes, summary=graph.summary)


# ---------------------------------------------------------------------------
# M9: graph variables; durability (atomic swap)
# ---------------------------------------------------------------------------


def set_variable(graph: PropertyGraph, key: str, value) -> None:
    """M9: graph-wide key/value config
    (``Neo4jGraphVariables.java:43-58``)."""
    graph.variables[key] = value


def remove_variable(graph: PropertyGraph, key: str) -> None:
    graph.variables.pop(key, None)


def save_graph(
    graph: PropertyGraph, path: str, partition_edges_by: str | None = None
) -> None:
    """Persist nodes/edges (+ variables sidecar) with write-then-swap:
    new tables land in ``<path>/.staging`` and are promoted with
    per-table rename-level publishes — the batch replacement for the
    reference's transactions (SURVEY.md §3). A graph WITHOUT
    namespaces deletes any stale namespaces table at the target (it
    must not resurrect a previous graph's prefix registry on load).
    Honesty note: the swap is atomic PER TABLE (rename), not across
    the three tables — a crash between renames can leave new nodes
    with old edges; on an object store, wrap the three promotes in a
    manifest commit for true all-or-nothing.

    ``partition_edges_by="predicate"`` is the at-scale layout: every
    predicate-filtered traversal becomes a partition-pruned scan, the
    analog of the reference's edge-type index (SCALE.md)."""
    staging = os.path.join(path, ".staging")
    graph.nodes.write.mode("overwrite").parquet(os.path.join(staging, "nodes"))
    edge_writer = graph.edges.write.mode("overwrite")
    if partition_edges_by:
        edge_writer = edge_writer.partitionBy(partition_edges_by)
    edge_writer.parquet(os.path.join(staging, "edges"))
    if graph.namespaces is not None:
        graph.namespaces.write.mode("overwrite").parquet(
            os.path.join(staging, "namespaces")
        )
    # promote: re-point the live tables at the staged data. On an
    # object store this is a manifest swap; locally, directory rename.
    for t in ("nodes", "edges", "namespaces"):
        src = os.path.join(staging, t)
        dst = os.path.join(path, t)
        if os.path.exists(src):
            if os.path.exists(dst):
                import shutil

                shutil.rmtree(dst)
            os.rename(src, dst)
        elif os.path.exists(dst):
            # nothing staged for this table: remove the stale one —
            # a namespace-less graph must not pair the new nodes with
            # a PREVIOUS graph's prefix registry on load
            import shutil

            shutil.rmtree(dst)
    with open(os.path.join(path, "variables.json"), "w") as f:
        json.dump(graph.variables, f)


def save_graph_bucketed(
    graph: PropertyGraph,
    table_prefix: str,
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Persist nodes/edges as BUCKETED catalog tables: nodes bucketed
    +sorted by ``id``, edges by ``src`` — the co-located layout
    SCALE.md prescribes, so every node⋈edge traversal join reads
    matching buckets with NO exchange on either side (verified by
    plan test). ``path`` makes them external tables at that location;
    bucket metadata lives in the session catalog either way.

    At 100 TB: pick ``n_buckets`` so one bucket of the larger table
    fits an executor's shuffle-free sort (the usual sizing rule);
    re-bucketing is a one-time full shuffle that every subsequent
    join then skips."""
    def writer(df, key, name):
        w = df.write.mode("overwrite").bucketBy(n_buckets, key).sortBy(key)
        if path is not None:
            w = w.option("path", os.path.join(path, name))
        return w

    writer(graph.nodes, "id", "nodes").saveAsTable(f"{table_prefix}_nodes")
    writer(graph.edges, "src", "edges").saveAsTable(f"{table_prefix}_edges")
    if graph.namespaces is not None:
        w = graph.namespaces.write.mode("overwrite")
        if path is not None:
            w = w.option("path", os.path.join(path, "namespaces"))
        w.saveAsTable(f"{table_prefix}_namespaces")


def load_graph_bucketed(spark, table_prefix: str) -> PropertyGraph:
    """Load a graph saved by ``save_graph_bucketed`` — reads come back
    with bucket-aligned output partitioning, so joins on the bucket
    keys skip their exchanges."""
    catalog = spark.catalog
    namespaces = (
        spark.table(f"{table_prefix}_namespaces")
        if catalog.tableExists(f"{table_prefix}_namespaces")
        else None
    )
    return PropertyGraph(
        spark=spark,
        nodes=spark.table(f"{table_prefix}_nodes"),
        edges=spark.table(f"{table_prefix}_edges"),
        namespaces=namespaces,
    )


def load_graph(spark, path: str) -> PropertyGraph:
    nodes = spark.read.parquet(os.path.join(path, "nodes"))
    edges = spark.read.parquet(os.path.join(path, "edges"))
    ns_path = os.path.join(path, "namespaces")
    namespaces = spark.read.parquet(ns_path) if os.path.exists(ns_path) else None
    variables = {}
    vpath = os.path.join(path, "variables.json")
    if os.path.exists(vpath):
        with open(vpath) as f:
            variables = json.load(f)
    return PropertyGraph(
        spark=spark, nodes=nodes, edges=edges,
        namespaces=namespaces, variables=variables,
    )
