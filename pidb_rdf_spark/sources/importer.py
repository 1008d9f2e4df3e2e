"""RDF bulk import: triples DataFrame -> PropertyGraph tables.

Reference: ``semantics/DirectStatementLoader.java`` (the importRDF
path, SURVEY.md §2.1 S7 and §1.2 mapping contract):

- resource (IRI / bnode) -> node labeled ``Resource`` with full-IRI
  ``uri`` property (:249-259; unique-uri invariant RDFImport.java:198-203)
- literal-object triple -> node property on the subject, key
  shortened to ``prefix__local`` (:160-165)
- ``rdf:type`` triple with IRI object -> shortened label (:166-168;
  bnode objects explicitly do NOT become labels)
- resource-object triple -> edge typed by shortened predicate,
  deduplicated on (src, type, dst) (:169-174, 281-305)
- namespace registry seeded with 7 well-known prefixes (:66-70),
  unknown namespaces get generated ``ns0, ns1, …`` (:209-211)

The reference upserts record-at-a-time through an LRU node cache and
periodic commits (:175-181); the set-oriented equivalent is: distinct
over uris, groupBy-pivot for properties, left-anti + append for
incremental merges (see ``merge_triples``). Node ids are
``xxhash64(uri)`` — deterministic and computable executor-side with
no id-assignment coordination point, which is what survives a
1000-executor import. (64-bit hash: collision expectation stays
negligible below ~10^8 resources; for larger graphs swap in the
uri-keyed variant — joins here never rely on id density.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pidb_rdf_spark.functions.iri import (
    XSD_BOOL,
    XSD_DOUBLE,
    XSD_LONG,
    iri_namespace_sql,
    shorten_iri_sql,
    sql_string,
)
from pidb_rdf_spark.graph import PropertyGraph
from pidb_rdf_spark.session import local_frame

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

# reference DirectStatementLoader.java:66-70
DEFAULT_NAMESPACES = {
    "http://schema.org/": "sch",
    "http://purl.org/dc/elements/1.1/": "dc",
    "http://purl.org/dc/terms/": "dct",
    "http://www.w3.org/2004/02/skos/core#": "skos",
    "http://www.w3.org/2000/01/rdf-schema#": "rdfs",
    "http://www.w3.org/2002/07/owl#": "owl",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#": "rdf",
}

# statement kinds, as SQL predicates over a triples row
_IS_TYPE = f"predicate = {sql_string(RDF_TYPE)}"
_IS_LABEL = f"{_IS_TYPE} AND NOT is_literal AND NOT startswith(object, '_:')"
# literal datatype -> stored property family (F5)
_FAMILY = (
    "CASE "
    + "".join(
        f"WHEN datatype IN ({', '.join(map(sql_string, dts))}) THEN '{family}' "
        for family, dts in (("long", XSD_LONG), ("double", XSD_DOUBLE), ("boolean", XSD_BOOL))
    )
    + "ELSE 'string' END"
)
_EMPTY_PROPS = "from_json('{}', 'map<string,string>')"


def _statements(
    triples: DataFrame, types_to_labels: bool = True, language_filter: str | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Split triples into (literal, label, resource) statements: literal
    objects become properties, ``rdf:type`` with an IRI object a label
    (bnode type objects are NOT labels, ``DirectStatementLoader.java
    :166-168``), every other resource object an edge."""
    lit = "is_literal"
    if language_filter is not None:
        lit += f" AND (lang IS NULL OR lang = {sql_string(language_filter)})"
    if not types_to_labels:
        return triples.filter(lit), triples.limit(0), triples.filter("NOT is_literal")
    return (
        triples.filter(lit),
        triples.filter(_IS_LABEL),
        triples.filter(f"NOT is_literal AND NOT {_IS_TYPE}"),
    )


def discover_namespaces(
    triples: DataFrame, known: dict[str, str] | None = None
) -> dict[str, str]:
    """Known prefixes + generated ``nsN`` for every namespace seen in
    predicates and type objects (auto-registration,
    ``DirectStatementLoader.java:205-211``). Namespace list is
    vocabulary-sized on any sane corpus; a pathological corpus minting
    a namespace per IRI is capped at the top-K by frequency (overflow
    IRIs simply stay unshortened — lossless, they just don't get a
    prefix)."""
    from pidb_rdf_spark.graph import MAX_SCHEMA_KEYS, _capped_key_collect

    ns_map = dict(known if known is not None else DEFAULT_NAMESPACES)
    ns_col = (
        triples.selectExpr(f"{iri_namespace_sql('predicate')} AS ns")
        .unionAll(
            triples.filter(_IS_LABEL).selectExpr(f"{iri_namespace_sql('object')} AS ns")
        )
        .filter("ns != ''")
    )
    # fast path: one distinct aggregate, no count/orderBy. Only when
    # the vocabulary overflows the cap (pathological corpus) do we pay
    # a second, frequency-ordered pass to keep the most-used prefixes.
    distinct_ns = ns_col.dropDuplicates().limit(MAX_SCHEMA_KEYS + 1).collect()
    if len(distinct_ns) <= MAX_SCHEMA_KEYS:
        seen = distinct_ns
    else:
        seen = _capped_key_collect(
            ns_col.groupBy("ns").agg(F.count("*").alias("n")),
            "discover_namespaces",
        )
    fresh = sorted(r["ns"] for r in seen if r["ns"] not in ns_map)
    # continue the nsN counter past prefixes already assigned (an
    # incremental merge seeds `known` with the existing registry —
    # reusing ns0.. would silently remap IRIs on export)
    used = set(ns_map.values())
    counter = 0
    for ns in fresh:
        while f"ns{counter}" in used:
            counter += 1
        ns_map[ns] = f"ns{counter}"
        used.add(f"ns{counter}")
    return ns_map


def import_triples(
    spark: SparkSession,
    triples: DataFrame,
    shorten: bool = True,
    types_to_labels: bool = True,
    language_filter: str | None = None,
    namespaces: dict[str, str] | None = None,
) -> PropertyGraph:
    """Build a PropertyGraph from a triples DataFrame (the batch
    equivalent of importRDF; flags mirror ``RDFImport.java:34-38``:
    shortenUrls, typesToLabels, languageFilter).

    The input is materialized once, with an eager ``localCheckpoint``,
    before namespace discovery: discovery and every branch of
    ``nodes`` and ``edges`` then read the parsed rows, so a lazy parse
    (the Turtle ``flatMap``, the N-Triples regex projection) runs once
    per import, as the reference streams each statement through its
    parser once."""
    triples = triples.localCheckpoint()
    ns_map = discover_namespaces(triples, namespaces) if shorten else {}

    lit, typ, res = _statements(triples, types_to_labels, language_filter)

    # --- resources: subjects of any triple + objects of resource triples
    uris = (
        triples.selectExpr("subject AS uri")
        .unionAll(res.selectExpr("object AS uri"))
        .distinct()
    )

    # --- typed property values (3 families + string, F5) --------------
    # single-cardinality semantics: the reference's setProp keeps one
    # value per key (last writer wins in parse order). Parse order
    # doesn't exist in a set-oriented import, so pick the max value —
    # deterministic across partitionings, which matters more at scale
    # than which of two conflicting literals survives.
    props = (
        lit.selectExpr(
            "subject AS uri",
            f"{shorten_iri_sql('predicate', ns_map)} AS key",
            f"struct(object AS value, {_FAMILY} AS family) AS vf",
        )
        .groupBy("uri", "key")
        .agg(F.expr("max(vf) AS vf"))
    )
    props_map = props.groupBy("uri").agg(
        F.expr("map_from_entries(collect_list(struct(key, vf.value))) AS props"),
        F.expr("map_from_entries(collect_list(struct(key, vf.family))) AS __prop_types"),
    )

    labels = (
        typ.selectExpr("subject AS uri", f"{shorten_iri_sql('object', ns_map)} AS label")
        .groupBy("uri")
        .agg(F.expr("array_sort(collect_set(label)) AS __typelabels"))
    )

    nodes = (
        uris.join(props_map, on="uri", how="left")
        .join(labels, on="uri", how="left")
        .selectExpr(
            "xxhash64(uri) AS id",
            "uri",
            "concat(array('Resource'), "
            "coalesce(__typelabels, CAST(array() AS ARRAY<STRING>))) AS labels",
            f"coalesce(props, {_EMPTY_PROPS}) AS props",
            "__prop_types",
        )
    )

    # --- edges: resource-object statements, deduped (M10) -------------
    edges = (
        res.selectExpr(
            "subject AS s_uri",
            f"{shorten_iri_sql('predicate', ns_map)} AS predicate",
            "object AS o_uri",
        )
        .distinct()  # (src, type, dst) dedup, DirectStatementLoader.java:281-305
        # canonical edge-id scheme: multi-arg xxhash64 over (src uri,
        # dst uri, predicate) — field boundaries are structural (no
        # separator to collide on), and the SAME logical edge gets the
        # SAME id from import, add_edges, Neo4j-CSV, GraphSON and
        # GraphML paths
        .selectExpr(
            "xxhash64(s_uri, o_uri, predicate) AS id",
            "xxhash64(s_uri) AS src",
            "xxhash64(o_uri) AS dst",
            "predicate",
            f"{_EMPTY_PROPS} AS props",
        )
    )

    ns_df = local_frame(
        spark,
        [(ns, p) for ns, p in sorted(ns_map.items())] or [("", "")],
        "namespace string, prefix string",
    )
    return PropertyGraph(spark=spark, nodes=nodes, edges=edges, namespaces=ns_df)


def merge_triples(graph: PropertyGraph, new_triples: DataFrame, **kwargs) -> PropertyGraph:
    """Incremental import into an existing graph: node upsert by uri
    (M11) + edge dedup-on-insert (M10), the set-oriented version of
    the reference's get-or-create cache + exists-check
    (``DirectStatementLoader.java:246-262, 281-305``).

    Namespace discovery is seeded with the existing graph's registry
    so shortened ``nsN__local`` keys already embedded in the stored
    nodes/edges keep meaning the same IRIs (fresh namespaces continue
    the counter past existing assignments)."""
    user_ns = kwargs.pop("namespaces", None) or {}
    existing_ns = (
        {
            r["namespace"]: r["prefix"]
            for r in graph.namespaces.collect()
            if r["namespace"]
        }
        if graph.namespaces is not None
        # graphs built outside the RDF importer (graphify, manual
        # PropertyGraph) carry no namespace registry — seed empty
        else {}
    )
    kwargs["namespaces"] = {**DEFAULT_NAMESPACES, **existing_ns, **user_ns}
    incoming = import_triples(graph.spark, new_triples, **kwargs)
    new_nodes = incoming.nodes.join(
        graph.nodes.select("uri"), on="uri", how="leftanti"
    )
    # deep-merge into EXISTING nodes: incoming labels union in, incoming
    # props overwrite same-key values (the reference's setProp is
    # last-writer-wins, ``NoMultiNoMetaNeo4jTrait.java:87-110``) —
    # required for SPARQL ``INSERT DATA`` on an already-present subject
    existing = graph.nodes
    if "__prop_types" not in existing.columns:
        existing = existing.withColumn(
            "__prop_types", F.lit(None).cast("map<string,string>")
        )
    inc = incoming.nodes.select(
        "uri",
        F.col("labels").alias("__in_labels"),
        F.col("props").alias("__in_props"),
        F.col("__prop_types").alias("__in_types"),
    )
    empty_map = F.from_json(F.lit("{}"), "map<string,string>")
    in_props = F.coalesce(F.col("__in_props"), empty_map)
    in_types = F.coalesce(F.col("__in_types"), empty_map)
    merged = (
        existing.join(inc, on="uri", how="left")
        .withColumn(
            "labels",
            F.array_union(
                F.col("labels"),
                F.coalesce(F.col("__in_labels"), F.array().cast("array<string>")),
            ),
        )
        .withColumn(
            "props",
            F.map_concat(
                F.map_filter(
                    F.col("props"), lambda k, _: ~F.map_contains_key(in_props, k)
                ),
                in_props,
            ),
        )
        .withColumn(
            "__prop_types",
            F.map_concat(
                F.map_filter(
                    F.coalesce(F.col("__prop_types"), empty_map),
                    lambda k, _: ~F.map_contains_key(in_types, k),
                ),
                in_types,
            ),
        )
        .drop("__in_labels", "__in_props", "__in_types")
    )
    nodes = merged.unionByName(new_nodes, allowMissingColumns=True)
    new_edges = incoming.edges.join(
        graph.edges.select("src", "predicate", "dst"),
        on=["src", "predicate", "dst"],
        how="leftanti",
    )
    edges = graph.edges.unionByName(new_edges)
    return PropertyGraph(
        spark=graph.spark, nodes=nodes, edges=edges,
        namespaces=incoming.namespaces, variables=graph.variables,
    )


def remove_triples(graph: PropertyGraph, triples: DataFrame) -> PropertyGraph:
    """Set-oriented triple removal (the DELETE DATA half of SPARQL
    Update): resource triples drop matching edges, rdf:type triples
    drop the mapped label, literal triples drop the property key IF
    the stored value equals the stated object (RDF set semantics).
    Nodes themselves persist even when their last triple goes — node
    lifecycle stays with ``mutation.remove_vertices``, matching the
    reference where vertices outlive property removal.

    IRIs are shortened against the graph's EXISTING namespace registry
    (no discovery — removal must reference stored names verbatim)."""
    ns_map = {
        r["namespace"]: r["prefix"]
        for r in (graph.namespaces.collect() if graph.namespaces is not None else [])
        if r["namespace"]
    }

    lit, typ, res = _statements(triples)

    # --- edges: anti-join on (src, predicate, dst) --------------------
    del_edges = res.selectExpr(
        "xxhash64(subject) AS src",
        f"{shorten_iri_sql('predicate', ns_map)} AS predicate",
        "xxhash64(object) AS dst",
    ).dropDuplicates()
    edges = graph.edges.join(
        del_edges, on=["src", "predicate", "dst"], how="leftanti"
    )

    # --- labels -------------------------------------------------------
    del_labels = (
        typ.selectExpr("subject AS uri", f"{shorten_iri_sql('object', ns_map)} AS label")
        .groupBy("uri")
        .agg(F.collect_set("label").alias("__rm_labels"))
    )
    # --- props (value-conditional) ------------------------------------
    # ALL stated values per (uri, key) collect into a set: DELETE DATA
    # may name several values for one property, and which one survives
    # a per-key dropDuplicates would be partitioning-dependent — the
    # stored value must be tested against every stated value
    del_props = (
        lit.selectExpr(
            "subject AS uri",
            f"{shorten_iri_sql('predicate', ns_map)} AS key",
            "object AS value",
        )
        .groupBy("uri", "key")
        .agg(F.collect_set("value").alias("__vals"))
        .groupBy("uri")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("key", "__vals"))
            ).alias("__rm_props")
        )
    )
    nodes = (
        graph.nodes.join(F.broadcast(del_labels), on="uri", how="left")
        .join(F.broadcast(del_props), on="uri", how="left")
        .withColumn(
            "labels",
            F.array_except(
                F.col("labels"),
                F.coalesce(F.col("__rm_labels"), F.array().cast("array<string>")),
            ),
        )
        .withColumn(
            "props",
            F.map_filter(
                F.col("props"),
                lambda k, v: ~F.coalesce(
                    F.array_contains(F.col("__rm_props")[k], v),
                    F.lit(False),
                ),
            ),
        )
        .drop("__rm_labels", "__rm_props")
    )
    if "__prop_types" in nodes.columns:
        nodes = nodes.withColumn(
            "__prop_types",
            F.map_filter(
                F.col("__prop_types"),
                lambda k, _: F.map_contains_key(F.col("props"), k),
            ),
        )
    return PropertyGraph(
        spark=graph.spark, nodes=nodes, edges=edges,
        namespaces=graph.namespaces, variables=graph.variables,
    )


def preview_rdf(
    spark: SparkSession,
    triples: DataFrame,
    limit: int = 100,
    **import_kwargs,
) -> tuple[list, list]:
    """S8: dry-run import — parse and map to virtual nodes/relationships
    without writing anything (reference ``previewRDF`` /
    ``previewRDFSnippet``, ``RDFImport.java:86-120,157-186``; virtual
    elements ``semantics/result/VirtualNode.java:17``,
    ``VirtualRelationship.java:20``).

    Returns (nodes, relationships) as collected rows capped at
    ``limit`` each — the preview is for eyeballing a sample, so the
    driver-side collect is bounded by construction."""
    g = import_triples(spark, triples, **import_kwargs)
    nodes = g.nodes.drop("__prop_types").limit(limit).collect()
    uri_by_id = {r["id"]: r["uri"] for r in nodes}
    edges = g.edges.limit(limit).collect()
    rels = [
        {
            "src": uri_by_id.get(r["src"], r["src"]),
            "predicate": r["predicate"],
            "dst": uri_by_id.get(r["dst"], r["dst"]),
        }
        for r in edges
    ]
    return [r.asDict() for r in nodes], rels
