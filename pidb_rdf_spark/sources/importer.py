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
    iri_namespace,
    shorten_iri,
)
from pidb_rdf_spark.graph import PropertyGraph

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
        triples.select(iri_namespace(F.col("predicate")).alias("ns"))
        .unionAll(
            triples.filter(
                (F.col("predicate") == RDF_TYPE)
                & ~F.col("is_literal")
                & ~F.col("object").startswith("_:")
            ).select(iri_namespace(F.col("object")).alias("ns"))
        )
        .filter(F.col("ns") != "")
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


def _lang_ok(lang_col, language_filter: str | None):
    if language_filter is None:
        return F.lit(True)
    return lang_col.isNull() | (lang_col == language_filter)


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
    shortenUrls, typesToLabels, languageFilter)."""
    ns_map = discover_namespaces(triples, namespaces) if shorten else {}

    def short(col):
        return shorten_iri(col, ns_map) if shorten else col

    lit = triples.filter(F.col("is_literal") & _lang_ok(F.col("lang"), language_filter))
    typ = triples.filter(
        (F.col("predicate") == RDF_TYPE)
        & ~F.col("is_literal")
        & ~F.col("object").startswith("_:")
    ) if types_to_labels else triples.limit(0)
    res = triples.filter(
        ~F.col("is_literal")
        & ((F.col("predicate") != RDF_TYPE) if types_to_labels else F.lit(True))
    )

    # --- resources: subjects of any triple + objects of resource triples
    uris = (
        triples.select(F.col("subject").alias("uri"))
        .unionAll(res.select(F.col("object").alias("uri")))
        .distinct()
    )

    # --- typed property values (3 families + string, F5) --------------
    is_long = F.col("datatype").isin(XSD_LONG)
    is_double = F.col("datatype").isin(XSD_DOUBLE)
    is_bool = F.col("datatype").isin(XSD_BOOL)
    props = lit.select(
        F.col("subject").alias("uri"),
        short(F.col("predicate")).alias("key"),
        F.col("object").alias("value"),
        F.when(is_long, "long")
        .when(is_double, "double")
        .when(is_bool, "boolean")
        .otherwise("string")
        .alias("family"),
    )
    # single-cardinality semantics: the reference's setProp keeps one
    # value per key (last writer wins in parse order). Parse order
    # doesn't exist in a set-oriented import, so pick the max value —
    # deterministic across partitionings, which matters more at scale
    # than which of two conflicting literals survives.
    props = (
        props.groupBy("uri", "key")
        .agg(F.max(F.struct("value", "family")).alias("vf"))
        .select("uri", "key", F.col("vf.value").alias("value"), F.col("vf.family").alias("family"))
    )
    props_map = props.groupBy("uri").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.col("value")))
        ).alias("props"),
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.col("family")))
        ).alias("__prop_types"),
    )

    labels = typ.select(
        F.col("subject").alias("uri"), short(F.col("object")).alias("label")
    ).groupBy("uri").agg(F.array_sort(F.collect_set("label")).alias("__typelabels"))

    nodes = (
        uris.join(props_map, on="uri", how="left")
        .join(labels, on="uri", how="left")
        .select(
            F.xxhash64(F.col("uri")).alias("id"),
            F.col("uri"),
            F.concat(
                F.array(F.lit("Resource")),
                F.coalesce(F.col("__typelabels"), F.array().cast("array<string>")),
            ).alias("labels"),
            F.coalesce(
                F.col("props"), F.from_json(F.lit("{}"), "map<string,string>")
            ).alias("props"),
            F.col("__prop_types"),
        )
    )

    # --- edges: resource-object statements, deduped (M10) -------------
    edges = (
        res.select(
            F.col("subject").alias("s_uri"),
            short(F.col("predicate")).alias("predicate"),
            F.col("object").alias("o_uri"),
        )
        .distinct()  # (src, type, dst) dedup, DirectStatementLoader.java:281-305
        .select(
            # canonical edge-id scheme: multi-arg xxhash64 over
            # (src uri, dst uri, predicate) — field boundaries are
            # structural (no separator to collide on), and the SAME
            # logical edge gets the SAME id from import, add_edges,
            # Neo4j-CSV, GraphSON and GraphML paths
            F.xxhash64("s_uri", "o_uri", "predicate").alias("id"),
            F.xxhash64(F.col("s_uri")).alias("src"),
            F.xxhash64(F.col("o_uri")).alias("dst"),
            F.col("predicate"),
            F.from_json(F.lit("{}"), "map<string,string>").alias("props"),
        )
    )

    ns_df = spark.createDataFrame(
        [(ns, p) for ns, p in sorted(ns_map.items())] or [("", "")],
        ["namespace", "prefix"],
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

    def short(col):
        return shorten_iri(col, ns_map) if ns_map else col

    lit = triples.filter(F.col("is_literal"))
    typ = triples.filter(
        (F.col("predicate") == RDF_TYPE)
        & ~F.col("is_literal")
        & ~F.col("object").startswith("_:")
    )
    res = triples.filter(
        ~F.col("is_literal") & (F.col("predicate") != RDF_TYPE)
    )

    # --- edges: anti-join on (src, predicate, dst) --------------------
    del_edges = res.select(
        F.xxhash64(F.col("subject")).alias("src"),
        short(F.col("predicate")).alias("predicate"),
        F.xxhash64(F.col("object")).alias("dst"),
    ).dropDuplicates()
    edges = graph.edges.join(
        del_edges, on=["src", "predicate", "dst"], how="leftanti"
    )

    # --- labels -------------------------------------------------------
    del_labels = (
        typ.select(
            F.col("subject").alias("uri"), short(F.col("object")).alias("label")
        )
        .groupBy("uri")
        .agg(F.collect_set("label").alias("__rm_labels"))
    )
    # --- props (value-conditional) ------------------------------------
    # ALL stated values per (uri, key) collect into a set: DELETE DATA
    # may name several values for one property, and which one survives
    # a per-key dropDuplicates would be partitioning-dependent — the
    # stored value must be tested against every stated value
    del_props = (
        lit.select(
            F.col("subject").alias("uri"),
            short(F.col("predicate")).alias("key"),
            F.col("object").alias("value"),
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
