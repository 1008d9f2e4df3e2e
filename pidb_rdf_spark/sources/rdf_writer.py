"""RDF export: PropertyGraph -> triples -> N-Triples text (SURVEY.md
§2.1 S12/S13).

Reference: ``semantics/extension/RDFEndpoint.java`` — serializes
query-result nodes/relationships back to RDF over HTTP, expanding
``prefix__local`` names to full IRIs (:317-337), typing literals from
their stored Java type (:566-586), unrolling array property values
one triple each (:180-188, 426-434). Here the same rules produce a
``triples`` DataFrame; serialization to N-Triples is one JVM-side
string expression per row and writes at full cluster width via
``df.write.text`` (each partition streams independently — the scale
analog of the reference's streamed HTTP response body).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.functions.iri import (
    XSD,
    build_uri_sql,
    sql_string,
    subject_term_sql,
)
from pidb_rdf_spark.graph import NODE_CORE, SIDECAR_COLS, PropertyGraph

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
# the local names a Turtle prefixed name may carry here
_PN_LOCAL = sql_string(r"^[A-Za-z0-9_](?:[A-Za-z0-9_.-]*[A-Za-z0-9_-])?$")


_NO_LANG = "CAST(NULL AS STRING) AS lang"
_NO_DATATYPE = "CAST(NULL AS STRING) AS datatype"


def _escape_sql(value: str) -> str:
    """SQL text of the N-Triples string escape of ``value``: the
    backslash first, so the backslashes later replacements add stay
    single."""
    for raw, esc in (("\\", "\\\\"), ('"', '\\"'), ("\n", "\\n"), ("\r", "\\r"), ("\t", "\\t")):
        value = f"replace({value}, {sql_string(raw)}, {sql_string(esc)})"
    return value


def _literal_sql(datatype_term: str) -> str:
    """SQL text of a triples row's literal object (``"lex"@lang``,
    ``"lex"^^datatype`` or ``"lex"``), shared by the N-Triples and
    Turtle line writers; ``datatype_term`` is the SQL text rendering
    the datatype IRI."""
    return (
        f"concat('\"', {_escape_sql('object')}, '\"', CASE "
        "WHEN lang IS NOT NULL THEN concat('@', lang) "
        f"WHEN datatype IS NOT NULL THEN concat('^^', {datatype_term}) ELSE '' END)"
    )


def graph_to_triples(
    graph: PropertyGraph, default_ns: str = "urn:default#"
) -> DataFrame:
    """Reconstruct the triples view of a PropertyGraph (inverse of the
    import mapping, used by all export surfaces).

    Emits: literal triples from the ``props`` map (typed via the
    ``__prop_types`` sidecar map when the graph came from RDF import)
    and from typed hot columns; ``rdf:type`` triples from labels
    (``Resource`` excluded — it is the importer's marker label); and
    resource triples from edges."""
    ns = graph.namespace_map()

    def uri(name: str) -> str:
        return build_uri_sql(name, ns, default_ns)

    n = graph.nodes
    has_types = "__prop_types" in n.columns
    hot = [c for c in n.columns if c not in NODE_CORE and c not in SIDECAR_COLS]

    # --- props-map literals -------------------------------------------
    # keys that also exist as typed hot columns are emitted from the
    # hot branch only — an RDF graph is a SET of triples, and graphify
    # mirrors every hot column into the props map
    entries = n.selectExpr(
        "uri AS subject",
        "explode(props) AS (key, value)",
        *(["__prop_types"] if has_types else []),
    )
    if hot:
        entries = entries.filter(f"key NOT IN ({', '.join(map(sql_string, hot))})")
    # stored family -> XSD datatype of the literal (F6); strings untyped
    datatype = _NO_DATATYPE
    if has_types:
        families = "".join(
            f"WHEN '{f}' THEN {sql_string(XSD + f)} " for f in ("long", "double", "boolean")
        )
        datatype = f"CASE __prop_types[key] {families}END AS datatype"
    lit_triples = entries.selectExpr(
        "subject",
        f"{uri('key')} AS predicate",
        "value AS object",
        "true AS is_literal",
        datatype,
        _NO_LANG,
    )

    # --- typed hot columns (graphified tables) ------------------------
    dtypes = dict(n.dtypes)
    hot_frames = []
    for c in hot:
        dt = dtypes[c]
        datatype = (
            XSD + "long" if dt in ("bigint", "int", "smallint", "tinyint")
            else XSD + "double" if dt in ("double", "float")
            else XSD + "boolean" if dt == "boolean"
            else None
        )
        col = "`" + c.replace("`", "``") + "`"
        hot_frames.append(
            n.filter(f"{col} IS NOT NULL").selectExpr(
                "uri AS subject",
                f"{uri(sql_string(c))} AS predicate",
                f"CAST({col} AS STRING) AS object",
                "true AS is_literal",
                f"{sql_string(datatype)} AS datatype" if datatype else _NO_DATATYPE,
                _NO_LANG,
            )
        )

    # --- labels -> rdf:type -------------------------------------------
    label_triples = (
        n.selectExpr("uri AS subject", "explode(labels) AS label")
        .filter("label != 'Resource'")
        .selectExpr(
            "subject",
            f"{sql_string(RDF_TYPE)} AS predicate",
            f"{uri('label')} AS object",
            "false AS is_literal",
            _NO_DATATYPE,
            _NO_LANG,
        )
    )

    # --- edges --------------------------------------------------------
    out = lit_triples
    for fr in hot_frames:
        out = out.unionByName(fr)
    return out.unionByName(label_triples).unionByName(
        _edge_triples(n, graph.edges, uri)
    )


def _edge_triples(nodes: DataFrame, edges: DataFrame, uri) -> DataFrame:
    """Resource triples of ``edges``, their ends looked up in ``nodes``
    and the predicate expanded by the SQL-text builder ``uri``."""
    src_uri = nodes.selectExpr("id AS src", "uri AS subject")
    dst_uri = nodes.selectExpr("id AS dst", "uri AS object")
    return edges.join(src_uri, on="src").join(dst_uri, on="dst").selectExpr(
        "subject",
        f"{uri('predicate')} AS predicate",
        "object",
        "false AS is_literal",
        _NO_DATATYPE,
        _NO_LANG,
    )


def triples_to_ntriples_lines(triples: DataFrame) -> DataFrame:
    """triples rows -> one N-Triples line per row (column ``value``)."""
    literal = _literal_sql("concat('<', datatype, '>')")
    obj = f"IF(is_literal, {literal}, {subject_term_sql('object')})"
    return triples.selectExpr(
        f"concat({subject_term_sql('subject')}, ' <', predicate, '> ', {obj}, ' .') AS value"
    )


def export_ntriples(graph: PropertyGraph, path: str, **kwargs) -> None:
    """Write the whole graph as N-Triples text files (S12's cypher->RDF
    sink generalized to the full graph; partitioned parallel write)."""
    triples_to_ntriples_lines(graph_to_triples(graph, **kwargs)).write.mode(
        "overwrite"
    ).text(path)


def describe(
    graph: PropertyGraph, uri: str | None = None, node_id: int | None = None,
    exclude_context: bool = False,
) -> DataFrame:
    """One node's triples + (optionally) its 1-hop context (reference
    describe endpoints, ``RDFEndpoint.java:206-291``: node plus
    ``OPTIONAL MATCH (x)-[r]-(val:Resource)``)."""
    n = graph.nodes
    target = n.filter(F.col("uri") == uri) if uri is not None else n.filter(
        F.col("id") == node_id
    )
    return describe_nodes(graph, target, exclude_context=exclude_context)


def describe_nodes(
    graph: PropertyGraph, target: DataFrame, exclude_context: bool = False
) -> DataFrame:
    """DESCRIBE for a whole set of target nodes (same shape as
    ``describe`` but set-oriented — the SPARQL DESCRIBE query form and
    the REST endpoint both land here)."""
    n = graph.nodes
    target_ids = target.select("id")
    sub = PropertyGraph(
        spark=graph.spark,
        nodes=target,
        edges=graph.edges.limit(0),
        namespaces=graph.namespaces,
    )
    own = graph_to_triples(sub)
    if exclude_context:
        return own
    # NB: a leftsemi join moves its key column first — re-select the
    # original column order before the positional union
    cols = graph.edges.columns
    touching = (
        graph.edges.join(
            target_ids.withColumnRenamed("id", "src"), on="src", how="leftsemi"
        )
        .select(*cols)
        .unionAll(
            graph.edges.join(
                target_ids.withColumnRenamed("id", "dst"), on="dst", how="leftsemi"
            ).select(*cols)
        )
        .dropDuplicates(["id"])
    )
    ns = graph.namespace_map()
    ctx = _edge_triples(n, touching, lambda name: build_uri_sql(name, ns))
    return own.unionByName(ctx)


def triples_to_turtle_lines(
    triples: DataFrame, namespaces: dict[str, str] | None = None
) -> DataFrame:
    """triples rows -> Turtle lines (column ``value``), with a
    ``@prefix`` header and prefixed names where a namespace matches
    (reference S12 serializes Turtle via RDF4J Rio; here each
    partition emits its own lines — subject grouping/`;` compaction is
    deliberately not used so the write stays embarrassingly parallel).
    """
    # the importer's ("", "") placeholder names no namespace
    namespaces = {ns: p for ns, p in (namespaces or {}).items() if ns}

    def term(col: str) -> str:
        # longest-namespace-first so nested namespaces prefix correctly;
        # only a conservative PN_LOCAL subset may be prefixed (word
        # chars, digits, '-', '.', not starting/ending with '.') —
        # merely excluding [/#:] let IRI-legal-but-PN-illegal locals
        # through (dbr:Paris_(France), names ending in '.') and every
        # standard Turtle parser rejects the file; everything else
        # falls back to the always-valid <full IRI> form
        cases = []
        for ns, pfx in sorted(namespaces.items(), key=lambda kv: -len(kv[0])):
            local = f"substr({col}, {len(ns) + 1})"
            cases.append(
                f"WHEN startswith({col}, {sql_string(ns)}) AND {local} rlike {_PN_LOCAL} "
                f"THEN concat({sql_string(pfx + ':')}, {local}) "
            )
        fallback = subject_term_sql(col)
        return f"CASE {''.join(cases)}ELSE {fallback} END" if cases else fallback

    obj = f"IF(is_literal, {_literal_sql(term('datatype'))}, {term('object')})"
    pred = f"IF(predicate = {sql_string(RDF_TYPE)}, 'a', {term('predicate')})"
    body = triples.selectExpr(
        f"concat({term('subject')}, ' ', {pred}, ' ', {obj}, ' .') AS value"
    )
    # Turtle prefix declarations are per-document state, and the
    # parallel writer emits one file per partition — so EVERY
    # partition gets the header (a header-only file for an empty
    # partition is valid Turtle).
    header = [f"@prefix {p}: <{ns}> ." for ns, p in sorted(namespaces.items())]

    def with_header(rows):
        from itertools import chain

        return chain(header, (r["value"] for r in rows))

    spark = triples.sparkSession
    rdd = body.rdd.mapPartitions(with_header).map(lambda v: (v,))
    return spark.createDataFrame(rdd, "value string")


def export_turtle(graph: PropertyGraph, path: str, **kwargs) -> None:
    """Write the whole graph as Turtle (S12, second serialization).
    The header lands in its own (tiny) partition; body partitions
    write in parallel."""
    t = graph_to_triples(graph, **kwargs)
    triples_to_turtle_lines(t, graph.namespace_map()).write.mode("overwrite").text(path)


def triples_to_nquads_lines(
    triples: DataFrame, graph_iri: str | None = None
) -> DataFrame:
    """triples rows -> N-Quads lines: the N-Triples statement with an
    optional graph term (reference RDF endpoint format negotiation,
    ``RDFEndpoint.java:589-604``). The LPG model has one graph, so
    every statement carries the same ``graph_iri`` (or none — then
    the output is also valid N-Triples)."""
    nt = triples_to_ntriples_lines(triples)
    if graph_iri is None:
        return nt
    # splice the graph term before the closing ' .'
    graph_term = sql_string(f" <{graph_iri}> .")
    return nt.selectExpr(f"concat(substring(value, 1, length(value) - 2), {graph_term}) AS value")


def export_nquads(
    graph: PropertyGraph, path: str, graph_iri: str | None = None, **kwargs
) -> None:
    """Write the whole graph as N-Quads (line-parallel like
    export_ntriples)."""
    triples_to_nquads_lines(
        graph_to_triples(graph, **kwargs), graph_iri
    ).write.mode("overwrite").text(path)


def triples_to_trig_lines(
    triples: DataFrame,
    namespaces: dict[str, str] | None = None,
    graph_iri: str | None = None,
) -> DataFrame:
    """triples rows -> TriG lines. Statements are Turtle lines wrapped
    in a named-graph block; each partition emits its own ``<g> { … }``
    block (TriG permits a graph label in multiple blocks — their
    contents union), so the write stays embarrassingly parallel: no
    global sort, no single-writer funnel."""
    # the importer's ("", "") placeholder names no namespace
    namespaces = {ns: p for ns, p in (namespaces or {}).items() if ns}
    body = triples_to_turtle_lines(triples, None)  # statements, no header
    header = [f"@prefix {p}: <{ns}> ." for ns, p in sorted(namespaces.items())]
    open_block = f"<{graph_iri}> {{" if graph_iri else "{"

    def with_block(rows):
        stmts = [r["value"] for r in rows]
        out = list(header)
        if stmts:
            out.append(open_block)
            out.extend(stmts)
            out.append("}")
        return out

    spark = triples.sparkSession
    rdd = body.rdd.mapPartitions(with_block).map(lambda v: (v,))
    return spark.createDataFrame(rdd, "value string")


def export_trig(
    graph: PropertyGraph, path: str, graph_iri: str | None = None, **kwargs
) -> None:
    """Write the whole graph as TriG (named-graph-aware, S12 +
    ``RDFEndpoint.java:589-604`` format set)."""
    t = graph_to_triples(graph, **kwargs)
    triples_to_trig_lines(t, graph.namespace_map(), graph_iri).write.mode(
        "overwrite"
    ).text(path)


def triples_to_jsonld_lines(triples: DataFrame) -> DataFrame:
    """Flat JSON-LD, one node object per subject per line (the
    serialization shape of the reference's JSON-LD endpoint output,
    ``RDFEndpoint.java:589-604`` format negotiation). Literal objects
    become ``@value`` (+ ``@type``/``@language``), resource objects
    ``@id`` references, rdf:type triples the ``@type`` list. Keys and
    values are sorted, so output is deterministic.

    Serialization runs per subject group in ``applyInPandas`` — the
    export path is IO-bound, and Python's json handles escaping
    correctly (hand-built JSON string concat would not)."""
    import json

    import pandas as pd

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def to_obj(pdf: pd.DataFrame) -> pd.DataFrame:
        node: dict = {"@id": pdf["subject"].iloc[0]}
        types = sorted(
            o for p, o in zip(pdf["predicate"], pdf["object"]) if p == rdf_type
        )
        if types:
            node["@type"] = types
        by_pred: dict = {}
        for _, r in pdf.iterrows():
            if r["predicate"] == rdf_type:
                continue
            if r["is_literal"]:
                val: dict = {"@value": r["object"]}
                if r["datatype"]:
                    val["@type"] = r["datatype"]
                if r["lang"]:
                    val["@language"] = r["lang"]
            else:
                val = {"@id": r["object"]}
            by_pred.setdefault(r["predicate"], []).append(val)
        for p in sorted(by_pred):
            node[p] = sorted(by_pred[p], key=lambda v: json.dumps(v, sort_keys=True))
        return pd.DataFrame({"value": [json.dumps(node, sort_keys=True)]})

    return triples.groupBy("subject").applyInPandas(to_obj, "value string")


def export_jsonld(graph: PropertyGraph, path: str, **kwargs) -> None:
    """Write the whole graph as line-delimited flat JSON-LD (S12)."""
    t = graph_to_triples(graph, **kwargs)
    triples_to_jsonld_lines(t).write.mode("overwrite").text(path)


def triples_to_rdfxml_lines(triples: DataFrame) -> DataFrame:
    """RDF/XML: one ``rdf:Description`` element per subject per line,
    wrapped by header/footer rows (S12). Predicates must be XML
    QNames, so shortened ``prefix__local`` names are emitted in a
    synthetic ``ex:`` namespace and full-IRI predicates are split at
    the last ``/ # :``. Deterministic: subjects one per line, children
    sorted."""
    from xml.sax.saxutils import escape, quoteattr

    import pandas as pd

    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

    def qname(p: str) -> tuple[str, str]:
        if "://" in p or p.startswith("urn:"):
            idx = max(p.rfind("/"), p.rfind("#"), p.rfind(":"))
            return (p[: idx + 1], p[idx + 1:])
        return ("urn:pidb:vocab#", p)

    def to_xml(pdf: pd.DataFrame) -> pd.DataFrame:
        subj = pdf["subject"].iloc[0]
        parts = [f"<rdf:Description rdf:about={quoteattr(subj)}>"]
        rows = sorted(
            pdf.itertuples(index=False),
            key=lambda r: (r.predicate, str(r.object)),
        )
        for r in rows:
            ns, local = qname(r.predicate)
            if r.predicate == rdf_type:
                parts.append(f"<rdf:type rdf:resource={quoteattr(str(r.object))}/>")
            elif r.is_literal:
                attrs = ""
                if r.datatype:
                    attrs = f" rdf:datatype={quoteattr(r.datatype)}"
                elif r.lang:
                    attrs = f" xml:lang={quoteattr(r.lang)}"
                parts.append(
                    f"<p:{local} xmlns:p={quoteattr(ns)}{attrs}>"
                    f"{escape(str(r.object))}</p:{local}>"
                )
            else:
                parts.append(
                    f"<p:{local} xmlns:p={quoteattr(ns)} "
                    f"rdf:resource={quoteattr(str(r.object))}/>"
                )
        parts.append("</rdf:Description>")
        return pd.DataFrame({"value": ["".join(parts)]})

    spark = triples.sparkSession
    body = triples.groupBy("subject").applyInPandas(to_xml, "value string").select(
        F.lit(1).alias("__ord"), F.col("value")
    )
    header = spark.createDataFrame(
        [(0, '<?xml version="1.0"?>'),
         (0, '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#">')],
        "__ord int, value string",
    )
    footer = spark.createDataFrame([(2, "</rdf:RDF>")], "__ord int, value string")
    # explicit sort key: XML needs header-body-footer order, which a
    # bare union does not guarantee across partitions
    return (
        header.unionAll(body).unionAll(footer)
        .orderBy("__ord", "value")
        .select("value")
    )


def export_rdfxml(graph: PropertyGraph, path: str, **kwargs) -> None:
    """Write the whole graph as RDF/XML (S12). The document-order sort
    makes this a single-file serialization — use JSON-LD / N-Triples
    for partition-parallel export at scale."""
    t = graph_to_triples(graph, **kwargs)
    triples_to_rdfxml_lines(t).coalesce(1).write.mode("overwrite").text(path)


def triples_to_trix_lines(triples: DataFrame) -> DataFrame:
    """TriX serialization (one ``<triple>`` element per row). Each
    partition emits a complete TriX document (root + one ``<graph>``
    block), mirroring the Turtle/TriG per-partition-header pattern so
    the write stays embarrassingly parallel — a directory of part
    files is a set of valid TriX documents whose graphs union."""
    from xml.sax.saxutils import escape, quoteattr

    header = [
        '<?xml version="1.0"?>',
        '<TriX xmlns="http://www.w3.org/2004/03/trix/trix-1/">',
        "<graph>",
    ]
    footer = ["</graph>", "</TriX>"]

    def term_xml(value, is_literal, datatype, lang):
        if not is_literal:
            if value.startswith("_:"):
                return f"<id>{escape(value)}</id>"
            return f"<uri>{escape(value)}</uri>"
        if datatype:
            return (
                f"<typedLiteral datatype={quoteattr(datatype)}>"
                f"{escape(value)}</typedLiteral>"
            )
        if lang:
            return (
                f"<plainLiteral xml:lang={quoteattr(lang)}>"
                f"{escape(value)}</plainLiteral>"
            )
        return f"<plainLiteral>{escape(value)}</plainLiteral>"

    def to_lines(rows):
        out = list(header)
        for r in rows:
            out.append(
                "<triple>"
                + term_xml(r["subject"], False, None, None)
                + term_xml(r["predicate"], False, None, None)
                + term_xml(r["object"], r["is_literal"], r["datatype"], r["lang"])
                + "</triple>"
            )
        out.extend(footer)
        return [(ln,) for ln in out]

    spark = triples.sparkSession
    rdd = triples.rdd.mapPartitions(to_lines)
    return spark.createDataFrame(rdd, "value string")


def export_trix(graph: PropertyGraph, path: str, **kwargs) -> None:
    """Write the whole graph as TriX (7th serialization of the
    reference's @Produces surface, ``RDFEndpoint.java:52-53``)."""
    t = graph_to_triples(graph, **kwargs)
    triples_to_trix_lines(t).write.mode("overwrite").text(path)


# --- content negotiation (S12) ---------------------------------------
# The reference endpoint picks its serializer from the request's MIME
# type over RDF4J's registry (``RDFEndpoint.java:589-604`` getFormat),
# and its endpoints @Produce the 7-type set ``RDFEndpoint.java:52-53``:
# application/rdf+xml, text/plain (N-Triples), text/turtle, text/n3,
# application/trix, application/x-trig, application/ld+json —
# defaulting to Turtle when the Accept header is unrecognized. Same
# contract here (N3 output is the Turtle serialization — Turtle is a
# subset of N3, so every document emitted is valid N3), plus N-Quads
# (this repo reads and writes quads; the reference only reads them).
MIME_FORMATS: dict[str, str] = {
    "application/rdf+xml": "RDF/XML",
    "application/xml": "RDF/XML",
    "application/ld+json": "JSON-LD",
    "application/json": "JSON-LD",
    "text/turtle": "Turtle",
    "application/x-turtle": "Turtle",
    "text/n3": "N3",
    "text/rdf+n3": "N3",
    "application/n-triples": "N-Triples",
    "text/plain": "N-Triples",
    "application/trig": "TriG",
    "application/x-trig": "TriG",
    "application/trix": "TriX",
    "application/n-quads": "N-Quads",
    "text/x-nquads": "N-Quads",
}

EXPORTERS = {
    "RDF/XML": export_rdfxml,
    "JSON-LD": export_jsonld,
    "Turtle": export_turtle,
    "N3": export_turtle,
    "N-Triples": export_ntriples,
    "TriG": export_trig,
    "TriX": export_trix,
    "N-Quads": export_nquads,
}


# format -> (triples DataFrame -> lines DataFrame), the streaming-body
# halves of the exporters (used by query_to_rdf, the reference's
# POST /cypher analog)
def _turtle_lines_ns(graph):
    return lambda t: triples_to_turtle_lines(t, graph.namespace_map())


def query_to_rdf(
    graph: PropertyGraph,
    query: str,
    node_id_cols: list[str] | None = None,
    mimetype: str | None = None,
) -> tuple[str, DataFrame]:
    """The reference's ``POST /cypher`` endpoint re-expressed: run a
    query in the graph's query language (Spark SQL over the
    ``nodes``/``edges`` views — the Cypher role here), serialize every
    node the result mentions as RDF in the Accept-negotiated format
    (``RDFEndpoint.java:50-98`` iterates result values and streams
    Node/Relationship statements; set-oriented equivalent: semi-join
    the nodes table on the result's id columns, own-triples only).

    ``node_id_cols``: result columns holding node ids (default: a
    column named ``id`` plus any ``*_id``). Returns ``(format,
    lines DataFrame)`` — one serialized line per row, the streaming
    response body (write with ``.write.text`` or collect)."""
    res = graph.sql(query)
    cols = node_id_cols or [
        c for c in res.columns if c == "id" or c.endswith("_id")
    ]
    if not cols:
        raise ValueError(
            "query result has no node-id columns (pass node_id_cols)"
        )
    ids = res.select(F.col(cols[0]).cast("long").alias("id"))
    for c in cols[1:]:
        ids = ids.unionByName(res.select(F.col(c).cast("long").alias("id")))
    target = graph.nodes.join(ids.dropDuplicates(), on="id", how="leftsemi")
    triples = describe_nodes(graph, target, exclude_context=True)
    fmt = negotiate_format(mimetype)
    line_serializers = {
        "Turtle": _turtle_lines_ns(graph),
        "N3": _turtle_lines_ns(graph),
        "N-Triples": triples_to_ntriples_lines,
        "N-Quads": triples_to_nquads_lines,
        "TriG": lambda t: triples_to_trig_lines(t, graph.namespace_map()),
        "TriX": triples_to_trix_lines,
        "JSON-LD": triples_to_jsonld_lines,
        "RDF/XML": triples_to_rdfxml_lines,
    }
    return fmt, line_serializers[fmt](triples)


def negotiate_format(mimetype: str | None) -> str:
    """MIME type (optionally with parameters, e.g. ``;charset=``) →
    canonical format name; unrecognized/missing → ``Turtle``, exactly
    the reference's fallback (``RDFEndpoint.java:599-602``)."""
    if mimetype:
        base = mimetype.split(";", 1)[0].strip().lower()
        fmt = MIME_FORMATS.get(base)
        if fmt is not None:
            return fmt
    return "Turtle"


def export_graph(
    graph: PropertyGraph,
    path: str,
    mimetype: str | None = None,
    format: str | None = None,
    **kwargs,
) -> str:
    """Serialize the whole graph in the negotiated format (S12 content
    negotiation over all six serializations). Pass either an explicit
    ``format`` name (a key of ``EXPORTERS``) or a ``mimetype`` to
    negotiate; returns the format actually used."""
    fmt = format if format is not None else negotiate_format(mimetype)
    if fmt not in EXPORTERS:
        raise ValueError(
            f"unknown RDF format {fmt!r}; available: {sorted(EXPORTERS)}"
        )
    EXPORTERS[fmt](graph, path, **kwargs)
    return fmt
