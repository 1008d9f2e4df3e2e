"""IRI / XSD scalar functions (SURVEY.md §2.9 F1-F7) as Column
expressions — pure ``pyspark.sql.functions`` compositions, so they
run JVM-side inside whole-stage codegen (no Python UDFs in the
import/export hot path).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"

# XSD datatype -> storage family, reference DirectStatementLoader
# .java:213-232 (SURVEY.md §1.3: exactly 3 primitive families + string)
XSD_LONG = [XSD + t for t in ("int", "integer", "long", "short", "byte",
                              "nonNegativeInteger", "positiveInteger",
                              "negativeInteger", "unsignedLong", "unsignedInt")]
XSD_DOUBLE = [XSD + t for t in ("decimal", "double", "float")]
XSD_BOOL = [XSD + "boolean"]


def iri_local_name(col: Column) -> Column:
    """Substring after the last '/', '#' or ':' — reference
    ``getIRILocalName`` (``semantics/RDFImport.java:188-191``, RDF4J
    URIUtil semantics)."""
    return F.regexp_extract(col, r"([^/#:]*)$", 1)


def iri_namespace(col: Column) -> Column:
    """Complementary prefix — reference ``getIRINamespace``
    (``RDFImport.java:193-196``)."""
    return F.regexp_extract(col, r"^(.*[/#:])", 1)


def shorten_iri(col: Column, namespaces: dict[str, str]) -> Column:
    """IRI -> ``prefix__local`` using a namespace->prefix dict
    (reference ``shorten``, ``DirectStatementLoader.java:189-211``;
    separator '__' at ``RDFImport.java:38``). The dict is baked into
    the plan as a literal map (ontology-sized, broadcast-safe);
    unknown namespaces pass through unshortened."""
    if not namespaces:
        return col
    pairs = []
    for ns, pfx in namespaces.items():
        pairs.extend([F.lit(ns), F.lit(pfx)])
    ns_map = F.create_map(*pairs)
    ns = iri_namespace(col)
    local = iri_local_name(col)
    prefix = ns_map[ns]
    return F.when(
        prefix.isNotNull(), F.concat(prefix, F.lit("__"), local)
    ).otherwise(col)


def build_uri(col: Column, namespaces: dict[str, str], default_ns: str = "urn:default#") -> Column:
    """Inverse of shorten on export: ``prefix__local`` -> full IRI;
    http(s) IRIs pass through; bare names get the default vocab
    namespace (reference ``buildURI``, ``RDFEndpoint.java:317-337``,
    regex ``^(\\w+)__(.*)$`` at :320). DELIBERATE divergence from
    the reference's greedy regex: the prefix group is NON-greedy
    (split at the FIRST ``__``), because a local name containing
    ``__`` must stay in the local part — the greedy form swallows it
    into the prefix, the map lookup misses, and the IRI silently
    rebinds under the default namespace. Registered prefixes are
    validated to contain no ``__`` (mapping.add_schema), so the
    first-split is unambiguous."""
    prefix = F.regexp_extract(col, r"^(\w+?)__(.*)$", 1)
    local = F.regexp_extract(col, r"^(\w+?)__(.*)$", 2)
    pairs = []
    for ns, pfx in namespaces.items():
        pairs.extend([F.lit(pfx), F.lit(ns)])
    if pairs:
        expanded = F.concat(F.create_map(*pairs)[prefix], local)
    else:
        # no registered namespaces: nothing can expand (an argless
        # create_map() is VOID-typed and cannot be indexed by string)
        expanded = F.lit(None).cast("string")
    return (
        F.when((prefix != "") & expanded.isNotNull(), expanded)
        .when(col.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://.*|^urn:.*|^_:.*"), col)
        .otherwise(F.concat(F.lit(default_ns), col))
    )


def typed_literal(value: Column, datatype: Column) -> dict[str, Column]:
    """XSD literal lexical form -> the 3 storage families + string
    (F5). Returns one Column per family; exactly one is non-null."""
    is_long = datatype.isin(XSD_LONG)
    is_double = datatype.isin(XSD_DOUBLE)
    is_bool = datatype.isin(XSD_BOOL)
    return {
        "long_value": F.when(is_long, value.cast("long")),
        "double_value": F.when(is_double, value.cast("double")),
        "bool_value": F.when(is_bool, value.cast("boolean")),
        "string_value": F.when(~(is_long | is_double | is_bool), value),
    }


def xsd_typed_columns(df, value: str = "object", datatype: str = "datatype"):
    """Attach the typed-family columns to a triples DataFrame."""
    cols = typed_literal(F.col(value), F.col(datatype))
    for name, col in cols.items():
        df = df.withColumn(name, col)
    return df


def literal_to_rdf(value: Column, dtype_name: str) -> Column:
    """Typed value -> N-Triples literal lexical form with XSD datatype
    (F6, reference ``RDFEndpoint.java:566-586``)."""
    if dtype_name in ("long", "bigint", "int"):
        return F.concat(F.lit('"'), value.cast("string"), F.lit(f'"^^<{XSD}long>'))
    if dtype_name in ("double", "float"):
        return F.concat(F.lit('"'), value.cast("string"), F.lit(f'"^^<{XSD}double>'))
    if dtype_name == "boolean":
        return F.concat(F.lit('"'), value.cast("string"), F.lit(f'"^^<{XSD}boolean>'))
    # string: escape backslash + quote + control chars per N-Triples
    escaped = F.regexp_replace(value.cast("string"), r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, '"', '\\\\"')
    escaped = F.regexp_replace(escaped, "\n", "\\\\n")
    escaped = F.regexp_replace(escaped, "\r", "\\\\r")
    escaped = F.regexp_replace(escaped, "\t", "\\\\t")
    return F.concat(F.lit('"'), escaped, F.lit('"'))


def subject_term(col: Column) -> Column:
    """IRI-vs-blank-node discrimination on export: ':' presence
    heuristic (F7, reference ``RDFEndpoint.java:293-301``)."""
    return F.when(
        col.startswith("_:"), col
    ).when(
        col.contains(":"), F.concat(F.lit("<"), col, F.lit(">"))
    ).otherwise(F.concat(F.lit("_:"), col))
