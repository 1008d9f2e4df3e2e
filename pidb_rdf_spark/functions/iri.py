"""IRI / XSD scalar functions (SURVEY.md §2.9 F1-F7) — pure Spark SQL,
so they run JVM-side inside whole-stage codegen (no Python UDFs in the
import/export hot path).

The IRI term forms are compiled to SQL text: each Column helper ``f``
has an ``f_sql`` twin that takes the SQL text of its input and
returns the SQL text of the result, and ``f`` is ``F.expr`` over it.
A caller projecting many terms applies them all with one
``selectExpr`` — one py4j call per projection instead of one per
Column node — and a namespace map is one ``map(...)`` literal however
many namespaces it holds.
"""

from __future__ import annotations

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

XSD = "http://www.w3.org/2001/XMLSchema#"

# XSD datatype -> storage family, reference DirectStatementLoader
# .java:213-232 (SURVEY.md §1.3: exactly 3 primitive families + string)
XSD_LONG = [XSD + t for t in ("int", "integer", "long", "short", "byte",
                              "nonNegativeInteger", "positiveInteger",
                              "negativeInteger", "unsignedLong", "unsignedInt")]
XSD_DOUBLE = [XSD + t for t in ("decimal", "double", "float")]
XSD_BOOL = [XSD + "boolean"]

_PREFIXED_RE = r"^(\w+?)__(.*)$"
_ABSOLUTE_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://.*|^urn:.*|^_:.*"


def sql_string(v: str) -> str:
    """``v`` as a Spark SQL string literal."""
    return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"


def map_sql(entries) -> str:
    """A ``map<string,string>`` literal of ``(key, value)`` pairs: one
    expression however many entries (an argless ``map()`` is
    VOID-typed, hence the cast)."""
    kv = ", ".join(f"{sql_string(k)}, {sql_string(v)}" for k, v in entries)
    return f"map({kv})" if kv else "CAST(map() AS MAP<STRING, STRING>)"


def column_sql(col: Column) -> str:
    """SQL text of a column expression, for the ``*_sql`` builders."""
    return SparkSession.active()._jsparkSession.expression(col._jc).sql()


def iri_local_name_sql(iri: str) -> str:
    """SQL text of ``iri_local_name`` over the SQL expression ``iri``."""
    return f"regexp_extract({iri}, '([^/#:]*)$', 1)"


def iri_local_name(col: Column) -> Column:
    """Substring after the last '/', '#' or ':' — reference
    ``getIRILocalName`` (``semantics/RDFImport.java:188-191``, RDF4J
    URIUtil semantics)."""
    return F.expr(iri_local_name_sql(column_sql(col)))


def iri_namespace_sql(iri: str) -> str:
    """SQL text of ``iri_namespace`` over the SQL expression ``iri``."""
    return f"regexp_extract({iri}, '^(.*[/#:])', 1)"


def iri_namespace(col: Column) -> Column:
    """Complementary prefix — reference ``getIRINamespace``
    (``RDFImport.java:193-196``)."""
    return F.expr(iri_namespace_sql(column_sql(col)))


def shorten_iri_sql(iri: str, namespaces: dict[str, str]) -> str:
    """SQL text of ``shorten_iri`` over the SQL expression ``iri``."""
    if not namespaces:
        return iri
    prefix = f"{map_sql(namespaces.items())}[{iri_namespace_sql(iri)}]"
    return f"coalesce(concat({prefix}, '__', {iri_local_name_sql(iri)}), {iri})"


def shorten_iri(col: Column, namespaces: dict[str, str]) -> Column:
    """IRI -> ``prefix__local`` using a namespace->prefix dict
    (reference ``shorten``, ``DirectStatementLoader.java:189-211``;
    separator '__' at ``RDFImport.java:38``). The dict is baked into
    the plan as a literal map (ontology-sized, broadcast-safe);
    unknown namespaces pass through unshortened."""
    if not namespaces:
        return col
    return F.expr(shorten_iri_sql(column_sql(col), namespaces))


def build_uri_sql(
    name: str, namespaces: dict[str, str], default_ns: str = "urn:default#"
) -> str:
    """SQL text of ``build_uri`` over the SQL expression ``name``."""
    prefixed = sql_string(_PREFIXED_RE)
    prefix = f"regexp_extract({name}, {prefixed}, 1)"
    expanded = (
        f"concat({map_sql((p, ns) for ns, p in namespaces.items())}[{prefix}], "
        f"regexp_extract({name}, {prefixed}, 2))"
    )
    return (
        f"coalesce(IF({prefix} != '', {expanded}, NULL), "
        f"IF({name} rlike {sql_string(_ABSOLUTE_RE)}, {name}, "
        f"concat({sql_string(default_ns)}, {name})))"
    )


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
    return F.expr(build_uri_sql(column_sql(col), namespaces, default_ns))


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


def subject_term_sql(value: str) -> str:
    """SQL text of ``subject_term`` over the SQL expression ``value``."""
    return (
        f"CASE WHEN startswith({value}, '_:') THEN {value} "
        f"WHEN contains({value}, ':') THEN concat('<', {value}, '>') "
        f"ELSE concat('_:', {value}) END"
    )


def subject_term(col: Column) -> Column:
    """IRI-vs-blank-node discrimination on export: ':' presence
    heuristic (F7, reference ``RDFEndpoint.java:293-301``)."""
    return F.expr(subject_term_sql(column_sql(col)))
