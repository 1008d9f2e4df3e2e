"""The graph summary (``PropertyGraph.summary``) and what reads it:
label-pruned element reads must answer exactly what the unpruned reads
answer, and every mutation must keep the summary only when its facts
still hold."""

import dataclasses
import math

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from pidb_rdf_spark import mutation as M
from pidb_rdf_spark.cypher_write import cypher_write
from pidb_rdf_spark.dsl import traversal
from pidb_rdf_spark.graph import graphify
from pidb_rdf_spark.session import local_frame
from pidb_rdf_spark.sparql import sparql

TAG = "urn:tag:1"
FOREIGN = "urn:foreign:1"


@pytest.fixture(scope="module")
def base(spark):
    """An uncached graphify graph (so the label filters really prune
    union branches) plus one Tag node; the insert keeps the summary."""
    g = M.add_vertices(
        graphify(spark, SF_DIR), [{"uri": TAG, "labels": ["Tag"], "props": {"name": "t"}}]
    )
    assert g.summary is not None and "Tag" not in g.summary.uri_prefix
    return g


def _uri_rows(g, uri):
    return g.nodes.filter(F.col("uri") == uri).select("id").collect()


def test_graphify_summary_is_static(base):
    s = base.summary
    assert s.ends["IN_NATION"] == ({"Customer", "Supplier"}, {"Nation"})
    assert s.ends["PLACED_BY"] == ({"Orders"}, {"Customer"})
    assert s.uri_prefix["Lineitem"] == "urn:lineitem:"
    assert s.hop_labels(["IN_NATION", "IN_REGION"], "out") == {"Nation", "Region"}
    assert s.hop_labels(["IN_NATION"], "both") == {"Customer", "Supplier", "Nation"}
    assert s.hop_labels(["NO_SUCH"], "out") is None


MUTATIONS = {
    # a Tag -> Customer IN_NATION edge breaks the IN_NATION ends
    "add_edges": (
        lambda g: M.add_edges(
            g, [{"src_uri": TAG, "predicate": "IN_NATION", "dst_uri": "urn:customer:1"}]
        ),
        TAG, False,
    ),
    # a Customer label on a urn:tag: uri breaks Customer's uri prefix
    "add_label": (lambda g: M.add_label(g, F.col("uri") == TAG, "Customer"), TAG, False),
    # a nation without its label breaks the IN_NATION dst labels
    "remove_label": (
        lambda g: M.remove_label(g, F.col("uri") == "urn:nation:0", "Nation"), TAG, False,
    ),
    "add_vertices": (
        lambda g: M.add_vertices(g, [{"uri": FOREIGN, "labels": ["Customer"]}]),
        FOREIGN, True,
    ),
    "set_vertex_property": (
        lambda g: M.set_vertex_property(g, F.col("uri") == "urn:nation:0", "n_name", "X"),
        TAG, True,
    ),
}


@pytest.mark.parametrize("name", sorted(MUTATIONS))
def test_summary_reads_match_unpruned_reads(base, name):
    """DSL and SPARQL answers and the MERGE outcome are the same with
    the summary the mutation left and with no summary at all."""
    mutate, merge_uri, kept = MUTATIONS[name]
    g = mutate(base)
    assert (g.summary is not None) == kept
    if name == "add_vertices":
        assert "Customer" not in g.summary.uri_prefix
    plain = dataclasses.replace(g, summary=None)

    def answers(h):
        dsl = traversal(h).V().has_label("Tag", "Nation").both("IN_NATION").values("uri")
        sp = sparql(h, "SELECT ?n WHERE { ?c e:IN_NATION ?n }")
        merged = cypher_write(h, f"MERGE (t:Tag {{uri: '{merge_uri}'}})")
        return (
            sorted((r[0] for r in dsl.collect()), key=str),
            sorted((r[0] for r in sp.collect()), key=str),
            len(_uri_rows(merged, merge_uri)),
        )

    got, want = answers(g), answers(plain)
    assert got == want
    assert want[2] == 1


def test_merge_after_label_removal_finds_the_node(base):
    """MERGE, REMOVE the label, MERGE again: the second MERGE's uri
    probe still finds the label-less row, so the uri keeps one row and
    one id."""
    q = "MERGE (t:Tag {name: 'again'})"
    g = cypher_write(base, q)
    g = cypher_write(g, "MATCH (t:Tag {name: 'again'}) REMOVE t:Tag")
    g = cypher_write(g, q)
    rows = _uri_rows(g, "urn:cypher:merge:Tag|name=again")
    assert len(rows) == 1 and len({r["id"] for r in rows}) == 1


def test_local_frame_is_a_local_relation(spark):
    """Rows equal ``createDataFrame(rows, schema)`` for every column
    type the callers use, NULL, NaN and empty collections included; the
    plan is a JVM LocalRelation scanned in min(rows, parallelism)
    slices."""
    schema = (
        "s string, n long, i int, x double, b boolean, "
        "a array<string>, m map<string,string>"
    )
    rows = [
        ("a", 1, 2, float("nan"), True, ["L"], {"k": "v"}),
        (None, None, None, None, None, [], {}),
        ("c", -3, 4, 1.5, False, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    want = spark.createDataFrame(rows, schema).collect()
    got = df.collect()
    assert [r[:3] + r[4:] for r in got] == [r[:3] + r[4:] for r in want]
    assert math.isnan(got[0]["x"]) and got[1]["x"] is None and got[2]["x"] == 1.5
    parallelism = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == min(len(rows), parallelism)
    assert local_frame(spark, [], "id long").collect() == []


def test_namespace_map_keeps_each_callers_answers(spark, tmp_path):
    """One cached registry read per graph. The importer's ("", "")
    placeholder stays in the map: SPARQL's predicate naming still sees
    it, and the Turtle writer still declares no empty prefix."""
    from pidb_rdf_spark.sources.importer import import_triples
    from pidb_rdf_spark.sources.rdf_writer import export_turtle
    from pidb_rdf_spark.sparql.compiler import SparqlCompiler

    from pidb_rdf_spark.sources.rdf_reader import parse_rdf_snippet

    t = parse_rdf_snippet(
        spark, "<http://ex.org/a> <http://ex.org/knows> <http://ex.org/b> .\n", "N-Triples"
    )
    bare = import_triples(spark, t, shorten=False)
    assert bare.namespace_map() == {"": ""}
    c = SparqlCompiler(bare)
    assert c._predicate_name("foo") == "__foo"
    assert c._predicate_name("http://ex.org/knows") == "http://ex.org/knows"
    export_turtle(bare, str(tmp_path / "bare"))
    lines = spark.read.text(str(tmp_path / "bare")).collect()
    assert not any(r.value.startswith("@prefix") for r in lines)

    short = import_triples(spark, t)
    ns = short.namespace_map()
    assert ns["http://ex.org/"].startswith("ns") and "" not in ns
    assert SparqlCompiler(short)._predicate_name("http://ex.org/knows") == (
        f"{ns['http://ex.org/']}__knows"
    )
    assert short.namespace_map() is ns
    export_turtle(short, str(tmp_path / "short"))
    header = {r.value for r in spark.read.text(str(tmp_path / "short")).collect()}
    assert f"@prefix {ns['http://ex.org/']}: <http://ex.org/> ." in header
