"""RDF import/export tests: N-Triples + Turtle parsing, the
import mapping contract, export, and the round-trip property
(import -> export -> parse -> same statements)."""

import pytest
from pyspark.sql import functions as F

from pidb_rdf_spark.ontology import lite_onto_import
from pidb_rdf_spark.sources.importer import import_triples, merge_triples
from pidb_rdf_spark.sources.rdf_reader import (
    parse_rdf_snippet,
    parse_turtle_text,
)
from pidb_rdf_spark.sources.rdf_writer import (
    describe,
    graph_to_triples,
    triples_to_ntriples_lines,
)

NT = """
<http://example.org/alice> <http://example.org/name> "Alice" .
<http://example.org/alice> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://example.org/Person> .
<http://example.org/alice> <http://example.org/age> "30"^^<http://www.w3.org/2001/XMLSchema#integer> .
<http://example.org/alice> <http://example.org/height> "1.7"^^<http://www.w3.org/2001/XMLSchema#double> .
<http://example.org/alice> <http://example.org/knows> <http://example.org/bob> .
<http://example.org/alice> <http://example.org/knows> <http://example.org/bob> .
<http://example.org/bob> <http://example.org/name> "Bob"@en .
<http://example.org/bob> <http://example.org/name> "Bobo"@de .
_:b0 <http://example.org/knows> <http://example.org/alice> .
# a comment line

<http://example.org/alice> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> _:b9 .
"""

TTL = """
@prefix ex: <http://example.org/> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
ex:alice a ex:Person ;
    ex:name "Alice" ;
    ex:age "30"^^xsd:integer ;
    ex:knows ex:bob, ex:carol .
ex:bob ex:name "Bob"@en .
"""


def test_parse_ntriples_snippet(spark):
    df = parse_rdf_snippet(spark, NT, "N-Triples")
    rows = df.collect()
    assert len(rows) == 10  # comment/blank dropped, dup kept (bag)
    by_pred = {(r["subject"], r["predicate"], r["object"]) for r in rows}
    assert ("http://example.org/alice", "http://example.org/name", "Alice") in by_pred
    langs = {r["lang"] for r in rows if r["lang"]}
    assert langs == {"en", "de"}
    dts = {r["datatype"] for r in rows if r["datatype"]}
    assert dts == {
        "http://www.w3.org/2001/XMLSchema#integer",
        "http://www.w3.org/2001/XMLSchema#double",
    }


def test_parse_turtle():
    rows = parse_turtle_text(TTL)
    assert len(rows) == 6
    preds = {r[1] for r in rows}
    assert "http://www.w3.org/1999/02/22-rdf-syntax-ns#type" in preds
    objs = {r[2] for r in rows}
    assert {"http://example.org/bob", "http://example.org/carol"} <= objs


def test_import_mapping(spark):
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    nodes = {r["uri"]: r for r in g.nodes.collect()}
    # resources: alice, bob, b0 (subject), NOT b9 (type object is bnode
    # -> not a label, not a resource edge either)
    assert set(nodes) == {
        "http://example.org/alice",
        "http://example.org/bob",
        "_:b0",
    }
    alice = nodes["http://example.org/alice"]
    assert "Resource" in alice["labels"] and "ex0__Person" not in alice["labels"]
    # generated prefix for example.org: ns0
    assert any(lab == "ns0__Person" for lab in alice["labels"])
    assert alice["props"]["ns0__age"] == "30"
    assert alice["__prop_types"]["ns0__age"] == "long"
    assert alice["__prop_types"]["ns0__height"] == "double"
    edges = g.edges.collect()
    # dedup: alice-knows-bob appears once; plus b0-knows-alice
    assert len(edges) == 2
    assert {e["predicate"] for e in edges} == {"ns0__knows"}


def test_language_filter(spark):
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t, language_filter="en")
    bob = g.nodes.filter(F.col("uri") == "http://example.org/bob").collect()[0]
    assert bob["props"]["ns0__name"] == "Bob"  # @de dropped


def test_roundtrip(spark):
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    lines = triples_to_ntriples_lines(graph_to_triples(g))
    reparsed = parse_rdf_snippet(
        spark, "\n".join(r["value"] for r in lines.collect()), "N-Triples"
    )
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in reparsed.collect()
    }
    # normalize the original to the importer's 3-family typing and
    # minus the dropped bnode-type statement and lang tags (stored as
    # plain strings, one value per key: de overwrote en for bob or
    # vice versa — accept either)
    assert ("http://example.org/alice", "http://example.org/name", "Alice", True) in got
    assert (
        "http://example.org/alice",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://example.org/Person",
        False,
    ) in got
    assert (
        "http://example.org/alice",
        "http://example.org/knows",
        "http://example.org/bob",
        False,
    ) in got
    assert ("_:b0", "http://example.org/knows", "http://example.org/alice", False) in got
    # typed round-trip: age normalized integer->long
    age = [r for r in reparsed.collect() if r["predicate"].endswith("age")][0]
    assert age["object"] == "30"
    assert age["datatype"] == "http://www.w3.org/2001/XMLSchema#long"


def test_merge_upsert_dedup(spark):
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    n0, e0 = g.nodes.count(), g.edges.count()
    # merging the same data adds nothing
    g2 = merge_triples(g, t)
    assert g2.nodes.count() == n0 and g2.edges.count() == e0
    extra = parse_rdf_snippet(
        spark,
        '<http://example.org/carol> <http://example.org/knows> <http://example.org/alice> .',
        "N-Triples",
    )
    g3 = merge_triples(g, extra)
    assert g3.nodes.count() == n0 + 1 and g3.edges.count() == e0 + 1


def test_describe(spark):
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    d = describe(g, uri="http://example.org/alice")
    rows = d.collect()
    subjects = {r["subject"] for r in rows}
    # own props + 1-hop context edges (incl. incoming from _:b0)
    assert "http://example.org/alice" in subjects
    assert "_:b0" in subjects
    own_only = describe(g, uri="http://example.org/alice", exclude_context=True)
    assert all(r["subject"] == "http://example.org/alice" for r in own_only.collect())


ONTO_TTL = """
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix ex: <http://example.org/> .
ex:Animal a owl:Class .
ex:Dog a owl:Class ; rdfs:subClassOf ex:Animal .
ex:Puppy a owl:Class ; rdfs:subClassOf ex:Dog .
ex:name a owl:DatatypeProperty ; rdfs:subPropertyOf ex:label ; rdfs:domain ex:Animal ; rdfs:range rdfs:Literal .
ex:hasOwner a owl:ObjectProperty ; rdfs:subPropertyOf ex:relatedTo ; rdfs:domain ex:Dog ; rdfs:range ex:Person .
"""


def test_lite_onto_import(spark):
    t = parse_rdf_snippet(spark, ONTO_TTL, "Turtle")
    onto = lite_onto_import(t)
    assert {r["name"] for r in onto.classes.collect()} == {
        "http://example.org/Animal",
        "http://example.org/Dog",
        "http://example.org/Puppy",
    }
    h = {(r["child"], r["parent"], r["kind"]) for r in onto.hierarchy.collect()}
    assert ("http://example.org/Dog", "http://example.org/Animal", "SCO") in h
    assert ("http://example.org/name", "http://example.org/label", "SPO") in h
    assert ("http://example.org/hasOwner", "http://example.org/relatedTo", "SRO") in h
    assert {r["prop"] for r in onto.domains.collect()} == {
        "http://example.org/name",
        "http://example.org/hasOwner",
    }


def test_turtle_export_roundtrip(spark, tmp_path):
    from pidb_rdf_spark.sources.importer import import_triples
    from pidb_rdf_spark.sources.rdf_reader import TRIPLES_SCHEMA, read_turtle
    from pidb_rdf_spark.sources.rdf_writer import export_turtle, graph_to_triples

    triples = spark.createDataFrame(
        [
            ("http://ex.org/a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             "http://ex.org/Person", False, None, None),
            ("http://ex.org/a", "http://ex.org/knows", "http://ex.org/b", False, None, None),
            ("http://ex.org/a", "http://ex.org/name", "Alice \"A\"", True, None, None),
            ("http://ex.org/a", "http://ex.org/age", "33", True,
             "http://www.w3.org/2001/XMLSchema#long", None),
        ],
        TRIPLES_SCHEMA,
    )
    g = import_triples(spark, triples)
    out = str(tmp_path / "turtle")
    export_turtle(g, out)
    back = read_turtle(spark, out)

    def key(rows):
        return {
            (r["subject"], r["predicate"], r["object"], bool(r["is_literal"]))
            for r in rows
        }

    exported = key(graph_to_triples(g).collect())
    reparsed = key(back.collect())
    assert reparsed == exported
    assert len(exported) == 4


def test_rdfxml_native_read(spark, tmp_path):
    from pidb_rdf_spark.sources.rdf_reader import read_rdf

    doc = (
        '<?xml version="1.0"?>\n'
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:ex="http://ex.org/">'
        '<rdf:Description rdf:about="http://ex.org/a">'
        "<ex:name>Alice</ex:name>"
        '<ex:age rdf:datatype="http://www.w3.org/2001/XMLSchema#long">30</ex:age>'
        '<ex:knows rdf:resource="http://ex.org/b"/>'
        '<ex:label xml:lang="de">Hallo</ex:label>'
        "</rdf:Description>"
        '<ex:Person rdf:about="http://ex.org/b"><ex:name>Bob</ex:name></ex:Person>'
        "</rdf:RDF>"
    )
    (tmp_path / "doc.rdf").write_text(doc)
    rows = read_rdf(spark, str(tmp_path), fmt="RDF/XML").collect()
    got = {(r["subject"], r["predicate"], r["object"]) for r in rows}
    assert ("http://ex.org/a", "http://ex.org/name", "Alice") in got
    assert ("http://ex.org/a", "http://ex.org/knows", "http://ex.org/b") in got
    assert (
        "http://ex.org/b",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://ex.org/Person",
    ) in got
    by = {(r["predicate"]): r for r in rows}
    assert by["http://ex.org/age"]["datatype"].endswith("long")
    assert by["http://ex.org/label"]["lang"] == "de"


def test_rdfxml_parse_nested_and_parsetype():
    from pidb_rdf_spark.sources.rdf_reader import parse_rdfxml_text

    doc = (
        '<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"'
        ' xmlns:ex="http://ex.org/">'
        '<rdf:Description rdf:about="http://ex.org/a">'
        '<ex:address rdf:parseType="Resource">'
        "<ex:city>Paris</ex:city></ex:address>"
        '<ex:friend><rdf:Description rdf:about="http://ex.org/c">'
        "<ex:name>Carol</ex:name></rdf:Description></ex:friend>"
        "</rdf:Description></rdf:RDF>"
    )
    rows = parse_rdfxml_text(doc)
    by_pred = {p: (s, o, lit) for s, p, o, lit, _, _ in rows}
    # parseType=Resource introduces a bnode that carries the city
    addr_b = by_pred["http://ex.org/address"][1]
    assert addr_b.startswith("_:")
    assert ("_:" + addr_b[2:], "http://ex.org/city", "Paris", True) in {
        (s, p, o, lit) for s, p, o, lit, _, _ in rows
    }
    assert by_pred["http://ex.org/friend"][1] == "http://ex.org/c"
    assert by_pred["http://ex.org/name"] == ("http://ex.org/c", "Carol", True)


def test_jsonld_native_read(spark, tmp_path):
    from pidb_rdf_spark.sources.rdf_reader import read_rdf

    doc = """
    {"@context": {"ex": "http://ex.org/", "name": "http://ex.org/name"},
     "@graph": [
       {"@id": "http://ex.org/a", "@type": "ex:Person",
        "name": "Alice",
        "ex:age": {"@value": "30", "@type": "http://www.w3.org/2001/XMLSchema#long"},
        "ex:knows": {"@id": "http://ex.org/b"},
        "ex:motto": {"@value": "Hallo", "@language": "de"},
        "ex:score": 3.5, "ex:active": true},
       {"@id": "http://ex.org/b", "name": "Bob"}
     ]}
    """
    (tmp_path / "doc.jsonld").write_text(doc)
    rows = read_rdf(spark, str(tmp_path), fmt="JSON-LD").collect()
    got = {(r["subject"], r["predicate"], r["object"]) for r in rows}
    assert ("http://ex.org/a", "http://ex.org/name", "Alice") in got
    assert ("http://ex.org/a", "http://ex.org/knows", "http://ex.org/b") in got
    assert (
        "http://ex.org/a",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
        "http://ex.org/Person",
    ) in got
    by = {r["predicate"]: r for r in rows if r["subject"].endswith("/a")}
    assert by["http://ex.org/age"]["datatype"].endswith("long")
    assert by["http://ex.org/motto"]["lang"] == "de"
    assert by["http://ex.org/score"]["datatype"].endswith("double")
    assert by["http://ex.org/active"]["object"] == "true"


def test_jsonld_export_import_roundtrip(spark):
    """export (flat NDJSON) -> native import -> identical statements."""
    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text
    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples, triples_to_jsonld_lines

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    exported = graph_to_triples(g)
    lines = "\n".join(
        r["value"] for r in triples_to_jsonld_lines(exported).collect()
    )
    reparsed = parse_jsonld_text(lines)
    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in exported.collect()
    }
    got = {(s, p, o, lit) for s, p, o, lit, _, _ in reparsed}
    assert got == want


def test_rdfxml_export_import_roundtrip(spark):
    from pidb_rdf_spark.sources.rdf_reader import parse_rdfxml_text
    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples, triples_to_rdfxml_lines

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    exported = graph_to_triples(g)
    doc = "\n".join(
        r["value"] for r in triples_to_rdfxml_lines(exported).collect() if not r["value"].startswith("<?xml")
    )
    reparsed = parse_rdfxml_text(doc)
    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in exported.collect()
    }
    got = {(s, p, o, lit) for s, p, o, lit, _, _ in reparsed}
    assert got == want


def test_trig_native_read(spark, tmp_path):
    from pidb_rdf_spark.sources.rdf_reader import parse_trig_text, read_rdf

    doc = """
    @prefix ex: <http://ex.org/> .
    ex:g1 {
      ex:a ex:name "Alice" ;
           ex:knows ex:b .
    }
    GRAPH ex:g2 {
      ex:b ex:name "Bob"@en
    }
    { ex:c ex:name "DefaultGraph" . }
    ex:d ex:name "TopLevel" .
    """
    rows = parse_trig_text(doc)
    got = {(s, p, o) for s, p, o, *_ in rows}
    assert ("http://ex.org/a", "http://ex.org/name", "Alice") in got
    assert ("http://ex.org/a", "http://ex.org/knows", "http://ex.org/b") in got
    assert ("http://ex.org/b", "http://ex.org/name", "Bob") in got
    assert ("http://ex.org/c", "http://ex.org/name", "DefaultGraph") in got
    assert ("http://ex.org/d", "http://ex.org/name", "TopLevel") in got
    # graph labels must NOT appear as subjects
    assert not any(s.endswith(("g1", "g2")) for s, _, _ in got)
    (tmp_path / "doc.trig").write_text(doc)
    assert read_rdf(spark, str(tmp_path), fmt="TriG").count() == len(rows)


def test_read_rdf_from_url(spark, tmp_path):
    """URL import with headerParams (RDFImport.java:45-84): serve a
    fixture over local HTTP and read it through read_rdf."""
    import http.server
    import threading

    (tmp_path / "doc.nt").write_text(
        '<urn:u> <urn:p> "via-http" .\n'
    )
    seen_headers = {}

    class H(http.server.SimpleHTTPRequestHandler):
        def do_GET(self):
            seen_headers.update(self.headers)
            body = (tmp_path / "doc.nt").read_bytes()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        from pidb_rdf_spark.sources.rdf_reader import read_rdf

        url = f"http://127.0.0.1:{srv.server_port}/doc.nt"
        rows = read_rdf(
            spark, url, fmt="N-Triples", header_params={"X-Api-Key": "k123"}
        ).collect()
        assert rows[0]["object"] == "via-http"
        assert seen_headers.get("X-Api-Key") == "k123"
    finally:
        srv.shutdown()


def test_jsonld_export(spark):
    import json

    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples, triples_to_jsonld_lines

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    lines = [r["value"] for r in triples_to_jsonld_lines(graph_to_triples(g)).collect()]
    objs = {o["@id"]: o for o in map(json.loads, lines)}
    alice = objs["http://example.org/alice"]
    assert any(ty.endswith("Person") for ty in alice["@type"])
    # typed literal preserved with datatype
    age_key = [k for k in alice if k.endswith("age")][0]
    assert alice[age_key][0]["@value"] == "30"
    assert alice[age_key][0]["@type"].endswith("long")
    # resource object is an @id reference
    knows_key = [k for k in alice if k.endswith("knows")][0]
    assert alice[knows_key][0]["@id"] == "http://example.org/bob"
    # deterministic: rerun produces identical lines
    again = [r["value"] for r in triples_to_jsonld_lines(graph_to_triples(g)).collect()]
    assert sorted(lines) == sorted(again)


def test_rdfxml_export(spark):
    import xml.etree.ElementTree as ET

    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples, triples_to_rdfxml_lines

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    lines = [r["value"] for r in triples_to_rdfxml_lines(graph_to_triples(g)).collect()]
    doc = ET.fromstring("\n".join(lines[1:]))  # skip <?xml?> decl
    RDF = "{http://www.w3.org/1999/02/22-rdf-syntax-ns#}"
    descs = {
        d.attrib[f"{RDF}about"]: d for d in doc.findall(f"{RDF}Description")
    }
    alice = descs["http://example.org/alice"]
    types = [c.attrib[f"{RDF}resource"] for c in alice.findall(f"{RDF}type")]
    assert any(ty.endswith("Person") for ty in types)
    ages = [c for c in alice if c.tag.endswith("age")]
    assert ages and ages[0].text == "30"
    assert ages[0].attrib[f"{RDF}datatype"].endswith("long")


def test_escape_fidelity_roundtrip(spark):
    """ADVICE r1: backslash-before-n literals, \\r/\\t escaping, and
    non-ASCII must survive write->parse->write unchanged."""
    from pidb_rdf_spark.sources.rdf_reader import unescape_string

    # pure-python unescape: \\ consumed first, unicode intact
    assert unescape_string(r"C:\\new") == "C:\\new"
    assert unescape_string(r"a\nb") == "a\nb"
    assert unescape_string(r"M\u00fcller") == "Müller"
    assert unescape_string("Müller") == "Müller"

    nt = (
        '<urn:x> <urn:p> "C:\\\\new" .\n'
        '<urn:x> <urn:q> "tab\\there\\r\\nnext" .\n'
        '<urn:x> <urn:r> "M\u00fcller" .'
    )
    t = parse_rdf_snippet(spark, nt, "N-Triples")
    vals = {r["predicate"]: r["object"] for r in t.collect()}
    assert vals["urn:p"] == "C:\\new"
    assert vals["urn:q"] == "tab\there\r\nnext"
    assert vals["urn:r"] == "Müller"

    # serialize back out and reparse: every line must stay one line
    lines = [r["value"] for r in triples_to_ntriples_lines(t).collect()]
    assert all("\n" not in ln and "\r" not in ln for ln in lines)
    t2 = parse_rdf_snippet(spark, "\n".join(lines), "N-Triples")
    vals2 = {r["predicate"]: r["object"] for r in t2.collect()}
    assert vals2 == vals


def test_turtle_nonascii_literal():
    rows = parse_turtle_text(
        '@prefix ex: <http://example.org/> .\n'
        'ex:m ex:name "M\u00fcller" ; ex:path "C:\\\\new" .'
    )
    by_pred = {p.rsplit("/", 1)[-1]: o for _, p, o, *_ in rows}
    assert by_pred["name"] == "Müller"
    assert by_pred["path"] == "C:\\new"


def test_merge_preserves_namespace_registry(spark):
    """ADVICE r1: incremental merge must keep existing nsN prefixes
    pointing at the same namespaces and continue the counter."""
    t1 = parse_rdf_snippet(
        spark, '<urn:a> <http://first.example/one#p> "1" .', "N-Triples"
    )
    g = import_triples(spark, t1)
    ns1 = {r["namespace"]: r["prefix"] for r in g.namespaces.collect()}
    assert ns1["http://first.example/one#"] == "ns0"
    t2 = parse_rdf_snippet(
        spark,
        '<urn:b> <http://second.example/two#q> "2" .\n'
        '<urn:c> <http://first.example/one#p> "3" .',
        "N-Triples",
    )
    g2 = merge_triples(g, t2)
    ns2 = {r["namespace"]: r["prefix"] for r in g2.namespaces.collect()}
    assert ns2["http://first.example/one#"] == "ns0"  # unchanged
    assert ns2["http://second.example/two#"] == "ns1"  # continued, not remapped


def test_nquads_roundtrip(spark, tmp_path):
    """export N-Quads (with graph term) -> read_nquads -> identical
    statements, graph term dropped."""
    from pidb_rdf_spark.sources.rdf_reader import read_rdf
    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples, triples_to_nquads_lines

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    exported = graph_to_triples(g)
    lines = triples_to_nquads_lines(exported, graph_iri="http://ex.org/g")
    out = tmp_path / "q"
    lines.write.mode("overwrite").text(str(out))
    reparsed = read_rdf(spark, str(out), fmt="N-Quads")
    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in exported.collect()
    }
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in reparsed.collect()
    }
    assert got == want
    # every line carries the graph term
    raw = [r["value"] for r in spark.read.text(str(out)).collect()]
    assert all(ln.endswith("<http://ex.org/g> .") for ln in raw)
    # a literal containing <...> text must not lose it to the graph slot
    tricky = '<urn:s> <urn:p> "see <http://not-a-graph>" <http://ex.org/g> .'
    df = spark.createDataFrame([(tricky,)], ["value"])
    (tmp_path / "t").mkdir()
    df.write.mode("overwrite").text(str(tmp_path / "t" / "x"))
    row = read_rdf(spark, str(tmp_path / "t" / "x"), fmt="N-Quads").collect()[0]
    assert row["object"] == "see <http://not-a-graph>"


def test_trig_export_roundtrip(spark, tmp_path):
    from pidb_rdf_spark.sources.rdf_reader import read_rdf
    from pidb_rdf_spark.sources.rdf_writer import export_trig

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    out = tmp_path / "trig"
    export_trig(g, str(out), graph_iri="http://ex.org/g")
    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples

    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in graph_to_triples(g).collect()
    }
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in read_rdf(spark, str(out), fmt="TriG").collect()
    }
    assert got == want


def test_parse_snippet_all_formats(spark):
    """S8 parity: previewRDFSnippet accepts all five reference formats
    (``RDFImport.java:157-186``) — Turtle and N-Triples are covered
    above; this pins RDF/XML, JSON-LD, TriG (+ N-Quads extra)."""
    want = ("http://example.org/alice", "http://example.org/name", "Alice")

    rdfxml = """<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://example.org/">
  <rdf:Description rdf:about="http://example.org/alice">
    <ex:name>Alice</ex:name>
  </rdf:Description>
</rdf:RDF>"""
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in parse_rdf_snippet(spark, rdfxml, "RDF/XML").collect()
    }
    assert want in rows

    jsonld = """{"@context": {"ex": "http://example.org/"},
  "@id": "ex:alice", "ex:name": "Alice"}"""
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in parse_rdf_snippet(spark, jsonld, "JSON-LD").collect()
    }
    assert want in rows

    trig = """@prefix ex: <http://example.org/> .
ex:g { ex:alice ex:name "Alice" . }"""
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in parse_rdf_snippet(spark, trig, "TriG").collect()
    }
    assert want in rows

    nq = '<http://example.org/alice> <http://example.org/name> "Alice" <http://example.org/g> .'
    rows = {
        (r["subject"], r["predicate"], r["object"])
        for r in parse_rdf_snippet(spark, nq, "N-Quads").collect()
    }
    assert want in rows

    with pytest.raises(NotImplementedError):
        parse_rdf_snippet(spark, "x", "HDT")


def test_trig_lowercase_graph_and_anon_label():
    """TriG keywords are case-insensitive and '[]' is a legal
    (anonymous) graph label — both forms must unwrap to the inner
    statements."""
    from pidb_rdf_spark.sources.rdf_reader import parse_trig_text

    doc = """@prefix ex: <http://example.org/> .
graph ex:g1 { ex:a ex:p ex:b . }
Graph <http://example.org/g2> { ex:c ex:p ex:d }
[] { ex:e ex:p ex:f . }
[ ] { ex:g ex:p ex:h }
"""
    rows = parse_trig_text(doc)
    subs = {r[0] for r in rows}
    assert subs == {
        "http://example.org/a",
        "http://example.org/c",
        "http://example.org/e",
        "http://example.org/g",
    }
    # a bnode USED AS SUBJECT inside a graph must not be eaten as label
    doc2 = """@prefix ex: <http://example.org/> .
ex:g { _:b1 ex:p ex:x . }
"""
    rows2 = parse_trig_text(doc2)
    assert rows2 == [("_:b1", "http://example.org/p", "http://example.org/x", False, None, None)]


def test_jsonld_compact_id_expansion():
    """@id values in compact-IRI form expand against @context — both
    node subjects and object references (ADVICE r2)."""
    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text

    doc = """{"@context": {"ex": "http://example.org/"},
  "@graph": [
    {"@id": "ex:alice", "ex:knows": {"@id": "ex:bob"}},
    {"@id": "http://example.org/bob", "ex:name": "Bob"}
  ]}"""
    rows = parse_jsonld_text(doc)
    triples = {(r[0], r[1], r[2]) for r in rows}
    assert (
        "http://example.org/alice",
        "http://example.org/knows",
        "http://example.org/bob",
    ) in triples
    # the expanded subject joins with the full-IRI subject of bob
    subs = {r[0] for r in rows}
    assert subs == {"http://example.org/alice", "http://example.org/bob"}


def test_format_negotiation_map():
    """MIME → format negotiation mirrors the reference endpoint's
    getFormat (RDFEndpoint.java:589-604): RDF4J MIME registry over the
    availableParsers set, Turtle fallback for unknown/missing."""
    from pidb_rdf_spark.sources.rdf_writer import (
        EXPORTERS,
        MIME_FORMATS,
        negotiate_format,
    )

    assert negotiate_format("application/rdf+xml") == "RDF/XML"
    assert negotiate_format("application/ld+json") == "JSON-LD"
    assert negotiate_format("text/turtle") == "Turtle"
    assert negotiate_format("application/n-triples") == "N-Triples"
    assert negotiate_format("application/trig") == "TriG"
    assert negotiate_format("application/n-quads") == "N-Quads"
    # parameters stripped, case-insensitive, fallback = Turtle
    assert negotiate_format("text/turtle; charset=utf-8") == "Turtle"
    assert negotiate_format("Application/TriG") == "TriG"
    assert negotiate_format("application/unknown") == "Turtle"
    assert negotiate_format(None) == "Turtle"
    # every negotiable format has a writer
    assert set(MIME_FORMATS.values()) <= set(EXPORTERS)


def test_export_graph_negotiated_roundtrips(spark, tmp_path):
    """export_graph drives every parseable serialization through the
    negotiation path and the repo's own readers re-parse each to the
    same statement set (S12 full-surface roundtrip)."""
    from pidb_rdf_spark.sources.rdf_reader import read_rdf
    from pidb_rdf_spark.sources.rdf_writer import export_graph, graph_to_triples

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"])
        for r in graph_to_triples(g).collect()
    }
    cases = [
        ("application/n-triples", "N-Triples"),
        ("text/turtle", "Turtle"),
        ("application/trig", "TriG"),
        ("application/n-quads", "N-Quads"),
    ]
    for i, (mime, fmt) in enumerate(cases):
        out = tmp_path / f"neg{i}"
        used = export_graph(g, str(out), mimetype=mime)
        assert used == fmt
        got = {
            (r["subject"], r["predicate"], r["object"], r["is_literal"])
            for r in read_rdf(spark, str(out), fmt=fmt).collect()
        }
        assert got == want, fmt


def test_sparql_update_insert_and_delete(spark):
    """INSERT DATA / DELETE DATA end-to-end: upsert into an imported
    graph (new node, new edge, prop overwrite on an existing subject),
    then remove a triple of each shape."""
    from pidb_rdf_spark.sparql import sparql_update

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    n0, e0 = g.nodes.count(), g.edges.count()

    g2 = sparql_update(
        g,
        """
        PREFIX ex: <http://example.org/>
        INSERT DATA {
          ex:carol ex:name "Carol" ;
                   a ex:Person ;
                   ex:knows ex:alice .
          ex:alice ex:name "Alice2.0" .
        }
        """,
    )
    assert g2.nodes.count() == n0 + 1
    assert g2.edges.count() == e0 + 1
    carol = g2.nodes.filter(F.col("uri") == "http://example.org/carol").collect()[0]
    assert "Carol" in carol["props"].values()
    # prop deep-merge on the existing subject: last-writer-wins
    alice = g2.nodes.filter(F.col("uri") == "http://example.org/alice").collect()[0]
    assert "Alice2.0" in alice["props"].values()

    g3 = sparql_update(
        g2,
        """
        PREFIX ex: <http://example.org/>
        DELETE DATA {
          ex:carol ex:knows ex:alice .
          ex:carol a ex:Person .
          ex:carol ex:name "Carol" .
        }
        """,
    )
    assert g3.edges.count() == e0  # carol->alice edge gone
    carol3 = g3.nodes.filter(F.col("uri") == "http://example.org/carol").collect()[0]
    assert "Carol" not in carol3["props"].values()
    assert all("Person" not in l for l in carol3["labels"] if l != "Resource")
    # value-conditional delete: stating a WRONG value removes nothing
    g4 = sparql_update(
        g3,
        """
        PREFIX ex: <http://example.org/>
        DELETE DATA { ex:alice ex:name "NotHerName" . }
        """,
    )
    alice4 = g4.nodes.filter(F.col("uri") == "http://example.org/alice").collect()[0]
    assert "Alice2.0" in alice4["props"].values()


def test_sparql_update_insert_where(spark):
    """INSERT { T } WHERE { P }: the WHERE is the ordinary query
    compiler, the template instantiates per solution (reverse edges
    here), and the result routes through merge_triples."""
    from pidb_rdf_spark.sparql import sparql_update

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    e0 = g.edges.count()
    g2 = sparql_update(
        g,
        """
        PREFIX ex: <http://example.org/>
        INSERT { ?y ex:known_by ?x } WHERE { ?x e:ns0__knows ?y }
        """,
    )
    assert g2.edges.count() == e0 + 2  # one reverse edge per knows edge
    from pidb_rdf_spark.sparql import sparql

    assert sparql(
        g2, "ASK { <http://example.org/bob> e:ns0__known_by "
            "<http://example.org/alice> }"
    ).collect()[0].ask


def test_sparql_update_delete_insert_where_renames_prop(spark):
    """Combined DELETE {} INSERT {} WHERE {}: both templates bind
    against the PRE-update state (SPARQL 1.1 Update §3.1.3) — the
    insert still sees ?n even though the delete removes it."""
    from pidb_rdf_spark.sparql import sparql_update

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    g2 = sparql_update(
        g,
        """
        PREFIX ex: <http://example.org/>
        DELETE { ?s ex:name ?n }
        INSERT { ?s ex:name2 ?n }
        WHERE { ?s v:ns0__name ?n }
        """,
    )
    rows = {
        r["uri"]: r["props"]
        for r in g2.nodes.filter(F.col("uri").startswith("http")).collect()
    }
    alice = rows["http://example.org/alice"]
    bob = rows["http://example.org/bob"]
    assert "ns0__name" not in alice and alice["ns0__name2"] == "Alice"
    assert "ns0__name" not in bob and bob["ns0__name2"] == "Bobo"


def test_sparql_update_delete_where_shorthand(spark):
    """DELETE WHERE { P }: the pattern is its own template."""
    from pidb_rdf_spark.sparql import sparql_update

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    g2 = sparql_update(g, "DELETE WHERE { ?x e:ns0__knows ?y }")
    assert g2.edges.filter(F.col("predicate") == "ns0__knows").count() == 0
    # unrelated state intact
    assert g2.nodes.count() == g.nodes.count()


def test_sparql_update_chained_ops_run_in_order(spark):
    """Ground and pattern operations ;-chained apply in source order:
    the second op sees the first op's writes."""
    from pidb_rdf_spark.sparql import sparql_update

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    g2 = sparql_update(
        g,
        """
        PREFIX ex: <http://example.org/>
        INSERT DATA { ex:dave ex:knows ex:alice . } ;
        INSERT { ?x ex:greeted ?y } WHERE { ?x e:ns0__knows ?y }
        """,
    )
    from pidb_rdf_spark.sparql import sparql

    # dave's edge (op 1) was visible to op 2's WHERE
    assert sparql(
        g2, "ASK { <http://example.org/dave> e:ns0__greeted "
            "<http://example.org/alice> }"
    ).collect()[0].ask


def test_sparql_update_pattern_requires_where(spark):
    from pidb_rdf_spark.sparql.update import parse_update

    import pytest as _pytest

    with _pytest.raises(SyntaxError):
        parse_update("DELETE { ?s ?p ?o }")


def test_trix_export_roundtrip(spark, tmp_path):
    """TriX writer -> repo's own TriX reader -> identical statements
    (7th serialization of the reference's @Produces surface)."""
    from pidb_rdf_spark.sources.rdf_reader import read_rdf
    from pidb_rdf_spark.sources.rdf_writer import export_graph, graph_to_triples

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    out = tmp_path / "trix"
    used = export_graph(g, str(out), mimetype="application/trix")
    assert used == "TriX"
    want = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"],
         r["datatype"], r["lang"])
        for r in graph_to_triples(g).collect()
    }
    got = {
        (r["subject"], r["predicate"], r["object"], r["is_literal"],
         r["datatype"], r["lang"])
        for r in read_rdf(spark, str(out), fmt="TriX").collect()
    }
    assert got == want


def test_n3_negotiation_serves_turtle(spark, tmp_path):
    """text/n3 negotiates to the Turtle serialization (Turtle ⊂ N3),
    and the output re-parses as Turtle."""
    from pidb_rdf_spark.sources.rdf_reader import read_rdf
    from pidb_rdf_spark.sources.rdf_writer import (
        export_graph,
        graph_to_triples,
        negotiate_format,
    )

    assert negotiate_format("text/n3") == "N3"
    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    out = tmp_path / "n3"
    assert export_graph(g, str(out), mimetype="text/n3") == "N3"
    want = {
        (r["subject"], r["predicate"], r["object"])
        for r in graph_to_triples(g).collect()
    }
    got = {
        (r["subject"], r["predicate"], r["object"])
        for r in read_rdf(spark, str(out), fmt="Turtle").collect()
    }
    assert got == want


def test_query_to_rdf_cypher_endpoint_analog(spark):
    """POST /cypher analog: SQL result rows → the mentioned nodes
    serialized as RDF in the negotiated format."""
    from pidb_rdf_spark.sources.rdf_writer import query_to_rdf

    t = parse_rdf_snippet(spark, NT, "N-Triples")
    g = import_triples(spark, t)
    fmt, lines = query_to_rdf(
        g,
        """
        SELECT n.id FROM nodes n
        WHERE array_contains(n.labels, 'ns0__Person')
        """,
        node_id_cols=["id"],
        mimetype="application/n-triples",
    )
    assert fmt == "N-Triples"
    body = "\n".join(r["value"] for r in lines.collect())
    reparsed = parse_rdf_snippet(spark, body, "N-Triples")
    subs = {r["subject"] for r in reparsed.collect()}
    # only alice carries the Person type; her own triples only
    assert subs == {"http://example.org/alice"}
    preds = {r["predicate"] for r in reparsed.collect()}
    assert any(p.endswith("name") for p in preds)
    # negotiated default: unknown accept → Turtle
    fmt2, _ = query_to_rdf(
        g, "SELECT id FROM nodes", mimetype="application/unknown"
    )
    assert fmt2 == "Turtle"


_RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_jsonld_nested_schema_org_shape():
    """Nested node objects, array contexts, expanded term definitions
    with @type:@id coercion, and @graph — the schema.org payload
    shape the reference imports via RDF4J Rio (r6 verdict #4)."""
    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text

    doc = """{
      "@context": [
        {"@vocab": "http://schema.org/"},
        {"sameAs": {"@id": "http://schema.org/sameAs", "@type": "@id"}}
      ],
      "@graph": [{
        "@id": "urn:org:1", "@type": "Organization", "name": "Acme",
        "address": {"@type": "PostalAddress", "streetAddress": "1 Way",
                    "addressCountry": {"@id": "urn:country:US"}},
        "sameAs": ["urn:acme:alt", "http://acme.example/"]
      }]
    }"""
    rows = parse_jsonld_text(doc)
    triples = {(r[0], r[1], r[2]) for r in rows}
    # nested node got a fresh bnode subject, linked from the parent
    addr = [r[2] for r in rows if r[1] == "http://schema.org/address"]
    assert len(addr) == 1 and addr[0].startswith("_:")
    assert (addr[0], _RDF + "type", "http://schema.org/PostalAddress") in triples
    assert (addr[0], "http://schema.org/streetAddress", "1 Way") in triples
    assert (addr[0], "http://schema.org/addressCountry", "urn:country:US") in triples
    # @type:@id coercion: plain strings under sameAs are IRI refs
    same = [r for r in rows if r[1] == "http://schema.org/sameAs"]
    assert {r[2] for r in same} == {"urn:acme:alt", "http://acme.example/"}
    assert all(r[3] is False for r in same)  # not literals


def test_jsonld_list_emits_rdf_collection():
    """@list values become rdf:first/rdf:rest chains ending in
    rdf:nil (previously a silent dangling bnode)."""
    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text

    rows = parse_jsonld_text(
        '{"@id": "urn:a", "http://ex/p": {"@list": ["x", "y"]}}'
    )
    triples = {(r[0], r[1], r[2]) for r in rows}
    head = [r[2] for r in rows if r[1] == "http://ex/p"][0]
    firsts = [r for r in rows if r[1] == _RDF + "first"]
    assert [r[2] for r in firsts] == ["x", "y"]
    rests = {r[0]: r[2] for r in rows if r[1] == _RDF + "rest"}
    assert rests[head] == firsts[1][0]          # cell 1 -> cell 2
    assert rests[firsts[1][0]] == _RDF + "nil"  # cell 2 -> nil
    # empty list is just rdf:nil
    rows2 = parse_jsonld_text('{"@id": "urn:a", "http://ex/p": {"@list": []}}')
    assert rows2 == [("urn:a", "http://ex/p", _RDF + "nil", False, None, None)]


def test_jsonld_id_object_with_type_keeps_type():
    """A value object carrying @id AND @type emits both the reference
    and the type triple (the @type was previously dropped)."""
    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text

    rows = parse_jsonld_text(
        '{"@id": "urn:a", "http://ex/p": {"@id": "urn:b", "@type": "http://ex/T"}}'
    )
    triples = {(r[0], r[1], r[2]) for r in rows}
    assert ("urn:a", "http://ex/p", "urn:b") in triples
    assert ("urn:b", _RDF + "type", "http://ex/T") in triples


def test_jsonld_context_url_indirection_raises():
    """Remote @context URLs are a clear error, not a silent no-op —
    this parser never fetches over the network."""
    import pytest

    from pidb_rdf_spark.sources.rdf_reader import parse_jsonld_text

    with pytest.raises(ValueError, match="indirection"):
        parse_jsonld_text('{"@context": "https://schema.org/", "@id": "urn:a"}')
    # ...including inside a context ARRAY
    with pytest.raises(ValueError, match="indirection"):
        parse_jsonld_text(
            '{"@context": [{"ex": "http://e/"}, "https://schema.org/"], "@id": "urn:a"}'
        )


def test_jsonld_nested_roundtrip_through_import(spark):
    """The nested fixture survives import -> graph -> export-as-
    triples with every subject/predicate/object intact."""
    from pidb_rdf_spark.sources.importer import import_triples
    from pidb_rdf_spark.sources.rdf_reader import TRIPLES_SCHEMA, parse_jsonld_text
    from pidb_rdf_spark.sources.rdf_writer import graph_to_triples

    doc = """{
      "@context": {"@vocab": "http://schema.org/"},
      "@graph": [
        {"@id": "urn:org:1", "@type": "Organization", "name": "Acme",
         "address": {"streetAddress": "1 Way"}},
        {"@id": "urn:org:2", "@type": "Organization", "name": "Bmee",
         "parentOrganization": {"@id": "urn:org:1"}}
      ]
    }"""
    rows = parse_jsonld_text(doc)
    g = import_triples(spark, spark.createDataFrame(rows, TRIPLES_SCHEMA))
    back = {
        (r["subject"], r["predicate"], r["object"])
        for r in graph_to_triples(g).collect()
    }
    want = {(r[0], r[1], r[2]) for r in rows}
    assert want <= back


# ---------------------------------------------------------------------------
# full-spec Turtle shapes (r8, verdict #4): long literals, single
# quotes, collections, blank-node property lists, PN_LOCAL edge cases
# ---------------------------------------------------------------------------


def _ttl(text):
    from pidb_rdf_spark.sources.rdf_reader import parse_turtle_text

    return parse_turtle_text(text)


def test_turtle_long_and_single_quoted_literals():
    rows = _ttl(
        '@prefix ex: <http://e/> .\n'
        'ex:a ex:p """multi\nline "quoted" text""" .\n'
        "ex:a ex:q '''also\nlong''' .\n"
        "ex:a ex:r 'single' .\n"
        'ex:a ex:s """typed"""^^ex:T .\n'
        "ex:a ex:t '''tagged'''@en-GB .\n"
    )
    vals = {(r[1], r[2], r[4], r[5]) for r in rows}
    assert ("http://e/p", 'multi\nline "quoted" text', None, None) in vals
    assert ("http://e/q", "also\nlong", None, None) in vals
    assert ("http://e/r", "single", None, None) in vals
    assert ("http://e/s", "typed", "http://e/T", None) in vals
    assert ("http://e/t", "tagged", None, "en-GB") in vals


def test_turtle_collections_expand_to_first_rest():
    rows = _ttl(
        "@prefix ex: <http://e/> .\n"
        "ex:a ex:items (1 2 3) .\n"
        "ex:b ex:none () .\n"
    )
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    firsts = [r for r in rows if r[1] == rdf + "first"]
    rests = [r for r in rows if r[1] == rdf + "rest"]
    assert [r[2] for r in firsts] == ["1", "2", "3"]
    assert len(rests) == 3 and rests[-1][2] == rdf + "nil"
    # chain is linked: head -> ... -> nil
    head = [r for r in rows if r[1] == "http://e/items"][0][2]
    assert head == firsts[0][0]
    assert [r for r in rows if r[1] == "http://e/none"][0][2] == rdf + "nil"


def test_turtle_bnode_property_lists():
    rows = _ttl(
        "@prefix ex: <http://e/> .\n"
        "ex:a ex:knows [ ex:name 'Bob' ; ex:age 41 ] .\n"
        "[ ex:label 'standalone' ] .\n"
        "ex:c ex:p [] .\n"
    )
    bn = [r for r in rows if r[1] == "http://e/knows"][0][2]
    assert bn.startswith("_:")
    props = {(r[1], r[2]) for r in rows if r[0] == bn}
    assert props == {("http://e/name", "Bob"), ("http://e/age", "41")}
    assert any(r[1] == "http://e/label" and r[2] == "standalone" for r in rows)
    anon = [r for r in rows if r[1] == "http://e/p"][0][2]
    assert anon.startswith("_:")


def test_turtle_nested_structures():
    rows = _ttl(
        "@prefix ex: <http://e/> .\n"
        "ex:a ex:p [ ex:q ( 'x' [ ex:r 1 ] ) ] .\n"
    )
    # nested: property list holding a collection holding a property list
    rdf = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
    assert any(r[1] == rdf + "first" and r[2] == "x" for r in rows)
    assert any(r[1] == "http://e/r" and r[2] == "1" for r in rows)


def test_turtle_pname_edge_cases():
    rows = _ttl(
        "@prefix ex: <http://e/> .\n"
        "ex:a\\,b ex:p ex:x .\n"       # PN_LOCAL_ESC comma
        "ex:n%41m ex:p ex:y .\n"       # percent-encoding kept verbatim
        "ex:dot.ted ex:p ex:z.\n"      # interior dot, trailing dot ends stmt
        "ex:123 ex:p ex:w .\n"         # leading digit in local name
    )
    subs = {r[0] for r in rows}
    assert "http://e/a,b" in subs
    assert "http://e/n%41m" in subs
    assert "http://e/dot.ted" in subs
    assert "http://e/123" in subs
    assert {r[2] for r in rows} == {"http://e/x", "http://e/y", "http://e/z", "http://e/w"}


def test_turtle_numeric_forms_and_semicolon_runs():
    rows = _ttl(
        "@prefix ex: <http://e/> .\n"
        "ex:a ex:i 42 ; ; ex:d .5 ; ex:e 1.0e3 ; ex:f -7.25 .\n"
    )
    xsd = "http://www.w3.org/2001/XMLSchema#"
    by_pred = {r[1].rsplit("/", 1)[-1]: (r[2], r[4]) for r in rows}
    assert by_pred["i"] == ("42", xsd + "integer")
    assert by_pred["d"] == (".5", xsd + "decimal")
    assert by_pred["e"] == ("1.0e3", xsd + "double")
    assert by_pred["f"] == ("-7.25", xsd + "decimal")


def test_turtle_full_spec_roundtrip_via_graph(spark):
    """The rejected-shape corpus parses AND imports end-to-end."""
    from pidb_rdf_spark.sources.rdf_reader import parse_turtle_text

    rows = parse_turtle_text(
        "@prefix ex: <http://e/> .\n"
        'ex:doc ex:title """Long\ntitle""" ;\n'
        "  ex:tags ('a' 'b') ;\n"
        "  ex:author [ ex:name 'Ann' ] .\n"
    )
    df = spark.createDataFrame(rows, "subject string, predicate string, object string, is_literal boolean, datatype string, lang string")
    assert df.count() == len(rows) == 8


def test_turtle_datatype_pname_trailing_dot():
    """Compact form with no space before the statement dot: the
    datatype must not swallow the terminator (r8 review fix)."""
    rows = _ttl(
        "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
        "@prefix ex: <http://e/> .\n"
        'ex:s ex:p "5"^^xsd:integer.\n'
        "ex:t ex:q ex:u.\n"
    )
    assert rows[0][4] == "http://www.w3.org/2001/XMLSchema#integer"
    assert rows[1][2] == "http://e/u"


def test_turtle_truncated_document_raises_cleanly():
    import pytest

    for bad in ["ex:s ex:p", "@prefix ex: <http://e/> .\nex:a ex:items (1 2", "ex:a ex:p [ ex:q"]:
        with pytest.raises(ValueError):
            _ttl(bad)


def test_turtle_parser_never_hangs_on_noise():
    """Hypothesis fuzz: arbitrary text either parses or raises — no
    hang, no wrong-type rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=2000)
    @given(st.text(alphabet=' .;,[]()<>"\'@^:_abeprx0\n', max_size=80))
    def run(text):
        try:
            rows = _ttl(text)
        except ValueError:
            return
        for r in rows:
            assert len(r) == 6 and isinstance(r[3], bool)

    run()


# ---------------------------------------------------------------------------
# rdflib fallback engine (gated — most tests skip when rdflib absent)
# ---------------------------------------------------------------------------


def test_rdflib_engine_gate_message(spark, tmp_path):
    """Without rdflib installed the fallback must fail fast with
    install guidance, driver-side (not mid-job on executors)."""
    import importlib.util

    if importlib.util.find_spec("rdflib") is not None:
        pytest.skip("rdflib present — gate not reachable")
    from pidb_rdf_spark.sources.rdf_reader import read_rdf_with_rdflib

    p = tmp_path / "x.ttl"
    p.write_text("<urn:a> <urn:b> <urn:c> .")
    with pytest.raises(ImportError, match="rdflib"):
        read_rdf_with_rdflib(spark, str(p), "Turtle")


def test_rdflib_engine_matches_native(spark, tmp_path):
    pytest.importorskip("rdflib")
    from pidb_rdf_spark.sources.rdf_reader import (
        read_rdf,
        read_rdf_with_rdflib,
    )

    ttl = (
        "@prefix ex: <http://e.org/> .\n"
        'ex:a ex:knows ex:b ; ex:name "Ann"@en ; ex:age 41 .\n'
    )
    p = tmp_path / "f.ttl"
    p.write_text(ttl)
    native = {tuple(r) for r in read_rdf(spark, str(p), "Turtle").collect()}
    viardf = {
        tuple(r) for r in read_rdf_with_rdflib(spark, str(p), "Turtle").collect()
    }
    assert native == viardf


# ---------------------------------------------------------------------------
# Neo4j admin-import CSV reader (sources/neo4j_csv.py, r9)
# ---------------------------------------------------------------------------


def test_neo4j_csv_roundtrip_through_cypher(spark, tmp_path):
    from pidb_rdf_spark.cypher import cypher
    from pidb_rdf_spark.sources.neo4j_csv import read_neo4j_csv

    (tmp_path / "nodes.csv").write_text(
        "name:ID,:LABEL,born:int,city\n"
        "alice,Person;Admin,1984,berlin\n"
        "bob,Person,1990,\n"
        "acme,Company,,nyc\n"
    )
    (tmp_path / "rels.csv").write_text(
        ":START_ID,:END_ID,:TYPE,since\n"
        "alice,acme,WORKS_AT,2019\n"
        "bob,acme,WORKS_AT,2021\n"
        "alice,bob,KNOWS,\n"
    )
    g = read_neo4j_csv(
        spark, str(tmp_path / "nodes.csv"), str(tmp_path / "rels.csv")
    )
    assert g.nodes.count() == 3 and g.edges.count() == 3
    alice = g.nodes.filter(F.col("uri") == "urn:neo4j:alice").first()
    assert sorted(alice["labels"]) == ["Admin", "Person"]
    assert alice["props"] == {"born": "1984", "city": "berlin"}
    bob = g.nodes.filter(F.col("uri") == "urn:neo4j:bob").first()
    assert "city" not in bob["props"]  # NULL props dropped
    # the loaded graph is queryable through the Cypher front-end
    got = cypher(
        g,
        "MATCH (p:Person)-[r:WORKS_AT]->(c:Company) "
        "RETURN p.city AS city, r.since AS since ORDER BY since",
    ).collect()
    assert [(r["city"], r["since"]) for r in got] == [
        ("berlin", "2019"), (None, "2021")
    ]


def test_neo4j_csv_header_validation(spark, tmp_path):
    from pidb_rdf_spark.sources.neo4j_csv import read_neo4j_csv

    (tmp_path / "bad.csv").write_text("name,city\nx,y\n")
    with pytest.raises(ValueError, match=":ID"):
        read_neo4j_csv(spark, str(tmp_path / "bad.csv"))
    (tmp_path / "n.csv").write_text("name:ID\nx\n")
    (tmp_path / "badr.csv").write_text(":START_ID,:END_ID\nx,y\n")
    with pytest.raises(ValueError, match=":TYPE"):
        read_neo4j_csv(spark, str(tmp_path / "n.csv"), str(tmp_path / "badr.csv"))
    # nodes-only load works
    g = read_neo4j_csv(spark, str(tmp_path / "n.csv"))
    assert g.nodes.count() == 1 and g.edges.count() == 0


def test_neo4j_csv_export_reimport_roundtrip(spark, tmp_path):
    from pidb_rdf_spark.graph import PropertyGraph
    from pidb_rdf_spark.sources.neo4j_csv import (
        read_neo4j_csv,
        write_neo4j_csv,
    )

    g = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [
                (1, "urn:x:a", ["P", "Q"], {"k": "1"}),
                (2, "urn:x:b", ["P"], {"m": "2"}),
            ],
            "id long, uri string, labels array<string>, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(9, 1, 2, "T", {"w": "5"})],
            "id long, src long, dst long, predicate string, props map<string,string>",
        ),
    )
    np_, rp = str(tmp_path / "n"), str(tmp_path / "r")
    write_neo4j_csv(g, np_, rp)
    g2 = read_neo4j_csv(spark, np_ + "/*.csv", rp + "/*.csv", id_space="x2")
    assert g2.nodes.count() == 2 and g2.edges.count() == 1
    a = g2.nodes.filter(F.col("uri") == "urn:x2:urn:x:a").first()
    assert sorted(a["labels"]) == ["P", "Q"] and a["props"] == {"k": "1"}
    e = g2.edges.first()
    assert e["predicate"] == "T" and e["props"] == {"w": "5"}
    # endpoints resolved consistently
    src_uri = g2.nodes.filter(F.col("id") == e["src"]).first()["uri"]
    assert src_uri == "urn:x2:urn:x:a"


def test_read_ntriples_gzip(spark, tmp_path):
    """.nt.gz input parses transparently (Hadoop codec path) — the
    shape multi-TB public RDF dumps actually ship in. Splittability
    caveat lives in SCALE.md: one gz member = one task, so corpora
    should ship as many files."""
    import gzip

    nt = (
        '<urn:a> <urn:p> <urn:b> .\n'
        '<urn:a> <urn:name> "gz \\u00e9l\\u00e8ve" .\n'
    )
    p = tmp_path / "part-0.nt.gz"
    p.write_bytes(gzip.compress(nt.encode()))
    from pidb_rdf_spark.sources.rdf_reader import read_ntriples

    rows = sorted(
        (r.subject, r.predicate, r.object)
        for r in read_ntriples(spark, str(p)).collect()
    )
    assert rows == [
        ("urn:a", "urn:name", "gz élève"),
        ("urn:a", "urn:p", "urn:b"),
    ]


def test_ntriples_uchar_escapes(spark, tmp_path):
    """Spec UCHAR decoding on the line-parallel path: \\uXXXX and
    \\UXXXXXXXX in literals AND IRIs (canonical N-Triples emits all
    non-ASCII this way); \\u005C decodes to a literal backslash that
    is NOT re-interpreted (single-pass escape processing); an escaped
    backslash can never fake a UCHAR."""
    nt = (
        '<urn:caf\\u00e9> <urn:p> "caf\\u00e9 \\U0001F600" .\n'
        '<urn:a> <urn:p> "slash \\u005Cn not newline" .\n'
        '<urn:a> <urn:p> "literal \\\\u0041 backslash-u" .\n'
    )
    p = tmp_path / "uchar.nt"
    p.write_text(nt)
    from pidb_rdf_spark.sources.rdf_reader import read_ntriples

    rows = sorted(
        (r.subject, r.object) for r in read_ntriples(spark, str(p)).collect()
    )
    assert rows == [
        ("urn:a", "literal \\u0041 backslash-u"),
        ("urn:a", "slash \\n not newline"),
        ("urn:café", "café 😀"),
    ]


def test_ntriples_every_echar_and_raw_nul(spark, tmp_path):
    """The line parse decodes every ECHAR N-Triples 1.1 defines —
    \\b, \\f and \\' as well as \\t \\n \\r \\" \\\\ — and a raw
    U+0000 inside a literal (legal N-Triples) stays U+0000, in both
    line formats and through the file reader."""
    from pidb_rdf_spark.sources.rdf_reader import read_ntriples

    nt = (
        '<urn:a> <urn:p> "a\\bb\\fc\\\'d" .\n'
        '<urn:a> <urn:q> "a\x00b" .\n'
        '<urn:a> <urn:r> "\\t\\n\\r\\"\\\\" .\n'
    )
    want = {"urn:p": "a\bb\fc'd", "urn:q": "a\x00b", "urn:r": '\t\n\r"\\'}
    for fmt in ("N-Triples", "N-Quads"):
        rows = parse_rdf_snippet(spark, nt, fmt).collect()
        assert {r.predicate: r.object for r in rows} == want, fmt
    p = tmp_path / "echar.nt"
    p.write_text(nt)
    rows = read_ntriples(spark, str(p)).collect()
    assert {r.predicate: r.object for r in rows} == want


def test_import_parses_its_input_once(spark):
    """import_triples reads its (lazy) input once: namespace discovery
    and every nodes/edges branch share one materialized parse."""
    from pidb_rdf_spark.sources.rdf_reader import TRIPLES_SCHEMA

    parses = spark.sparkContext.accumulator(0)

    def parse(doc):
        parses.add(1)
        return parse_turtle_text(doc)

    triples = spark.sparkContext.parallelize([TTL], 1).flatMap(parse).toDF(TRIPLES_SCHEMA)
    g = import_triples(spark, triples)
    nodes, edges = g.nodes.localCheckpoint(), g.edges.localCheckpoint()
    assert (nodes.count(), edges.count()) == (3, 2)
    assert parses.value == 1


def test_graphson_roundtrip(spark, tmp_path):
    """GraphSON adjacency export → import preserves the graph:
    uris, multi-labels (``::`` join), node/edge props, endpoints —
    including a vertex with no out-edges (outE {}) and an isolated
    vertex. Edge ids regenerate from (src uri, dst uri, predicate)."""
    from pidb_rdf_spark.graph import PropertyGraph
    from pidb_rdf_spark.sources import read_graphson, write_graphson

    g = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [
                (1, "urn:x:a", ["P", "Q"], {"k": "1"}),
                (2, "urn:x:b", ["P"], {"m": "2"}),
                (3, "urn:x:c", [], {}),
            ],
            "id long, uri string, labels array<string>, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(9, 1, 2, "T", {"w": "5"}), (10, 1, 2, "U", {})],
            "id long, src long, dst long, predicate string, props map<string,string>",
        ),
    )
    path = str(tmp_path / "gson")
    write_graphson(g, path)
    g2 = read_graphson(spark, path)
    assert g2.nodes.count() == 3 and g2.edges.count() == 2
    nodes = {r["uri"]: r for r in g2.nodes.collect()}
    assert sorted(nodes["urn:x:a"]["labels"]) == ["P", "Q"]
    assert nodes["urn:x:a"]["props"] == {"k": "1"}
    assert nodes["urn:x:c"]["labels"] == [] and nodes["urn:x:c"]["props"] == {}
    uri_of = {r["id"]: r["uri"] for r in g2.nodes.collect()}
    edges = {
        (uri_of[r["src"]], uri_of[r["dst"]], r["predicate"]): r["props"]
        for r in g2.edges.collect()
    }
    assert edges == {
        ("urn:x:a", "urn:x:b", "T"): {"w": "5"},
        ("urn:x:a", "urn:x:b", "U"): {},
    }


def test_graphson_document_shape(spark):
    """The emitted line is the TinkerPop adjacency shape: id/label/
    outE/properties keys, per-predicate edge arrays with inV, and
    single-element [{"value": ...}] vertex-property wrappers."""
    import json

    from pidb_rdf_spark.graph import PropertyGraph
    from pidb_rdf_spark.sources import graphson_documents

    g = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [(1, "urn:x:a", ["P"], {"k": "1"}), (2, "urn:x:b", [], {})],
            "id long, uri string, labels array<string>, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(9, 1, 2, "T", {"w": "5"})],
            "id long, src long, dst long, predicate string, props map<string,string>",
        ),
    )
    docs = {
        json.loads(r["value"])["id"]: json.loads(r["value"])
        for r in graphson_documents(g).collect()
    }
    a = docs["urn:x:a"]
    assert a["label"] == "P"
    assert a["properties"] == {"k": [{"value": "1"}]}
    assert a["outE"] == {
        "T": [{"id": "9", "inV": "urn:x:b", "properties": {"w": "5"}}]
    }
    assert docs["urn:x:b"]["outE"] == {} and docs["urn:x:b"]["label"] == ""


def test_graphson_rejects_malformed(spark, tmp_path):
    import pytest

    from pidb_rdf_spark.sources import read_graphson

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": "urn:x:a", "label": "", "outE": {}, "properties": {}}\n'
        "this is not json\n"
    )
    with pytest.raises(ValueError, match="malformed"):
        read_graphson(spark, str(p))


def test_graphson_roundtrip_sf0001_graph(spark, tmp_path):
    """Whole-graph fidelity on the real sf0.001 graphify output:
    node uri/label multiset and edge (src, predicate, dst) multiset
    survive the hop exactly."""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sources import read_graphson, write_graphson

    g = graphify(spark, "/root/testdata/sf0.001")
    path = str(tmp_path / "gson_full")
    write_graphson(g, path)
    g2 = read_graphson(spark, path)
    want_n = sorted(
        (r["uri"], "::".join(r["labels"])) for r in g.nodes.collect()
    )
    got_n = sorted(
        (r["uri"], "::".join(r["labels"])) for r in g2.nodes.collect()
    )
    assert want_n == got_n
    uri1 = {r["id"]: r["uri"] for r in g.nodes.collect()}
    uri2 = {r["id"]: r["uri"] for r in g2.nodes.collect()}
    want_e = sorted(
        (uri1[r["src"]], r["predicate"], uri1[r["dst"]])
        for r in g.edges.collect()
    )
    got_e = sorted(
        (uri2[r["src"]], r["predicate"], uri2[r["dst"]])
        for r in g2.edges.collect()
    )
    assert want_e == got_e


def test_graphml_roundtrip_with_escaping(spark, tmp_path):
    """GraphML single-file export → line-scan import: uris, labels,
    props and endpoints survive, including XML-hostile characters
    (& < > \") in values and multi-labels."""
    from pidb_rdf_spark.graph import PropertyGraph
    from pidb_rdf_spark.sources import read_graphml, write_graphml

    g = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [
                (1, "urn:x:a", ["P", "Q"], {"k": 'v&<>"1\ntwo', "r": "a&#10;b"}),
                (2, "urn:x:b", [], {}),
            ],
            "id long, uri string, labels array<string>, props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(9, 1, 2, "T", {"w": "a&b"})],
            "id long, src long, dst long, predicate string, props map<string,string>",
        ),
    )
    p = str(tmp_path / "g.graphml")
    write_graphml(g, p)
    text = open(p).read()
    assert text.startswith('<?xml version="1.0"')
    assert "&amp;" in text and "&lt;" in text  # escaped, not raw
    # a newline INSIDE a value must not tear the element line
    assert all(
        line.count("<node") <= 1 and not line.startswith("two")
        for line in text.splitlines()
    )
    g2 = read_graphml(spark, p)
    nodes = {r["uri"]: r for r in g2.nodes.collect()}
    assert sorted(nodes["urn:x:a"]["labels"]) == ["P", "Q"]
    # newline round-trips; a value that LOOKS like an entity survives
    assert nodes["urn:x:a"]["props"] == {"k": 'v&<>"1\ntwo', "r": "a&#10;b"}
    assert nodes["urn:x:b"]["labels"] == [] and nodes["urn:x:b"]["props"] == {}
    e = g2.edges.first()
    assert e["predicate"] == "T" and e["props"] == {"w": "a&b"}
    uri_of = {r["id"]: r["uri"] for r in g2.nodes.collect()}
    assert (uri_of[e["src"]], uri_of[e["dst"]]) == ("urn:x:a", "urn:x:b")


def test_graphml_null_props_and_hostile_key(spark, tmp_path):
    """A NULL props map (nullable column off a user join/load) must
    not null the node's whole element line, and an XML-hostile
    PROPERTY KEY must be escaped in the <key> header declarations
    (not just in <data> bodies) so the file stays well-formed;
    reserved TinkerPop pseudo-keys (labelV/labelE) raise."""
    import xml.dom.minidom

    import pytest

    from pidb_rdf_spark.graph import PropertyGraph
    from pidb_rdf_spark.sources import read_graphml, write_graphml

    g = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [
                (1, "urn:a", ["L"], {'a"b&<c>': "v1"}),
                (2, "urn:b", ["L"], None),
            ],
            "id long, uri string, labels array<string>,"
            " props map<string,string>",
        ),
        edges=spark.createDataFrame(
            [(9, 1, 2, "T", None)],
            "id long, src long, dst long, predicate string,"
            " props map<string,string>",
        ),
    )
    p = str(tmp_path / "g.graphml")
    write_graphml(g, p)
    xml.dom.minidom.parse(p)  # well-formed despite the hostile key
    g2 = read_graphml(spark, p)
    back = {r["uri"]: dict(r["props"]) for r in g2.nodes.collect()}
    assert back == {"urn:a": {'a"b&<c>': "v1"}, "urn:b": {}}
    assert g2.edges.count() == 1
    bad = PropertyGraph(
        spark=spark,
        nodes=spark.createDataFrame(
            [(1, "urn:a", ["L"], {"labelV": "x"})],
            "id long, uri string, labels array<string>,"
            " props map<string,string>",
        ),
        edges=g.edges.limit(0),
    )
    with pytest.raises(ValueError, match="reserved"):
        write_graphml(bad, str(tmp_path / "bad.graphml"))


def test_graphson_empty_property_value_array(spark, tmp_path):
    """A foreign adjacency-GraphSON document with an EMPTY vertex
    property value array ("k": []) loads with the property absent —
    element_at(…, 1) would raise INVALID_ARRAY_INDEX under ANSI."""
    import json

    from pidb_rdf_spark.sources import read_graphson

    doc = {
        "id": "urn:x",
        "label": "L",
        "properties": {"name": [], "kept": [{"value": "yes"}]},
        "outE": {},
    }
    (tmp_path / "part-00000.json").write_text(json.dumps(doc) + "\n")
    g = read_graphson(spark, str(tmp_path))
    row = g.nodes.first()
    assert dict(row["props"]) == {"kept": "yes"}


def test_graphml_max_elements_guard(spark, tmp_path):
    import pytest

    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sources import write_graphml

    g = graphify(spark, "/root/testdata/sf0.001")
    with pytest.raises(ValueError, match="GraphSON instead"):
        write_graphml(g, str(tmp_path / "x.graphml"), max_elements=10)


def test_graphml_roundtrip_sf0001_graph(spark, tmp_path):
    """Whole-graph fidelity through the XML hop, same assertion as
    the GraphSON twin."""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sources import read_graphml, write_graphml

    g = graphify(spark, "/root/testdata/sf0.001")
    p = str(tmp_path / "full.graphml")
    write_graphml(g, p)
    g2 = read_graphml(spark, p)
    assert g2.nodes.count() == g.nodes.count()
    uri1 = {r["id"]: r["uri"] for r in g.nodes.collect()}
    uri2 = {r["id"]: r["uri"] for r in g2.nodes.collect()}
    want_e = sorted(
        (uri1[r["src"]], r["predicate"], uri1[r["dst"]])
        for r in g.edges.collect()
    )
    got_e = sorted(
        (uri2[r["src"]], r["predicate"], uri2[r["dst"]])
        for r in g2.edges.collect()
    )
    assert want_e == got_e


def test_turtle_pn_local_illegal_chars_fall_back_to_full_iri(spark):
    """IRI-legal but Turtle-PN_LOCAL-illegal local names (parentheses,
    trailing dot) serialize as <full IRI>, never as an invalid
    prefixed name like dbr:Paris_(France)."""
    from pidb_rdf_spark.sources.rdf_writer import triples_to_turtle_lines

    triples = spark.createDataFrame(
        [
            ("http://db.org/r/Paris_(France)", "http://db.org/r/ok",
             "http://db.org/r/End.", False, None, None),
        ],
        "subject string, predicate string, object string,"
        " is_literal boolean, lang string, datatype string",
    )
    text = "\n".join(
        r[0]
        for r in triples_to_turtle_lines(
            triples, {"http://db.org/r/": "dbr"}
        ).collect()
    )
    assert "<http://db.org/r/Paris_(France)>" in text
    assert "dbr:Paris_(France)" not in text
    assert "dbr:ok" in text  # legal locals still prefix
    assert "<http://db.org/r/End.>" in text  # trailing dot: full form


def test_neo4j_csv_ignore_and_id_space_headers(spark, tmp_path):
    """'tmp:IGNORE' columns are dropped (not imported as a property
    named 'tmp') and the id-space forms 'id:ID(Person)' /
    ':START_ID(Person)' parse as their bare equivalents."""
    from pidb_rdf_spark.sources.neo4j_csv import read_neo4j_csv

    np = tmp_path / "nodes"
    rp = tmp_path / "rels"
    np.mkdir(); rp.mkdir()
    (np / "n.csv").write_text(
        "id:ID(Person),tmp:IGNORE,age:int,:LABEL\n"
        "a,zzz,31,Person\n"
        "b,yyy,32,Person\n"
    )
    (rp / "r.csv").write_text(
        ":START_ID(Person),:END_ID(Person),:TYPE,junk:IGNORE\n"
        "a,b,KNOWS,xxx\n"
    )
    g = read_neo4j_csv(spark, str(np), str(rp))
    rows = {r.uri: dict(r.props) for r in g.nodes.collect()}
    assert rows["urn:neo4j:a"] == {"age": "31"}  # tmp dropped
    e = g.edges.first()
    assert e.predicate == "KNOWS" and dict(e.props) == {}


def test_jsonld_offline_context_map(spark, tmp_path):
    """A @context URL resolves against the user-supplied offline
    contexts={url: mapping} map (r12 — VERDICT r11 #4): the document
    parses natively with zero network I/O, arrays of contexts mix
    inline and mapped URLs, and the read_rdf round-trip threads the
    map into the distributed parse. Unmapped URLs still raise."""
    import pytest

    from pidb_rdf_spark.sources.rdf_reader import (
        parse_jsonld_text,
        read_rdf,
    )

    schema_ctx = {"name": "http://schema.org/name",
                  "knows": {"@id": "http://schema.org/knows",
                            "@type": "@id"}}
    doc = (
        '{"@context": "https://schema.org/docs/jsonldcontext.jsonld", '
        '"@id": "urn:p:1", "name": "Ada", "knows": "urn:p:2"}'
    )
    ctxs = {"https://schema.org/docs/jsonldcontext.jsonld": schema_ctx}
    rows = parse_jsonld_text(doc, contexts=ctxs)
    got = {(r[0], r[1], r[2], r[3]) for r in rows}
    assert ("urn:p:1", "http://schema.org/name", "Ada", True) in got
    assert ("urn:p:1", "http://schema.org/knows", "urn:p:2", False) in got

    # context ARRAY mixing inline + mapped URL
    doc2 = (
        '{"@context": [{"ex": "http://e/"}, '
        '"https://schema.org/docs/jsonldcontext.jsonld"], '
        '"@id": "urn:p:3", "ex:tag": "t", "name": "Bo"}'
    )
    rows2 = parse_jsonld_text(doc2, contexts=ctxs)
    preds = {r[1] for r in rows2}
    assert {"http://e/tag", "http://schema.org/name"} <= preds

    # unmapped URL still raises with the offline-map guidance
    with pytest.raises(ValueError, match="contexts="):
        parse_jsonld_text(doc, contexts={"https://other/": {}})

    # read_rdf threads the map into the distributed parse
    f = tmp_path / "doc.jsonld"
    f.write_text(doc)
    df = read_rdf(spark, str(f), fmt="JSON-LD", contexts=ctxs)
    assert df.count() == 2
    assert {r["predicate"] for r in df.collect()} == {
        "http://schema.org/name", "http://schema.org/knows"
    }
