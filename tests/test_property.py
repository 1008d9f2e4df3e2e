"""Property-based tests (hypothesis): transitive closure and the
other frontier loops (BFS hops, sssp, closeness, betweenness) vs pure-
Python oracles on random graphs, Cypher property reads vs a Python
twin on random labelled graphs, and RDF import→export→parse
round-trips on random triple sets (SURVEY.md §5.4-5.5).

Example counts are small — every example runs Spark jobs — but the
generators cover the structural edge cases (cycles, self-loops,
diamonds, unicode-ish literals, datatype round-trips)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _py_closure(pairs):
    """Naive reachability oracle (handles cycles)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for c, p in pairs:
        adj[c].add(p)
    out = set()
    for start in {c for c, _ in pairs}:
        seen, stack = set(), [start]
        while stack:
            n = stack.pop()
            for p in adj[n]:
                if p not in seen:
                    seen.add(p)
                    stack.append(p)
        out |= {(start, p) for p in seen}
    return out


edges_strategy = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)),
    min_size=1,
    max_size=25,
)


@SLOW
@given(pairs=edges_strategy)
def test_closure_matches_python_oracle(spark, pairs):
    from pidb_rdf_spark.inference import transitive_closure

    df = spark.createDataFrame(
        [(str(c), str(p)) for c, p in pairs], ["child", "parent"]
    )
    got = {
        (r["child"], r["parent"]) for r in transitive_closure(df).collect()
    }
    expected = {(str(c), str(p)) for c, p in _py_closure(pairs)}
    assert got == expected


literal_strategy = st.one_of(
    st.text(
        alphabet=st.characters(
            whitelist_categories=("L", "N"), max_codepoint=0x2FF
        ),
        min_size=0,
        max_size=12,
    ),
    st.integers(-(2**31), 2**31),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.booleans(),
)

XSD = "http://www.w3.org/2001/XMLSchema#"


def _to_triple(i, subj_n, pred_n, value):
    subj = f"http://ex.org/s{subj_n}"
    pred = f"http://ex.org/p{pred_n}"
    if isinstance(value, bool):
        return (subj, pred, str(value).lower(), True, XSD + "boolean", None)
    if isinstance(value, int):
        return (subj, pred, str(value), True, XSD + "long", None)
    if isinstance(value, float):
        return (subj, pred, repr(value), True, XSD + "double", None)
    return (subj, pred, value, True, None, None)


@SLOW
@given(
    data=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 3), literal_strategy),
        min_size=1,
        max_size=8,
        unique_by=lambda t: (t[0], t[1]),  # one value per (subj, pred)
    )
)
def test_rdf_literal_roundtrip(spark, data):
    """import → export → re-parse: literal triples survive with their
    value and 3-family datatype (reference import/export pair S7/S12;
    shorten/expand inverse F3/F4)."""
    from pidb_rdf_spark.sources.importer import import_triples
    from pidb_rdf_spark.sources.rdf_reader import (
        TRIPLES_SCHEMA,
        parse_ntriples_lines,
    )
    from pidb_rdf_spark.sources.rdf_writer import (
        graph_to_triples,
        triples_to_ntriples_lines,
    )

    triples = spark.createDataFrame(
        [_to_triple(i, s, p, v) for i, (s, p, v) in enumerate(data)],
        TRIPLES_SCHEMA,
    )
    g = import_triples(spark, triples)
    lines = triples_to_ntriples_lines(graph_to_triples(g))
    reparsed = parse_ntriples_lines(lines.withColumnRenamed("line", "value"))

    def norm(rows):
        out = set()
        for r in rows:
            val = r["object"]
            dt = r["datatype"]
            if dt == XSD + "long":
                val = str(int(val))
            elif dt == XSD + "double":
                val = repr(float(val))
            elif dt == XSD + "boolean":
                val = val.lower()
            out.add((r["subject"], r["predicate"], val, dt))
        return out

    orig = norm(triples.collect())
    back = norm(reparsed.filter("is_literal").collect())
    assert back == orig


_NON_SURROGATE = st.characters(blacklist_categories=("Cs",))


def _uchar(c: str, wide: bool, upper: bool) -> str:
    """``c`` as a UCHAR: ``\\uXXXX`` or ``\\UXXXXXXXX``, hex in either case."""
    esc = f"U{ord(c):08x}" if wide or ord(c) > 0xFFFF else f"u{ord(c):04x}"
    return "\\" + esc[0] + (esc[1:].upper() if upper else esc[1:])


_uchar_strategy = st.builds(_uchar, _NON_SURROGATE, st.booleans(), st.booleans())
_echar_strategy = st.sampled_from(["\\\\", '\\"', "\\'", "\\t", "\\b", "\\n", "\\r", "\\f"])
# lexical forms of N-Triples string literals: escapes of every kind
# (\u0000 and \u005C included) between runs of raw text (raw NUL
# included; raw '"', '\\', LF and CR must be escaped in the grammar)
_lexical_strategy = st.lists(
    st.one_of(
        _echar_strategy,
        _uchar_strategy,
        st.sampled_from(["\\u0000", "\\u005C", "\\u005c", "\x00"]),
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), blacklist_characters='"\\\n\r'
            ),
            max_size=4,
        ),
    ),
    max_size=8,
).map("".join)
# IRIREF bodies: UCHAR escapes between runs of raw IRI characters
_iri_strategy = st.lists(
    st.one_of(
        _uchar_strategy,
        st.text(alphabet="abcXYZ019/#:.-_~%", min_size=1, max_size=4),
    ),
    max_size=6,
).map(lambda parts: "http://ex.org/" + "".join(parts))


@SLOW
@given(
    terms=st.lists(st.tuples(_iri_strategy, _lexical_strategy), min_size=1, max_size=20)
)
def test_line_parse_decodes_like_python_twin(spark, terms):
    """The SQL-text N-Triples and N-Quads term decoder matches the
    pure-Python ``unescape_string`` on escape-heavy literal lexical
    forms and UCHAR-bearing IRIs, statement by statement."""
    from pidb_rdf_spark.sources.rdf_reader import (
        parse_nquads_lines,
        parse_ntriples_lines,
        unescape_string,
    )

    want = sorted(
        (i, unescape_string(iri), unescape_string(lex))
        for i, (iri, lex) in enumerate(terms)
    )
    for parse, graph in ((parse_ntriples_lines, ""), (parse_nquads_lines, " <urn:g>")):
        lines = spark.createDataFrame(
            [(f'<{iri}> <urn:p{i}> "{lex}"{graph} .',) for i, (iri, lex) in enumerate(terms)],
            ["value"],
        )
        got = sorted(
            (int(r.predicate[5:]), r.subject, r.object) for r in parse(lines).collect()
        )
        assert got == want


@SLOW
@given(
    texts=st.lists(st.text(alphabet=_NON_SURROGATE, max_size=12), min_size=1, max_size=20),
    lang=st.sampled_from([None, "en"]),
)
def test_ntriples_write_parse_roundtrip_full_unicode(spark, texts, lang):
    """Any Unicode text (control characters, raw NUL, quotes,
    backslashes, line separators, astral planes) survives
    ``triples_to_ntriples_lines`` and the line parse unchanged."""
    from pidb_rdf_spark.sources.rdf_reader import TRIPLES_SCHEMA, parse_ntriples_lines
    from pidb_rdf_spark.sources.rdf_writer import triples_to_ntriples_lines

    triples = spark.createDataFrame(
        [("urn:s", f"urn:p{i}", t, True, None, lang) for i, t in enumerate(texts)],
        TRIPLES_SCHEMA,
    )
    back = parse_ntriples_lines(triples_to_ntriples_lines(triples)).collect()
    assert sorted((r.predicate, r.object, r.lang) for r in back) == sorted(
        (f"urn:p{i}", t, lang) for i, t in enumerate(texts)
    )


@SLOW
@given(
    vectors=st.lists(
        st.lists(
            st.floats(
                min_value=-1e6, max_value=1e6,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=4, max_size=4,
        ),
        min_size=1, max_size=8,
    )
)
def test_quantize_roundtrip_bound_property(spark, vectors):
    """∀ float vectors: |dequantize(quantize(x)) - x| ≤ scale/2 + eps
    per component, and quantized ints stay in [-127, 127]."""
    from pidb_rdf_spark.operators import (
        dequantize_embeddings,
        quantize_embeddings,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<double>",
    )
    q = quantize_embeddings(df)
    back = {r["vec_id"]: r["embedding"] for r in dequantize_embeddings(q).collect()}
    scales = {r["vec_id"]: r["scale"] for r in q.collect()}
    for i, v in enumerate(vectors):
        tol = scales[i] / 2 + 1e-9 * max(1.0, scales[i])
        assert all(abs(a - b) <= tol for a, b in zip(v, back[i]))
    for r in q.collect():
        assert all(-127 <= x <= 127 for x in r["qvec"])


def _py_components(pairs):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    return {
        n: min(members) for members in comp.values() for n in members
    }


@SLOW
@given(pairs=edges_strategy)
def test_star_components_match_union_find(spark, monkeypatch, pairs):
    """Pointer-doubling (large-star/small-star) components equal the
    python union-find oracle AND the min-label implementation on both
    sides of its state-size gate (pinned rounds and planner-default
    rounds)."""
    from pidb_rdf_spark import frontier
    from pidb_rdf_spark.analytics import (
        connected_components,
        connected_components_star,
    )

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )
    expected = {
        (n, c) for n, c in _py_components(pairs).items() if True
    }
    # drop self-loop-only nodes the same way _edge_list does
    real = {(a, b) for a, b in pairs if a != b}
    nodes_in = {x for e in real for x in e}
    expected = {(n, c) for n, c in expected if n in nodes_in}
    got_star = {
        (r["node"], r["component"])
        for r in connected_components_star(df).collect()
    }
    assert got_star == expected
    for gate in (0, 10**9):
        monkeypatch.setattr(frontier, "_FIXPOINT_MIN_STATE_ROWS", gate)
        got_minlabel = {
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        }
        assert got_star == got_minlabel, gate


def _py_bfs(pairs, sources, directed=True):
    """Multi-source BFS hop counts (nearest source wins)."""
    from collections import deque

    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        if not directed and a != b:
            adj.setdefault(b, set()).add(a)
    dist = dict.fromkeys(sources, 0)
    q = deque(sources)
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    return dist


@SLOW
@given(pairs=edges_strategy, sources=st.sets(st.integers(0, 12), min_size=1, max_size=3))
def test_shortest_hops_matches_python_bfs(spark, pairs, sources):
    from pidb_rdf_spark.analytics import shortest_hops

    df = spark.createDataFrame(pairs, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in sources], "id long")
    for directed in (True, False):
        got = dict(map(tuple, shortest_hops(df, s, directed=directed).collect()))
        assert got == _py_bfs(pairs, sorted(sources), directed)


def _py_sssp(wpairs, sources, rounds):
    """``rounds`` naive directed Bellman-Ford rounds."""
    dist = dict.fromkeys(sources, 0)
    for _ in range(rounds):
        nxt = dict(dist)
        for a, b, w in wpairs:
            if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                nxt[b] = dist[a] + w
        dist = nxt
    return dist


@SLOW
@given(
    wpairs=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12), st.integers(0, 9)),
        min_size=1,
        max_size=25,
    ),
    rounds=st.sampled_from([1, 2, 3, 30]),
)
def test_sssp_matches_naive_rounds(spark, wpairs, rounds):
    """Bounded (few rounds) or converged (30 > any path's edge count
    here), sssp equals ``rounds`` naive Bellman-Ford rounds."""
    from pidb_rdf_spark.analytics import sssp

    df = spark.createDataFrame(wpairs, "src long, dst long, weight long")
    s = spark.createDataFrame([(0,)], "node long")
    got = dict(map(tuple, sssp(df, s, max_iter=rounds).collect()))
    assert got == _py_sssp(wpairs, [0], rounds)


@SLOW
@given(pairs=edges_strategy)
def test_closeness_matches_python_bfs(spark, pairs):
    from pidb_rdf_spark.analytics import closeness_centrality

    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["node"]: (r["n_reached"], r["sum_hops"], r["harmonic"])
        for r in closeness_centrality(df).collect()
    }
    nodes = {x for a, b in pairs if a != b for x in (a, b)}
    want = {}
    for n in nodes:
        hops = [h for h in _py_bfs(pairs, [n], directed=False).values() if h > 0]
        want[n] = (len(hops), sum(hops), sum(1.0 / h for h in hops))
    assert got.keys() == want.keys()
    for n, (cnt, tot, harm) in want.items():
        assert got[n][:2] == (cnt, tot)
        assert got[n][2] == pytest.approx(harm)


@SLOW
@given(pairs=edges_strategy, directed=st.booleans())
def test_betweenness_matches_brute_force(spark, pairs, directed):
    from test_analytics import _brute_betweenness

    from pidb_rdf_spark.analytics import betweenness_centrality

    # the directed edge view keeps self-loops (their nodes score 0),
    # the undirected one drops them
    edges = sorted({(a, b) for a, b in pairs if directed or a != b})
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(df, directed=directed).collect()
    }
    want = _brute_betweenness(edges, directed=directed)
    assert got.keys() == want.keys()
    for n, v in want.items():
        assert got[n] == pytest.approx(v)


_nodes_strategy = st.lists(
    st.tuples(
        st.sets(st.sampled_from("AB")),  # labels
        st.one_of(st.none(), st.integers(-5, 5)),  # score: typed column
        st.one_of(st.none(), st.sampled_from(["t0", "t1"])),  # tag: map key
    ),
    min_size=1,
    max_size=7,
)
_rels_strategy = st.lists(
    st.tuples(
        st.integers(0, 6),
        st.integers(0, 6),
        st.sampled_from("RS"),
        st.one_of(st.none(), st.integers(0, 9)),  # w: edge prop
    ),
    max_size=12,
)


@SLOW
@given(nodes=_nodes_strategy, rels=_rels_strategy)
def test_cypher_property_reads_match_python_twin(spark, nodes, rels):
    """Cypher property reads vs a Python twin on random labelled
    graphs: properties bound in the MATCH scan, null through OPTIONAL
    MATCH, forwarded through WITH (grouped and renamed), after a
    re-MATCH that adds inline props, on relationships, and on a
    variable a CALL subquery returns (the join-back path)."""
    from pidb_rdf_spark.cypher import cypher
    from pidb_rdf_spark.graph import PropertyGraph

    n = len(nodes)
    labels = {i: labs for i, (labs, _, _) in enumerate(nodes)}
    score = {i: sc for i, (_, sc, _) in enumerate(nodes)}
    tag = {i: tg for i, (_, _, tg) in enumerate(nodes)}
    edges = [(10 + k, s % n, d % n, t, w) for k, (s, d, t, w) in enumerate(rels)]
    g = PropertyGraph(
        spark,
        spark.createDataFrame(
            [
                (i, f"urn:n{i}", sorted(labs), {} if tg is None else {"tag": tg}, sc)
                for i, (labs, sc, tg) in enumerate(nodes)
            ],
            "id long, uri string, labels array<string>, "
            "props map<string,string>, score long",
        ),
        spark.createDataFrame(
            [
                (k, s, d, t, {} if w is None else {"w": str(w)})
                for k, s, d, t, w in edges
            ],
            "id long, src long, dst long, predicate string, "
            "props map<string,string>",
        ),
    )

    def run(q):
        return sorted((tuple(r) for r in cypher(g, q).collect()), key=repr)

    def want(rows):
        return sorted(rows, key=repr)

    r_out = {a: [d for _, s, d, t, _ in edges if s == a and t == "R"] for a in labels}
    a_nodes = [i for i in labels if "A" in labels[i]]

    # plain MATCH: both ends' props from their scans
    assert run(
        "MATCH (a:A)-[:R]->(b) RETURN id(a), a.score, b.tag, b.score"
    ) == want((a, score[a], tag[b], score[b]) for a in a_nodes for b in r_out[a])
    # OPTIONAL MATCH: an unmatched row reads null props
    opt = []
    for a in a_nodes:
        bs = [b for b in r_out[a] if "B" in labels[b]]
        opt += [(a, b, score[b]) for b in bs] or [(a, None, None)]
    assert run(
        "MATCH (a:A) OPTIONAL MATCH (a)-[:R]->(b:B) RETURN id(a), id(b), b.score"
    ) == want(opt)
    # WITH: grouped, then renamed — the scan columns ride along
    dsts = [d for _, _, d, t, _ in edges if t == "R"]
    assert run(
        "MATCH ()-[:R]->(b) WITH b, count(*) AS k "
        "WITH b AS x, k RETURN id(x), x.score, x.tag, k"
    ) == want((b, score[b], tag[b], dsts.count(b)) for b in set(dsts))
    # re-MATCH of a bound variable adding inline props
    assert run(
        "MATCH (a:A) MATCH (a:B {tag: 't1'}) RETURN id(a), a.score"
    ) == want((a, score[a]) for a in a_nodes if "B" in labels[a] and tag[a] == "t1")
    # relationship props and pseudo-props
    assert run(
        "MATCH (a)-[r:S]->(b:A) RETURN id(r), r.w, type(r), id(a), b.tag"
    ) == want(
        (k, None if w is None else str(w), "S", s, tag[d])
        for k, s, d, t, w in edges
        if t == "S" and "A" in labels[d]
    )
    # a variable returned by a CALL subquery carries no scan
    assert run(
        "MATCH (a:A) CALL { WITH a MATCH (a)-[:R]->(b) RETURN b } "
        "RETURN id(a), id(b), b.score, b.tag"
    ) == want((a, b, score[b], tag[b]) for a in a_nodes for b in r_out[a])


def _py_ktruss(pairs, k):
    edges = {tuple(sorted(e)) for e in pairs if e[0] != e[1]}
    while True:
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        kept = {
            (a, b)
            for a, b in edges
            if len(adj[a] & adj[b]) >= k - 2
        }
        if kept == edges:
            return edges
        edges = kept


@SLOW
@given(pairs=edges_strategy, k=st.integers(3, 5))
def test_ktruss_matches_python_oracle(spark, pairs, k):
    from pidb_rdf_spark.analytics import ktruss

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )
    got = {(r["a"], r["b"]) for r in ktruss(df, k).collect()}
    assert got == _py_ktruss(pairs, k)


@SLOW
@given(
    ids=st.lists(st.integers(0, 1_000_000), min_size=1, max_size=40,
                 unique=True),
    n_shards=st.integers(1, 7),
)
def test_deterministic_shuffle_matches_python(spark, ids, n_shards):
    import hashlib

    from pidb_rdf_spark.operators.mixing import deterministic_shuffle

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["shard"], r["seq"])
        for r in deterministic_shuffle(df, n_shards).collect()
    }
    def h(i):
        return int(hashlib.md5(f"shuffle:{i}".encode()).hexdigest()[:13], 16)

    by_shard = {}
    for i in ids:
        by_shard.setdefault(h(i) % n_shards, []).append(i)
    want = {}
    for s, members in by_shard.items():
        for seq, i in enumerate(sorted(members, key=lambda x: (h(x), x))):
            want[i] = (s, seq)
    assert got == want


def _py_funnel(rows, steps, within_s):
    import datetime as dt

    by_user = {}
    for u, ts, e in rows:
        by_user.setdefault(u, []).append((ts, e))
    counts = [0] * len(steps)
    for u, evs in by_user.items():
        evs.sort()
        t1 = min((t for t, e in evs if e == steps[0]), default=None)
        if t1 is None:
            continue
        counts[0] += 1
        deadline = t1 + dt.timedelta(seconds=within_s)
        tprev = t1
        for i, s in enumerate(steps[1:], start=1):
            ti = min(
                (t for t, e in evs if e == s and tprev <= t <= deadline),
                default=None,
            )
            if ti is None:
                break
            counts[i] += 1
            tprev = ti
    return counts


@SLOW
@given(
    data=st.lists(
        st.tuples(
            st.integers(1, 6),                      # user
            st.integers(0, 7200),                   # offset seconds
            st.sampled_from(["a", "b", "c", "x"]),  # event type
        ),
        min_size=1,
        max_size=60,
    )
)
def test_funnel_matches_python_oracle(spark, data):
    import datetime as dt

    from pidb_rdf_spark.streaming.events import funnel

    base = dt.datetime(2024, 1, 1)
    rows = [(u, base + dt.timedelta(seconds=off), e) for u, off, e in data]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["step_idx"]: r["n_converted"]
        for r in funnel(df, ["a", "b", "c"], within="1 hour").collect()
    }
    want = _py_funnel(rows, ["a", "b", "c"], 3600)
    assert [got[i] for i in range(3)] == want


# --- URL canonicalization properties -------------------------------------

_url_strategy = st.builds(
    lambda scheme, www, host, port, path, params, frag: (
        scheme
        + "://"
        + ("WWW." if www else "")
        + host
        + (f":{port}" if port else "")
        + "/"
        + "/".join(path)
        + ("/" if path else "")
        + ("?" + "&".join(params) if params else "")
        + (f"#{frag}" if frag else "")
    ),
    scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS", "ftp"]),
    www=st.booleans(),
    host=st.sampled_from(
        ["Example.COM", "a.b.example.org", "localhost", "X--Y.net"]
    ),
    port=st.sampled_from([None, 80, 443, 8080]),
    path=st.lists(
        st.one_of(
            st.text(alphabet="abcXYZ019._-~", min_size=1, max_size=6),
            # percent-escape shapes (r11): unreserved decodes,
            # reserved keeps its escape with upper hex, dangling and
            # short escapes pass through — idempotence must hold
            # through all of them
            st.sampled_from(
                ["%7E", "%7e", "%41", "%2F", "%2f", "%25", "a%4",
                 "100%", "%3a%3A", "x%20y"]
            ),
        ),
        max_size=3,
    ),
    params=st.lists(
        st.sampled_from(
            ["a=1", "Z=2", "utm_source=x", "UTM_campaign=Y",
             "fbclid=f", "q=hello", "empty=", "e=%7e", "f=%3c"]
        ),
        max_size=4,
        unique=True,
    ),
    frag=st.sampled_from([None, "sec", "x/y?z"]),
)


@SLOW
@given(urls=st.lists(_url_strategy, min_size=1, max_size=20))
def test_url_normalize_idempotent_and_clean(spark, urls):
    """Canonicalization is IDEMPOTENT (normalize∘normalize ==
    normalize — the property that makes canonical URLs safe as join/
    dedup keys built at different pipeline stages) and the output
    never retains a fragment, a tracking parameter, a default port,
    or uppercase scheme/authority."""
    from pyspark.sql import functions as F

    from pidb_rdf_spark.operators import url_normalize

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "doc_id long, url string"
    )
    once = url_normalize(df)
    twice = url_normalize(
        once.select("doc_id", F.col("url_norm").alias("url"))
    )
    a = {r.doc_id: r.url_norm for r in once.collect()}
    b = {r.doc_id: r.url_norm for r in twice.collect()}
    assert a == b
    for v in a.values():
        assert v is not None
        assert "#" not in v
        assert "utm_" not in v.lower().split("?")[-1] or "?" not in v
        assert "fbclid" not in v
        # default ports are scheme-specific: :80 is only default for
        # http (https://host:80 is a DIFFERENT origin and must stay)
        assert not (v.startswith("http://") and ":80/" in v)
        assert not (v.startswith("https://") and ":443/" in v)
        scheme, rest = v.split("://", 1)
        assert scheme == scheme.lower()
        auth = rest.split("/", 1)[0]
        assert auth == auth.lower()


@SLOW
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8", exclude_categories=("Cs",)
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_normalize_text_idempotent_matches_python(spark, texts):
    """normalize_text is IDEMPOTENT (safe as a dedup key built at
    different pipeline stages) and matches a pure-Python twin of the
    pipeline (NFC -> control strip -> whitespace collapse) on
    arbitrary unicode."""
    import re as _re
    import unicodedata

    from pyspark.sql import functions as F

    from pidb_rdf_spark.operators import normalize_text

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    once = normalize_text(df, form="NFC")
    a = {r.id: r.text_norm for r in once.collect()}
    twice = normalize_text(
        once.select("id", F.col("text_norm").alias("text")), form="NFC"
    )
    b = {r.id: r.text_norm for r in twice.collect()}
    assert a == b

    ctrl = _re.compile("[\x00-\x08\x0B\x0C\x0E-\x1F\x7F-\x9F]")
    for i, t in enumerate(texts):
        want = unicodedata.normalize("NFC", t)
        want = ctrl.sub("", want)
        want = _re.sub(r"\s+", " ", want).strip()
        assert a[i] == want, (i, repr(t), repr(a[i]), repr(want))


@SLOW
@given(
    docs=st.lists(
        st.tuples(st.integers(0, 1_000_000), st.integers(0, 40)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    seq_len=st.integers(1, 17),
    n_shards=st.integers(1, 5),
    sep=st.integers(0, 3),
)
def test_pack_manifest_matches_python(spark, docs, seq_len, n_shards, sep):
    """pack_manifest vs a pure-Python replay of the full layout:
    md5-shuffle order, sep-token gaps, cuts — over random counts
    (including zero-token docs), seq_lens, shard counts and
    separator widths."""
    import hashlib

    from pidb_rdf_spark.operators import pack_manifest

    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    got = sorted(
        tuple(r)
        for r in pack_manifest(
            df,
            seq_len=seq_len,
            n_shards=n_shards,
            tokens_col="n_tokens",
            sep_tokens=sep,
        ).collect()
    )

    def h(i):
        return int(hashlib.md5(f"shuffle:{i}".encode()).hexdigest()[:13], 16)

    order = sorted(
        (d for d in docs if d[1] > 0),
        key=lambda d: (h(d[0]) % n_shards, h(d[0]), d[0]),
    )
    want, off = [], 0
    for doc, n in order:
        start, end = off, off + n
        c = start // seq_len
        while c * seq_len < end:
            s = max(start, c * seq_len)
            e = min(end, (c + 1) * seq_len)
            want.append((c, doc, s - start, s - c * seq_len, e - s, n))
            c += 1
        off = end + sep
    assert got == sorted(want)


@SLOW
@given(pairs=edges_strategy)
def test_scc_matches_reachability_twin(spark, pairs):
    """SCC's component = the min id among the nodes that reach the
    node and are reached by it (the closure twin), over the nodes of
    the non-self-loop edges."""
    from pidb_rdf_spark.analytics import strongly_connected_components

    df = spark.createDataFrame(pairs, "src long, dst long")
    reach = _py_closure([(a, b) for a, b in pairs if a != b])
    want = {
        v: min({v} | {u for u, w in reach if w == v and (v, u) in reach})
        for v in {x for a, b in pairs if a != b for x in (a, b)}
    }
    got = dict(map(tuple, strongly_connected_components(df).collect()))
    assert got == want


def _py_pagerank(pairs, n_iter, damping=0.85, seeds=None):
    """Power iteration over the edge rows (parallel edges count), with
    dangling mass and teleport spread uniformly or over ``seeds``."""
    nodes = {x for e in pairs for x in e}
    n = len(nodes)
    deg: dict = {}
    for a, _ in pairs:
        deg[a] = deg.get(a, 0) + 1
    if seeds is None:
        pref = dict.fromkeys(nodes, 1.0 / n)
    else:
        s = set(seeds) & nodes
        pref = {v: (1.0 / len(s) if v in s else 0.0) for v in nodes}
    rank = dict(pref)
    for _ in range(n_iter):
        dang = sum(rank[v] for v in nodes if v not in deg)
        inc = dict.fromkeys(nodes, 0.0)
        for a, b in pairs:
            inc[b] += rank[a] / deg[a]
        rank = {
            v: (1 - damping) * pref[v] + damping * dang * pref[v]
            + damping * inc[v]
            for v in nodes
        }
    return rank


@SLOW
@given(pairs=edges_strategy, n_iter=st.integers(1, 6), data=st.data())
def test_pagerank_matches_power_iteration_twin(spark, pairs, n_iter, data):
    """Uniform and personalized PageRank vs a Python power iteration."""
    from pidb_rdf_spark.analytics import pagerank

    df = spark.createDataFrame(pairs, "src long, dst long")
    nodes = sorted({x for e in pairs for x in e})
    seeds = data.draw(st.lists(st.sampled_from(nodes), min_size=1, max_size=3))
    for seed_set in (None, seeds):
        personalize = (
            None if seed_set is None
            else spark.createDataFrame([(s,) for s in seed_set], "node long")
        )
        got = dict(
            map(tuple, pagerank(df, n_iter=n_iter, personalize=personalize).collect())
        )
        want = _py_pagerank(pairs, n_iter, seeds=seed_set)
        assert got.keys() == want.keys()
        assert all(abs(got[v] - want[v]) <= 1e-9 for v in want)


@SLOW
@given(pairs=edges_strategy, n_iter=st.integers(1, 5))
def test_label_propagation_matches_python_twin(spark, pairs, n_iter):
    """Synchronous LPA vs a Python twin: each round every node takes
    its most frequent neighbor label, ties to the smallest."""
    from pidb_rdf_spark.analytics import label_propagation

    nbrs: dict = {}
    for a, b in {(a, b) for a, b in pairs if a != b}:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {v: v for v in nbrs}
    for _ in range(n_iter):
        nxt = {}
        for v, ns in nbrs.items():
            counts: dict = {}
            for u in ns:
                counts[labels[u]] = counts.get(labels[u], 0) + 1
            top = max(counts.values())
            nxt[v] = min(c for c, k in counts.items() if k == top)
        labels = nxt
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = dict(map(tuple, label_propagation(df, n_iter=n_iter).collect()))
    assert got == labels
