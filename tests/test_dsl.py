"""Graph DSL (Gremlin-role) traversal tests vs DuckDB oracle."""

import pytest
from pyspark.sql import functions as F

from pidb_rdf_spark.dsl import P, traversal
from tests.test_sparql_basic import oracle


def test_v_haslabel_has_values(graph):
    got = sorted(
        r["c_name"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .has("c_mktsegment", "BUILDING")
        .values("c_name")
        .collect()
    )
    want = sorted(
        r[0] for r in oracle("SELECT c_name FROM customer WHERE c_mktsegment='BUILDING'")
    )
    assert got == want


def test_out_hop(graph):
    got = sorted(
        r["n_name"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .out("IN_NATION")
        .values("n_name")
        .collect()
    )
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT n_name FROM customer JOIN nation ON c_nationkey=n_nationkey"
        )
    )
    assert got == want


def test_in_hop_count(graph):
    n = (
        traversal(graph)
        .V()
        .has_label("Nation")
        .in_("IN_NATION")
        .count()
        .collect()[0]["count"]
    )
    want = oracle(
        "SELECT (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier)"
    )[0][0]
    assert n == want


def test_predicate_and_two_hop(graph):
    got = sorted(
        r["r_name"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .has("c_acctbal", P.gt(5000))
        .out("IN_NATION")
        .out("IN_REGION")
        .dedup()
        .values("r_name")
        .collect()
    )
    want = sorted(
        r[0]
        for r in oracle(
            """SELECT DISTINCT r_name FROM customer
               JOIN nation ON c_nationkey=n_nationkey
               JOIN region ON n_regionkey=r_regionkey
               WHERE c_acctbal > 5000"""
        )
    )
    assert got == want


def test_group_count(graph):
    rows = (
        traversal(graph)
        .V()
        .has_label("Customer")
        .group_count("c_mktsegment")
        .collect()
    )
    got = sorted((r["key"], r["count"]) for r in rows)
    want = sorted(
        tuple(r) for r in oracle("SELECT c_mktsegment, COUNT(*) FROM customer GROUP BY 1")
    )
    assert got == want


def test_edges_and_endpoints(graph):
    n = (
        traversal(graph)
        .V()
        .has_label("Orders")
        .out_e("PLACED_BY")
        .in_v()
        .dedup()
        .count()
        .collect()[0]["count"]
    )
    want = oracle("SELECT COUNT(DISTINCT o_custkey) FROM orders")[0][0]
    assert n == want


def test_edge_start_and_label(graph):
    rows = traversal(graph).E().has("predicate", "IN_REGION").label().collect()
    assert {r["label"] for r in rows} == {"IN_REGION"}
    assert len(rows) == 25  # one per nation


def test_sql_passthrough(graph):
    graph.register_views()
    df = graph.sql(
        """
        SELECT n.n_name, COUNT(*) AS cnt
        FROM edges e
        JOIN nodes c ON e.src = c.id
        JOIN nodes n ON e.dst = n.id
        WHERE e.predicate = 'IN_NATION' AND array_contains(c.labels, 'Customer')
        GROUP BY n.n_name ORDER BY n.n_name
        """
    )
    got = [(r[0], r[1]) for r in df.collect()]
    want = [
        tuple(r)
        for r in oracle(
            """SELECT n_name, COUNT(*) FROM customer JOIN nation
               ON c_nationkey=n_nationkey GROUP BY 1 ORDER BY 1"""
        )
    ]
    assert got == want


def test_point_lookups_by_id(graph):
    """S2/S4: vertex and edge point lookups."""
    from pidb_rdf_spark.dsl import traversal

    v = graph.nodes.first()
    got = traversal(graph).V(v["id"]).uri().collect()
    assert len(got) == 1 and got[0][0] == v["uri"]
    e = graph.edges.first()
    got_e = traversal(graph).E(e["id"]).label().collect()
    assert len(got_e) == 1 and got_e[0][0] == e["predicate"]


def test_degrees(graph):
    """J10: materialized degree table; every order has exactly one
    PLACED_BY out-edge at sf0.001."""
    from pyspark.sql import functions as F

    deg = graph.degrees(direction="out", predicate="PLACED_BY")
    rows = deg.agg(F.min("degree"), F.max("degree"), F.count("*")).first()
    assert rows[0] == 1 and rows[1] == 1 and rows[2] == 1500


def test_graphify_node_ids_unique(graph):
    """Node ids must be globally unique — (l_orderkey, l_linenumber)
    is NOT unique in the synthetic lineitem data, which is why
    lineitem ids derive from physical row identity."""
    n = graph.nodes.count()
    assert graph.nodes.select("id").distinct().count() == n
    e = graph.edges.count()
    assert graph.edges.select("id").distinct().count() == e


def test_value_map(graph):
    """TinkerPop valueMap(): full or key-restricted property map."""
    rows = (
        traversal(graph)
        .V()
        .has_label("Region")
        .value_map("r_name")
        .collect()
    )
    assert len(rows) == 5
    assert all(set(r["value_map"].keys()) == {"r_name"} for r in rows)
    full = traversal(graph).V().has_label("Region").value_map().collect()
    assert all(set(r["value_map"].keys()) == {"r_regionkey", "r_name"} for r in full)


def test_path_tracking(graph):
    from pidb_rdf_spark.dsl import traversal

    g = traversal(graph)
    paths = (
        g.V()
        .has("uri", "urn:customer:3")
        .with_path()
        .out("IN_NATION")
        .out("IN_REGION")
        .path(by="uri")
        .collect()
    )
    assert len(paths) == 1
    p = paths[0]["path"]
    assert len(p) == 3
    assert p[0] == "urn:customer:3"
    assert p[1].startswith("urn:nation:") and p[2].startswith("urn:region:")


def test_path_tracking_branches(graph):
    from pidb_rdf_spark.dsl import traversal

    # both() from a nation: one path per incident edge direction
    g = traversal(graph)
    paths = (
        g.V().has("uri", "urn:nation:1").with_path().both("IN_REGION").path().collect()
    )
    assert all(len(r["path"]) == 2 for r in paths)
    assert len(paths) == 1  # nations have exactly one region, no inbound IN_REGION


def test_repeat_times_unrolled(graph):
    """repeat(out()).times(2) ≡ two chained out() hops."""
    t = traversal(graph).V().has_label("Customer")
    got = sorted(
        r["r_name"]
        for r in t.repeat(lambda x: x.out("IN_NATION", "IN_REGION"), times=2)
        .values("r_name")
        .collect()
    )
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT r_name FROM customer "
            "JOIN nation ON c_nationkey=n_nationkey "
            "JOIN region ON n_regionkey=r_regionkey"
        )
    )
    assert got == want


def test_repeat_until_mixed_depths(graph):
    """Traversers exit the loop at different depths: nations reach a
    Region in 1 hop, customers in 2."""
    t = traversal(graph).V().has_label("Customer", "Nation")
    out = t.repeat(
        lambda x: x.out("IN_NATION", "IN_REGION"),
        until=lambda x: x.has_label("Region"),
    ).uri()
    got = sorted(r["uri"] for r in out.collect())
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) "
            "FROM customer JOIN nation ON c_nationkey=n_nationkey "
            "UNION ALL "
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation"
        )
    )
    assert got == want


def test_repeat_emit(graph):
    """emit() outputs every post-body position: nations (hop 1) and
    regions (hop 2) for a customer start."""
    t = traversal(graph).V().has_label("Customer")
    out = t.repeat(
        lambda x: x.out("IN_NATION", "IN_REGION"),
        until=lambda x: x.has_label("Region"),
        emit=True,
    ).uri()
    got = sorted(r["uri"] for r in out.collect())
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT 'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer "
            "UNION ALL "
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) "
            "FROM customer JOIN nation ON c_nationkey=n_nationkey"
        )
    )
    assert got == want


def test_coalesce_first_nonempty_branch(graph):
    """Nations take branch 1 (out IN_REGION); regions have no such
    edge and fall through to the identity branch."""
    t = traversal(graph).V().has_label("Nation", "Region")
    out = t.coalesce_(
        lambda x: x.out("IN_REGION"), lambda x: x
    ).uri()
    got = sorted(r["uri"] for r in out.collect())
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation "
            "UNION ALL "
            "SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) FROM region"
        )
    )
    assert got == want


def test_optional_is_coalesce_with_identity(graph):
    t = traversal(graph).V().has_label("Region")
    got = sorted(
        r["uri"] for r in t.optional_(lambda x: x.out("NO_SUCH_EDGE")).uri().collect()
    )
    want = sorted(
        r[0] for r in oracle("SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) FROM region")
    )
    assert got == want


def test_union_branches_bag(graph):
    t = traversal(graph).V().has_label("Nation")
    out = t.union_(
        lambda x: x.out("IN_REGION"), lambda x: x.in_("IN_NATION")
    ).count()
    n = out.collect()[0]["count"]
    want = oracle(
        "SELECT (SELECT COUNT(*) FROM nation) "
        "+ (SELECT COUNT(*) FROM customer) + (SELECT COUNT(*) FROM supplier)"
    )[0][0]
    assert n == want


def test_choose_branches(graph):
    """Nations hop to their region; everything else stays put."""
    t = traversal(graph).V().has_label("Nation", "Region")
    out = t.choose(
        lambda x: x.has_label("Nation"), lambda x: x.out("IN_REGION")
    ).uri()
    got = sorted(r["uri"] for r in out.collect())
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT 'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation "
            "UNION ALL "
            "SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR) FROM region"
        )
    )
    assert got == want


def test_group_values(graph):
    """group().by(mktsegment).by(name list) matches DuckDB
    string_agg-per-group."""
    t = traversal(graph).V().has_label("Customer")
    got = {
        r["key"]: list(r["values"])
        for r in t.group_values("c_mktsegment", "c_name").collect()
    }
    want = {}
    for seg, name in oracle("SELECT c_mktsegment, c_name FROM customer"):
        want.setdefault(seg, []).append(name)
    want = {k: sorted(v) for k, v in want.items()}
    assert got == want


def test_match_two_patterns_vs_sparql(graph):
    """match() natural-joins pattern fragments on shared as_() labels
    and binds the incoming traverser to the first pattern's first
    label: starting from Customers must exclude supplier->nation
    bindings, exactly the SPARQL DISTINCT BGP."""
    from pidb_rdf_spark.sparql import sparql

    out = (
        traversal(graph)
        .V()
        .has_label("Customer")
        .match_(
            lambda x: x.as_("c").out("IN_NATION").as_("n"),
            lambda x: x.as_("n").out("IN_REGION").as_("r"),
        )
        .select("c", "n", "r")
    )
    got = sorted((r["c"], r["n"], r["r"]) for r in out.collect())
    want = sorted(
        (r["c"], r["n"], r["r"])
        for r in sparql(
            graph,
            'SELECT DISTINCT ?c ?n ?r WHERE { ?c v:label "Customer" . '
            "?c e:IN_NATION ?n . ?n e:IN_REGION ?r }",
        ).collect()
    )
    assert len(got) > 0 and got == want


def test_match_greedy_connection_order(graph):
    """A disconnected-in-given-order pattern list still joins (greedy
    connectivity resolution), and a truly disconnected one raises."""
    import pytest

    t = traversal(graph).V().has_label("Nation")
    # patterns 1 and 2 share nothing directly; 3 bridges them
    out = t.match_(
        lambda x: x.as_("n").out("IN_REGION").as_("r"),
        lambda x: x.as_("c").has_label("Customer"),
        lambda x: x.as_("c").out("IN_NATION").as_("n"),
    ).select("c", "r")
    assert out.count() > 0

    with pytest.raises(ValueError, match="cartesian"):
        t.match_(
            lambda x: x.as_("n").out("IN_REGION").as_("r"),
            lambda x: x.as_("a").out("IN_NATION").as_("b"),
        )


def test_match_requires_labels(graph):
    import pytest

    with pytest.raises(ValueError, match="as_"):
        traversal(graph).V().match_(lambda x: x.out("IN_NATION"))


# ---------------------------------------------------------------------------
# long-tail steps: sack / local / subgraph / tree / simplePath / cyclicPath
# ---------------------------------------------------------------------------


def test_sack_sum_path_cost(graph):
    """withSack(0).sack(sum).by(prop) accumulates along the traversal:
    customer acctbal + order totalprice per PLACED_BY traverser."""
    got = sorted(
        (r["o_orderkey"], round(r["sack"], 2))
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .with_sack(0.0)
        .sack_by("c_acctbal")
        .in_("PLACED_BY")
        .sack_by("o_totalprice")
        .sack_df("o_orderkey")
        .collect()
    )
    want = sorted(
        (r[0], round(r[1], 2))
        for r in oracle(
            "SELECT o_orderkey, c_acctbal + o_totalprice"
            " FROM orders JOIN customer ON o_custkey = c_custkey"
        )
    )
    assert got == want


def test_sack_ops_and_guards(graph):
    import pytest

    t = traversal(graph).V().has_label("Region")
    with pytest.raises(ValueError, match="with_sack"):
        t.sack_by("r_regionkey")
    with pytest.raises(ValueError, match="with_sack"):
        t.sack_df()
    s = t.with_sack(2.0)
    with pytest.raises(ValueError, match="already carries"):
        s.with_sack(0.0)
    with pytest.raises(ValueError, match="unknown sack op"):
        s.sack_by("r_regionkey", op="xor")
    # assign overwrites, mult multiplies
    vals = sorted(
        r["sack"] for r in s.sack_by("r_regionkey", op="assign").sack_df().collect()
    )
    assert vals == [0.0, 1.0, 2.0, 3.0, 4.0]
    vals = sorted(
        r["sack"] for r in s.sack_by("r_regionkey", op="mult").sack_df().collect()
    )
    assert vals == [0.0, 2.0, 4.0, 6.0, 8.0]


def test_local_topk_per_traverser(graph):
    """local(in().hasLabel(Customer)) with order/limit applies the
    limit PER incoming nation, not globally (the defining local()
    semantics)."""
    got = sorted(
        r["c_name"]
        for r in traversal(graph)
        .V()
        .has_label("Nation")
        .local(
            lambda t: t.in_("IN_NATION").has_label("Customer"),
            order_key="c_acctbal",
            asc=False,
            limit=1,
        )
        .values("c_name")
        .collect()
    )
    want = sorted(
        r[0]
        for r in oracle(
            """
            SELECT c_name FROM (
              SELECT c_name, row_number() OVER (
                PARTITION BY c_nationkey
                ORDER BY c_acctbal DESC, c_custkey) AS rn
              FROM customer
            ) WHERE rn = 1
            """
        )
    )
    assert got == want


def test_local_dedup_per_traverser(graph):
    """local(..., dedup=True) de-duplicates within each traverser:
    nation -> its customers -> back out to the nation collapses to
    one result per nation, not one per customer."""
    t = traversal(graph).V().has_label("Nation")
    fanned = t.local(
        lambda x: x.in_("IN_NATION").has_label("Customer").out("IN_NATION")
    )
    collapsed = t.local(
        lambda x: x.in_("IN_NATION").has_label("Customer").out("IN_NATION"),
        dedup=True,
    )
    n_customers = oracle("SELECT count(*) FROM customer")[0][0]
    n_nations_with = oracle(
        "SELECT count(DISTINCT c_nationkey) FROM customer"
    )[0][0]
    assert fanned.count().collect()[0]["count"] == n_customers
    assert collapsed.count().collect()[0]["count"] == n_nations_with


def test_subgraph_is_queryable(graph):
    """subgraph() materializes the edge-induced subgraph as a real
    PropertyGraph: label counts match the oracle and the result
    answers further traversals."""
    import pytest

    sg = (
        traversal(graph)
        .V()
        .has_label("Orders")
        .has("o_totalprice", P.gt(200000.0))
        .out_e("PLACED_BY")
        .subgraph()
    )
    got = {
        r["label"]: r["n"]
        for r in sg.nodes.select(F.explode("labels").alias("label"))
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    n_orders = oracle(
        "SELECT count(*) FROM orders WHERE o_totalprice > 200000"
    )[0][0]
    n_cust = oracle(
        "SELECT count(DISTINCT o_custkey) FROM orders"
        " WHERE o_totalprice > 200000"
    )[0][0]
    assert got == {"Orders": n_orders, "Customer": n_cust}
    assert sg.edges.count() == n_orders
    # the subgraph is a first-class graph: traverse it
    back = (
        traversal(sg).V().has_label("Customer").in_("PLACED_BY").count()
    ).collect()[0]["count"]
    assert back == n_orders
    with pytest.raises(ValueError, match="edges"):
        traversal(graph).V().subgraph()


def test_tree_counts(graph):
    """tree() aggregates the recorded paths into (depth, parent,
    child, n_traversers): region->nation edges count every downstream
    traverser, leaf edges count once."""
    import pytest

    t = (
        traversal(graph)
        .V()
        .has_label("Region")
        .with_path()
        .in_("IN_REGION")
        .in_("IN_NATION")
    )
    rows = t.tree().collect()
    d1 = {(r.parent, r.child): r.n_traversers for r in rows if r.depth == 1}
    d2 = [r.n_traversers for r in rows if r.depth == 2]
    # depth-1 (region -> nation) counts = customers+suppliers of the nation
    want = {
        (rk, nk): n
        for rk, nk, n in oracle(
            """
            SELECT n_regionkey, n_nationkey,
                   (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
                 + (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey)
            FROM nation
            """
        )
    }
    want = {(rk, nk + 100): n for (rk, nk), n in want.items() if n > 0}
    assert d1 == want
    assert d2 and all(n == 1 for n in d2)
    with pytest.raises(ValueError, match="with_path"):
        traversal(graph).V().tree()


def test_simple_and_cyclic_path(graph):
    """simplePath keeps non-revisiting traversers, cyclicPath the
    complement: customer -> nation -> IN_NATION-neighbors returns to
    the start exactly once per customer."""
    import pytest

    t = (
        traversal(graph)
        .V()
        .has_label("Customer")
        .with_path()
        .out("IN_NATION")
        .in_("IN_NATION")
    )
    total = t.count().collect()[0]["count"]
    n_cyclic = t.cyclic_path().count().collect()[0]["count"]
    n_simple = t.simple_path().count().collect()[0]["count"]
    n_customers = oracle("SELECT count(*) FROM customer")[0][0]
    assert n_cyclic == n_customers  # each path revisits only its start
    assert n_simple + n_cyclic == total
    with pytest.raises(ValueError, match="with_path"):
        traversal(graph).V().simple_path()
    with pytest.raises(ValueError, match="with_path"):
        traversal(graph).V().cyclic_path()


def test_sample_deterministic(graph):
    """sample(n) draws the md5-smallest n traversers: replayable
    across runs and partitionings, size-correct, subset of the
    frontier."""
    import pytest

    t = traversal(graph).V().has_label("Customer")
    a = sorted(r["id"] for r in t.sample(10).id_().collect())
    b = sorted(r["id"] for r in t.sample(10).id_().collect())
    assert a == b and len(a) == 10
    allc = {r["id"] for r in t.id_().collect()}
    assert set(a) <= allc
    # a different salt draws a different subset (overwhelmingly)
    c = sorted(r["id"] for r in t.sample(10, salt="other").id_().collect())
    assert c != a
    with pytest.raises(ValueError):
        t.sample(0)


def test_local_asc_ranks_missing_property_last(spark):
    """local(order_key=..., asc=True): elements WITHOUT the order
    property rank last — Spark's NULLS FIRST asc default would
    otherwise hand them the per-traverser top-k slots (TinkerPop's
    order().by() never ranks missing-property elements first)."""
    from pidb_rdf_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [
            (1, "urn:1", ["P"], {}),
            (2, "urn:2", ["C"], {"bal": "5"}),
            (3, "urn:3", ["C"], {"bal": "1"}),
            (4, "urn:4", ["C"], {}),
        ],
        "id long, uri string, labels array<string>,"
        " props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(20, 1, 2, "HAS", None), (21, 1, 3, "HAS", None),
         (22, 1, 4, "HAS", None)],
        "id long, src long, dst long, predicate string,"
        " props map<string,string>",
    )
    g = PropertyGraph(spark=spark, nodes=nodes, edges=edges)
    got = sorted(
        r[0]
        for r in traversal(g)
        .V()
        .has_label("P")
        .local(lambda t: t.out("HAS"), order_key="bal", asc=True, limit=2)
        .uri()
        .collect()
    )
    assert got == ["urn:2", "urn:3"]  # urn:4 (no bal) must not win a slot


def test_sample_with_path_state_deterministic(graph):
    """sample() after with_path(): traverser history (the __path
    column) is part of the draw key, so duplicate traversers at the
    same element get distinct keys and the draw replays exactly."""
    t = traversal(graph).V().has_label("Customer").with_path().out("IN_NATION")
    a = sorted(map(tuple, t.sample(5).uri().collect()))
    b = sorted(map(tuple, t.sample(5).uri().collect()))
    assert a == b and len(a) == 5


def test_range_skip_tail_deterministic_slices(graph):
    """range_/skip/tail slice the id-ordered traverser stream:
    contiguous, disjoint where expected, and consistent with each
    other (tail(n) == the last n of the id-sorted frontier)."""
    import pytest

    t = traversal(graph).V().has_label("Customer")
    all_ids = sorted(r["id"] for r in t.id_().collect())
    r_ = sorted(r["id"] for r in t.range_(5, 15).id_().collect())
    assert r_ == all_ids[5:15]
    s = sorted(r["id"] for r in t.skip(140).id_().collect())
    assert s == all_ids[140:]
    tl = sorted(r["id"] for r in t.tail(7).id_().collect())
    assert tl == all_ids[-7:]
    with pytest.raises(ValueError):
        t.range_(5, 5)


def test_coin_deterministic(graph):
    """coin(p) keeps the md5-unit-hash < p subset: replayable,
    monotone in p (coin(.2) ⊆ coin(.6)), empty at 0, total at 1."""
    import pytest

    t = traversal(graph).V().has_label("Customer")
    a = {r["id"] for r in t.coin(0.3).id_().collect()}
    b = {r["id"] for r in t.coin(0.3).id_().collect()}
    assert a == b
    big = {r["id"] for r in t.coin(0.8).id_().collect()}
    assert a <= big
    assert t.coin(0.0).id_().count() == 0
    assert t.coin(1.0).id_().count() == t.id_().count()
    # roughly proportional (150 customers; generous band)
    assert 15 <= len(a) <= 75
    with pytest.raises(ValueError):
        t.coin(1.5)


def test_fold_and_numeric_terminals(graph, spark):
    """fold() returns ONE sorted array of the frontier; sum_/mean_/
    min_/max_ match the direct aggregate over the same property."""
    t = traversal(graph).V().has_label("Customer")
    folded = t.fold().first()["folded"]
    assert folded == sorted(r["id"] for r in t.id_().collect())
    vals = [
        float(r["c_acctbal"])
        for r in t.values("c_acctbal").collect()
        if r["c_acctbal"] is not None
    ]
    # summation ORDER differs between engines — compare to tolerance
    assert abs(t.sum_("c_acctbal").first()["sum"] - sum(vals)) < 1e-6
    assert abs(t.mean_("c_acctbal").first()["mean"] - sum(vals) / len(vals)) < 1e-9
    assert t.min_("c_acctbal").first()["min"] == min(vals)
    assert t.max_("c_acctbal").first()["max"] == max(vals)


def test_slices_deterministic_with_duplicate_traversers(graph):
    """range_/skip/tail/local() slice DUPLICATE traversers at the
    same element (same id, different __path history) identically on
    any partitioning: carried state is part of the total order."""
    t = (
        traversal(graph)
        .V()
        .has_label("Nation")
        .with_path()
        .in_("IN_NATION")
        .out("IN_NATION")  # back to nations: many traversers per id
    )
    a = t.range_(3, 9).path().collect()
    b = (
        traversal(graph)
        .V()
        .has_label("Nation")
        .with_path()
        .in_("IN_NATION")
        .out("IN_NATION")
        .range_(3, 9)
        .path()
        .collect()
    )
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    tl = t.tail(5).path().collect()
    tl2 = t.tail(5).path().collect()
    assert sorted(map(tuple, tl)) == sorted(map(tuple, tl2))


def test_project_modulators(graph):
    """project(): property, count-barrier (0 where the sub-traversal
    dies), fold (sorted list, [] where it dies), and first/min — all
    cross-checked against the DuckDB oracle."""
    got = {
        r["name"]: (r["n_members"], r["region"])
        for r in traversal(graph)
        .V()
        .has_label("Nation")
        .project(
            name="n_name",
            # IN_NATION arrives from BOTH customers and suppliers
            n_members=(lambda s: s.in_("IN_NATION"), "count"),
            region=(lambda s: s.out("IN_REGION"), "first", "r_name"),
        )
        .collect()
    }
    want = {
        r[0]: (r[1], r[2])
        for r in oracle(
            """SELECT n_name,
                      (SELECT count(*) FROM customer
                       WHERE c_nationkey = n_nationkey)
                      + (SELECT count(*) FROM supplier
                         WHERE s_nationkey = n_nationkey),
                      (SELECT r_name FROM region
                       WHERE r_regionkey = n_regionkey)
               FROM nation"""
        )
    }
    assert got == want
    # fold: [] where the sub-traversal dies (regions have no outgoing
    # IN_REGION), sorted values elsewhere
    folded = {
        r["name"]: r["nations"]
        for r in traversal(graph)
        .V()
        .has_label("Region")
        .project(
            name="r_name",
            nations=(lambda s: s.in_("IN_REGION"), "fold", "n_name"),
        )
        .collect()
    }
    want_f = {
        r[0]: sorted(r[1]) if r[1] is not None else []
        for r in oracle(
            """SELECT r_name, list(n_name) FROM region
               LEFT JOIN nation ON n_regionkey = r_regionkey
               GROUP BY r_name"""
        )
    }
    want_f = {k: [x for x in v if x is not None] for k, v in want_f.items()}
    assert folded == want_f
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one"):
        traversal(graph).V().project()
    with _pytest.raises(ValueError, match="unknown by"):
        traversal(graph).V().has_label("Region").project(
            x=(lambda s: s, "median", "r_name")
        ).collect()


def test_group_by_traversal_key(graph):
    """group().by(traversal): customers grouped by their nation's
    name (the key comes from a sub-traversal, not a property)."""
    got = {
        r["key"]: r["values"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .group(
            (lambda s: s.out("IN_NATION"), "first", "n_name"),
            value="c_name",
        )
        .collect()
    }
    want = {}
    for n_name, c_name in oracle(
        """SELECT n_name, c_name FROM customer
           JOIN nation ON c_nationkey = n_nationkey"""
    ):
        want.setdefault(n_name, []).append(c_name)
    want = {k: sorted(v) for k, v in want.items()}
    assert got == want
    # property-key form still matches group_values
    a = {
        r["key"]: r["values"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .group("c_mktsegment", value="c_name")
        .collect()
    }
    b = {
        r["key"]: r["values"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .group_values("c_mktsegment", "c_name")
        .collect()
    }
    assert a == b


def test_where_not_traversal_filters(graph):
    """where_(traversal) keeps / not_(traversal) drops traversers by
    sub-traversal existence; has_not keeps property-less elements —
    all oracle-checked."""
    # customers in nations of region 0 (where_), and the complement
    got = sorted(
        r["c_name"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .where_(lambda t: t.out("IN_NATION").has("n_regionkey", 0))
        .values("c_name")
        .collect()
    )
    want = sorted(
        r[0]
        for r in oracle(
            "SELECT c_name FROM customer JOIN nation ON c_nationkey=n_nationkey "
            "WHERE n_regionkey = 0"
        )
    )
    assert got == want
    comp = sorted(
        r["c_name"]
        for r in traversal(graph)
        .V()
        .has_label("Customer")
        .not_(lambda t: t.out("IN_NATION").has("n_regionkey", 0))
        .values("c_name")
        .collect()
    )
    want_c = sorted(
        r[0]
        for r in oracle(
            "SELECT c_name FROM customer JOIN nation ON c_nationkey=n_nationkey "
            "WHERE n_regionkey <> 0"
        )
    )
    assert comp == want_c
    # has_not: nations lack c_mktsegment; customers all have it
    n = (
        traversal(graph).V().has_label("Nation").has_not("c_mktsegment")
        .count().first()["count"]
    )
    assert n == 25
    c = (
        traversal(graph).V().has_label("Customer").has_not("c_mktsegment")
        .count().first()["count"]
    )
    assert c == 0


def test_inject_aggregate_cap_barrier(graph):
    """Deep-tail steps (r12): inject() appends traversers by element
    id, aggregate()/cap() snapshot and emit a BulkSet (multiplicity
    kept), barrier() is a semantics no-op — all oracle-checked."""
    import pytest as _pytest

    # inject: regions plus two nation ids = 5 + 2 traversers
    nation_ids = [
        r["id"]
        for r in traversal(graph).V().has_label("Nation").id_()
        .limit(2).collect()
    ]
    t = traversal(graph).V().has_label("Region").inject(*nation_ids)
    assert t.count().first()["count"] == 7
    # injected traversers traverse like any other
    names = sorted(
        r["n_name"]
        for r in traversal(graph).V().has_label("Region").limit(0)
        .inject(*nation_ids).values("n_name").collect()
    )
    want = sorted(
        r["n_name"]
        for r in traversal(graph).V().has_id(*nation_ids)
        .values("n_name").collect()
    )
    assert names == want

    # aggregate/cap: nations reached from regions via in(IN_REGION)
    # carry bulk 1; after a second hop the SNAPSHOT is unchanged
    agg = (
        traversal(graph).V().has_label("Region")
        .in_("IN_REGION").aggregate("x")
        .in_("IN_NATION")  # keeps flowing; snapshot must not move
        .cap("x")
    )
    got = {(r["id"], r["bulk"]) for r in agg.collect()}
    n_nations = traversal(graph).V().has_label("Nation").count().first()["count"]
    assert len(got) == n_nations and all(b == 1 for _, b in got)
    # multiplicity: both() from nations doubles nothing here, but a
    # two-path frontier shows bulk > 1
    agg2 = (
        traversal(graph).V().has_label("Nation")
        .out("IN_REGION").aggregate("r").cap("r")
    )
    bulks = {r["bulk"] for r in agg2.collect()}
    assert bulks == {5}  # 25 nations / 5 regions -> bulk 5 each

    with _pytest.raises(ValueError, match="no aggregate"):
        traversal(graph).V().cap("missing")

    # barrier: identical result, lineage truncated
    a = sorted(
        r["n_name"]
        for r in traversal(graph).V().has_label("Region")
        .in_("IN_REGION").barrier().values("n_name").collect()
    )
    b = sorted(
        r["n_name"]
        for r in traversal(graph).V().has_label("Region")
        .in_("IN_REGION").values("n_name").collect()
    )
    assert a == b


def test_predicate_tail_and_textp(graph):
    """P.without/inside/outside/eq and the TextP text predicates —
    all plain Column predicates that fuse into the pristine-scan
    filter (oracle-checked counts)."""
    from pidb_rdf_spark.dsl import P, TextP, traversal

    def n(t):
        return t.count().first()["count"]

    V = lambda: traversal(graph).V().has_label("Nation")
    assert n(V().has("n_regionkey", P.without(0, 1))) == 15
    assert n(V().has("n_regionkey", P.inside(0, 4))) == 15   # 1,2,3
    assert n(V().has("n_regionkey", P.outside(1, 3))) == 10  # 0,4
    assert n(V().has("n_regionkey", P.eq(2))) == 5
    assert n(V().has("n_name", TextP.containing("ATION_1"))) == 11
    assert n(V().has("n_name", TextP.not_containing("ATION_1"))) == 14
    assert n(V().has("n_name", TextP.starting_with("NATION_2"))) == 6
    assert n(V().has("n_name", TextP.ending_with("4"))) == 3  # 4,14,24
    assert n(V().has("n_name", TextP.regex("NATION_[0-9]$"))) == 10
    assert n(V().has("n_name", TextP.not_starting_with("NATION"))) == 0
    assert n(V().has("n_name", TextP.not_ending_with("4"))) == 22


def test_inject_edge_frontier_guard(graph):
    """ADVICE r12: node and edge ids share the opaque long id space,
    so inject() into an edge frontier (after outE()) would silently
    mix spaces — it now requires the explicit edge_ids=True opt-in,
    and edge_ids=True on a node frontier raises symmetrically."""
    import pytest as _pytest

    t = traversal(graph).V().has_label("Region").out_e()
    with _pytest.raises(ValueError, match="edge_ids=True"):
        t.inject(1, 2)
    # explicit opt-in: injected EDGE ids traverse like any other edge
    eids = [
        r["id"]
        for r in traversal(graph).V().has_label("Nation").out_e()
        .id_().limit(2).collect()
    ]
    n = (
        traversal(graph).V().has_label("Region").out_e().limit(0)
        .inject(*eids, edge_ids=True).count().first()["count"]
    )
    assert n == 2
    with _pytest.raises(ValueError, match="NODE frontier"):
        traversal(graph).V().inject(1, edge_ids=True)


@pytest.fixture(scope="module")
def dangling(spark):
    """Nodes 1, 2, 3 and three weighted edges, one of them (103)
    ending at node 99, which has no node row."""
    from pidb_rdf_spark.graph import PropertyGraph

    nodes = spark.createDataFrame(
        [(1, "urn:1", ["P"], {"name": "a"}),
         (2, "urn:2", ["P"], {"name": "b"}),
         (3, "urn:3", ["P"], {"name": "c"})],
        "id long, uri string, labels array<string>,"
        " props map<string,string>",
    )
    edges = spark.createDataFrame(
        [(101, 1, 2, "KNOWS", {"w": "5"}),
         (102, 2, 3, "KNOWS", {"w": "1"}),
         (103, 1, 99, "LINK", {"w": "3"})],
        "id long, src long, dst long, predicate string,"
        " props map<string,string>",
    )
    return traversal(PropertyGraph(spark=spark, nodes=nodes, edges=edges))


def _ids(t):
    return [r["id"] for r in t.id_().collect()]


def _groups(df):
    return {r["key"]: r[1] for r in df.collect()}


@pytest.mark.parametrize(
    "step, want",
    [
        # edge frontiers read edge properties (the edge table's own
        # column first, then the props map), never the node table
        (lambda s: _ids(s.E().order_by("w")), [102, 103, 101]),
        (lambda s: _ids(s.E().order_by("w", asc=False)), [101, 103, 102]),
        (lambda s: _groups(s.E().group_count("w")),
         {"5": 1, "1": 1, "3": 1}),
        (lambda s: _groups(s.E().group_count("predicate")),
         {"KNOWS": 2, "LINK": 1}),
        (lambda s: _groups(s.E().group_values("predicate", "w")),
         {"KNOWS": ["1", "5"], "LINK": ["3"]}),
        (lambda s: _groups(s.E().group("predicate", value="w")),
         {"KNOWS": ["1", "5"], "LINK": ["3"]}),
        (lambda s: _ids(s.E().has_label("LINK")), [103]),
        # order_by keeps a traverser whose element has no row; its
        # missing value sorts last
        (lambda s: _ids(s.V(1).out().order_by("name")), [2, 99]),
        (lambda s: _ids(s.V(1).out().order_by("name", asc=False)), [2, 99]),
    ],
    ids=["E_order_by", "E_order_by_desc", "E_group_count", "E_group_count_column",
         "E_group_values", "E_group", "E_has_label", "dangling_order_by",
         "dangling_order_by_desc"],
)
def test_element_reads_on_edge_frontiers_and_dangling_ends(dangling, step, want):
    assert step(dangling) == want


def test_uri_is_node_only(dangling):
    with pytest.raises(ValueError, match="edges have no uri"):
        dangling.E().uri()
    assert sorted(r["uri"] for r in dangling.V(1).out().uri().collect()) == ["urn:2"]
