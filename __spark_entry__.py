"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Every query here is an operator exercise from SURVEY.md §2 (the
reference system's operator inventory) or a scale-extension operator,
run through pidb_rdf_spark's public APIs over the graphified /
relational testdata.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_GRAPH_CACHE: dict = {}


def _graph(spark: SparkSession, sf_dir: str):
    from pidb_rdf_spark.graph import graphify

    key = (id(spark), sf_dir)
    if key not in _GRAPH_CACHE:
        _GRAPH_CACHE[key] = graphify(spark, sf_dir)
    return _GRAPH_CACHE[key]


_PAIRS_CACHE: dict = {}
_MH_INDEX_BUILT: set = set()
_HIER_CACHE: dict = {}


def _reasoner_hierarchy(spark: SparkSession, sf_dir: str):
    """ONE combined, kind-less ontology hierarchy shared by the three
    reasoner entries (r8, verdict #5): label rows (SLO), the
    nation->region uri containment (SCO) derived from the nation
    table, and relationship-type rows (SRO) in a single frame. The
    three name spaces are disjoint (labels vs urn: uris vs edge
    predicates), so each entry's sub_closure picks out exactly the
    rows its per-kind hierarchy used to hold — results are unchanged,
    but the closure fixpoint runs ONCE across the family: the frame
    object is memoized here, and inference.py's plan-keyed LRU
    returns the cached closure for entries 2 and 3."""
    from pidb_rdf_spark.session import local_frame

    key = (id(spark), sf_dir)
    if key not in _HIER_CACHE:
        # local_frame makes the literal rows a JVM LocalRelation: no
        # query over the union below starts a Python worker for them
        labels = local_frame(
            spark,
            [
                ("Customer", "Actor"),
                ("Supplier", "Actor"),
                ("Nation", "Place"),
                ("Region", "Place"),
            ],
            "child string, parent string",
        )
        nations = spark.read.parquet(f"{sf_dir}/nation.parquet")
        containment = nations.select(
            F.concat(F.lit("urn:nation:"), F.col("n_nationkey").cast("string")).alias("child"),
            F.concat(F.lit("urn:region:"), F.col("n_regionkey").cast("string")).alias("parent"),
        )
        rels = local_frame(
            spark,
            [("IN_NATION", "LOCATED"), ("IN_REGION", "LOCATED")],
            "child string, parent string",
        )
        _HIER_CACHE[key] = labels.unionAll(containment).unionAll(rels)
    return _HIER_CACHE[key]


def _minhash_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.8):
    """Shared MinHash+LSH near-dup pairs frame: the dedup entry, the
    cluster entry, and the triangle entry all consume the same pairs,
    so compute the pipeline once per (session, sf, threshold) and hand
    out a lazily-checkpointed frame — composite entries then measure
    their own operator, not MinHash again."""
    key = (id(spark), sf_dir, threshold)
    if key not in _PAIRS_CACHE:
        from pidb_rdf_spark.operators import minhash_lsh_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        _PAIRS_CACHE[key] = minhash_lsh_dedup(
            docs, threshold=threshold
        ).localCheckpoint(eager=False)
    return _PAIRS_CACHE[key]


# Rotation of the driver's 50-entry check window (VERDICT r1 #1 ..
# r9 #2/#4). THE WINDOW CONTRACT, now with an arithmetic-checked
# sustainability policy (VERDICT r9 #4):
#
#   1. The driver checks only the FIRST 50 queries() entries each
#      round; _rotate_checked_window puts every entry NOT in
#      _DEFER_TO_TAIL first (in insertion order), the rest after.
#   2. Priority into the window: never-proven entries > owed
#      returners (oldest newest-green-row first) > new entries >
#      freshly-green entries.
#   3. STALENESS CEILING: no entry's newest green row may be more
#      than 3 rounds old. With a 50-slot window that bounds the
#      entry count at 50 x 3 = 150. Current count: 144 (headroom 6
#      after the r13 consolidation, VERDICT r12 #2). Adding an entry
#      past 150 REQUIRES consolidating siblings first (the
#      curation_pipeline composite is the model). The ceiling is
#      checked by tests/test_entry_contract.py.
#
# r13 rotation (VERDICT r12 #1/#2). Entry count 148 -> 144: the r14
# crunch (all 50 r11-green owed with zero spare at 148/150) is
# resolved by consolidating two sibling groups on the
# ann_faiss_stack model —
#   sparql_path_suite  <- path_seq_region + path_inverse_alt_members
#                         + path_plus_reachability + path_optional_hop
#                         (one long-format frame, sub-oracles UNION
#                         ALL'd verbatim)
#   inference_suite    <- nodes_with_label_inferred +
#                         nodes_linked_to_inferred + rels_inferred
# and adding pca_project_embeddings (VERDICT r12 #3 — projection
# against a formula-pinned model; the fit stays pytest-only).
# 144 <= 150; headroom 6.
#
# The FRONT 50 = the 4 late-r12 born-deferred never-proven entries
# (cypher_pattern_predicates, sparql_nps_inverse,
# cypher_temporal_orders, normalize_text_docs) + the 3 new
# never-proven entries (sparql_path_suite, inference_suite,
# pca_project_embeddings) + the 42 surviving r10-green returners
# (owed: 3 rounds old at r13) + bgp_three_hop pulled forward from
# the r11-green cohort to fill the window = exactly 50.
#
# Deferred: the 45 remaining r11-green entries (2 rounds old at r13;
# ALL come due in r14 — 45 <= 50 with 5 spare) + the 49 surviving
# r12-green entries (1 round old; due r15, 49 <= 50). After r13
# lands, the oldest newest-green row in the ledger is r11 — the
# ceiling holds.
_DEFER_TO_TAIL = [
    # -- late-r13 born-deferred (never-proven; FIRST in the r14
    # window under rule 2 — fits: 45 r11-green returners + these
    # leave spare slots) ------------------------------------------
    "bigram_perplexity_docs",
    "pack_sequences_docs",
    "quality_classifier_docs",
    "cypher_spatial_orders",
    "neighborhood_anf_containment",
    # -- r11-green (2 rounds old at r13; ALL return in the r14
    # window, 45 after the r13 consolidation + bgp_three_hop
    # pulled forward) ---------------------------------------------
    "filter_order_limit",
    "not_exists_anti",
    "running_window_orders",
    "quantiles_order_prices",
    "topk_orders_per_segment",
    "sparql_minus",
    "exact_dedup_docs",
    "ngram_jaccard_dedup",
    "simhash_dedup",
    "embedding_near_dup",
    "cosine_topk",
    "quantize_embeddings",
    "ann_faiss_stack",
    "boilerplate_lines",
    "strip_boilerplate",
    "gopher_quality_docs",
    "line_dedup_docs",
    "salted_join_lineitem",
    "semantic_dedup_embeddings",
    "semantic_decontam_embeddings",
    "text_metrics_suite",
    "pii_scrub_docs",
    "unigram_quality_docs",
    "chunk_documents",
    "stratified_sample_docs",
    "pack_docs_stream",
    "event_stream_suite",
    "sessionize_stream",
    "asof_join_events",
    "user_stats_events",
    "kmeans_assign",
    "bloom_membership",
    "json_props_extract",
    "rollup_event_counts",
    "kmv_distinct_users",
    "minhash_index_query",
    "cypher_with_having_expand",
    "core_numbers_dup_graph",
    "eigenvector_containment",
    "assortativity_containment",
    "local_clustering_dups",
    "louvain_dup_communities",
    "betweenness_containment",
    "url_canon_cap_docs",
    "exact_contam_docs",
    # -- r12-green (1 round old at r13; due in the r15 window) ----
    "dsl_two_hop_group",
    "lineitem_pricing_summary",
    "lineitem_three_hop_volume",
    "subselect_nation_order_counts",
    "minhash_lsh_dedup",
    "embedding_near_dup_lsh",
    "media_header_probe",
    "bm25_search_docs",
    "cypher_nation_order_stats",
    "cypher_count_subquery",
    "cypher_named_path_stats",
    "kcore_dup_graph",
    "label_prop_dup_communities",
    "scc_event_transitions",
    "cypher_patcomp_nation_rich",
    "closeness_containment",
    "node_similarity_event_types",
    "mixture_budget_sample",
    "interval_join_events",
    "cms_user_counts",
    "profile_orders_table",
    "hits_containment",
    "sequence_detect_events",
    "cypher_shortest_path",
    "cypher_regex_collect",
    "cypher_list_library",
    "cypher_union_stats",
    "shuffle_shard_docs",
    "corpus_diff_snapshots",
    "simhash_index_query",
    "constraints_orders",
    "zorder_events_key",
    "funnel_events",
    "ktruss_dup_graph",
    "leakage_free_split_docs",
    "random_walks_containment",
    "jl_project_embeddings",
    "blocklist_filter_docs",
    "heavy_hitter_tokens",
    "cypher_collect_subquery",
    "cohort_retention_events",
    "weighted_sample_docs",
    "quantile_band_orders",
    "skew_report_lineitem",
    "skipgram_pairs_walks",
    "ppr_region_seeds",
    "gremlin_modulators",
    "cypher_list_ops",
    "registrable_domains_docs",
]


def _pca_pinned_model(d: int = 64, k: int = 4) -> dict:
    """Deterministic formula-pinned PCA model (VERDICT r12 #3): both
    ``queries()['pca_project_embeddings']`` and its oracle derive
    mean / components from this exact-in-binary arithmetic
    (sixteenths and thirty-seconds), so the Spark projection and the
    DuckDB replay share literals bit-for-bit. The FIT path
    (``quantize.pca_fit``) stays pytest-verified against a numpy twin
    — eigendecomposition is not SQL-expressible."""
    mean = [((i * 37) % 19 - 9) / 16.0 for i in range(d)]
    comps = [
        [(((i * j + i + 3 * j) % 13) - 6) / 32.0 for i in range(d)]
        for j in range(k)
    ]
    return {
        "mean": mean,
        "components": comps,
        "eigenvalues": [float(k - j) for j in range(k)],
    }


def _pca_project_sql() -> str:
    """DuckDB replay of the pinned-model PCA projection: (x - mean) .
    w_j = x . w_j - (mean . w_j), so each component is one
    list_dot_product against the literal w_j minus a literal constant.
    ROUND(.., 4) + 0.0 mirrors the entry (absorbs float64
    summation-order noise and normalizes -0.0)."""
    m = _pca_pinned_model()
    rows = []
    for j, w in enumerate(m["components"]):
        c = sum(mi * wi for mi, wi in zip(m["mean"], w))
        wlit = "[" + ",".join(repr(x) for x in w) + "]::DOUBLE[]"
        rows.append(f"({j}, {wlit}, {c!r})")
    values = ",\n                ".join(rows)
    return f"""
        WITH comp(component, w, c) AS (VALUES
                {values}
        )
        SELECT e.vec_id,
               CAST(comp.component AS BIGINT) AS component,
               ROUND(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      comp.w) - comp.c, 4) + 0.0 AS value
        FROM embeddings e CROSS JOIN comp
    """


def _rotate_checked_window(q: dict) -> dict:
    ordered = {k: v for k, v in q.items() if k not in _DEFER_TO_TAIL}
    for name in _DEFER_TO_TAIL:
        if name in q:
            ordered[name] = q[name]
    return ordered


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: SPARQL BGP join +
    filter + order + limit through the full parse->algebra->DataFrame
    compile pipeline (SURVEY.md §3.1)."""
    from pidb_rdf_spark.sparql import sparql

    g = _graph(spark, "/root/testdata/sf0.001")
    return sparql(
        g,
        """
        SELECT ?cust ?nation ?total WHERE {
          ?c v:label "Customer" .
          ?c v:c_name ?cust .
          ?c e:IN_NATION ?n .
          ?n v:n_name ?nation .
          ?o e:PLACED_BY ?c .
          ?o v:o_totalprice ?total .
          FILTER(?total > 100000)
        } ORDER BY DESC(?total) ?cust LIMIT 20
        """,
    )


# ---------------------------------------------------------------------------
# queries: name -> (spark, sf_dir) -> DataFrame
# oracle_sql: name -> equivalent DuckDB SQL over the raw tables
# ---------------------------------------------------------------------------


def _sparql_query(text: str) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.sparql import sparql

        return sparql(_graph(spark, sf_dir), text)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # -- S5/S6: label scan + property seek (SURVEY §2.1) ----------------
    q["label_scan_prop_seek"] = _sparql_query(
        """
        SELECT ?name WHERE {
          ?c v:label "Customer" .
          ?c v:c_mktsegment "BUILDING" .
          ?c v:c_name ?name .
        }
        """
    )

    # -- J1: BGP 3-hop join (SURVEY §2.4) -------------------------------
    q["bgp_three_hop"] = _sparql_query(
        """
        SELECT ?cust ?nation ?region WHERE {
          ?c v:label "Customer" . ?c v:c_name ?cust .
          ?c e:IN_NATION ?n . ?n v:n_name ?nation .
          ?n e:IN_REGION ?r . ?r v:r_name ?region .
        }
        """
    )

    # -- P8/P9 + O1/O2: FILTER + ORDER + LIMIT --------------------------
    q["filter_order_limit"] = _sparql_query(
        """
        SELECT ?cust ?total WHERE {
          ?c v:label "Customer" . ?c v:c_name ?cust .
          ?o e:PLACED_BY ?c . ?o v:o_totalprice ?total .
          FILTER(?total > 100000)
        } ORDER BY DESC(?total) ?cust LIMIT 50
        """
    )

    # -- A3: GROUP BY + COUNT ------------------------------------------
    q["group_count"] = _sparql_query(
        """
        SELECT ?seg (COUNT(?c) AS ?n) WHERE {
          ?c v:label "Customer" . ?c v:c_mktsegment ?seg .
        } GROUP BY ?seg ORDER BY ?seg
        """
    )

    # -- A2: COUNT DISTINCT --------------------------------------------
    q["count_distinct"] = _sparql_query(
        """
        SELECT (COUNT(DISTINCT ?seg) AS ?n) WHERE {
          ?c v:label "Customer" . ?c v:c_mktsegment ?seg .
        }
        """
    )

    # -- A4 + A1..A5 extensions: full aggregate set over a join.
    #    SUM/AVG run on integer cents (ROUND(x*100) pre-aggregation):
    #    float SUM results depend on partition/summation order, so a
    #    doubles SUM can differ from any single-threaded oracle in the
    #    last bits; integer sums are exact and order-free. ------------
    q["agg_full"] = _sparql_query(
        """
        SELECT ?status (COUNT(?o) AS ?n)
               (SUM(?cents) AS ?sum_cents)
               (SUM(?cents) / COUNT(?o) AS ?avg_cents)
               (MIN(?total) AS ?min_total)
               (MAX(?total) AS ?max_total)
        WHERE {
          ?o v:label "Orders" . ?o v:o_orderstatus ?status .
          ?o v:o_totalprice ?total .
          BIND(ROUND(?total * 100) AS ?cents)
        } GROUP BY ?status ORDER BY ?status
        """
    )

    # -- J2: OPTIONAL left join ----------------------------------------
    q["optional_left_join"] = _sparql_query(
        """
        SELECT ?sname ?nname WHERE {
          ?s v:label "Supplier" . ?s v:s_name ?sname .
          OPTIONAL { ?s e:IN_NATION ?n . ?n v:n_name ?nname }
        } ORDER BY ?sname
        """
    )

    # -- J3: UNION ------------------------------------------------------
    q["union_names"] = _sparql_query(
        """
        SELECT ?name WHERE {
          { ?x v:label "Region" . ?x v:r_name ?name }
          UNION
          { ?x v:label "Nation" . ?x v:n_name ?name }
        }
        """
    )

    # -- J4/J5: EXISTS / NOT EXISTS ------------------------------------
    q["not_exists_anti"] = _sparql_query(
        """
        SELECT ?name WHERE {
          ?c v:label "Customer" . ?c v:c_name ?name .
          FILTER NOT EXISTS { ?o e:PLACED_BY ?c }
        } ORDER BY ?name
        """
    )
    q["exists_semi"] = _sparql_query(
        """
        SELECT DISTINCT ?name WHERE {
          ?c v:label "Customer" . ?c v:c_name ?name .
          FILTER EXISTS { ?o e:PLACED_BY ?c }
        } ORDER BY ?name
        """
    )

    # -- A6: DISTINCT projection ---------------------------------------
    q["distinct_projection"] = _sparql_query(
        """
        SELECT DISTINCT ?seg WHERE {
          ?c v:label "Customer" . ?c v:c_mktsegment ?seg .
        } ORDER BY ?seg
        """
    )

    # -- Gremlin-role DSL (SURVEY §3.2): hops + predicate + group ------
    def dsl_two_hop_group(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.dsl import P, traversal

        return (
            traversal(_graph(spark, sf_dir))
            .V()
            .has_label("Customer")
            .has("c_acctbal", P.gt(5000))
            .out("IN_NATION")
            .group_count("n_name")
            .withColumnsRenamed({"key": "nation", "count": "n"})
        )

    q["dsl_two_hop_group"] = dsl_two_hop_group

    def gremlin_repeat_until(spark: SparkSession, sf_dir: str) -> DataFrame:
        """repeat(out).until(hasLabel) with per-traverser exit depths:
        suppliers reach a Region in 2 hops, nations in 1 (TinkerPop
        loop steps, reference ``Neo4jGraph.java:61`` full-surface
        GraphTraversal)."""
        from pidb_rdf_spark.dsl import traversal

        t = (
            traversal(_graph(spark, sf_dir))
            .V()
            .has_label("Supplier", "Nation")
            .as_("start")
            .repeat(
                lambda x: x.out("IN_NATION", "IN_REGION"),
                until=lambda x: x.has_label("Region"),
            )
            .as_("dest")
        )
        out = t.select("start", "dest")
        return out.select(
            F.col("start").alias("start_uri"), F.col("dest").alias("dest_uri")
        )

    q["gremlin_repeat_until"] = gremlin_repeat_until

    def gremlin_match(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TinkerPop match(): pattern fragments natural-joined on
        shared as_() labels, incoming traverser bound to the first
        pattern's first label (dsl.py match_ — the last major
        GraphTraversal step family, Neo4jGraph.java:61)."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        return (
            traversal(g)
            .V()
            .has_label("Customer")
            .match_(
                lambda x: x.as_("c").out("IN_NATION").as_("n"),
                lambda x: x.as_("n").out("IN_REGION").as_("r"),
            )
            .select("c", "n", "r")
        )

    q["gremlin_match"] = gremlin_match

    # -- S11: SQL pass-through (Cypher's role, SURVEY §3.3) ------------
    def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
        g = _graph(spark, sf_dir)
        g.register_views()
        return g.sql(
            """
            SELECT n.n_name AS nation, COUNT(*) AS n_suppliers
            FROM edges e
            JOIN nodes s ON e.src = s.id
            JOIN nodes n ON e.dst = n.id
            WHERE e.predicate = 'IN_NATION'
              AND array_contains(s.labels, 'Supplier')
            GROUP BY n.n_name ORDER BY nation
            """
        )

    q["sql_passthrough"] = sql_passthrough

    # -- R1-R4: transitive closure + inferred reasoners (SURVEY §2.10) -
    def closure_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.inference import transitive_closure

        g = _graph(spark, sf_dir)
        containment = g.edges.filter(
            F.col("predicate").isin("IN_NATION", "IN_REGION")
        )
        src_uri = g.nodes.select(F.col("id").alias("src"), F.col("uri").alias("child"))
        dst_uri = g.nodes.select(F.col("id").alias("dst"), F.col("uri").alias("parent"))
        pairs = containment.join(src_uri, on="src").join(dst_uri, on="dst").select(
            "child", "parent"
        )
        return transitive_closure(pairs).select(
            F.col("child").alias("descendant"), F.col("parent").alias("ancestor")
        )

    q["closure_reachability"] = closure_reachability

    def inference_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The three reference micro-reasoner surfaces (R1-R3,
        MicroReasoners.java:20-22), consolidated r13 (VERDICT r12 #2):
        getNodesWithLabel over the SLO* closure, getNodesLinkedTo over
        SCO*, and getRels over SRO* verify as ONE long-format frame
        (stage, a, b, c) — node-only stages fill b/c with '' so every
        column stays atomic for the driver's pandas canon. The shared
        hierarchy/closure computes once (the closure cache)."""
        from pidb_rdf_spark.inference import (
            get_nodes_linked_to,
            get_nodes_with_label,
            get_rels,
        )

        g = _graph(spark, sf_dir)
        hierarchy = _reasoner_hierarchy(spark, sf_dir)
        blank = F.lit("").alias
        label = get_nodes_with_label(g, hierarchy, "Actor").select(
            F.lit("label").alias("stage"),
            F.col("uri").alias("a"), blank("b"), blank("c"),
        )
        # nation uris are SCO-children of their region uri: "linked to
        # region 1" must resolve through the hierarchy to its nations
        linked = get_nodes_linked_to(
            g, hierarchy, "urn:region:1", rel="IN_NATION"
        ).select(
            F.lit("linked").alias("stage"),
            F.col("uri").alias("a"), blank("b"), blank("c"),
        )
        edges = get_rels(g, hierarchy, "LOCATED")
        src_uri = g.nodes.select(F.col("id").alias("src"), F.col("uri").alias("src_uri"))
        dst_uri = g.nodes.select(F.col("id").alias("dst"), F.col("uri").alias("dst_uri"))
        rels = edges.join(src_uri, on="src").join(dst_uri, on="dst").select(
            F.lit("rels").alias("stage"),
            F.col("src_uri").alias("a"),
            F.col("predicate").alias("b"),
            F.col("dst_uri").alias("c"),
        )
        return label.unionByName(linked).unionByName(rels)

    q["inference_suite"] = inference_suite

    # -- O3: per-group limit via window (SURVEY §2.7) -------------------
    def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.operators import topk_per_group

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        joined = orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        )
        return topk_per_group(
            joined, ["c_mktsegment"], "o_totalprice", 3, tie_break=["o_orderkey"]
        ).select(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").alias("total"),
        )

    def running_window_orders(spark, sf_dir):
        # §2.6 analytic windows (absent in the reference): cumulative
        # and trailing-3 aggregates per customer in order-date order
        from pidb_rdf_spark.operators.window import running_agg_per_group

        o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        out = running_agg_per_group(
            o, ["o_custkey"], ["o_orderdate", "o_orderkey"], "cents", window_rows=3
        )
        return out.select(
            "o_custkey", "o_orderkey",
            F.col("running_sum").cast("long").alias("running_sum_cents"),
            "running_n",
            "moving_avg",
        )

    q["running_window_orders"] = running_window_orders

    def quantiles_order_prices(spark, sf_dir):
        from pidb_rdf_spark.operators.window import exact_quantiles_per_group

        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return exact_quantiles_per_group(
            o, ["o_orderpriority"], "o_totalprice", [0.5, 0.9]
        ).withColumnRenamed("o_orderpriority", "priority").orderBy("priority")

    q["quantiles_order_prices"] = quantiles_order_prices

    q["topk_orders_per_segment"] = topk_orders_per_segment

    # -- volume queries over lineitem (the largest table): TPC-H-Q1-like
    #    pricing summary + 3-hop join at full row count ----------------
    q["lineitem_pricing_summary"] = _sparql_query(
        """
        SELECT ?rf ?ls (COUNT(?l) AS ?n)
               (SUM(?qty_cents) AS ?sum_qty_cents)
               (SUM(?price_cents) AS ?sum_price_cents)
        WHERE {
          ?l v:label "Lineitem" .
          ?l v:l_returnflag ?rf . ?l v:l_linestatus ?ls .
          ?l v:l_quantity ?qty . ?l v:l_extendedprice ?price .
          ?l v:l_shipdate ?sd .
          FILTER(?sd <= "2001-06-30 00:00:00")
          BIND(ROUND(?qty * 100) AS ?qty_cents)
          BIND(ROUND(?price * 100) AS ?price_cents)
        } GROUP BY ?rf ?ls ORDER BY ?rf ?ls
        """
    )
    q["lineitem_three_hop_volume"] = _sparql_query(
        """
        SELECT ?nation (COUNT(?l) AS ?n_items) WHERE {
          ?l v:label "Lineitem" . ?l v:l_returnflag "R" .
          ?l e:PART_OF ?o . ?o e:PLACED_BY ?c .
          ?c e:IN_NATION ?nt . ?nt v:n_name ?nation .
        } GROUP BY ?nation ORDER BY ?nation
        """
    )

    # -- standard SPARQL extensions beyond the reference surface:
    #    BIND / VALUES / MINUS ------------------------------------------
    q["sparql_bind"] = _sparql_query(
        """
        SELECT ?cust ?tax WHERE {
          ?c v:label "Customer" . ?c v:c_name ?cust .
          ?o e:PLACED_BY ?c . ?o v:o_totalprice ?total .
          BIND(?total * 0.1 AS ?tax)
          FILTER(?tax > 15000)
        } ORDER BY DESC(?tax) ?cust LIMIT 25
        """
    )
    q["sparql_values"] = _sparql_query(
        """
        SELECT ?name ?seg WHERE {
          VALUES ?seg { "BUILDING" "MACHINERY" }
          ?c v:label "Customer" . ?c v:c_mktsegment ?seg . ?c v:c_name ?name .
        } ORDER BY ?name
        """
    )
    q["sparql_minus"] = _sparql_query(
        """
        SELECT ?name WHERE {
          ?c v:label "Customer" . ?c v:c_name ?name .
          MINUS { ?c v:c_mktsegment "BUILDING" }
        } ORDER BY ?name
        """
    )

    # -- SPARQL 1.1 property paths (the query surface over the
    #    reference's closure compute, MicroReasoners.java:20-22).
    #    Consolidated r13 (VERDICT r12 #2, the ann_faiss_stack model):
    #    the four former sibling entries path_seq_region /
    #    path_inverse_alt_members / path_plus_reachability /
    #    path_optional_hop verify as ONE long-format frame
    #    (stage, a, b) — each stage's values still individually hashed
    #    against the same sub-oracle SQL, UNION ALL'd verbatim. -------
    _path_subqueries = {
        "seq": _sparql_query(
            """
            SELECT ?cust ?region WHERE {
              ?c v:c_name ?cust . ?c e:IN_NATION/e:IN_REGION ?r .
              ?r v:r_name ?region .
            } ORDER BY ?cust
            """
        ),
        "inv_alt": _sparql_query(
            """
            SELECT ?nation ?member WHERE {
              ?n v:n_name ?nation . ?n ^e:IN_NATION ?member .
            } ORDER BY ?nation ?member
            """
        ),
        "plus": _sparql_query(
            """
            SELECT ?x ?anc WHERE { ?x (e:IN_NATION|e:IN_REGION)+ ?anc }
            """
        ),
        "opt": _sparql_query(
            """
            SELECT ?n ?x WHERE { ?n v:label "Nation" . ?n e:IN_REGION? ?x }
            """
        ),
    }

    def sparql_path_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
        out = None
        for stage, fn in _path_subqueries.items():
            df = fn(spark, sf_dir)
            c0, c1 = df.columns
            part = df.select(
                F.lit(stage).alias("stage"),
                F.col(c0).cast("string").alias("a"),
                F.col(c1).cast("string").alias("b"),
            )
            out = part if out is None else out.unionByName(part)
        return out

    q["sparql_path_suite"] = sparql_path_suite

    # -- SPARQL 1.1 subselect + GROUP_CONCAT (standard extensions) ------
    q["subselect_nation_order_counts"] = _sparql_query(
        """
        SELECT ?nation ?n WHERE {
          ?nat v:n_name ?nation .
          { SELECT ?nat (COUNT(?o) AS ?n) WHERE {
              ?c e:IN_NATION ?nat . ?o e:PLACED_BY ?c .
            } GROUP BY ?nat }
        } ORDER BY DESC(?n) ?nation
        """
    )
    q["group_concat_nations"] = _sparql_query(
        """
        SELECT ?region (GROUP_CONCAT(DISTINCT ?nation; SEPARATOR=", ") AS ?nations)
        WHERE {
          ?n e:IN_REGION ?r . ?r v:r_name ?region . ?n v:n_name ?nation .
        } GROUP BY ?region ORDER BY ?region
        """
    )

    # -- SPARQL 1.1 query forms: ASK / CONSTRUCT ------------------------
    q["ask_exists"] = _sparql_query(
        """
        ASK { ?c v:c_mktsegment "BUILDING" . ?o e:PLACED_BY ?c .
              ?o v:o_totalprice ?t . FILTER(?t > 100000) }
        """
    )
    q["construct_derived_edges"] = _sparql_query(
        """
        CONSTRUCT { ?c e:IN_REGION ?r } WHERE {
          ?c v:label "Customer" . ?c e:IN_NATION/e:IN_REGION ?r .
        }
        """
    )

    # -- iterative graph analytics (the GraphX-style compute of
    #    SURVEY §7's design stance; loops Catalyst cannot express) ------
    def connected_components_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.analytics import connected_components

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        comp = connected_components(cont)
        uri = g.nodes.select("id", "uri")
        return (
            comp.join(uri.withColumnsRenamed({"id": "node", "uri": "node_uri"}), on="node")
            .join(
                uri.withColumnsRenamed({"id": "component", "uri": "component_uri"}),
                on="component",
            )
            .select("node_uri", "component_uri")
        )

    q["connected_components_regions"] = connected_components_regions

    def connected_components_star_q(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Large-star/small-star components (O(log n) rounds — the
        long-diameter upgrade path): output contract identical to
        connected_components, so the same oracle applies."""
        from pidb_rdf_spark.analytics import connected_components_star

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        comp = connected_components_star(cont)
        uri = g.nodes.select("id", "uri")
        return (
            comp.join(uri.withColumnsRenamed({"id": "node", "uri": "node_uri"}), on="node")
            .join(
                uri.withColumnsRenamed({"id": "component", "uri": "component_uri"}),
                on="component",
            )
            .select("node_uri", "component_uri")
        )

    q["connected_components_star"] = connected_components_star_q

    def bfs_hops_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.analytics import shortest_hops

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        rev = cont.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        sources = g.nodes.filter(F.col("uri") == "urn:region:1").select("id")
        hops = shortest_hops(rev, sources)
        return (
            hops.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
                on="node",
            ).select("node_uri", "hops")
        )

    q["bfs_hops_containment"] = bfs_hops_containment

    def near_dup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pidb_rdf_spark.analytics import near_dup_clusters

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return near_dup_clusters(pairs, docs.select("doc_id"))

    q["near_dup_doc_clusters"] = near_dup_doc_clusters

    def pagerank_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
        # hash-stable projection: raw rank doubles differ between
        # engines at ~1e-15 (summation order), so emit a coarse
        # integer bucket floor(rank*1e6) instead — at sf0.01 the
        # nearest rank sits 5e-9 rank-units from a bucket boundary,
        # six orders above the drift. The oracle replays all 10 power
        # iterations in unrolled DuckDB SQL (_pagerank_sql).
        from pidb_rdf_spark.analytics import pagerank

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        ranks = pagerank(cont, n_iter=10)
        return (
            ranks.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
                on="node",
            )
            .select(
                "node_uri",
                F.floor(F.col("rank") * 1e6).cast("long").alias("rank_bucket"),
            )
        )

    q["pagerank_containment"] = pagerank_containment

    def triangle_count_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
        # cohesion of the near-dup graph: planted dup families of size
        # >= 3 are all-pairs-similar, so they close into triangles
        from pidb_rdf_spark.analytics import triangle_count

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return triangle_count(pairs, src="a", dst="b")

    q["triangle_count_dups"] = triangle_count_dups

    # ==================================================================
    # Scale-extension operators (training-data pipeline, SURVEY.md §7 M7)
    # ==================================================================

    def _docs(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/documents.parquet")

    def _emb(spark, sf_dir):
        return spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def _events(spark, sf_dir):
        from pidb_rdf_spark.sources.tables import read_events

        return read_events(spark, sf_dir)

    # -- exact dedup ----------------------------------------------------
    def exact_dedup_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import exact_dedup

        return exact_dedup(_docs(spark, sf_dir))

    q["exact_dedup_docs"] = exact_dedup_docs

    # -- train/eval decontamination (n-gram overlap) -------------------
    def decontam_overlap(spark, sf_dir):
        """Benchmark-contamination check: word-4-gram overlap between
        a train split and a held-out eval split of the documents table
        (eval = doc_id % 20 == 0). Shingle hashes only through the
        join; eval side broadcast."""
        from pidb_rdf_spark.operators import ngram_overlap

        docs = _docs(spark, sf_dir)
        ev = docs.filter(F.col("doc_id") % 20 == 0)
        tr = docs.filter(F.col("doc_id") % 20 != 0)
        return ngram_overlap(tr, ev, n=4, min_overlap=1)

    q["decontam_overlap"] = decontam_overlap

    # -- exact n-gram Jaccard near-dup (the quadratic baseline) --------
    def ngram_jaccard_dedup(spark, sf_dir):
        from pidb_rdf_spark.operators import ngram_jaccard_pairs

        return ngram_jaccard_pairs(_docs(spark, sf_dir), k=8, threshold=0.6)

    q["ngram_jaccard_dedup"] = ngram_jaccard_dedup

    # -- MinHash + LSH near-dup (the linear-time scale path) -----------
    def minhash_dedup(spark, sf_dir):
        # deliberately NOT via _minhash_pairs: this is the scale-path
        # headline entry, so its bench timing must measure the full
        # MinHash pipeline, never a checkpoint read (ADVICE r2). The
        # composite entries (clusters, triangles) still share the
        # _minhash_pairs cache — they time their own operator.
        from pidb_rdf_spark.operators import minhash_lsh_dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return minhash_lsh_dedup(docs, threshold=0.8)

    q["minhash_lsh_dedup"] = minhash_dedup

    # -- SimHash near-dup ----------------------------------------------
    def simhash_dedup(spark, sf_dir):
        from pidb_rdf_spark.operators import simhash_pairs

        return simhash_pairs(_docs(spark, sf_dir), bits=60, max_hamming=3).withColumn(
            "hamming", F.col("hamming").cast("long")
        )

    q["simhash_dedup"] = simhash_dedup

    # -- embedding-cosine near-dup -------------------------------------
    def embedding_near_dup(spark, sf_dir):
        from pidb_rdf_spark.operators import embedding_near_dup_pairs

        return embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.45)

    q["embedding_near_dup"] = embedding_near_dup

    # -- brute-force cosine top-k ANN baseline -------------------------
    def cosine_topk_q(spark, sf_dir):
        from pidb_rdf_spark.operators import cosine_topk

        emb = _emb(spark, sf_dir)
        queries_df = emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return cosine_topk(emb, queries_df, k=10).withColumn(
            "rank", F.col("rank").cast("long")
        )

    q["cosine_topk"] = cosine_topk_q

    def quantize_embeddings_q(spark, sf_dir):
        """Symmetric per-vector int8 quantization of the embedding
        corpus (faiss-SQ8-style storage path for ANN at scale).

        The operator returns ``(vec_id, scale, qvec array<int>)``; the
        driver's canonicalization cannot hash array cells (r4's one red
        row), so the entry exposes the same values exploded to one
        ``(vec_id, scale, dim, q)`` row per component — every column
        atomic, every quantized value still individually checked."""
        from pidb_rdf_spark.operators import quantize_embeddings

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        qdf = quantize_embeddings(emb)
        return qdf.select(
            "vec_id",
            "scale",
            F.posexplode("qvec").alias("dim", "q"),
        ).select(
            "vec_id",
            "scale",
            F.col("dim").cast("long").alias("dim"),
            F.col("q").cast("long").alias("q"),
        )

    q["quantize_embeddings"] = quantize_embeddings_q

    def pca_project_embeddings(spark, sf_dir):
        """PCA projection against a PINNED model (VERDICT r12 #3): the
        FIT (quantize.pca_fit) is eigendecomposition, legitimately
        un-oracle-able — but projection is a plain (x - mean) @ W.T
        matmul, so the entry projects the corpus onto a deterministic
        formula-pinned model and the oracle replays each component as
        a DuckDB list_dot_product with the SAME literals (x.w_j -
        mean.w_j). Output explodes to atomic (vec_id, component,
        value) rows; values round to 4 decimals on both sides (+0.0
        kills -0.0) so BLAS-vs-SQL float64 summation order (~1e-13
        relative) can't flip a 6-sig-digit hash."""
        from pidb_rdf_spark.operators.quantize import pca_project

        out = pca_project(_emb(spark, sf_dir), _pca_pinned_model())
        return out.select(
            "vec_id", F.posexplode("embedding").alias("component", "value")
        ).select(
            "vec_id",
            F.col("component").cast("long").alias("component"),
            (F.round(F.col("value"), 4) + F.lit(0.0)).alias("value"),
        )

    q["pca_project_embeddings"] = pca_project_embeddings

    # -- the faiss-style ANN stack, consolidated (r11, VERDICT r10 #1):
    #    six sibling entries (ivf_topk_exact / ivf_topk_probe2 /
    #    ivf_topk_indexed / pq_codes / pq_topk_adc / ivfpq_topk) shared
    #    one embeddings scan, one k-means, one PQ training — they now
    #    verify as ONE long-format frame, each stage tagged, every
    #    value still individually hashed against the same unrolled
    #    DuckDB replays. Approximate ≠ unverifiable: the pipelines are
    #    deterministic, so probe-2 gets a full replay oracle (k-means +
    #    probing unrolled in SQL, _ivf_probe_sql), exact-probe gets
    #    brute force, PQ/IVFPQ get _pq_sql/_ivfpq_sql.
    def ann_faiss_stack(spark, sf_dir):
        """Long format (stage, key_id, pos, value_id):
        search stages (ivf_exact / ivf_probe2 / ivf_indexed / pq_adc /
        ivfpq) map (query_id, rank, neighbor_id); the pq_codes storage
        stage maps (vec_id, subspace, code). ivf_exact uses
        nprobe == n_clusters so its oracle is plain brute force;
        ivf_indexed routes through a PERSISTED cluster-partitioned
        index (save_ivf_index -> partition pruning at the scan — the
        100 TB shape) and must equal the in-memory probe-2 ranking."""
        from pidb_rdf_spark.operators import (
            ivf_search,
            ivfpq_topk,
            kmeans_centroids,
            pq_encode,
            pq_topk,
            pq_train,
        )
        from pidb_rdf_spark.operators.similarity import (
            ivf_search_indexed,
            save_ivf_index,
        )

        emb = _emb(spark, sf_dir)
        queries_df = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        cents = kmeans_centroids(emb, n_clusters=8, iters=2)
        books = pq_train(emb, m=4, k=16, iters=2)
        # ONE cluster assignment + ONE PQ coding pass, shared by every
        # stage (r14, guide §1.2/§8): without the lazy checkpoints the
        # union plan re-ran the `nearest` kernel 4× and `codes` 3×
        # over the full corpus (once per search stage). Lazy:
        # materializes inside the first action, every other stage
        # reads the blocks — the same pattern as the LSH normed/sig
        # checkpoints (r13).
        from pidb_rdf_spark.operators.similarity import assign_clusters

        assigned = assign_clusters(emb, cents).localCheckpoint(eager=False)
        codes = pq_encode(emb, books).localCheckpoint(eager=False)
        path = "/root/repo/spark-warehouse/ivf_index_entry"
        save_ivf_index(emb, path, cents, assigned=assigned)

        def tag(df, stage, cols=("query_id", "rank", "neighbor_id")):
            return df.select(
                F.lit(stage).alias("stage"),
                F.col(cols[0]).cast("long").alias("key_id"),
                F.col(cols[1]).cast("long").alias("pos"),
                F.col(cols[2]).cast("long").alias("value_id"),
            )

        return (
            tag(
                ivf_search(
                    emb, queries_df, cents, k=5, nprobe=8, assigned=assigned
                ),
                "ivf_exact",
            )
            .unionByName(
                tag(
                    ivf_search(
                        emb, queries_df, cents, k=5, nprobe=2, assigned=assigned
                    ),
                    "ivf_probe2",
                )
            )
            .unionByName(
                tag(
                    ivf_search_indexed(spark, path, queries_df, k=5, nprobe=2),
                    "ivf_indexed",
                )
            )
            .unionByName(tag(codes, "pq_codes", ("vec_id", "subspace", "code")))
            .unionByName(tag(pq_topk(codes, queries_df, books, k=5), "pq_adc"))
            .unionByName(
                tag(
                    ivfpq_topk(
                        emb,
                        queries_df,
                        cents,
                        books,
                        k=5,
                        nprobe=2,
                        assigned=assigned,
                        codes=codes,
                    ),
                    "ivfpq",
                )
            )
        )

    q["ann_faiss_stack"] = ann_faiss_stack

    # -- cross-document boilerplate chrome -----------------------------
    def _docs_with_chrome(spark, sf_dir):
        """Documents with deterministic synthetic page chrome: the
        corpus texts are single-line and pairwise distinct, so the
        entry manufactures the repeated-lines signal (one site-wide
        header, one parity-split footer) that boilerplate detection
        exists to find; the oracle performs the same construction."""
        return _docs(spark, sf_dir).withColumn(
            "text",
            F.concat_ws(
                "\n",
                F.lit("=== SITE HEADER ==="),
                F.when(F.col("doc_id") % 2 == 0, F.lit("even footer"))
                .otherwise(F.lit("odd footer")),
                F.col("text"),
            ),
        )

    def boilerplate_lines_q(spark, sf_dir):
        from pidb_rdf_spark.operators import boilerplate_lines

        return boilerplate_lines(_docs_with_chrome(spark, sf_dir), min_docs=3)

    q["boilerplate_lines"] = boilerplate_lines_q

    def strip_boilerplate_q(spark, sf_dir):
        """min_docs=300: the header (500 docs) is stripped, the
        parity footers (250 each) survive — proving the strip is
        threshold-selective, not remove-everything."""
        from pidb_rdf_spark.operators import strip_boilerplate

        out = strip_boilerplate(_docs_with_chrome(spark, sf_dir), min_docs=300)
        return out.select("doc_id", "text", "n_lines_kept", "n_lines_removed")

    q["strip_boilerplate"] = strip_boilerplate_q

    def gopher_quality_docs(spark, sf_dir):
        """Gopher-rule quality signals (Rae et al. 2021 table A1) over
        the documents table — evidence columns + the composite pass
        flag. Zero-shuffle narrow projection (operators/text.py)."""
        from pidb_rdf_spark.operators import gopher_quality

        return gopher_quality(_docs(spark, sf_dir)).select(
            "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
            "alpha_word_frac", "n_required_stopwords", "passes_gopher",
        )

    q["gopher_quality_docs"] = gopher_quality_docs

    def line_dedup_docs(spark, sf_dir):
        """Corpus-global exact line dedup (C4-style) over documents
        with synthetic page chrome — the repeated header/footer lines
        survive only in their first (doc_id, pos) occurrence. Min-
        struct aggregate, not a window: hot lines combine map-side."""
        from pidb_rdf_spark.operators import line_dedup_global

        out = line_dedup_global(_docs_with_chrome(spark, sf_dir))
        return out.select("doc_id", "text", "n_lines_kept", "n_lines_removed")

    q["line_dedup_docs"] = line_dedup_docs

    # -- manual skew fallback: salted join == plain join ----------------
    def salted_join_lineitem(spark, sf_dir):
        """salted_join's contract is row-identity with the unsalted
        join (the salt only re-keys the shuffle), so the plain SQL
        join IS the oracle."""
        from pidb_rdf_spark.operators import salted_join

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_linenumber", "l_suppkey"
        )
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_name"
        )
        return salted_join(li, sup, on="l_suppkey", n_salts=8).select(
            "l_orderkey", "l_linenumber", "l_suppkey", "s_name"
        )

    q["salted_join_lineitem"] = salted_join_lineitem

    def embedding_near_dup_lsh(spark, sf_dir):
        # (n_planes=4, n_tables=32) gives recall=1 on this corpus at
        # sf0.01 AND sf0.1 (verified by driver-side simulation), so the
        # exact all-pairs cosine SQL is a valid oracle — precision is
        # already 1 by the exact-verify step. NOTE the corpus is
        # adversarial to LSH: max pairwise cosine ≈0.51/0.60, so every
        # pair above the 0.45 threshold sits in the random-noise band
        # (per-plane collision prob ≈0.65 ⇒ L must approach 2^k for
        # full recall). On a real near-dup corpus (cosine ≥0.8) the
        # same code prunes aggressively with k=8..16.
        from pidb_rdf_spark.operators import embedding_near_dup_pairs

        return embedding_near_dup_pairs(
            _emb(spark, sf_dir),
            threshold=0.45,
            bucketed=True,
            n_planes=4,
            n_tables=32,
        )

    q["embedding_near_dup_lsh"] = embedding_near_dup_lsh

    def semantic_dedup_embeddings(spark, sf_dir):
        """SemDeDup (Abbas et al. 2023): k-means-partitioned semantic
        dedup — within-cluster cosine >= 0.45 with the deterministic
        min-id keeper rule. At sf0.01 this drops 9 of 500 vectors
        (nearest cosines to the threshold: 0.4463 below / 0.4516
        above, so the cross-engine boundary is safe); the 9 are the
        within-cluster subset of embedding_near_dup's 14 pairs — the
        pairs k-means splits across clusters are the operator's
        documented approximation, exactly replayed by the oracle."""
        from pidb_rdf_spark.operators import semantic_dedup

        return semantic_dedup(
            _emb(spark, sf_dir), n_clusters=8, iters=2, threshold=0.45
        ).withColumn("cluster", F.col("cluster").cast("long"))

    q["semantic_dedup_embeddings"] = semantic_dedup_embeddings

    def semantic_decontam_embeddings(spark, sf_dir):
        """Embedding-level train/eval decontamination
        (``decontam.semantic_overlap``): eval = every 50th vector
        (benchmark-sized), train = the rest; flag pairs with cosine
        >= 0.40 — 6 pairs at sf0.01, nearest cosines 0.3983 below /
        0.4071 above the threshold, so the cross-engine boundary is
        safe. Ids only through the entry (the cosine float column
        stays operator-side)."""
        from pidb_rdf_spark.operators import semantic_overlap

        emb = _emb(spark, sf_dir)
        ev = emb.filter(F.col("vec_id") % 50 == 0)
        tr = emb.filter(F.col("vec_id") % 50 != 0)
        return semantic_overlap(tr, ev, threshold=0.40).select(
            "train_id", "eval_id"
        )

    q["semantic_decontam_embeddings"] = semantic_decontam_embeddings

    def semantic_index_query(spark, sf_dir):
        """Incremental semantic dedup against a persisted IVF index
        (``dedup.semantic_query_index``): index side = 90% of the
        corpus (vec_id % 10 != 0, k-means trained on it alone,
        cluster-partitioned parquet), batch = the held-out 10%;
        flag (batch, indexed) pairs with cosine >= 0.40 probing 2
        clusters. The oracle replays k-means-on-the-subset, the
        probe choice, and the threshold — the probe-recall
        approximation is checked, not hidden. Margins at sf0.01:
        cosine 0.3999/0.4079 around the threshold, probe distance
        gap >= 7.9e-4."""
        from pidb_rdf_spark.operators import semantic_query_index
        from pidb_rdf_spark.operators.similarity import (
            kmeans_centroids,
            save_ivf_index,
        )

        emb = _emb(spark, sf_dir)
        idx_side = emb.filter(F.col("vec_id") % 10 != 0)
        batch = emb.filter(F.col("vec_id") % 10 == 0)
        cents = kmeans_centroids(idx_side, n_clusters=8, iters=2)
        path = "/root/repo/spark-warehouse/semantic_index_entry"
        save_ivf_index(idx_side, path, cents)
        return semantic_query_index(
            spark, path, batch, threshold=0.40, nprobe=2
        ).select("query_id", "match_id")

    q["semantic_index_query"] = semantic_index_query

    # -- text analysis --------------------------------------------------
    def text_metrics_suite(spark, sf_dir):
        """Consolidated text-analysis suite (r11, VERDICT r10 #1): the
        lang_id / text_quality / token_counts siblings are zero-shuffle
        codegen projections over one documents scan keyed by doc_id,
        so they verify as ONE joined frame — every operator's own
        columns still individually hashed against the same oracles,
        now composed by a doc_id equi-join."""
        from pidb_rdf_spark.operators import (
            language_id,
            quality_score,
            token_count,
        )

        docs = _docs(spark, sf_dir)
        lang = language_id(docs).select("doc_id", "lang_pred")
        qual = quality_score(docs).select(
            "doc_id", "n_chars_q", "n_tokens", "n_punct", "n_stopwords",
            "quality",
        )
        toks = token_count(docs).select("doc_id", "ws_tokens", "bpe_tokens")
        return lang.join(qual, "doc_id").join(toks, "doc_id")

    q["text_metrics_suite"] = text_metrics_suite

    def doc_fingerprint(spark, sf_dir):
        from pidb_rdf_spark.operators import fingerprint

        return fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")

    q["doc_fingerprint"] = doc_fingerprint

    def repetition_signals_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import repetition_signals

        return repetition_signals(_docs(spark, sf_dir)).select(
            "doc_id", "n_lines", "n_distinct_lines", "dup_line_frac",
            "top_bigram_count", "top_bigram_frac", "dup_token_frac",
        )

    q["repetition_signals_docs"] = repetition_signals_docs

    # -- PII scrubbing + chunking (scrub.py, new in r5) ----------------
    def _docs_with_pii(spark, sf_dir):
        """Documents with deterministic synthetic PII appended (the
        corpus is PII-free word salad, so the entry manufactures the
        spans the scrubber exists to find; the oracle performs the
        same construction)."""
        return _docs(spark, sf_dir).withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or +1-555-123-4567 from 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        )

    def pii_scrub_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import pii_scrub

        return pii_scrub(_docs_with_pii(spark, sf_dir)).select(
            "doc_id", "text", "n_email", "n_phone", "n_ip"
        )

    q["pii_scrub_docs"] = pii_scrub_docs

    def unigram_quality_docs(spark, sf_dir):
        """Unigram-LM perplexity proxy, self-scored on the corpus
        (operators/lm.py — the CCNet-style quality-ranking signal)."""
        from pidb_rdf_spark.operators import unigram_quality

        return unigram_quality(_docs(spark, sf_dir))

    q["unigram_quality_docs"] = unigram_quality_docs

    def bigram_perplexity_docs(spark, sf_dir):
        """Interpolated-bigram perplexity, self-scored (r13,
        operators/lm.bigram_perplexity — the CCNet quality filter one
        order above unigram_quality_docs): lam * ML-bigram +
        (1 - lam) * add-alpha unigram over <s>-prefixed pairs. The
        oracle replays tokenization, both counts and the interpolation
        arithmetic in DuckDB; avg_logprob/ppl round on both sides
        (+0.0 normalizes -0.0) so float64 summation order can't flip
        the 6-sig-digit hash."""
        from pidb_rdf_spark.operators import bigram_perplexity

        out = bigram_perplexity(_docs(spark, sf_dir))
        return out.select(
            "doc_id",
            "n_bigrams",
            (F.round(F.col("avg_logprob"), 6) + F.lit(0.0)).alias(
                "avg_logprob"
            ),
            (F.round(F.col("ppl"), 2) + F.lit(0.0)).alias("ppl"),
        )

    q["bigram_perplexity_docs"] = bigram_perplexity_docs

    def pack_sequences_docs(spark, sf_dir):
        """Sequence packing manifest (r13, operators/packing.
        pack_manifest): documents in the md5-shuffle order, each + 1
        EOS position, concatenated and cut into 512-token training
        sequences; one row per (sequence, doc) slice. ONE data-sized
        exchange (the shard hash partition, window-reused); the
        cross-shard carry is an 8-row broadcast. The oracle replays
        the shard/seq permutation (the shuffle_shard_docs SQL), the
        global running offset and the cut arithmetic with
        generate_series."""
        from pidb_rdf_spark.operators import pack_manifest

        return pack_manifest(
            _docs(spark, sf_dir), seq_len=512, n_shards=8, sep_tokens=1
        )

    q["pack_sequences_docs"] = pack_sequences_docs

    def quality_classifier_docs(spark, sf_dir):
        """Hashed-feature quality classifier scoring (r13, operators/
        classifier.quality_classifier_score — the fasttext-style
        learned filter tier): sigmoid(sum tf_f * w_f + bias) over
        512 md5-hashed token features, weights PINNED by an exact
        integer formula (w_f = ((f * 2654435761) % 4096)/4096 - 0.5)
        so the oracle rebuilds them arithmetically — the fit itself
        is driver-side on labeled samples (pytest, kmeans doctrine).
        Scores round to 6 digits (+0.0 normalizes -0.0) since the
        margin's float64 summation order is engine-specific."""
        from pidb_rdf_spark.operators import quality_classifier_score

        D = 512
        model = {
            "weights": [
                ((f * 2654435761) % 4096) / 4096.0 - 0.5 for f in range(D)
            ],
            "bias": 0.1,
            "n_features": D,
        }
        out = quality_classifier_score(_docs(spark, sf_dir), model)
        return out.select(
            "doc_id",
            (F.round(F.col("score"), 6) + F.lit(0.0)).alias("score"),
        )

    q["quality_classifier_docs"] = quality_classifier_docs

    def cypher_spatial_orders(spark, sf_dir):
        """Cypher spatial family (r13): point() constructors over
        order-key-derived coordinates, point.distance in BOTH CRS
        families (haversine at Neo4j's 6378140 m sphere; euclidean
        cartesian) and point.withinBBox — the oracle replays the
        exact formulas. Distances round (geo to whole meters via
        km/3, cartesian to 6 digits) since libm trig last-ulps
        differ between engines."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (o:Orders) WHERE o.o_orderkey < 2000 "
            "WITH o.o_orderkey AS okey, "
            "point({longitude: toFloat(o.o_orderkey % 360 - 180), "
            "latitude: toFloat(o.o_custkey % 170 - 85)}) AS p, "
            "point({x: toFloat(o.o_orderkey % 100), "
            "y: toFloat(o.o_custkey % 100)}) AS q "
            "RETURN okey, "
            "round(point.distance(p, point({longitude: 0.0, "
            "latitude: 0.0})) / 1000, 3) AS geo_km, "
            "round(point.distance(q, point({x: 50.0, y: 50.0})), 6) "
            "AS cart_d, "
            "point.withinBBox(q, point({x: 10.0, y: 10.0}), "
            "point({x: 60.0, y: 60.0})) AS inbox "
            "ORDER BY okey",
        )

    q["cypher_spatial_orders"] = cypher_spatial_orders

    def neighborhood_anf_containment(spark, sf_dir):
        """ANF neighborhood function (r13, analytics.
        neighborhood_function exact tier — HyperANF is the 100 TB
        sketch path): N(r) reachable pairs over the containment
        chain order->customer/supplier->nation->region, a functional
        graph whose ball sizes the oracle computes in closed form
        (chain length per node class). PART_OF is deliberately out:
        the exact tier is the quadratic-state VERIFIER (QUERY_TIERS
        baseline class) — lineitems would 4x the pair state for no
        extra structure; HyperANF is the corpus-scale path."""
        from pidb_rdf_spark.analytics import neighborhood_function

        g = _graph(spark, sf_dir)
        e = g.edges.filter(
            F.col("predicate").isin(
                "PLACED_BY", "IN_NATION", "IN_REGION"
            )
        ).select("src", "dst")
        nf = neighborhood_function(e, tier="exact", max_radius=8)
        return spark.createDataFrame(
            [(r, v) for r, v in nf], "radius long, n_pairs double"
        )

    q["neighborhood_anf_containment"] = neighborhood_anf_containment

    def chunk_documents_q(spark, sf_dir):
        from pidb_rdf_spark.operators import chunk_documents

        return chunk_documents(_docs(spark, sf_dir), max_tokens=16, overlap=4)

    q["chunk_documents"] = chunk_documents_q

    def media_header_probe(spark, sf_dir):
        # end-to-end check of the REAL header prober: synthesize
        # PNG/WAV/raw blobs deterministically from doc_id, parse them
        # back; the oracle recomputes the expected metadata from
        # doc_id without touching bytes
        import struct

        import pandas as pd

        from pidb_rdf_spark.operators import probe_media_headers

        docs = _docs(spark, sf_dir).select("doc_id")

        def synth(batches):
            for pdf in batches:
                out = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    if did % 3 == 0:
                        w, h = 100 + did % 500, 50 + did % 300
                        blob = (
                            b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR"
                            + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
                        )
                    elif did % 3 == 1:
                        ch, sr = 1 + did % 2, 8000 + (did % 5) * 1000
                        blob = (
                            b"RIFF" + struct.pack("<I", 36) + b"WAVE"
                            + b"fmt " + struct.pack("<I", 16)
                            + struct.pack("<HH", 1, ch)
                            + struct.pack("<I", sr) + b"\x00" * 8
                        )
                    else:
                        blob = b"opaque payload %d" % did
                    out.append((did, blob))
                yield pd.DataFrame({"media_id": [o[0] for o in out],
                                    "content": [o[1] for o in out]})

        media = docs.mapInPandas(synth, "media_id long, content binary")
        return probe_media_headers(media).select(
            "media_id",
            "format",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.col("channels").cast("long").alias("channels"),
            F.col("sample_rate").cast("long").alias("sample_rate"),
        )

    q["media_header_probe"] = media_header_probe

    def tfidf_top_terms_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import tfidf_top_terms

        return tfidf_top_terms(_docs(spark, sf_dir), k=3)

    q["tfidf_top_terms_docs"] = tfidf_top_terms_docs

    def bm25_search_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import bm25_search

        return bm25_search(_docs(spark, sf_dir), "merge window batch", top_n=20)

    q["bm25_search_docs"] = bm25_search_docs

    def stratified_sample_docs(spark, sf_dir):
        from pidb_rdf_spark.operators import stratified_hash_sample

        return stratified_hash_sample(
            _docs(spark, sf_dir), "doc_id", "lang",
            {"en": 0.5, "de": 0.2}, default=1.0,
        ).select("doc_id", "lang")

    q["stratified_sample_docs"] = stratified_sample_docs

    def pack_docs_stream(spark, sf_dir):
        from pidb_rdf_spark.operators import pack_token_stream

        docs = _docs(spark, sf_dir).select(
            "doc_id", F.col("n_chars").alias("n_tokens")
        )
        return pack_token_stream(docs, budget=4096, n_shards=4)

    q["pack_docs_stream"] = pack_docs_stream

    # -- multimodal plumbing (stubbed decode, real Arrow path) ---------
    def media_features(spark, sf_dir):
        from pidb_rdf_spark.operators import attach_media, decode_media

        media = attach_media(_docs(spark, sf_dir))
        feats = decode_media(media, stub=True)
        return feats.select(
            "media_id",
            "n_bytes",
            "first_byte",
            F.col("byte_hist")[0].alias("h0"),
            F.col("byte_hist")[7].alias("h7"),
        )

    q["media_features"] = media_features

    def frame_sample(spark, sf_dir):
        from pidb_rdf_spark.operators import attach_media, sample_frames

        media = attach_media(_docs(spark, sf_dir))
        return sample_frames(media, every_n_bytes=64, max_frames=8).select(
            "media_id", F.col("frame_idx").cast("long").alias("frame_idx")
        )

    q["frame_sample"] = frame_sample

    # -- event-stream operators (batch-equivalent logic; the same
    #    functions run under Structured Streaming, see tests) ----------
    def event_stream_suite(spark, sf_dir):
        """Consolidated event-stream suite (r11, VERDICT r10 #1): the
        windowed_event_counts / sessionize_events / stream_dedup_events
        siblings verify as ONE long-format frame tagged by stage —
        stream≡batch equivalence for each stays pinned in
        tests/test_streaming.py. Column mapping (sentinels '' / -1
        instead of NULLs so both engines hash mixed-typed columns
        identically):
          windowed:   key_s=event_type, ts1_s=window_start,
                      n=n_events, v=sum_cents
          sessionize: key_s=user_id, ts1_s=session_start,
                      ts2_s=session_end, n=n_events, v=session_seq
          dedup:      key_s=user_id, sub_s=event_type, ts1_s=ts,
                      v=event_id (input doubled to simulate
                      at-least-once redelivery)"""
        from pidb_rdf_spark.streaming import (
            dedup_stream,
            sessionize,
            windowed_event_counts,
        )

        ev = _events(spark, sf_dir)
        tfmt = "yyyy-MM-dd HH:mm:ss"
        w = windowed_event_counts(ev, window="1 hour").select(
            F.lit("windowed").alias("stage"),
            F.col("event_type").alias("key_s"),
            F.lit("").alias("sub_s"),
            F.date_format("window_start", tfmt).alias("ts1_s"),
            F.lit("").alias("ts2_s"),
            F.col("n_events").cast("long").alias("n"),
            F.col("sum_cents").cast("long").alias("v"),
        )
        s = sessionize(ev, gap="30 minutes").select(
            F.lit("sessionize").alias("stage"),
            F.col("user_id").cast("string").alias("key_s"),
            F.lit("").alias("sub_s"),
            F.date_format("session_start", tfmt).alias("ts1_s"),
            F.date_format("session_end", tfmt).alias("ts2_s"),
            F.col("n_events").cast("long").alias("n"),
            F.col("session_seq").cast("long").alias("v"),
        )
        doubled = ev.unionAll(ev)  # simulated at-least-once redelivery
        d = dedup_stream(doubled, ["event_id"]).select(
            F.lit("dedup").alias("stage"),
            F.col("user_id").cast("string").alias("key_s"),
            F.col("event_type").alias("sub_s"),
            F.date_format("ts", tfmt).alias("ts1_s"),
            F.lit("").alias("ts2_s"),
            F.lit(-1).cast("long").alias("n"),
            F.col("event_id").cast("long").alias("v"),
        )
        return w.unionByName(s).unionByName(d)

    q["event_stream_suite"] = event_stream_suite

    def sessionize_stream_q(spark, sf_dir):
        """session_window-based sessionization (the form that runs
        incrementally under Structured Streaming), driven on batch
        input where it must agree with the oracle's gap-break SQL.
        Session windows are half-open, so the oracle breaks on
        ``ts >= prev + gap`` (vs batch sessionize's ``>``)."""
        from pidb_rdf_spark.streaming import sessionize_stream

        out = sessionize_stream(_events(spark, sf_dir), gap="30 minutes")
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )

    q["sessionize_stream"] = sessionize_stream_q

    def asof_join_events(spark, sf_dir):
        from pidb_rdf_spark.streaming import asof_join

        ev = _events(spark, sf_dir)
        clicks = ev.filter(F.col("event_type") == "click")
        errors = ev.filter(F.col("event_type") == "error")
        out = asof_join(clicks, errors, on="user_id")
        return out.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.date_format("matched_ts", "yyyy-MM-dd HH:mm:ss").alias("matched_ts_s"),
        )

    q["asof_join_events"] = asof_join_events

    def user_stats_events(spark, sf_dir):
        """Per-user lifetime stats — the batch twin of the
        applyInPandasWithState streaming operator (stream≡batch pinned
        in tests/test_streaming.py); one map-side-combinable shuffle."""
        from pidb_rdf_spark.streaming import user_stats

        out = user_stats(_events(spark, sf_dir))
        return out.select(
            "user_id",
            "n_events",
            "sum_cents",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts_s"),
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts_s"),
        )

    q["user_stats_events"] = user_stats_events

    def kmeans_assign(spark, sf_dir):
        """Driver-trained Lloyd's centroids + distributed Arrow-batched
        nearest-centroid assignment (the IVF building block, exposed as
        its own operator); oracle = the same k-means unrolled in SQL."""
        from pidb_rdf_spark.operators import assign_clusters, kmeans_centroids

        emb = _emb(spark, sf_dir)
        cents = kmeans_centroids(emb, n_clusters=8, iters=2)
        return assign_clusters(emb, cents).select(
            "vec_id", F.col("cluster").cast("long").alias("cluster")
        )

    q["kmeans_assign"] = kmeans_assign

    def bloom_membership(spark, sf_dir):
        """Bloom-filter membership (incremental dedup at scale): build
        on every 10th document, probe ALL documents. Deterministic
        md5 bit math on both engines, so even the false positives
        replay exactly in the oracle (parity pinned in
        tests/test_pipeline_ops.py::test_bloom_bit_math_matches_duckdb)."""
        from pidb_rdf_spark.operators import bloom_build, bloom_probe

        docs = _docs(spark, sf_dir)
        members = docs.filter(F.col("doc_id") % 10 == 0)
        bloom = bloom_build(members, "text", m_bits=1 << 16, k_hashes=5)
        return bloom_probe(
            docs, bloom, "text", m_bits=1 << 16, k_hashes=5
        ).select("doc_id", "might_contain")

    q["bloom_membership"] = bloom_membership

    def json_props_extract(spark, sf_dir):
        """Typed field extraction from the events table's JSON payload
        column — from_json with an explicit schema, parsed inside
        codegen (no Python, no shuffle); malformed/missing -> NULL."""
        from pidb_rdf_spark.operators import json_extract_fields

        ev = _events(spark, sf_dir)
        return json_extract_fields(ev, "props", {"k": "int"}).select(
            "event_id", "k"
        )

    q["json_props_extract"] = json_props_extract

    def curation_pipeline(spark, sf_dir):
        """End-to-end training-data curation: exact dedup (keep lowest
        doc_id per identical text) -> language ID -> Gopher quality
        rules, composed from the individually-verified operators into
        the selection a real corpus build would run. One extra
        broadcast-sized join per stage; each stage's own entry pins
        its semantics, this entry pins the composition."""
        from pidb_rdf_spark.operators import (
            exact_dedup,
            gopher_quality,
            language_id,
        )

        docs = _docs(spark, sf_dir)
        canon = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
        kept = docs.join(canon, "doc_id", "leftsemi")
        lang = language_id(kept).select("doc_id", "lang_pred")
        gq = gopher_quality(kept).select("doc_id", "n_words", "passes_gopher")
        return (
            lang.join(gq, "doc_id")
            .withColumn(
                "selected",
                (F.col("lang_pred") == "en") & F.col("passes_gopher"),
            )
            .select("doc_id", "lang_pred", "n_words", "passes_gopher", "selected")
        )

    q["curation_pipeline"] = curation_pipeline

    def rollup_event_counts(spark, sf_dir):
        """Hierarchical time rollup (continuous-aggregate shape): the
        day level re-aggregates the hour level's partials — raw table
        scanned/shuffled once, pinned by a plan test."""
        from pidb_rdf_spark.streaming import rollup_counts

        out = rollup_counts(_events(spark, sf_dir), units=("hour", "day"))
        return out.select(
            "level",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket_s"),
            F.col("key").alias("event_type"),
            "n_events",
            "sum_cents",
        )

    q["rollup_event_counts"] = rollup_event_counts

    def kmv_distinct_users(spark, sf_dir):
        """K-minimum-values distinct-user sketch per event type
        (k=32 < 150 true users, so the (k-1)/h_k estimator path runs,
        not the exact-count fallback). Deterministic md5-derived
        hashes: the k-th minimum and the estimate replay bit-for-bit
        in the oracle."""
        from pidb_rdf_spark.operators import kmv_distinct

        return kmv_distinct(
            _events(spark, sf_dir), "user_id", k=32, by=["event_type"]
        )

    q["kmv_distinct_users"] = kmv_distinct_users

    def sssp_region_orders(spark, sf_dir):
        """Weighted single-source shortest paths (bounded Bellman-Ford)
        over the region-1 commerce subgraph, undirected. The graph has
        real path diversity: an order reaches the region via its
        customer's nation OR via a contracted order->supplier edge
        (DISTINCT lineitem pairs; lineitem node ids are xxhash64-based
        and not SQL-reconstructible, the contraction is). Weights are
        (key_a + key_b) % 5 + 1 — derived from entity keys so both
        engines build the identical weighted graph. Both sides run
        8 relax rounds (fixpoint is at 6 on this graph at sf0.01 AND
        sf0.1, verified by r_i == r_{i+1} diffs in DuckDB; Spark
        early-exits there); after i rounds dist = min cost over
        <=i-edge paths on either engine, so equality holds converged
        or not."""
        from pidb_rdf_spark.analytics import sssp

        nat = spark.read.parquet(f"{sf_dir}/nation.parquet").filter(
            F.col("n_regionkey") == 1
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").join(
            nat, F.col("c_nationkey") == F.col("n_nationkey")
        )
        supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").join(
            nat, F.col("s_nationkey") == F.col("n_nationkey")
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").join(
            cust.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey")
        )
        # joins BEFORE the pair dedup (r14, guide §2.3 — shuffle fewer
        # bytes): the region-1 joins keep ~1/5 of lineitem, so the
        # dropDuplicates shuffle moves the filtered pairs, not the
        # whole table. Dedup keys ⊇ join keys, so join-then-dedup
        # yields the identical pair set (oracle-verified).
        li = (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .select("l_orderkey", "l_suppkey")
            .join(
                orders.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .join(
                supp.select("s_suppkey"),
                F.col("l_suppkey") == F.col("s_suppkey"),
            )
            .dropDuplicates(["l_orderkey", "l_suppkey"])
        )

        def uri(pfx, c):
            return F.concat(F.lit(f"urn:{pfx}:"), F.col(c).cast("string"))

        def w(a, b):
            return ((F.col(a) + F.col(b)) % 5 + 1).alias("weight")

        edges = (
            nat.select(
                uri("nation", "n_nationkey").alias("src"),
                uri("region", "n_regionkey").alias("dst"),
                w("n_nationkey", "n_regionkey"),
            )
            .unionByName(
                cust.select(
                    uri("customer", "c_custkey").alias("src"),
                    uri("nation", "c_nationkey").alias("dst"),
                    w("c_custkey", "c_nationkey"),
                )
            )
            .unionByName(
                supp.select(
                    uri("supplier", "s_suppkey").alias("src"),
                    uri("nation", "s_nationkey").alias("dst"),
                    w("s_suppkey", "s_nationkey"),
                )
            )
            .unionByName(
                orders.select(
                    uri("orders", "o_orderkey").alias("src"),
                    uri("customer", "o_custkey").alias("dst"),
                    w("o_orderkey", "o_custkey"),
                )
            )
            .unionByName(
                li.select(
                    uri("orders", "l_orderkey").alias("src"),
                    uri("supplier", "l_suppkey").alias("dst"),
                    w("l_orderkey", "l_suppkey"),
                )
            )
        )
        sources = spark.createDataFrame([("urn:region:1",)], ["node"])
        return sssp(edges, sources, directed=False, max_iter=8).select(
            F.col("node").alias("node_uri"), "dist"
        )

    q["sssp_region_orders"] = sssp_region_orders

    def substring_dup_docs(spark, sf_dir):
        """MOSS winnowing fingerprints -> exact-substring duplicate
        pairs (Lee et al. 2022 substring dedup shape). Each even/odd
        doc pair gets a planted >=40-char verbatim span (guaranteed
        to share fingerprints: span >= w+k-1 = 23); the spans' shared
        PREFIX/SUFFIX text appears in every doc, and max_df=20 drops
        those corpus-wide fingerprints before the pair join — the
        boilerplate guard doing its job is part of what the oracle
        verifies. Deterministic md5 window-minima replay in SQL."""
        from pidb_rdf_spark.operators import substring_dup_pairs

        docs = _docs(spark, sf_dir).withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.lit(" verbatim shared span "),
                F.floor(F.col("doc_id") / 2).cast("long").cast("string"),
                F.lit(" closing words here"),
            ),
        )
        return substring_dup_pairs(docs, k=16, w=8, min_shared=2, max_df=20)

    q["substring_dup_docs"] = substring_dup_docs

    def minhash_index_query(spark, sf_dir):
        """Incremental dedup: index 80% of the corpus once
        (save_minhash_index), then near-dup-match the held-out 20%
        "new batch" against the stored buckets + shingle sets — the
        corpus is read from parquet, never re-shingled (plan-pinned
        in tests). Recall is 1 at this operating point (the same
        32x4 banding the self-join entry proves exact), so the
        bipartite exact-Jaccard SQL is the oracle."""
        from pidb_rdf_spark.operators import (
            minhash_query_index,
            save_minhash_index,
        )

        docs = _docs(spark, sf_dir)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        # index ONCE per (session, sf) — the operator's contract is
        # "corpus cost never recurs", so re-indexing per bench rep
        # would time the wrong thing (same precedent as _GRAPH_CACHE)
        base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        path = f"/root/repo/spark-warehouse/minhash_index_entry_{base}"
        key = (id(spark), sf_dir)
        if key not in _MH_INDEX_BUILT:
            save_minhash_index(corpus, path)
            _MH_INDEX_BUILT.add(key)
        return minhash_query_index(spark, path, batch, threshold=0.8)

    q["minhash_index_query"] = minhash_index_query

    # -- Cypher front-end (NEW r7, in-window): the reference's third
    # query surface (Neo4jGraph.java:288-304) as text -> DataFrame
    # compile; pidb_rdf_spark/cypher.py --------------------------------
    def cypher_filter_topk(spark, sf_dir):
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
            "WHERE c.c_acctbal > 9000 "
            "RETURN c.c_name AS name, n.n_name AS nation "
            "ORDER BY name LIMIT 25",
        )

    q["cypher_filter_topk"] = cypher_filter_topk

    def cypher_nation_order_stats(spark, sf_dir):
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (o:Orders)-[:PLACED_BY]->(c)-[:IN_NATION]->(n:Nation) "
            "WHERE o.o_totalprice > 100000 "
            "RETURN n.n_name AS nation, count(*) AS n_orders, "
            "count(DISTINCT c) AS n_custs ORDER BY nation",
        )

    q["cypher_nation_order_stats"] = cypher_nation_order_stats

    # -- Cypher WITH pipeline (NEW r8, in-window): aggregate -> HAVING
    # filter -> re-expand from the piped node variable, then UNWIND a
    # collected list (pidb_rdf_spark/cypher.py WITH/UNWIND clauses) ----
    def cypher_with_having_expand(spark, sf_dir):
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (c:Customer)-[:IN_NATION]->(n) "
            "WITH n, count(*) AS custs WHERE custs > 8 "
            "MATCH (n)-[:IN_REGION]->(r) "
            "RETURN r.r_name AS region, n.n_name AS nation, custs "
            "ORDER BY region, nation",
        )

    q["cypher_with_having_expand"] = cypher_with_having_expand

    # ==================================================================
    # Second late-r8 additions — declared LAST on purpose: the r8
    # window is already exactly full (the 46 r7-deferred returners +
    # inference trio + cypher_with_having_expand), so these sit past
    # position 50 until the r9 rotation pulls them in. Each one is
    # ALSO proven by pytest oracles now (tests/test_cypher.py,
    # tests/test_analytics.py).
    # ==================================================================

    def cypher_count_subquery(spark, sf_dir):
        """EXISTS{}/COUNT{} subquery expressions (cypher.py
        _sub_compile): the EXISTS conjunct compiles to a semi-join,
        the COUNT item to one grouped left join on the shared
        variable."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (n:Nation) "
            "WHERE EXISTS { (s:Supplier)-[:IN_NATION]->(n) } "
            "RETURN n.n_name AS nation, "
            "COUNT { (c:Customer)-[:IN_NATION]->(n) } AS custs "
            "ORDER BY nation",
        )

    q["cypher_count_subquery"] = cypher_count_subquery

    def cypher_named_path_stats(spark, sf_dir):
        """Named path variables (cypher.py _bind_named_path):
        length(p) folds to a literal, the pattern compiles exactly as
        an anonymous MATCH."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH p = (c:Customer)-[:IN_NATION]->()-[:IN_REGION]->(r:Region) "
            "RETURN r.r_name AS region, count(*) AS n, length(p) AS plen "
            "ORDER BY region",
        )

    q["cypher_named_path_stats"] = cypher_named_path_stats

    def kcore_dup_graph(spark, sf_dir):
        """k-core of the near-dup pair graph (analytics.kcore):
        members of dup families that are 2-cohesive — the standard
        low-connectivity noise filter. Oracle: the same peel unrolled
        in DuckDB SQL (_kcore_sql), fixpoint well inside the unroll
        budget at sf<=0.01."""
        from pidb_rdf_spark.analytics import kcore

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return kcore(pairs, 2, src="a", dst="b")

    q["kcore_dup_graph"] = kcore_dup_graph

    def core_numbers_dup_graph(spark, sf_dir):
        """Per-node coreness of the near-dup pair graph
        (analytics.core_numbers): how deeply each document sits in
        its dup family — the one-call refinement of kcore_dup_graph
        (coreness >= k IS the k-core). Oracle: the ascending peel
        unrolled in DuckDB SQL (_core_numbers_sql) with survivor set
        differences per stage. NOTE: registered in _DEFER_TO_TAIL at
        birth (late r10, the 50-slot window was full and locked) —
        never-proven, so it enters the r11 window FIRST under
        rotation rule 2."""
        from pidb_rdf_spark.analytics import core_numbers

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return core_numbers(pairs, src="a", dst="b")

    q["core_numbers_dup_graph"] = core_numbers_dup_graph

    def eigenvector_containment(spark, sf_dir):
        """Eigenvector centrality (analytics.eigenvector_centrality)
        over the UNDIRECTED containment graph: 20 L2-normalized power
        iterations; floor(score*1e6) buckets (the HITS fp-noise
        projection); oracle unrolls all 20 iterations
        (_eig_sql). BORN DEFERRED like core_numbers_dup_graph —
        the r10 window is locked; enters the r11 window first."""
        from pidb_rdf_spark.analytics import eigenvector_centrality

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        sc = eigenvector_centrality(cont, n_iter=20, directed=False)
        return (
            sc.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
                on="node",
            )
            .select(
                "node_uri",
                F.floor(F.col("score") * 1e6).cast("long").alias("score_bucket"),
            )
        )

    q["eigenvector_containment"] = eigenvector_containment

    def assortativity_containment(spark, sf_dir):
        """Newman degree assortativity of the undirected containment
        graph (analytics.degree_assortativity) — strongly negative
        (membership stars: hubs attach to leaves). One degree
        aggregate + two joins + a 1-row moment aggregate;
        floor(r*1e6) bucket for the cross-engine compare (the HITS
        projection; only SUM association differs, ~1e-15). BORN
        DEFERRED with its late-r10 siblings — the r10 window is
        locked; enters the r11 window first."""
        from pidb_rdf_spark.analytics import degree_assortativity

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        out = degree_assortativity(cont)
        return out.select(
            "n_edges",
            F.floor(F.col("assortativity") * 1e6)
            .cast("long")
            .alias("assort_bucket"),
        )

    q["assortativity_containment"] = assortativity_containment

    def local_clustering_dups(spark, sf_dir):
        """Per-node local clustering coefficient of the near-dup pair
        graph (analytics.local_clustering): how clique-like each dup
        family is around each member — 1.0 flags template families
        whose members all match each other. The lcc float is one
        division of two small exact integers (IEEE-deterministic), so
        the oracle compares it directly. BORN DEFERRED with its
        late-r10 siblings; enters the r11 window first."""
        from pidb_rdf_spark.analytics import local_clustering

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return local_clustering(pairs, src="a", dst="b")

    q["local_clustering_dups"] = local_clustering_dups

    def label_prop_dup_communities(spark, sf_dir):
        """Deterministic synchronous label propagation over the
        near-dup pair graph (analytics.label_propagation). Oracle:
        all 5 rounds unrolled in DuckDB SQL (_lpa_sql), mirroring the
        most-frequent/min-tie update step-for-step."""
        from pidb_rdf_spark.analytics import label_propagation

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return label_propagation(pairs, src="a", dst="b", n_iter=5)

    q["label_prop_dup_communities"] = label_prop_dup_communities

    def louvain_dup_communities(spark, sf_dir):
        """Louvain community detection over the near-dup pair graph
        (analytics.louvain — the flagship community operator of the
        family whose quality metric, modularity, is entry-checked by
        modularity_regions). Oracle: both levels x all 6 local-move
        rounds + contraction unrolled in DuckDB SQL (_louvain_sql),
        exact by the integer-valued-gains argument in its docstring.
        NEW r11: enters the window never-proven."""
        from pidb_rdf_spark.analytics import louvain

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return louvain(pairs, src="a", dst="b", levels=2, n_rounds=6)

    q["louvain_dup_communities"] = louvain_dup_communities

    def scc_event_transitions(spark, sf_dir):
        """Strongly connected components of the per-user event-type
        transition graph (analytics.strongly_connected_components,
        FW-BW-MIN): nodes are event types, edges are observed
        consecutive transitions (ts, event_id ordering pins ties).
        Oracle: recursive-CTE mutual reachability in DuckDB."""
        from pyspark.sql import Window

        from pidb_rdf_spark.analytics import strongly_connected_components

        ev = _events(spark, sf_dir)
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        seq = ev.select(
            "event_type", F.lag("event_type").over(w).alias("prev")
        )
        pairs = (
            seq.filter(
                F.col("prev").isNotNull()
                & (F.col("prev") != F.col("event_type"))
            )
            .select(
                F.col("prev").alias("src"),
                F.col("event_type").alias("dst"),
            )
            .dropDuplicates()
        )
        return strongly_connected_components(pairs)

    q["scc_event_transitions"] = scc_event_transitions

    def cypher_patcomp_nation_rich(spark, sf_dir):
        """Pattern comprehension (cypher.py _bind_patcomp): one
        correlated collect_list join; size() reads the per-nation
        list length (unmatched nations get [], so 0)."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (n:Nation) "
            "RETURN n.n_name AS nation, "
            "size([(c:Customer)-[:IN_NATION]->(n) "
            "WHERE c.c_acctbal > 5000 | c.c_name]) AS n_rich "
            "ORDER BY nation",
        )

    q["cypher_patcomp_nation_rich"] = cypher_patcomp_nation_rich

    def closeness_containment(spark, sf_dir):
        """Closeness centrality (analytics.closeness_centrality) of
        the 5 region roots over the REVERSED containment DAG
        (region->nation->{customer,supplier}->orders): multi-source
        BFS keyed by origin, distances 1..3. harmonic is dropped from
        the checked projection (a float SUM of repeated 1/k terms is
        association-sensitive across engines); closeness is one exact
        long/long division. Oracle: per-level unrolled counts."""
        from pidb_rdf_spark.analytics import closeness_centrality

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(
            F.col("predicate").isin("IN_NATION", "IN_REGION", "PLACED_BY")
        )
        rev = cont.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        regions = g.nodes.filter(F.array_contains("labels", "Region")).select("id")
        cc = closeness_centrality(rev, sources=regions, directed=True)
        return cc.join(
            g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
            on="node",
        ).select("node_uri", "n_reached", "sum_hops", "closeness")

    q["closeness_containment"] = closeness_containment

    def betweenness_containment(spark, sf_dir):
        """Brandes betweenness (analytics.betweenness_centrality),
        sampled from the 5 region roots, over the reversed containment
        DAG. Every node has one parent, so sigma=1 everywhere and
        delta(v) = #descendants(v) — integer-valued doubles, exact in
        both engines. Oracle: descendant counts per level."""
        from pidb_rdf_spark.analytics import betweenness_centrality

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(
            F.col("predicate").isin("IN_NATION", "IN_REGION", "PLACED_BY")
        )
        rev = cont.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        regions = g.nodes.filter(F.array_contains("labels", "Region")).select("id")
        bc = betweenness_centrality(rev, sources=regions, directed=True)
        return bc.join(
            g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
            on="node",
        ).select("node_uri", "betweenness")

    q["betweenness_containment"] = betweenness_containment

    def node_similarity_event_types(spark, sf_dir):
        """Jaccard node similarity (analytics.node_similarity) between
        event types by audience overlap: neighbors of a type are the
        users who emitted it; candidates come from the common-user
        equi-join only. All values are single exact divisions."""
        from pidb_rdf_spark.analytics import node_similarity

        ev = _events(spark, sf_dir)
        pairs = ev.select(
            F.col("event_type").alias("t"), F.col("user_id").alias("u")
        ).dropDuplicates()
        return node_similarity(pairs, src="t", dst="u", directed=True)

    q["node_similarity_event_types"] = node_similarity_event_types

    def mixture_budget_sample(spark, sf_dir):
        """Training-mixture construction (operators/mixing.py): equal
        weights over the 20 sources, 300k-char budget — at sf0.01
        every source upsamples (1 full epoch + a fractional one), at
        sf0.1 every source downsamples; both paths are one broadcast
        rate join + explode + exact-integer-hash filter. The oracle
        replays the identical arithmetic (shares and rates are single
        divisions of exact aggregates — bit-equal across engines)."""
        from pidb_rdf_spark.operators.mixing import mix_sources

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        weights = {f"src{i}": 1.0 for i in range(20)}
        mixed = mix_sources(docs, weights, budget_tokens=300_000.0)
        return mixed.select("doc_id", "source", "epoch")

    q["mixture_budget_sample"] = mixture_budget_sample

    def interval_join_events(spark, sf_dir):
        """Interval (time-range) join (streaming/events.py
        interval_join): every view -> purchase correlation within 30
        minutes per user. One equi-shuffle per side on user_id, the
        range predicate rides the join — the same code runs as a
        watermarked stream-stream join with interval-bounded state
        (stream≡batch pinned in tests/test_streaming.py)."""
        from pidb_rdf_spark.streaming.events import interval_join

        ev = _events(spark, sf_dir)
        views = ev.filter(F.col("event_type") == "view")
        buys = ev.filter(F.col("event_type") == "purchase")
        out = interval_join(
            views, buys, on="user_id", upper="30 minutes",
            right_cols=["event_id"],
        )
        return out.select(
            F.col("event_id").alias("view_id"),
            F.col("event_id_r").alias("purchase_id"),
        )

    q["interval_join_events"] = interval_join_events

    def cms_user_counts(spark, sf_dir):
        """Count-Min sketch (operators/sketch.py cms_build/cms_query):
        per-user event-count estimates through a 256x4 sketch — small
        width forces collisions, and because the bucket hashes are the
        deterministic md5 contract even the OVER-estimates replay
        bit-for-bit in the oracle. The only shuffle is sketch-sized;
        the probe join broadcasts the sketch."""
        from pidb_rdf_spark.operators.sketch import cms_build, cms_query

        ev = _events(spark, sf_dir)
        sk = cms_build(ev, "user_id", width=256, depth=4)
        return cms_query(sk, ev, "user_id", width=256, depth=4)

    q["cms_user_counts"] = cms_user_counts

    def profile_orders_table(spark, sf_dir):
        """Table profiler (operators/profile.py): per-column row/null/
        distinct counts in ONE aggregation pass — the pre/post-
        transform validation step. exact_distinct=True here so the
        oracle replays COUNT(DISTINCT) exactly; the default HLL++
        tier is the 100 TB path (pinned by a tolerance test)."""
        from pidb_rdf_spark.operators.profile import profile_table

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
        return profile_table(orders, cols=cols, exact_distinct=True).select(
            "column", "n_rows", "n_null", "n_distinct"
        )

    q["profile_orders_table"] = profile_orders_table

    def hits_containment(spark, sf_dir):
        """Kleinberg HITS (analytics.hits) over the containment graph
        (the pagerank_containment edge set): 10 synchronous L2-
        normalized iterations. Same fp-noise-immune projection as
        pagerank: floor(score*1e6) buckets; the oracle replays all 10
        iterations unrolled in SQL (_hits_sql) with the identical
        per-value op sequence — only SUM association differs, ~1e-15,
        six orders under the bucket width."""
        from pidb_rdf_spark.analytics import hits

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
        hs = hits(cont, n_iter=10)
        return (
            hs.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
                on="node",
            )
            .select(
                "node_uri",
                F.floor(F.col("hub") * 1e6).cast("long").alias("hub_bucket"),
                F.floor(F.col("authority") * 1e6)
                .cast("long")
                .alias("auth_bucket"),
            )
        )

    q["hits_containment"] = hits_containment

    def sequence_detect_events(spark, sf_dir):
        """CEP-lite sequence detection (streaming/events.py
        detect_sequence): contiguous view->purchase runs per user
        within 30 minutes — one shuffle on the key, the pattern walks
        the timeline with lead() (O(events), never a self-join).
        Oracle: the identical LEAD window in DuckDB."""
        from pidb_rdf_spark.streaming.events import detect_sequence

        ev = _events(spark, sf_dir)
        return detect_sequence(
            ev, ["view", "purchase"], within="30 minutes"
        )

    q["sequence_detect_events"] = sequence_detect_events

    # ==================================================================
    # r9 additions — consolidated driver entries for the late-r8
    # Cypher surfaces the r8 window could not fit (each entry
    # exercises several TODO-list items at once; all were already
    # pytest-oracle-proven in tests/test_cypher.py).
    # ==================================================================

    def cypher_shortest_path(spark, sf_dir):
        """shortestPath() (cypher.py): undirected multi-source BFS
        from the ASIA region over the containment edge types —
        nations at 1 hop, their customers/suppliers at 2. Compiles to
        the iterative frontier expansion (one shuffle per level, min
        over arrival level), not per-pair path enumeration. Oracle:
        level-unrolled UNION (diameter 2 by construction)."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH p = shortestPath("
            "(r:Region {r_name: 'ASIA'})-[:IN_REGION|IN_NATION*]-(x)) "
            "RETURN x.uri AS node_uri, length(p) AS hops",
        )

    q["cypher_shortest_path"] = cypher_shortest_path

    def cypher_regex_collect(spark, sf_dir):
        """=~ anchored regex + collect(DISTINCT) (cypher.py): market
        segments per double-digit-teen nation. collect() materializes
        sorted (array_sort on collect_list DISTINCT) so the array is
        deterministic across engines and partitionings."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        out = cypher(
            g,
            "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
            "WHERE n.n_name =~ 'NATION_1[0-9]' "
            "RETURN n.n_name AS nation, "
            "collect(DISTINCT c.c_mktsegment) AS segments, "
            "count(*) AS custs",
        )
        # driver canon hashes atomic cells only: flatten the (sorted,
        # deterministic) array to one delimited string
        return out.withColumn("segments", F.array_join("segments", "|"))

    q["cypher_regex_collect"] = cypher_regex_collect

    def cypher_list_library(spark, sf_dir):
        """The Cypher list library (cypher.py): UNWIND range() +
        list comprehension with WHERE and map + reduce() + any() —
        all compile to JVM-side higher-order functions (filter/
        transform/aggregate/exists), zero Python in the row path."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        out = cypher(
            g,
            "UNWIND range(1, 12) AS x "
            "WITH x WHERE x % 3 <> 0 "
            "RETURN x, "
            "[y IN range(1, x) WHERE x % y = 0] AS divisors, "
            "reduce(s = 0, y IN range(1, x) | s + y) AS tri, "
            "any(y IN range(1, x) WHERE y * y = x) AS has_sqrt",
        )
        return out.withColumn(
            "divisors",
            F.expr("array_join(transform(divisors, y -> cast(y as string)), ',')"),
        )

    q["cypher_list_library"] = cypher_list_library

    def cypher_union_stats(spark, sf_dir):
        """UNION ALL of independently-aggregated branches + the
        statistical aggregates (stDev sample, percentileDisc):
        per-nation account-balance spread for customers vs suppliers.
        stDev is rounded to 1 decimal in BOTH engines (cross-engine
        summation-order noise is ~1e-9 relative; the round pins the
        hash). percentileDisc picks an actual member value — exact."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
            "RETURN 'cust' AS kind, n.n_name AS grp, "
            "round(stDev(c.c_acctbal), 1) AS sd, "
            "percentileDisc(c.c_acctbal, 0.5) AS med "
            "UNION ALL "
            "MATCH (s:Supplier)-[:IN_NATION]->(n:Nation) "
            "RETURN 'supp' AS kind, n.n_name AS grp, "
            "round(stDev(s.s_acctbal), 1) AS sd, "
            "percentileDisc(s.s_acctbal, 0.5) AS med",
        )

    q["cypher_union_stats"] = cypher_union_stats

    # -- pre-staged for r10 (window is exactly full this round; same
    # -- precedent as the late-r8 batch — move in at the next
    # -- rotation): shuffle_shard_docs, corpus_diff_snapshots,
    # -- simhash_index_query, constraints_orders, zorder_events_key,
    # -- funnel_events, ktruss_dup_graph, leakage_free_split_docs,
    # -- random_walks_containment, jl_project_embeddings,
    # -- blocklist_filter_docs. All eleven are oracle-checked locally
    # -- (tools/check_correctness.py) and pytest-proven at birth.
    # -- r10 rotation debt, priority order: (1) the 16 double-deferred
    # -- entries at the top of _DEFER_TO_TAIL (their newest green will
    # -- be 3 rounds old), (2) these six, (3) the 50 r8-proven.

    def shuffle_shard_docs(spark, sf_dir):
        """Deterministic global shuffle + sharding (operators/
        mixing.py deterministic_shuffle): the corpus -> training-shard
        step. shard and within-shard position are pure md5 functions
        of the doc id, so the permutation replays bit-identically in
        the oracle; ONE shuffle (hash partition by shard + local
        sort), never a global order."""
        from pidb_rdf_spark.operators.mixing import deterministic_shuffle

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        return deterministic_shuffle(docs, n_shards=8).select(
            "doc_id", "shard", "seq"
        )

    q["shuffle_shard_docs"] = shuffle_shard_docs

    def corpus_diff_snapshots(spark, sf_dir):
        """Corpus snapshot diff (operators/curation.py corpus_diff):
        two deterministic views of the documents table stand in for
        crawl refreshes (old drops id%5==4, new drops id%7==0 and
        edits id%11==0). Ids and md5 prefixes are the ONLY shuffled
        columns; the oracle replays the same set algebra."""
        from pidb_rdf_spark.operators.curation import corpus_diff

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        old = docs.filter(F.col("doc_id") % 5 != 4)
        new = docs.filter(F.col("doc_id") % 7 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 11 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        return corpus_diff(old, new)

    q["corpus_diff_snapshots"] = corpus_diff_snapshots

    def simhash_index_query(spark, sf_dir):
        """Incremental SimHash dedup (dedup.py save_simhash_index /
        simhash_query_index — completes the incremental-dedup quartet
        with Bloom/MinHash/semantic-IVF): index docs with id%5!=0
        once, probe the id%5==0 batch. The corpus is read from the
        stored bucket/signature parquet, never re-hashed; pigeonhole
        banding keeps recall exact, so the oracle is the bipartite
        Hamming join over replayed signatures."""
        from pidb_rdf_spark.operators.dedup import (
            save_simhash_index,
            simhash_query_index,
        )

        docs = _docs(spark, sf_dir)
        # index ONCE per (session, sf) — same contract/precedent as
        # minhash_index_query: re-indexing per bench rep would time
        # the wrong thing
        base = sf_dir.rstrip("/").rsplit("/", 1)[-1]
        path = f"/root/repo/spark-warehouse/simhash_index_entry_{base}"
        key = ("simhash", id(spark), sf_dir)
        if key not in _MH_INDEX_BUILT:
            save_simhash_index(docs.filter(F.col("doc_id") % 5 != 0), path)
            _MH_INDEX_BUILT.add(key)
        return simhash_query_index(
            spark, path, docs.filter(F.col("doc_id") % 5 == 0)
        )

    q["simhash_index_query"] = simhash_index_query

    def constraints_orders(spark, sf_dir):
        """Declarative data-quality gate (profile.py
        check_constraints): not-null + range + in_set + unique + FK
        rules over orders in ONE row-level aggregation pass (+ one
        hash-agg for unique, one left-anti for the FK). Output is
        rules-sized; the oracle replays each rule as a SQL count."""
        from pidb_rdf_spark.operators.profile import check_constraints

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        return check_constraints(
            orders,
            [
                {"kind": "not_null", "col": "o_custkey"},
                {"kind": "range", "col": "o_totalprice", "min": 0.0,
                 "max": 100_000.0},
                {"kind": "in_set", "col": "o_orderstatus",
                 "values": ["F", "O", "P"]},
                {"kind": "unique", "col": "o_orderkey"},
                {"kind": "fk", "col": "o_custkey", "ref": customer,
                 "ref_col": "c_custkey"},
            ],
        )

    q["constraints_orders"] = constraints_orders

    def zorder_events_key(spark, sf_dir):
        """Z-order (Morton) clustering key (operators/layout.py):
        interleave user_id and event_id bits — the multi-column
        data-skipping layout (Delta/Iceberg OPTIMIZE ZORDER shape).
        Pure codegen bit math (5 shift/mask rounds per column); the
        oracle replays the identical magic-mask sequence, and the
        range-partition layout itself is pinned in tests (per-chunk
        min/max tighten on BOTH columns)."""
        from pidb_rdf_spark.operators.layout import zorder_key

        ev = _events(spark, sf_dir)
        return ev.select(
            "event_id", zorder_key(["user_id", "event_id"]).alias("z")
        )

    q["zorder_events_key"] = zorder_events_key

    def funnel_events(spark, sf_dir):
        """Conversion funnel (streaming/events.py funnel): view ->
        click -> purchase within 2 hours, anchored earliest-match
        semantics (min aggregates only — deterministic, no ordering
        races). One filtered min-aggregate per step + narrow joins;
        the oracle replays the same per-step MIN chain."""
        from pidb_rdf_spark.streaming.events import funnel

        ev = _events(spark, sf_dir)
        return funnel(
            ev, ["view", "click", "purchase"], within="2 hours"
        )

    q["funnel_events"] = funnel_events

    def ktruss_dup_graph(spark, sf_dir):
        """3-truss of the near-dup pair graph (analytics.ktruss):
        edges inside at least one triangle — the edge-cohesion
        backbone (strictly stronger than 2-core). Wedge-join support
        counting per peel round, never triangle enumeration. Oracle:
        the peel unrolled in DuckDB (_ktruss_sql); clique-family dup
        graphs converge well inside the unroll budget."""
        from pidb_rdf_spark.analytics import ktruss

        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return ktruss(pairs, 3, src="a", dst="b")

    q["ktruss_dup_graph"] = ktruss_dup_graph

    def leakage_free_split_docs(spark, sf_dir):
        """Leakage-free train/val split (curation.leakage_free_split):
        near-dup components (over verified MinHash pairs) assigned to
        one side atomically by the md5 of their canonical member —
        the eval-inflation guard an i.i.d. split lacks. Components
        run over the LSH-sized pair set; the corpus joins (id, group)
        once, split decision is a codegen hash. Oracle: recursive-CTE
        components + the same md5 bit math."""
        from pidb_rdf_spark.operators.curation import leakage_free_split

        docs = _docs(spark, sf_dir)
        pairs = _minhash_pairs(spark, sf_dir, threshold=0.8)
        return leakage_free_split(docs, pairs, val_fraction=0.25).select(
            "doc_id", "split_group", "split"
        )

    q["leakage_free_split_docs"] = leakage_free_split_docs

    def random_walks_containment(spark, sf_dir):
        """Deterministic random walks (analytics.random_walks — the
        DeepWalk/node2vec corpus sampler) over the undirected
        containment graph with explicit numeric ids (so the oracle
        replays every step's md5 % degree choice). Ranked-edge-table
        design: each step is one narrow join, never per-node neighbor
        arrays."""
        from pidb_rdf_spark.analytics import random_walks

        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        supplier = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        edges = (
            nation.select(
                (F.col("n_nationkey") + 100).cast("long").alias("src"),
                F.col("n_regionkey").cast("long").alias("dst"),
            )
            .unionAll(
                customer.select(
                    (F.col("c_custkey") + 10000).cast("long").alias("src"),
                    (F.col("c_nationkey") + 100).cast("long").alias("dst"),
                )
            )
            .unionAll(
                supplier.select(
                    (F.col("s_suppkey") + 20000).cast("long").alias("src"),
                    (F.col("s_nationkey") + 100).cast("long").alias("dst"),
                )
            )
        )
        return random_walks(
            edges, walk_len=3, n_walks=2, directed=False
        )

    q["random_walks_containment"] = random_walks_containment

    def jl_project_embeddings(spark, sf_dir):
        """Sparse-JL random projection (quantize.random_projection):
        64 -> 16 dims with the deterministic Achlioptas matrix (md5
        entries — every engine builds the same matrix), one broadcast
        + one BLAS matmul per Arrow batch, zero shuffle. Exploded to
        (vec_id, dim, val) rows so the oracle compares scalar cells;
        the oracle rebuilds the matrix and replays the matmul."""
        from pidb_rdf_spark.operators.quantize import random_projection

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        out = random_projection(emb, out_dim=16)
        ex = out.select(
            "vec_id", F.posexplode("embedding").alias("dim", "val")
        )
        # round: BLAS vs SQL summation order differs in the last bits;
        # 6 decimals is 9 orders above the drift at these magnitudes
        return ex.withColumn("val", F.round("val", 6))

    q["jl_project_embeddings"] = jl_project_embeddings

    def blocklist_filter_docs(spark, sf_dir):
        """Wordlist/blocklist filtering (text.blocklist_hits — the
        C4/Dolma toxicity-list step): hit counts + fraction + strict
        pass flag against a fixture wordlist. The term set is an
        expression literal (wordlist-sized); one higher-order filter
        over the token array — zero shuffle, zero Python."""
        from pidb_rdf_spark.operators.text import blocklist_hits

        docs = _docs(spark, sf_dir)
        return blocklist_hits(
            docs, ["the", "shard", "0"], max_frac=0.05
        ).select("doc_id", "n_blocked", "blocked_frac", "blocklist_ok")

    q["blocklist_filter_docs"] = blocklist_filter_docs

    def heavy_hitter_tokens(spark, sf_dir):
        """Distributed exact top-k frequent tokens
        (sketch.heavy_hitters): per-partition weighted Misra-Gries
        candidate generation (bounded memory, NO shuffle of the
        distinct-key space) + exact recount of candidates only via a
        broadcast semi-join — the 100 TB vocabulary-mining shape.
        ``guaranteed`` is the a-priori MG bound cnt > N/(capacity+1);
        the oracle recomputes the full exact answer, so a green row
        proves the candidate set covered the true top-k."""
        from pidb_rdf_spark.operators.sketch import heavy_hitters

        docs = _docs(spark, sf_dir)
        toks = docs.select(
            F.explode(F.split(F.col("text"), r"\s+")).alias("tok")
        ).filter(F.length("tok") > 0)
        return heavy_hitters(toks, "tok", k=25, capacity=64)

    q["heavy_hitter_tokens"] = heavy_hitter_tokens

    def cypher_collect_subquery(spark, sf_dir):
        """COLLECT { } subquery expressions (Neo4j 5.6, r9): per-row
        collected lists from multi-pattern correlated subqueries —
        one collect aggregate + left join each, [] fills, ascending
        order pinned. Lists are array_join-ed to strings because the
        driver's canonicalization cannot hash array cells."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        df = cypher(
            g,
            "MATCH (n:Nation) "
            "RETURN n.n_name AS nation, "
            "size(COLLECT { MATCH (c:Customer)-[:IN_NATION]->(n) "
            "WHERE c.c_acctbal > 5000 RETURN c.c_name }) AS n_rich, "
            "COLLECT { MATCH (s:Supplier)-[:IN_NATION]->(n) "
            "RETURN s.s_name } AS sups "
            "ORDER BY nation",
        )
        return df.select(
            "nation",
            "n_rich",
            F.array_join("sups", ",").alias("sups"),
        )

    q["cypher_collect_subquery"] = cypher_collect_subquery

    def cohort_retention_events(spark, sf_dir):
        """Cohort retention matrix (events.cohort_retention, day
        grain): users cohorted by first-event day, per-cell active
        counts + retention fraction. ONE shuffle on user_id
        (min + collect_set ride the same aggregate); the cell
        aggregate is matrix-sized; cohort sizes join back broadcast."""
        from pidb_rdf_spark.streaming import cohort_retention

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return cohort_retention(ev, period="day")

    q["cohort_retention_events"] = cohort_retention_events

    def modularity_regions(spark, sf_dir):
        """Newman modularity decomposition (analytics.modularity_table)
        of the REGION partition over the containment graph: per-region
        intra-edge counts, degree sums and the EXACT integer Q
        numerator. Two community-sized aggregations off one
        deduplicated edge frame; the compare is integer-only — the
        float contribution column is deliberately NOT selected (its
        6-decimal rounding was the r9 hash mismatch)."""
        from pidb_rdf_spark.analytics import modularity_table

        nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        reg = spark.read.parquet(f"{sf_dir}/region.parquet")
        # the shifted-key containment edge set (the random_walks
        # entry's scheme, mirrored verbatim in the oracle)
        cont = (
            nat.select(
                (F.col("n_nationkey") + 100).alias("src"),
                F.col("n_regionkey").cast("long").alias("dst"),
            )
            .unionAll(
                cust.select(
                    (F.col("c_custkey") + 10000).alias("src"),
                    (F.col("c_nationkey") + 100).cast("long").alias("dst"),
                )
            )
            .unionAll(
                sup.select(
                    (F.col("s_suppkey") + 20000).alias("src"),
                    (F.col("s_nationkey") + 100).cast("long").alias("dst"),
                )
            )
        )
        asg = (
            nat.select(
                (F.col("n_nationkey") + 100).alias("node"),
                F.col("n_regionkey").cast("long").alias("community"),
            )
            .unionAll(
                cust.join(nat, cust.c_nationkey == nat.n_nationkey).select(
                    (F.col("c_custkey") + 10000).alias("node"),
                    F.col("n_regionkey").cast("long").alias("community"),
                )
            )
            .unionAll(
                sup.join(nat, sup.s_nationkey == nat.n_nationkey).select(
                    (F.col("s_suppkey") + 20000).alias("node"),
                    F.col("n_regionkey").cast("long").alias("community"),
                )
            )
            .unionAll(
                reg.select(
                    F.col("r_regionkey").cast("long").alias("node"),
                    F.col("r_regionkey").cast("long").alias("community"),
                )
            )
        )
        # Compare the EXACT integer decomposition only: q_num =
        # 4*m*e_c - d_c^2 is exact on any engine, while the float
        # contribution = q_num/4m^2 is subject to 1-ulp pow/rounding
        # skew across engines (the r9 hash mismatch). The operator
        # carries q_num as decimal(38,0) (overflow-proof at 100 TB
        # edge counts); cast to long here — exact at sf0.01 — so the
        # driver compares plain bigints on both sides.
        return modularity_table(cont, asg).select(
            "community",
            "e_c",
            "d_c",
            "m",
            F.col("q_num").cast("long").alias("q_num"),
        )

    q["modularity_regions"] = modularity_regions

    def weighted_sample_docs(spark, sf_dir):
        """Deterministic weighted sampling without replacement
        (curation.weighted_sample, Efraimidis-Spirakis A-ES): 40
        documents drawn with probability proportional to n_chars from
        md5-derived exponential keys — the quality-weighted corpus
        selection step. Zero shuffle (TakeOrdered top-n); the oracle
        replays the identical draw arithmetic."""
        from pidb_rdf_spark.operators import weighted_sample

        docs = _docs(spark, sf_dir)
        return weighted_sample(docs, "doc_id", "n_chars", n=40)

    q["weighted_sample_docs"] = weighted_sample_docs

    def quantile_band_orders(spark, sf_dir):
        """Per-group quantile-band outlier trim
        (curation.quantile_band_filter, exact tier): keep orders
        whose o_totalprice RANK INTERVAL intersects [0.1, 0.9] per
        o_orderpriority — ties share an interval so equal values stay
        or go together, and small groups survive (the r10 semantics
        fix: a percent_rank band erased 1-2 row groups). The approx_percentile tier (bounded mergeable
        sketch + broadcast range filter, no sort) is the 100 TB path,
        pinned by tests."""
        from pidb_rdf_spark.operators import quantile_band_filter

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        return quantile_band_filter(
            orders, "o_totalprice", by="o_orderpriority",
            lower=0.1, upper=0.9,
        ).select("o_orderkey", "o_orderpriority", "o_totalprice")

    q["quantile_band_orders"] = quantile_band_orders

    def skew_report_lineitem(spark, sf_dir):
        """Join-key skew diagnostic (profile.skew_report, exact tier):
        top-10 heaviest l_suppkey values + the summary row
        (top1/topk shares, avg per key, skew_ratio — the salt/AQE
        decision numbers). The approx tier (MG candidates + HLL, no
        full-key shuffle) is the 100 TB path, pinned by tests."""
        from pidb_rdf_spark.operators import skew_report

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return skew_report(li, "l_suppkey", top_k=10)

    q["skew_report_lineitem"] = skew_report_lineitem

    def skipgram_pairs_walks(spark, sf_dir):
        """Skip-gram (center, context, offset) training pairs
        (analytics.skipgram_pairs) from the deterministic DeepWalk
        walks of random_walks_containment — the step between walk
        sampling and embedding training. NO self-join: one window
        sort per walk + window lead() taps; the oracle replays the
        walks and the leads."""
        from pidb_rdf_spark.analytics import skipgram_pairs

        walks = q["random_walks_containment"](spark, sf_dir)
        return skipgram_pairs(walks, window=2)

    q["skipgram_pairs_walks"] = skipgram_pairs_walks

    def ppr_region_seeds(spark, sf_dir):
        """Personalized PageRank (analytics.pagerank(personalize=...),
        late r9) seeded on the five region nodes of the containment
        graph — teleport + dangling mass return to the seeds, rank =
        proximity to a region. Same fp-noise-immune floor(rank*1e6)
        buckets as the uniform entry; the oracle unrolls all 10
        iterations with the Spark expression's exact float order."""
        from pidb_rdf_spark.analytics import pagerank

        g = _graph(spark, sf_dir)
        cont = g.edges.filter(
            F.col("predicate").isin("IN_NATION", "IN_REGION")
        )
        seeds = g.nodes.filter(
            F.col("uri").startswith("urn:region:")
        ).select("id")
        ranks = pagerank(cont, n_iter=10, personalize=seeds)
        return (
            ranks.join(
                g.nodes.withColumnsRenamed({"id": "node", "uri": "node_uri"}),
                on="node",
            )
            .select(
                "node_uri",
                F.floor(F.col("rank") * 1e6).cast("long").alias("rank_bucket"),
            )
        )

    q["ppr_region_seeds"] = ppr_region_seeds

    # -- r10: TinkerPop long-tail steps (dsl.py sack/local/subgraph/
    # tree/simplePath — the Gremlin parity delta VERDICT r9 #8 named),
    # link prediction, and the fixed negative sampler -----------------

    def gremlin_sack_order_cost(spark, sf_dir):
        """TinkerPop sack accumulation (dsl.with_sack/sack_by,
        reference GraphTraversal sack() over Neo4jGraph.java:61):
        withSack(0).sack(sum).by(c_acctbal).in(PLACED_BY)
        .sack(sum).by(o_totalprice) — per-traverser path cost as a
        carried column, zero extra shuffles beyond the hops."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        return (
            traversal(g)
            .V()
            .has_label("Customer")
            .with_sack(0.0)
            .sack_by("c_acctbal")
            .in_("PLACED_BY")
            .sack_by("o_totalprice")
            .sack_df("o_orderkey")
        )

    q["gremlin_sack_order_cost"] = gremlin_sack_order_cost

    def gremlin_local_topk(spark, sf_dir):
        """TinkerPop local() scoping (dsl.local): top-2 customers BY
        acctbal WITHIN each nation — the order/limit applies per
        incoming traverser via a traverser-id-partitioned window
        (per-group top-k plan), never a global sort."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        return (
            traversal(g)
            .V()
            .has_label("Nation")
            .local(
                lambda t: t.in_("IN_NATION").has_label("Customer"),
                order_key="c_acctbal",
                asc=False,
                limit=2,
            )
            .values("c_name", "c_acctbal")
        )

    q["gremlin_local_topk"] = gremlin_local_topk

    def gremlin_subgraph_labels(spark, sf_dir):
        """TinkerPop subgraph() (dsl.subgraph): the edge-induced
        subgraph of PLACED_BY edges of >200k orders, materialized as
        a first-class PropertyGraph by two semi-joins; the entry
        reports its per-label node census."""
        from pidb_rdf_spark.dsl import P, traversal

        g = _graph(spark, sf_dir)
        sg = (
            traversal(g)
            .V()
            .has_label("Orders")
            .has("o_totalprice", P.gt(200000.0))
            .out_e("PLACED_BY")
            .subgraph()
        )
        return (
            sg.nodes.select(F.explode("labels").alias("label"))
            .groupBy("label")
            .agg(F.count("*").alias("n"))
        )

    q["gremlin_subgraph_labels"] = gremlin_subgraph_labels

    def gremlin_tree_region(spark, sf_dir):
        """TinkerPop tree() (dsl.tree): region -> nation -> member
        traversal tree as (depth, parent, child, n_traversers) rows,
        aggregated purely from the recorded path arrays (one
        posexplode + count, no extra graph joins)."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        return (
            traversal(g)
            .V()
            .has_label("Region")
            .with_path()
            .in_("IN_REGION")
            .in_("IN_NATION")
            .tree()
        )

    q["gremlin_tree_region"] = gremlin_tree_region

    def gremlin_path_cycles(spark, sf_dir):
        """TinkerPop simplePath()/cyclicPath() (dsl.simple_path/
        cyclic_path): customer -> nation -> IN_NATION-neighbor
        2-hop paths split into revisiting and non-revisiting — pure
        array arithmetic on the recorded paths (every cycle here is
        a return to the start, one per customer)."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        t = (
            traversal(g)
            .V()
            .has_label("Customer")
            .with_path()
            .out("IN_NATION")
            .in_("IN_NATION")
        )
        # DELIBERATELY NOT checkpointed before the two branches:
        # unlike simhash_pairs (where the shared subplan is the
        # expensive part), each branch here collapses to a count over
        # cheap joins — measured 2.97 s recomputed vs 6.71 s with a
        # localCheckpoint pinning the 75k-row path-array frame
        # (materialization dominates; negative result recorded)
        cyc = (
            t.cyclic_path()
            .to_df()
            .agg(F.count("*").alias("n"))
            .select(F.lit("cyclic").alias("kind"), "n")
        )
        simp = (
            t.simple_path()
            .to_df()
            .agg(F.count("*").alias("n"))
            .select(F.lit("simple").alias("kind"), "n")
        )
        return cyc.unionAll(simp)

    q["gremlin_path_cycles"] = gremlin_path_cycles

    def link_prediction_containment(spark, sf_dir):
        """Neighborhood link prediction (analytics.link_prediction,
        Liben-Nowell & Kleinberg): candidate non-adjacent pairs of
        the shifted-key containment graph with their common-neighbor
        count and preferential-attachment score — ONE wedge join +
        one candidate-keyed aggregate, never all-pairs. Only the
        engine-exact integer scores are compared (the float
        Adamic-Adar sum is order-sensitive; the modularity lesson)."""
        from pidb_rdf_spark.analytics import link_prediction

        nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
        cont = (
            nat.select(
                (F.col("n_nationkey") + 100).alias("src"),
                F.col("n_regionkey").cast("long").alias("dst"),
            )
            .unionAll(
                cust.select(
                    (F.col("c_custkey") + 10000).alias("src"),
                    (F.col("c_nationkey") + 100).cast("long").alias("dst"),
                )
            )
            .unionAll(
                sup.select(
                    (F.col("s_suppkey") + 20000).alias("src"),
                    (F.col("s_nationkey") + 100).cast("long").alias("dst"),
                )
            )
        )
        return link_prediction(cont).select(
            "a", "b", "n_common", "pref_attachment"
        )

    q["link_prediction_containment"] = link_prediction_containment

    def negative_samples_walks(spark, sf_dir):
        """Deterministic word2vec negative sampling
        (analytics.negative_samples) over the DeepWalk skip-gram
        pairs: draw i of a pair is the node at rank
        md5(neg:<pair>:i) mod n in the sorted vocabulary — ranked by
        the range-partitioned two-pass ranked_vocabulary (NO
        single-partition sort; the r10 scale fix, plan-pinned). The
        oracle replays the identical draw arithmetic."""
        from pidb_rdf_spark.analytics import negative_samples

        pairs = q["skipgram_pairs_walks"](spark, sf_dir)
        return negative_samples(
            pairs,
            k=3,
            hash_cols=["start", "walk", "center", "context", "offset"],
        ).select(
            "start", "walk", "center", "context", "offset",
            "neg_i", "negative",
        )

    q["negative_samples_walks"] = negative_samples_walks

    def url_canon_cap_docs(spark, sf_dir):
        """Web-crawl curation front door (operators/urls.py) as one
        composite: canonicalize messy URLs (case, default port,
        fragment, tracking params, param sort, trailing slash) →
        URL-level exact dedup (min doc_id kept, group size reported)
        → registrable-domain per-host quota cap (3 per domain,
        deterministic md5 draw). URLs are derived from the documents
        table (source + doc_id residues) so dup groups and domain
        fan-out are data-driven; the oracle constructs the CANONICAL
        form independently and replays the draw arithmetic."""
        from pidb_rdf_spark.operators import (
            cap_per_domain,
            registrable_domain_col,
            url_dedup,
            url_normalize,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw = docs.select(
            "doc_id",
            F.concat(
                F.lit("HTTPS://WWW."),
                F.upper("source"),
                F.lit("-"),
                (F.col("doc_id") % 4).cast("string"),
                F.lit(".COM:443/docs/"),
                (F.col("doc_id") % 40).cast("string"),
                F.lit("/?utm_source=feed&sid="),
                (F.col("doc_id") % 7).cast("string"),
                F.lit("#sec"),
            ).alias("url"),
        )
        deduped = url_dedup(url_normalize(raw), id_col="doc_id")
        kept = cap_per_domain(
            deduped.select(
                F.col("keep_id").alias("doc_id"), "url_norm", "n_dups"
            ).withColumn(
                "domain", registrable_domain_col(F.col("url_norm"))
            ),
            "domain",
            cap=3,
        )
        return kept.select("doc_id", "url_norm", "domain", "n_dups")

    q["url_canon_cap_docs"] = url_canon_cap_docs

    def exact_contam_docs(spark, sf_dir):
        """Exact-substring decontamination
        (decontam.exact_contamination): every 97th doc's first 24
        characters act as the benchmark answer strings; each training
        doc reports how many appear verbatim (case-folded) in its
        text. The eval side enters the plan as ONE array literal —
        zero-shuffle contains() scan; the oracle replays the
        derivation with a correlated contains count."""
        from pidb_rdf_spark.operators import exact_contamination

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        evals = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.substring("text", 1, 24).alias("text")
        )
        return exact_contamination(docs, evals, min_len=16).select(
            "doc_id", "n_contaminated", "contaminated"
        )

    q["exact_contam_docs"] = exact_contam_docs

    def gremlin_modulators(spark, sf_dir):
        """The r11 TinkerPop modulator tail as one composite
        (dsl.project / group(by-traversal) / where_(traversal) /
        not_(traversal) / has_not): nations WITH members (where_),
        NOT in AFRICA (not_ via the region sub-traversal), lacking a
        customer-only property (has_not), projected to a member count
        and their region name (project count/first barriers), joined
        with the region's nation roster built by group() keyed on a
        BY-TRAVERSAL (sorted fold, comma-joined to stay atomic for
        the driver's value hash)."""
        from pidb_rdf_spark.dsl import traversal

        g = _graph(spark, sf_dir)
        base = (
            traversal(g)
            .V()
            .has_label("Nation")
            .where_(lambda s: s.in_("IN_NATION"))
            .not_(lambda s: s.out("IN_REGION").has("r_name", "AFRICA"))
            .has_not("c_mktsegment")
            .project(
                nation="n_name",
                n_members=(lambda s: s.in_("IN_NATION"), "count"),
                region=(lambda s: s.out("IN_REGION"), "first", "r_name"),
            )
        )
        rosters = (
            traversal(g)
            .V()
            .has_label("Nation")
            .group(
                (lambda s: s.out("IN_REGION"), "first", "r_name"),
                value="n_name",
            )
            .select(
                F.col("key").alias("region"),
                F.array_join("values", ",").alias("region_nations"),
            )
        )
        return base.join(rosters, on="region").select(
            "nation", "region", "n_members", "region_nations"
        )

    q["gremlin_modulators"] = gremlin_modulators

    def cypher_list_ops(spark, sf_dir):
        """The r11 Cypher list/value operator layer in one query:
        dynamic property access n[key], polymorphic + (string concat
        and numeric add off the same operator), list literals,
        subscripts (positive and negative) and half-open slices."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (n:Nation) "
            "WITH n.n_name AS name, n['n_name'] AS dyn_name, "
            "     n.n_regionkey AS rk "
            "WITH name, dyn_name, rk, [rk, rk+1, rk+2, rk+3] AS xs "
            "WITH name, dyn_name, rk, xs, xs[1..3] AS mid "
            "RETURN name, dyn_name, 'r' + rk AS rtag, "
            "       xs[1] AS second, xs[-1] AS last, mid[0] AS mid0 "
            "ORDER BY name",
        )

    q["cypher_list_ops"] = cypher_list_ops

    def registrable_domains_docs(spark, sf_dir):
        """Public-suffix-list registrable-domain grouping (r12,
        operators/urls.registrable_domain_col): hosts derived from
        doc_id residues cycle through a plain TLD, two multi-label
        ICANN suffixes, a wildcard suffix (*.kawasaki.jp) and a
        private hosting suffix (github.io); the PSL longest-match
        decides the grouping key. Zero-shuffle codegen (InSet
        membership on label slices) + one count aggregate; the oracle
        replays the suffix arithmetic as a CASE."""
        from pidb_rdf_spark.operators import registrable_domain_col

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        sufs = ["co.uk", "com", "com.au", "kawasaki.jp", "github.io",
                "tokyo.jp"]
        host = F.concat(
            F.lit("sub"), (F.col("doc_id") % 5).cast("string"),
            F.lit(".site"), (F.col("doc_id") % 7).cast("string"),
            F.lit("."),
            F.element_at(
                F.array(*[F.lit(s) for s in sufs]),
                (F.col("doc_id") % 6 + 1).cast("int"),
            ),
        )
        return (
            docs.select("doc_id", host.alias("host"))
            .withColumn("domain", registrable_domain_col(F.col("host")))
            .groupBy("domain")
            .agg(
                F.count("*").alias("n_docs"),
                F.min("doc_id").alias("min_doc"),
            )
        )

    q["registrable_domains_docs"] = registrable_domains_docs

    # ---- late-r12 born-deferred entries (never-proven; first in the
    # r13 window under rule 2 — the r11 late-batch precedent) --------

    def cypher_pattern_predicates(spark, sf_dir):
        """Late-r12 Cypher boolean tail in one query: a bare pattern
        predicate in WHERE (the legacy exists(pattern) form), XOR
        (exactly-one-holds), and IN over a list-valued expression
        (labels(n)). Nations where being in AFRICA XOR having an even
        nationkey — both operands discriminate."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (n) WHERE 'Nation' IN labels(n) AND "
            "((n)-[:IN_REGION]->({r_name: 'AFRICA'}) XOR "
            "n.n_nationkey % 2 = 0) "
            "RETURN n.n_name AS nation, n.n_nationkey AS nkey "
            "ORDER BY nation",
        )

    q["cypher_pattern_predicates"] = cypher_pattern_predicates

    def sparql_nps_inverse(spark, sf_dir):
        """Negated property set with an INVERSE member (late r12,
        SPARQL 1.1 section 9.1): per nation, !(e:PLACED_BY|^e:PLACED_BY)
        reaches its forward non-PLACED_BY edges (the one IN_REGION hop)
        plus its reversed in-edges (every customer and supplier in the
        nation via IN_NATION) — counts are exact integers the oracle
        recomputes from the base tables."""
        from pidb_rdf_spark.sparql import sparql

        g = _graph(spark, sf_dir)
        return sparql(
            g,
            'SELECT ?nation (COUNT(*) AS ?c) WHERE { '
            '?n v:label "Nation" . ?n v:n_name ?nation . '
            "?n !(e:PLACED_BY|^e:PLACED_BY) ?x } GROUP BY ?nation",
        )

    q["sparql_nps_inverse"] = sparql_nps_inverse

    def cypher_temporal_orders(spark, sf_dir):
        """duration() temporal arithmetic (late r12) + the r13
        temporal component accessors and namespaced functions: per
        open order, a due date +30 days and an early-bird date -7
        days off o_orderdate, the .year / .dayOfWeek (ISO, Mon=1)
        components, date.truncate('month') and
        duration.between(...).days — calendar-aware temporal math in
        both engines, dates serialized to strings so the value hash
        is engine-neutral."""
        from pidb_rdf_spark.cypher import cypher

        g = _graph(spark, sf_dir)
        return cypher(
            g,
            "MATCH (o:Orders) WHERE o.o_orderstatus = 'O' "
            "WITH o.o_orderkey AS okey, date(o.o_orderdate) AS d, "
            "datetime(o.o_orderdate) AS ts "
            "RETURN okey, toString(d + duration('P30D')) AS due, "
            "toString(d - duration({days: 7})) AS early, "
            "d.year AS yr, d.dayOfWeek AS dow, "
            "toString(date.truncate('month', d)) AS mon, "
            "duration.between(datetime('1995-01-01T00:00:00'), ts).days "
            "AS age_days "
            "ORDER BY okey LIMIT 200",
        )

    q["cypher_temporal_orders"] = cypher_temporal_orders

    def normalize_text_docs(spark, sf_dir):
        """Unicode normalization (late r12, operators/text.py
        normalize_text): document prefixes get a unicode-rich suffix
        (decomposed e+combining-acute, fullwidth letters), then
        NFC-fold + lowercase + whitespace-collapse — the corpus-prep
        step before any dedup/fingerprint. One Arrow-batched pandas
        UDF (the documented no-builtin exception) inside a zero-
        shuffle projection; the oracle replays via DuckDB's
        nfc_normalize."""
        from pidb_rdf_spark.operators import normalize_text

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw = docs.select(
            "doc_id",
            F.concat(
                F.substring("text", 1, 40),
                F.lit(" Café ＡＢ "),
                (F.col("doc_id") % 3).cast("string"),
            ).alias("text"),
        )
        return normalize_text(raw, form="NFC", lowercase=True).select(
            "doc_id", "text_norm"
        )

    q["normalize_text_docs"] = normalize_text_docs

    return _rotate_checked_window(q)


# ---------------------------------------------------------------------------
# oracle SQL builders (shared fragments, programmatically generated parts)
# ---------------------------------------------------------------------------

_TOKS = "list_filter(str_split(lower(text), ' '), x -> x <> '')"
_SHINGLES8 = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(length(text) - 7, 1)),"
    " i -> substr(text, i, 8)))"
)


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def _jaccard_pairs_sql(threshold: float) -> str:
    return f"""
        WITH sets AS (SELECT doc_id, {_SHINGLES8} AS sh FROM documents),
        ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle FROM sets),
        inter AS (
            SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter,
                   any_value(x.n) AS na, any_value(y.n) AS nb
            FROM ex x JOIN ex y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        )
        SELECT a, b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
        FROM inter
        WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= {threshold}
    """


def _simhash_sig_ctes(bits: int) -> str:
    votes = ",\n               ".join(
        f"SUM(CAST(((h >> {i}) & 1) * 2 - 1 AS BIGINT)) AS v{i}" for i in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(bits)
    )
    nhex = (bits + 3) // 4
    return f"""
        WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
        feats AS (
            SELECT doc_id, list_distinct(list_transform(
                generate_series(0, greatest(len(t) - 2, 0)),
                i -> concat_ws('_', t[i + 1], t[i + 2]))) AS f
            FROM toks
        ),
        hv AS (
            SELECT doc_id, CAST('0x' || substr(md5(feat), 1, {nhex}) AS BIGINT) AS h
            FROM (SELECT doc_id, unnest(f) AS feat FROM feats)
        ),
        votes AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id),
        sig AS (SELECT doc_id, {sig} AS s FROM votes)"""


def _simhash_sql(bits: int = 60, max_hamming: int = 3) -> str:
    return f"""{_simhash_sig_ctes(bits)}
        SELECT x.doc_id AS a, y.doc_id AS b,
               CAST(bit_count(xor(x.s, y.s)) AS BIGINT) AS hamming
        FROM sig x JOIN sig y ON x.doc_id < y.doc_id
        WHERE bit_count(xor(x.s, y.s)) <= {max_hamming}
    """


def _simhash_index_sql(bits: int = 60, max_hamming: int = 3) -> str:
    """Bipartite twin of ``_simhash_sql``: batch (doc_id%5==0) probed
    against the indexed corpus (doc_id%5!=0) — replays
    ``simhash_query_index`` exactly (pigeonhole recall is exact, so
    the bucket join adds nothing the Hamming filter doesn't)."""
    return f"""{_simhash_sig_ctes(bits)}
        SELECT x.doc_id AS query_id, y.doc_id AS match_id,
               CAST(bit_count(xor(x.s, y.s)) AS BIGINT) AS hamming
        FROM sig x JOIN sig y
          ON x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
        WHERE bit_count(xor(x.s, y.s)) <= {max_hamming}
    """


def _brute_topk_sql(query_pred: str, k: int) -> str:
    return f"""
        WITH q AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE {query_pred}
        ),
        s AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.qv, CAST(e.embedding AS DOUBLE[])) AS c
            FROM q JOIN embeddings e ON e.vec_id <> q.query_id
        ),
        r AS (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY c DESC, neighbor_id
                   ) AS rn
            FROM s
        )
        SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id
        FROM r WHERE rn <= {k}
    """


def _kcore_sql(k: int = 2, rounds: int = 10) -> str:
    """The k-core peel unrolled in DuckDB SQL, mirroring
    ``analytics.kcore`` round-for-round over the near-dup pair graph:
    each round keeps nodes whose degree in the surviving edge set is
    >= k. ``rounds`` must exceed the peeling depth (clique-family dup
    graphs converge in 1-2 rounds; 10 is ample at sf<=0.01 — an
    unconverged unroll shows up as a hash mismatch, never silently)."""
    ctes = [
        f"pr AS MATERIALIZED (SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp)",
        "sym0 AS MATERIALIZED (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr)",
    ]
    for i in range(rounds):
        ctes.append(
            f"keep{i} AS MATERIALIZED (SELECT u FROM sym{i} GROUP BY u HAVING COUNT(*) >= {k})"
        )
        ctes.append(
            f"""sym{i + 1} AS MATERIALIZED (
  SELECT s.u, s.v FROM sym{i} s
  JOIN keep{i} x ON s.u = x.u JOIN keep{i} y ON s.v = y.u
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT DISTINCT u AS node FROM sym{rounds}
"""


def _ktruss_sql(k: int = 3, rounds: int = 8) -> str:
    """The k-truss edge peel unrolled in DuckDB SQL, mirroring
    ``analytics.ktruss`` round-for-round over the near-dup pair
    graph: per round, keep edges whose common-neighbor count in the
    surviving edge set is >= k-2. ``rounds`` must exceed the peeling
    depth (clique-family dup graphs converge in 1-2 rounds; an
    unconverged unroll shows as a hash mismatch, never silently)."""
    ctes = [
        f"pr AS MATERIALIZED (SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp)",
        "e0 AS MATERIALIZED (SELECT DISTINCT LEAST(a, b) AS a, "
        "GREATEST(a, b) AS b FROM pr WHERE a <> b)",
    ]
    for i in range(rounds):
        ctes.append(
            f"""adj{i} AS MATERIALIZED (
  SELECT a AS x, b AS n FROM e{i} UNION ALL SELECT b, a FROM e{i}
)"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
  SELECT e.a, e.b FROM e{i} e
  JOIN adj{i} s1 ON s1.x = e.a
  JOIN adj{i} s2 ON s2.x = e.b AND s2.n = s1.n
  GROUP BY e.a, e.b HAVING COUNT(*) >= {k - 2}
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT a, b FROM e{rounds}
"""


def _core_numbers_sql(max_k: int = 4, rounds: int = 10) -> str:
    """The ascending-threshold coreness peel unrolled in DuckDB SQL,
    mirroring ``analytics.core_numbers`` stage-for-stage over the
    near-dup pair graph: stage k peels degree < k to a fixpoint
    (``rounds`` must exceed each stage's peeling depth, as in
    ``_kcore_sql``), and the nodes that vanished during stage k —
    including ones isolated BY the peel — get coreness k-1 via a
    survivor set difference. A graph whose degeneracy exceeds
    ``max_k - 1`` leaves survivors unassigned, which shows as a row
    mismatch — never silently."""
    ctes = [
        f"pr AS MATERIALIZED (SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp)",
        "s0 AS MATERIALIZED (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr)",
        "surv1 AS MATERIALIZED (SELECT DISTINCT u FROM s0)",
    ]
    cur, prev_surv = "s0", "surv1"
    selects = []
    for k in range(2, max_k + 1):
        for i in range(rounds):
            nm = f"k{k}r{i}"
            ctes.append(
                f"keep_{nm} AS MATERIALIZED (SELECT u FROM {cur}"
                f" GROUP BY u HAVING COUNT(*) >= {k})"
            )
            ctes.append(
                f"""e_{nm} AS MATERIALIZED (
  SELECT s.u, s.v FROM {cur} s
  JOIN keep_{nm} x ON s.u = x.u JOIN keep_{nm} y ON s.v = y.u
)"""
            )
            cur = f"e_{nm}"
        surv = f"surv{k}"
        ctes.append(
            f"{surv} AS MATERIALIZED (SELECT DISTINCT u FROM {cur})"
        )
        selects.append(
            f"SELECT u AS node, CAST({k - 1} AS BIGINT) AS coreness"
            f" FROM {prev_surv} WHERE u NOT IN (SELECT u FROM {surv})"
        )
        prev_surv = surv
    return "WITH " + ",".join(ctes) + " " + " UNION ALL ".join(selects)


def _lpa_sql(n_iter: int = 5) -> str:
    """All ``n_iter`` synchronous label-propagation rounds unrolled in
    DuckDB SQL, mirroring ``analytics.label_propagation``
    step-for-step: adopt the most frequent neighbor label, ties to
    the smallest label."""
    ctes = [
        f"pr AS MATERIALIZED (SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp)",
        "sym AS MATERIALIZED (SELECT a AS u, b AS v FROM pr UNION SELECT b, a FROM pr)",
        "lab0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS community FROM sym)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""freq{i} AS MATERIALIZED (
  SELECT s.u AS node, l.community AS community, COUNT(*) AS n
  FROM sym s JOIN lab{i - 1} l ON l.node = s.v GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"best{i} AS MATERIALIZED (SELECT node, MAX(n) AS m FROM freq{i} GROUP BY node)"
        )
        ctes.append(
            f"""lab{i} AS MATERIALIZED (
  SELECT f.node, MIN(f.community) AS community
  FROM freq{i} f JOIN best{i} b ON b.node = f.node AND f.n = b.m
  GROUP BY f.node
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT node, community FROM lab{n_iter}
"""


def _louvain_sql(
    levels: int = 2, n_rounds: int = 6, threshold: float = 0.8
) -> str:
    """The ENTIRE deterministic Louvain pipeline unrolled in DuckDB
    SQL, mirroring ``analytics.louvain`` step-for-step over the
    near-dup pair graph: per level, ``n_rounds`` synchronous
    local-move rounds (modularity-gain argmax with the stay-row
    baseline, smallest-id tie-break, minimum-label + md5-parity
    alternation anti-swap guards), then min-member canonicalization
    and community contraction (parallel weights summed, self-loops
    kept). The unconditional unroll is EXACT: the Spark side's
    quiet-round / no-inter-edge early exits only skip rounds and
    levels that provably move nothing, so replaying every round
    reproduces the labels bit-for-bit. All quantities on the
    unweighted graph are integer-valued doubles (sums of 1.0), so
    every gain is the same correctly-rounded
    ``k - deg * (tot - adj) / 2m`` in both engines and the strict
    compares never straddle an ulp."""
    ctes = [
        "pr AS MATERIALIZED "
        f"(SELECT a, b FROM ({_jaccard_pairs_sql(threshold)}) jp)",
        # _edge_list, undirected: both directions, self-loops dropped,
        # dedup; w = 1.0
        """g0 AS MATERIALIZED (
  SELECT DISTINCT u AS src, v AS dst, 1.0 AS w FROM (
    SELECT a AS u, b AS v FROM pr UNION ALL SELECT b, a FROM pr)
  WHERE u <> v)""",
        # two_m: the symmetric list counts each edge twice (computed
        # ONCE from the level-0 graph, reused at every level)
        "tm AS MATERIALIZED (SELECT SUM(w) AS m2 FROM g0)",
    ]
    for L in range(levels):
        g, R = f"g{L}", n_rounds
        ctes.append(
            f"deg{L} AS MATERIALIZED (SELECT src AS node, SUM(w) AS deg "
            f"FROM {g} GROUP BY 1)"
        )
        ctes.append(
            f"lab{L}_0 AS MATERIALIZED (SELECT DISTINCT src AS node, "
            f"src AS community FROM {g})"
        )
        for i in range(1, n_rounds + 1):
            prev = f"lab{L}_{i - 1}"
            ctes.append(f"""tot{L}_{i} AS MATERIALIZED (
  SELECT l.community, SUM(d.deg) AS tot, COUNT(*) AS csize
  FROM {prev} l JOIN deg{L} d ON d.node = l.node GROUP BY 1)""")
            # k_u(c) over EXTERNAL edges + the guaranteed stay row
            ctes.append(f"""kuc{L}_{i} AS MATERIALIZED (
  SELECT node, c, MAX(k) AS k FROM (
    SELECT e.src AS node, l.community AS c, SUM(e.w) AS k
    FROM {g} e JOIN {prev} l ON l.node = e.dst
    WHERE e.src <> e.dst GROUP BY 1, 2
    UNION ALL
    SELECT node, community AS c, 0.0 AS k FROM {prev}
  ) GROUP BY 1, 2)""")
            # candidate gains, allowed rows only (is_cur rows always
            # pass the minimum-label rule's first disjunct)
            ctes.append(f"""cand{L}_{i} AS MATERIALIZED (
  SELECT k.node, k.c,
         k.k - d.deg * (t.tot - CASE WHEN k.c = l.community THEN d.deg
                                     ELSE 0.0 END) / tm.m2 AS gain,
         (k.c = l.community) AS is_cur
  FROM kuc{L}_{i} k
  JOIN {prev} l ON l.node = k.node
  JOIN deg{L} d ON d.node = k.node
  JOIN tot{L}_{i} t ON t.community = k.c
  JOIN tot{L}_{i} tc ON tc.community = l.community
  CROSS JOIN tm
  WHERE (k.c = l.community) OR (tc.csize > 1) OR (t.csize > 1)
     OR (k.c < l.community))""")
            ctes.append(f"""best{L}_{i} AS MATERIALIZED (
  SELECT s.node, s.bc, s.bgain, g2.cur_gain
  FROM (SELECT node, c AS bc, gain AS bgain FROM (
          SELECT node, c, gain,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY gain DESC, c ASC) AS rn
          FROM cand{L}_{i}) WHERE rn = 1) s
  JOIN (SELECT node, MAX(CASE WHEN is_cur THEN gain END) AS cur_gain
        FROM cand{L}_{i} GROUP BY node) g2 ON g2.node = s.node)""")
            ctes.append(f"""lab{L}_{i} AS MATERIALIZED (
  SELECT l.node,
         CASE WHEN b.bgain > COALESCE(b.cur_gain, 0.0)
               AND CAST('0x' || substr(md5(CAST(l.node AS VARCHAR)), 1, 1)
                        AS BIGINT) % 2 = {(i - 1) % 2}
              THEN b.bc ELSE l.community END AS community
  FROM {prev} l LEFT JOIN best{L}_{i} b ON b.node = l.node)""")
        # canonicalize to min member, map the assignment through,
        # contract for the next level (self-loops kept)
        ctes.append(f"""labc{L} AS MATERIALIZED (
  SELECT l.node, c.cmin AS community
  FROM lab{L}_{R} l JOIN (SELECT community, MIN(node) AS cmin
                          FROM lab{L}_{R} GROUP BY 1) c
       ON c.community = l.community)""")
        if L == 0:
            ctes.append(
                "assign0 AS MATERIALIZED "
                "(SELECT node, community FROM labc0)"
            )
        else:
            ctes.append(f"""assign{L} AS MATERIALIZED (
  SELECT a.node, lc.community
  FROM assign{L - 1} a JOIN labc{L} lc ON lc.node = a.community)""")
        if L + 1 < levels:
            ctes.append(f"""g{L + 1} AS MATERIALIZED (
  SELECT ls.community AS src, ld.community AS dst, SUM(e.w) AS w
  FROM {g} e JOIN labc{L} ls ON ls.node = e.src
             JOIN labc{L} ld ON ld.node = e.dst
  GROUP BY 1, 2)""")
    return f"""
WITH {",".join(ctes)}
SELECT node, community FROM assign{levels - 1}
"""


def _eig_sql(n_iter: int = 20) -> str:
    """All ``n_iter`` eigenvector-centrality power iterations
    unrolled in DuckDB SQL, mirroring
    ``analytics.eigenvector_centrality`` step-for-step over the
    SYMMETRIZED containment graph (grouped neighbor-score sum, L2
    norm as a one-row cross join, ``CASE WHEN nrm > 0`` guard).
    Emits the same floor(score*1e6) buckets as the Spark entry —
    SUM association differs ~1e-15, six orders under the bucket
    width (the ``_hits_sql`` precedent)."""
    ctes = [
        """ed AS MATERIALIZED (
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS src,
         'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
         'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
)""",
        "e AS MATERIALIZED (SELECT src, dst FROM ed"
        " UNION SELECT dst, src FROM ed)",
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e)",
        "s0 AS MATERIALIZED (SELECT node, 1.0 AS score FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(s.score) AS v
  FROM e JOIN s{i - 1} s ON s.node = e.src GROUP BY e.dst
)"""
        )
        ctes.append(
            f"n{i} AS MATERIALIZED (SELECT SQRT(SUM(v * v)) AS nrm FROM r{i})"
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT node, CASE WHEN nrm > 0 THEN v / nrm ELSE 0.0 END AS score
  FROM r{i} CROSS JOIN n{i}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT n.node AS node_uri,
       CAST(FLOOR(COALESCE(s.score, 0.0) * 1e6) AS BIGINT) AS score_bucket
FROM nodes n LEFT JOIN s{n_iter} s ON s.node = n.node
"""
    )


def _hits_sql(n_iter: int = 10) -> str:
    """All ``n_iter`` HITS iterations unrolled in DuckDB SQL,
    mirroring ``analytics.hits`` step-for-step (per half-step: grouped
    sum over the transpose, 0-fill on the full node set, L2 norm as a
    one-row cross join, ``CASE WHEN nrm > 0`` guard). Emits the same
    floor(score*1e6) buckets as the Spark entry."""
    ctes = [
        """e AS MATERIALIZED (
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS src,
         'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
         'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM "
        "(SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "h0 AS MATERIALIZED (SELECT node, 1.0 AS hub FROM nodes)",
    ]
    for i in range(1, n_iter + 1):
        # absent rows are implicit zeros (no effect on L2 norms or
        # propagation) — the full-node 0-fill happens once at the end,
        # mirroring analytics.hits
        ctes.append(
            f"""ar{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(h.hub) AS v
  FROM e JOIN h{i - 1} h ON h.node = e.src GROUP BY e.dst
)"""
        )
        ctes.append(
            f"an{i} AS MATERIALIZED (SELECT SQRT(SUM(v * v)) AS nrm FROM ar{i})"
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT node, CASE WHEN nrm > 0 THEN v / nrm ELSE 0.0 END AS authority
  FROM ar{i} CROSS JOIN an{i}
)"""
        )
        ctes.append(
            f"""hr{i} AS MATERIALIZED (
  SELECT e.src AS node, SUM(a.authority) AS v
  FROM e JOIN a{i} a ON a.node = e.dst GROUP BY e.src
)"""
        )
        ctes.append(
            f"hn{i} AS MATERIALIZED (SELECT SQRT(SUM(v * v)) AS nrm FROM hr{i})"
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
  SELECT node, CASE WHEN nrm > 0 THEN v / nrm ELSE 0.0 END AS hub
  FROM hr{i} CROSS JOIN hn{i}
)"""
        )
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT n.node AS node_uri,
       CAST(FLOOR(COALESCE(h.hub, 0.0) * 1e6) AS BIGINT) AS hub_bucket,
       CAST(FLOOR(COALESCE(a.authority, 0.0) * 1e6) AS BIGINT) AS auth_bucket
FROM nodes n
LEFT JOIN h{n_iter} h ON h.node = n.node
LEFT JOIN a{n_iter} a ON a.node = n.node
"""
    )


def _ppr_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """Personalized PageRank unrolled in DuckDB SQL, seeded on the
    five region nodes — mirrors ``analytics.pagerank(personalize=...)``
    step-for-step: pref = 1/m on seeds else 0, r0 = pref, and per
    round ``(1.0-d)*pref + d*dm*pref + d*COALESCE(in_rank, 0)`` in
    the Spark expression's exact association order. Same
    floor(rank*1e6) bucket projection as the uniform entry."""
    d = repr(damping)
    omd = repr(1.0 - damping)
    ctes = [
        """e AS MATERIALIZED (
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS src,
         'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
         'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "m AS MATERIALIZED (SELECT COUNT(*) AS m FROM nodes WHERE node LIKE 'urn:region:%')",
        "pref AS MATERIALIZED (SELECT node, CASE WHEN node LIKE 'urn:region:%' THEN 1.0 / m ELSE 0.0 END AS pref FROM nodes CROSS JOIN m)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, pref AS rank FROM pref)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
  FROM {p} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL
)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank / deg.deg) AS in_rank
  FROM e JOIN {p} r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT pref.node,
         {omd} * pref + {d} * dm * pref
           + {d} * COALESCE(in_rank, 0.0) AS rank
  FROM pref CROSS JOIN d{i}
  LEFT JOIN c{i} ON c{i}.node = pref.node
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT node AS node_uri,
       CAST(floor(rank * 1e6) AS BIGINT) AS rank_bucket
FROM r{n_iter}
"""


def _pagerank_sql(n_iter: int = 10, damping: float = 0.85) -> str:
    """All ``n_iter`` synchronous power iterations unrolled in DuckDB
    SQL, mirroring ``analytics.pagerank`` step-for-step (uniform
    teleport, dangling-mass redistribution, same float association:
    ``(1.0-d)/n + d*dm/n`` then ``base + d*contrib``). The final
    SELECT emits the fp-noise-immune ``floor(rank*1e6)`` bucket that
    the Spark entry also emits."""
    d = repr(damping)
    ctes = [
        """e AS MATERIALIZED (
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS src,
         'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS dst FROM customer
  UNION ALL
  SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
         'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
  UNION ALL
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
         'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
)""",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))",
        "params AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN params)",
    ]
    for i in range(1, n_iter + 1):
        p = f"r{i - 1}"
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT COALESCE(SUM(r.rank), 0.0) AS dm
  FROM {p} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL
)"""
        )
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(r.rank / deg.deg) AS in_rank
  FROM e JOIN {p} r ON r.node = e.src JOIN deg ON deg.src = e.src
  GROUP BY e.dst
)"""
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT nodes.node,
         ((1.0 - {d}) / n + {d} * dm / n)
           + {d} * COALESCE(in_rank, 0.0) AS rank
  FROM nodes CROSS JOIN params CROSS JOIN d{i}
  LEFT JOIN c{i} ON c{i}.node = nodes.node
)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT node AS node_uri,
       CAST(floor(rank * 1e6) AS BIGINT) AS rank_bucket
FROM r{n_iter}
"""


_KM_ASSIGN_TPL = """
  SELECT vec_id, cl FROM (
    SELECT v.vec_id, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, c.e), c.cl) AS rn
    FROM v CROSS JOIN {cent} c) WHERE rn = 1
"""
_KM_UPDATE_TPL = """
  SELECT cl, list(m ORDER BY dim) AS e FROM (
    SELECT a.cl, u.dim, AVG(u.val) AS m
    FROM {assign} a JOIN v USING (vec_id),
         LATERAL (SELECT generate_subscripts(v.e, 1) AS dim,
                         unnest(v.e) AS val) u
    GROUP BY a.cl, u.dim) GROUP BY cl
"""


def _kmeans_ctes(n_clusters: int, iters: int, where: str = "") -> list[str]:
    """Shared CTE prefix: deterministic Lloyd's k-means (init =
    lowest-id vectors, ``iters`` update steps) + final nearest-
    centroid assignment as ``assigned`` — mirroring
    ``operators.similarity.kmeans_centroids``/``assign_clusters``
    step-for-step (same argmin tie-break: distance then cluster id).
    Consumed by ``_ivf_probe_sql`` (which probes on ``c{iters}``)
    and ``_kmeans_assign_sql`` (which projects ``assigned``).
    ``where`` restricts the trained/assigned corpus (e.g. the index
    side of ``semantic_index_query``) — init stays "lowest ids OF THE
    RESTRICTED SET", mirroring ``kmeans_centroids`` on that frame."""
    ctes = [
        f"v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e"
        f" FROM embeddings{where})",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, e
  FROM (SELECT * FROM v ORDER BY vec_id LIMIT {n_clusters})
)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"a{i} AS ({_KM_ASSIGN_TPL.format(cent=f'c{i - 1}')})")
        ctes.append(f"c{i} AS ({_KM_UPDATE_TPL.format(assign=f'a{i}')})")
    ctes.append(f"assigned AS ({_KM_ASSIGN_TPL.format(cent=f'c{iters}')})")
    return ctes


def _kmeans_assign_sql(n_clusters: int = 8, iters: int = 2) -> str:
    """Full-corpus nearest-centroid assignment, k-means unrolled —
    the oracle twin of ``assign_clusters(emb, kmeans_centroids(emb))``."""
    return f"""
WITH {",".join(_kmeans_ctes(n_clusters, iters))}
SELECT vec_id, CAST(cl AS BIGINT) AS cluster FROM assigned
"""


def _semantic_dedup_sql(
    n_clusters: int = 8, iters: int = 2, threshold: float = 0.45
) -> str:
    """SemDeDup survivors unrolled: the shared k-means prefix
    (``_kmeans_ctes``), then min-id witness elimination inside each
    cluster — the oracle twin of ``operators.dedup.semantic_dedup``
    (a row survives iff no lower-id same-cluster vector has cosine
    >= threshold to it)."""
    return f"""
WITH {",".join(_kmeans_ctes(n_clusters, iters))},
ae AS (SELECT a.vec_id, a.cl, v.e FROM assigned a JOIN v USING (vec_id))
SELECT a.vec_id, CAST(a.cl AS BIGINT) AS cluster
FROM ae a
WHERE NOT EXISTS (
  SELECT 1 FROM ae b
  WHERE b.cl = a.cl AND b.vec_id < a.vec_id
    AND list_cosine_similarity(a.e, b.e) >= {threshold})
"""


def _semantic_index_sql(
    n_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    threshold: float = 0.40,
) -> str:
    """``semantic_query_index`` unrolled: k-means trained on the
    INDEX side only (``where``-restricted ``_kmeans_ctes``), each
    held-out batch vector's ``nprobe`` nearest centroids (same
    distance-then-cluster-id tie-break as ``_ivf_probe_sql``), then
    the cosine-threshold filter over probed clusters only — the
    probe-recall approximation is replayed exactly, not papered
    over."""
    ctes = _kmeans_ctes(n_clusters, iters, where=" WHERE vec_id % 10 <> 0")
    ctes += [
        "qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e"
        " FROM embeddings WHERE vec_id % 10 = 0)",
        f"""probes AS (
  SELECT query_id, cl FROM (
    SELECT q.query_id, c.cl,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(q.e, c.e), c.cl) AS rn
    FROM qv q CROSS JOIN c{iters} c) WHERE rn <= {nprobe}
)""",
        """cand AS (
  SELECT p.query_id, a.vec_id AS match_id
  FROM probes p JOIN assigned a ON a.cl = p.cl
)""",
    ]
    return f"""
WITH {",".join(ctes)}
SELECT c.query_id, c.match_id
FROM cand c
JOIN qv q ON q.query_id = c.query_id
JOIN v nv ON nv.vec_id = c.match_id
WHERE list_cosine_similarity(q.e, nv.e) >= {threshold}
"""


def _sssp_region_sql(rounds: int = 12) -> str:
    """Bounded Bellman-Ford unrolled: round i = min cost over paths of
    <= i edges — exactly the invariant ``analytics.sssp`` maintains,
    so ``rounds`` here must equal the entry's ``max_iter``."""
    ctes = [
        "nat AS (SELECT n_nationkey, n_regionkey FROM nation"
        " WHERE n_regionkey = 1)",
        "cust AS (SELECT c_custkey, c_nationkey FROM customer"
        " JOIN nat ON c_nationkey = n_nationkey)",
        "supp AS (SELECT s_suppkey, s_nationkey FROM supplier"
        " JOIN nat ON s_nationkey = n_nationkey)",
        "ords AS (SELECT o_orderkey, o_custkey FROM orders"
        " JOIN cust ON o_custkey = c_custkey)",
        "li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem"
        " JOIN ords ON l_orderkey = o_orderkey"
        " JOIN supp ON l_suppkey = s_suppkey)",
        """e0 AS (
  SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS src,
         'urn:region:' || CAST(n_regionkey AS VARCHAR) AS dst,
         (n_nationkey + n_regionkey) % 5 + 1 AS w FROM nat
  UNION ALL
  SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR),
         'urn:nation:' || CAST(c_nationkey AS VARCHAR),
         (c_custkey + c_nationkey) % 5 + 1 FROM cust
  UNION ALL
  SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
         'urn:nation:' || CAST(s_nationkey AS VARCHAR),
         (s_suppkey + s_nationkey) % 5 + 1 FROM supp
  UNION ALL
  SELECT 'urn:orders:' || CAST(o_orderkey AS VARCHAR),
         'urn:customer:' || CAST(o_custkey AS VARCHAR),
         (o_orderkey + o_custkey) % 5 + 1 FROM ords
  UNION ALL
  SELECT 'urn:orders:' || CAST(l_orderkey AS VARCHAR),
         'urn:supplier:' || CAST(l_suppkey AS VARCHAR),
         (l_orderkey + l_suppkey) % 5 + 1 FROM li
)""",
        # MATERIALIZED: every round references e (and r{i-1} twice);
        # inlined CTEs would re-open the parquet scans per reference
        # and exhaust the fd limit at 8+ unrolled rounds
        "e AS MATERIALIZED (SELECT src, dst, w FROM e0"
        " UNION ALL SELECT dst, src, w FROM e0)",
        "r0 AS (SELECT 'urn:region:1' AS node, CAST(0 AS BIGINT) AS dist)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM r{i - 1}
    UNION ALL
    SELECT e.dst AS node, r.dist + e.w AS dist
    FROM r{i - 1} r JOIN e ON e.src = r.node) GROUP BY node)"""
        )
    return f"""
WITH {",".join(ctes)}
SELECT node AS node_uri, dist FROM r{rounds}
"""


def _ivf_probe_sql(
    query_pred: str,
    k: int,
    n_clusters: int = 8,
    iters: int = 2,
    nprobe: int = 2,
) -> str:
    """The ENTIRE deterministic IVF pipeline unrolled in DuckDB SQL:
    the shared k-means/assignment prefix (``_kmeans_ctes``), per-query
    ``nprobe`` probe list, and cosine top-k over probed clusters only —
    mirroring ``operators.similarity.ivf_search``. Verified
    row-identical to a numpy re-implementation at sf0.01."""
    ctes = _kmeans_ctes(n_clusters, iters)
    final_c = f"c{iters}"
    ctes += [
        f"q AS (SELECT vec_id AS query_id, e FROM v WHERE {query_pred})",
        f"""probes AS (
  SELECT query_id, cl FROM (
    SELECT q.query_id, c.cl,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(q.e, c.e), c.cl) AS rn
    FROM q CROSS JOIN {final_c} c) WHERE rn <= {nprobe}
)""",
        """cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cl = p.cl
  WHERE a.vec_id <> p.query_id
)""",
    ]
    return f"""
WITH {",".join(ctes)}
SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id FROM (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY list_cosine_similarity(qv.e, nv.e) DESC,
                                     c.vec_id) AS rn
  FROM cand c
  JOIN q qv ON qv.query_id = c.query_id
  JOIN v nv ON nv.vec_id = c.vec_id)
WHERE rn <= {k}
"""


def _pq_sql(
    what: str,
    m: int = 4,
    k_clusters: int = 16,
    iters: int = 2,
    query_pred: str = "vec_id % 100 = 0",
    k: int = 5,
) -> str:
    """The deterministic PQ pipeline unrolled in DuckDB SQL: per-
    subspace Lloyd's k-means (init = lowest-id sub-vectors, same
    convention as ``_ivf_probe_sql`` / ``kmeans_centroids``), nearest-
    centroid codes, and — for ``what='topk'`` — ADC ranking via
    reconstruction (dot(q, reconstruct) ≡ the LUT sum the Spark side
    computes, see ``operators.quantize.pq_topk``)."""
    assign_tpl = """
  SELECT vec_id, cl FROM (
    SELECT v.vec_id, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, c.e), c.cl) AS rn
    FROM {vname} v CROSS JOIN {cent} c) WHERE rn = 1
"""
    update_tpl = """
  SELECT cl, list(mn ORDER BY dim) AS e FROM (
    SELECT a.cl, u.dim, AVG(u.val) AS mn
    FROM {assign} a JOIN {vname} v USING (vec_id),
         LATERAL (SELECT generate_subscripts(v.e, 1) AS dim,
                         unnest(v.e) AS val) u
    GROUP BY a.cl, u.dim) GROUP BY cl
"""
    ctes = [
        "vfull AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, "
        f"CAST(len(embedding) / {m} AS INT) AS sd FROM embeddings)",
    ]
    for s in range(m):
        vn = f"v{s}"
        ctes.append(
            f"{vn} AS (SELECT vec_id, e[({s}*sd+1):(({s}+1)*sd)] AS e "
            "FROM vfull)"
        )
        ctes.append(f"""c{s}_0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, e
  FROM (SELECT * FROM {vn} ORDER BY vec_id LIMIT {k_clusters})
)""")
        for i in range(1, iters + 1):
            ctes.append(
                f"a{s}_{i} AS ({assign_tpl.format(vname=vn, cent=f'c{s}_{i - 1}')})"
            )
            ctes.append(
                f"c{s}_{i} AS ({update_tpl.format(assign=f'a{s}_{i}', vname=vn)})"
            )
        ctes.append(
            f"codes{s} AS ({assign_tpl.format(vname=vn, cent=f'c{s}_{iters}')})"
        )
    codes_union = " UNION ALL ".join(
        f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, "
        f"CAST(cl AS BIGINT) AS code FROM codes{s}"
        for s in range(m)
    )
    ctes.append(f"codes AS ({codes_union})")
    if what == "codes":
        return f"""
WITH {",".join(ctes)}
SELECT vec_id, subspace, code FROM codes
"""
    cb_union = " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS subspace, cl, e FROM c{s}_{iters}"
        for s in range(m)
    )
    ctes += [
        f"cb AS ({cb_union})",
        """recon AS (
  SELECT c.vec_id, flatten(list(b.e ORDER BY c.subspace)) AS e
  FROM codes c JOIN cb b ON b.subspace = c.subspace AND b.cl = c.code
  GROUP BY c.vec_id
)""",
        f"q AS (SELECT vec_id AS query_id, e FROM vfull WHERE {query_pred})",
    ]
    return f"""
WITH {",".join(ctes)}
SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id FROM (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_inner_product(q.e, r.e) DESC,
                                     r.vec_id) AS rn
  FROM q JOIN recon r ON r.vec_id <> q.query_id)
WHERE rn <= {k}
"""


def _ivfpq_sql(
    m: int = 4,
    k_clusters: int = 16,
    iters: int = 2,
    coarse_clusters: int = 8,
    coarse_iters: int = 2,
    nprobe: int = 2,
    query_pred: str = "vec_id % 100 = 0",
    k: int = 5,
) -> str:
    """IVFPQ unrolled: the ``_pq_sql`` subspace-k-means + codes +
    reconstruction chain, PLUS a coarse full-space k-means whose
    per-query ``nprobe`` probe list prunes the candidate set before
    the ADC (reconstruction inner-product) ranking — mirroring
    ``operators.quantize.ivfpq_topk`` step-for-step."""
    assign_tpl = """
  SELECT vec_id, cl FROM (
    SELECT v.vec_id, c.cl,
           row_number() OVER (PARTITION BY v.vec_id
                              ORDER BY list_distance(v.e, c.e), c.cl) AS rn
    FROM {vname} v CROSS JOIN {cent} c) WHERE rn = 1
"""
    update_tpl = """
  SELECT cl, list(mn ORDER BY dim) AS e FROM (
    SELECT a.cl, u.dim, AVG(u.val) AS mn
    FROM {assign} a JOIN {vname} v USING (vec_id),
         LATERAL (SELECT generate_subscripts(v.e, 1) AS dim,
                         unnest(v.e) AS val) u
    GROUP BY a.cl, u.dim) GROUP BY cl
"""

    def kmeans_chain(vname: str, prefix: str, n_cl: int, n_it: int) -> list:
        out = [f"""{prefix}0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, e
  FROM (SELECT * FROM {vname} ORDER BY vec_id LIMIT {n_cl})
)"""]
        for i in range(1, n_it + 1):
            out.append(
                f"{prefix}a{i} AS "
                f"({assign_tpl.format(vname=vname, cent=f'{prefix}{i - 1}')})"
            )
            out.append(
                f"{prefix}{i} AS "
                f"({update_tpl.format(assign=f'{prefix}a{i}', vname=vname)})"
            )
        return out

    ctes = [
        "vfull AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, "
        f"CAST(len(embedding) / {m} AS INT) AS sd FROM embeddings)",
    ]
    for s in range(m):
        vn = f"v{s}"
        ctes.append(
            f"{vn} AS (SELECT vec_id, e[({s}*sd+1):(({s}+1)*sd)] AS e "
            "FROM vfull)"
        )
        ctes += kmeans_chain(vn, f"c{s}_", k_clusters, iters)
        ctes.append(
            f"codes{s} AS "
            f"({assign_tpl.format(vname=vn, cent=f'c{s}_{iters}')})"
        )
    ctes.append("codes AS (" + " UNION ALL ".join(
        f"SELECT vec_id, CAST({s} AS BIGINT) AS subspace, "
        f"CAST(cl AS BIGINT) AS code FROM codes{s}"
        for s in range(m)
    ) + ")")
    ctes.append("cb AS (" + " UNION ALL ".join(
        f"SELECT CAST({s} AS BIGINT) AS subspace, cl, e FROM c{s}_{iters}"
        for s in range(m)
    ) + ")")
    ctes += kmeans_chain("vfull", "g", coarse_clusters, coarse_iters)
    ctes += [
        f"cassign AS ({assign_tpl.format(vname='vfull', cent=f'g{coarse_iters}')})",
        """recon AS (
  SELECT c.vec_id, flatten(list(b.e ORDER BY c.subspace)) AS e
  FROM codes c JOIN cb b ON b.subspace = c.subspace AND b.cl = c.code
  GROUP BY c.vec_id
)""",
        f"q AS (SELECT vec_id AS query_id, e FROM vfull WHERE {query_pred})",
        f"""probes AS (
  SELECT query_id, cl FROM (
    SELECT q.query_id, g.cl,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY list_distance(q.e, g.e), g.cl) AS rn
    FROM q CROSS JOIN g{coarse_iters} g) WHERE rn <= {nprobe}
)""",
        """cand AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN cassign a ON a.cl = p.cl
  WHERE a.vec_id <> p.query_id
)""",
    ]
    return f"""
WITH {",".join(ctes)}
SELECT query_id, CAST(rn AS BIGINT) AS "rank", neighbor_id FROM (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         row_number() OVER (PARTITION BY c.query_id
                            ORDER BY list_inner_product(qv.e, r.e) DESC,
                                     c.vec_id) AS rn
  FROM cand c
  JOIN q qv ON qv.query_id = c.query_id
  JOIN recon r ON r.vec_id = c.vec_id)
WHERE rn <= {k}
"""


def _scale_extension_oracles() -> dict[str, str]:
    from pidb_rdf_spark.operators.scrub import (
        EMAIL_RE as _EMAIL_RE,
        IPV4_RE as _IPV4_RE,
        PHONE_RE as _PHONE_RE,
    )
    from pidb_rdf_spark.operators.text import BPE_SPLIT_REGEX, STOPWORDS

    en = _sql_list(STOPWORDS["en"])
    de = _sql_list(STOPWORDS["de"])
    fr = _sql_list(STOPWORDS["fr"])
    tfmt = "%Y-%m-%d %H:%M:%S"
    return {
        "exact_dedup_docs": """
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS group_size
            FROM documents GROUP BY text
        """,
        "decontam_overlap": r"""
            WITH toks AS (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS ts
                FROM documents
            ), idx AS (
                SELECT doc_id, ts,
                       unnest(generate_series(1, greatest(len(ts) - 3, 0))) AS i
                FROM toks
            ), grams AS (
                SELECT DISTINCT doc_id, array_to_string(ts[i:i+3], ' ') AS g
                FROM idx
            )
            SELECT t.doc_id AS train_id, e.doc_id AS eval_id,
                   CAST(COUNT(*) AS BIGINT) AS n_overlap
            FROM grams t JOIN grams e ON t.g = e.g
            WHERE t.doc_id % 20 != 0 AND e.doc_id % 20 = 0
            GROUP BY 1, 2
        """,
        "ngram_jaccard_dedup": _jaccard_pairs_sql(0.6),
        "minhash_lsh_dedup": _jaccard_pairs_sql(0.8),
        "minhash_index_query": f"""
            WITH sets AS (SELECT doc_id, {_SHINGLES8} AS sh FROM documents),
            ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS shingle
                   FROM sets),
            inter AS (
                SELECT x.doc_id AS query_id, y.doc_id AS match_id,
                       COUNT(*) AS inter,
                       any_value(x.n) AS na, any_value(y.n) AS nb
                FROM ex x JOIN ex y ON x.shingle = y.shingle
                WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0
                GROUP BY 1, 2
            )
            SELECT query_id, match_id,
                   CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
            FROM inter
            WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8
        """,
        "simhash_dedup": _simhash_sql(60, 3),
        "embedding_near_dup": """
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
            WHERE list_cosine_similarity(
                CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])
            ) >= 0.45
        """,
        "cosine_topk": _brute_topk_sql("vec_id < 10", 10),
        "pca_project_embeddings": _pca_project_sql(),
        "quantize_embeddings": """
            -- CAST to DOUBLE before dividing: FLOAT / DECIMAL stays in
            -- float32 in DuckDB, while Spark promotes to double.
            -- Exploded to one row per vector component (atomic columns
            -- only — the driver canon can't hash list cells); dim is
            -- 0-based to match Spark's posexplode.
            WITH s AS (
                SELECT vec_id, embedding,
                       CAST(list_max(list_transform(embedding, x -> abs(x)))
                            AS DOUBLE) AS ma
                FROM embeddings
            ), q AS (
                SELECT vec_id, ma / 127.0 AS scale,
                       CASE WHEN ma = 0 THEN list_transform(embedding, x -> 0)
                            ELSE list_transform(
                                embedding,
                                x -> CAST(round(CAST(x AS DOUBLE) / (ma / 127.0))
                                          AS INT)
                            ) END AS qvec
                FROM s
            )
            SELECT vec_id, scale,
                   CAST(generate_subscripts(qvec, 1) - 1 AS BIGINT) AS dim,
                   CAST(unnest(qvec) AS BIGINT) AS q
            FROM q
        """,
        "ivf_topk_exact": _brute_topk_sql("vec_id % 100 = 0", 5),
        # probe-2 is approximate vs brute force, but the pipeline is
        # fully deterministic — so the oracle replays k-means +
        # probing + ranking itself, unrolled in SQL
        "ivf_topk_probe2": _ivf_probe_sql(
            "vec_id % 100 = 0", 5, n_clusters=8, iters=2, nprobe=2
        ),
        # indexed search must equal the in-memory probe-2 search: the
        # persisted index only changes WHERE the vectors are read from
        # (cluster-partitioned parquet -> partition pruning), never
        # which neighbors rank
        "ivf_topk_indexed": _ivf_probe_sql(
            "vec_id % 100 = 0", 5, n_clusters=8, iters=2, nprobe=2
        ),
        "pq_codes": _pq_sql("codes", m=4, k_clusters=16, iters=2),
        "ivfpq_topk": _ivfpq_sql(
            m=4, k_clusters=16, iters=2, coarse_clusters=8, coarse_iters=2,
            nprobe=2, query_pred="vec_id % 100 = 0", k=5,
        ),
        "pq_topk_adc": _pq_sql(
            "topk", m=4, k_clusters=16, iters=2,
            query_pred="vec_id % 100 = 0", k=5,
        ),
        "boilerplate_lines": """
            WITH d AS (
                SELECT doc_id,
                       '=== SITE HEADER ===' || chr(10) ||
                       CASE WHEN doc_id % 2 = 0 THEN 'even footer'
                            ELSE 'odd footer' END || chr(10) || text AS text
                FROM documents
            )
            SELECT line, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS line
                FROM d
            )
            GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3
        """,
        "strip_boilerplate": """
            WITH d AS (
                SELECT doc_id,
                       '=== SITE HEADER ===' || chr(10) ||
                       CASE WHEN doc_id % 2 = 0 THEN 'even footer'
                            ELSE 'odd footer' END || chr(10) || text AS text
                FROM documents
            ),
            b AS (
                SELECT COALESCE(list(line), []) AS bl FROM (
                    SELECT line
                    FROM (
                        SELECT doc_id,
                               unnest(string_split(text, chr(10))) AS line
                        FROM d
                    )
                    GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 300
                )
            )
            SELECT doc_id,
                   array_to_string(kept, chr(10)) AS text,
                   CAST(len(kept) AS BIGINT) AS n_lines_kept,
                   CAST(len(string_split(text, chr(10))) - len(kept)
                        AS BIGINT) AS n_lines_removed
            FROM (
                SELECT doc_id, text,
                       list_filter(
                           string_split(text, chr(10)),
                           x -> NOT list_contains(bl, x)
                       ) AS kept
                FROM d CROSS JOIN b
            )
        """,
        "gopher_quality_docs": """
            WITH w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS words
                FROM documents
            ),
            sig AS (
                SELECT doc_id,
                       CAST(len(words) AS BIGINT) AS n_words,
                       CAST(list_sum(list_transform(words,
                                x -> CAST(strlen(x) AS BIGINT)))
                            AS DOUBLE)
                           / greatest(len(words), 1) AS mean_word_len,
                       CAST(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                            AS DOUBLE)
                           / greatest(len(words), 1) AS symbol_word_ratio,
                       CAST(len(list_filter(words,
                                x -> regexp_matches(x, '[A-Za-z]')))
                            AS DOUBLE)
                           / greatest(len(words), 1) AS alpha_word_frac,
                       CAST(len(list_intersect(
                                list_distinct(list_transform(words,
                                                             x -> lower(x))),
                                ['the','be','to','of','and','that',
                                 'have','with'])) AS BIGINT)
                           AS n_required_stopwords
                FROM w
            )
            SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                   alpha_word_frac, n_required_stopwords,
                   (n_words >= 50 AND n_words <= 100000
                    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                    AND symbol_word_ratio < 0.1
                    AND alpha_word_frac > 0.8
                    AND n_required_stopwords >= 2) AS passes_gopher
            FROM sig
        """,
        "line_dedup_docs": """
            WITH d AS (
                SELECT doc_id,
                       '=== SITE HEADER ===' || chr(10) ||
                       CASE WHEN doc_id % 2 = 0 THEN 'even footer'
                            ELSE 'odd footer' END || chr(10) || text AS text
                FROM documents
            ),
            lines AS (
                SELECT doc_id, u.pos, u.line
                FROM d, LATERAL (
                    SELECT generate_subscripts(
                               string_split(text, chr(10)), 1) AS pos,
                           unnest(string_split(text, chr(10))) AS line
                ) u
            ),
            kept AS (
                SELECT doc_id, pos, line FROM (
                    SELECT doc_id, pos, line,
                           row_number() OVER (PARTITION BY line
                                              ORDER BY doc_id, pos) AS rn
                    FROM lines WHERE line <> ''
                ) WHERE rn = 1
                UNION ALL
                SELECT doc_id, pos, line FROM lines WHERE line = ''
            ),
            rebuilt AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       CAST(COUNT(*) AS BIGINT) AS n_lines_kept
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   COALESCE(r.text, '') AS text,
                   COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
                   CAST(len(string_split(d.text, chr(10)))
                        - COALESCE(r.n_lines_kept, 0) AS BIGINT)
                       AS n_lines_removed
            FROM d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "unigram_quality_docs": """
            WITH toks AS (
                SELECT doc_id, t AS token FROM (
                    SELECT doc_id,
                           unnest(string_split_regex(trim(lower(text)),
                                                     '\\s+')) AS t
                    FROM documents
                ) WHERE t <> ''
            ),
            model AS (SELECT token, COUNT(*) AS n FROM toks GROUP BY token),
            stats AS (
                SELECT CAST(SUM(n) AS DOUBLE) AS total,
                       CAST(COUNT(*) + 1 AS DOUBLE) AS vocab
                FROM model
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   AVG(ln((m.n + 1.0) / (s.total + s.vocab)))
                       AS avg_logprob,
                   exp(-AVG(ln((m.n + 1.0) / (s.total + s.vocab))))
                       AS ppl_proxy
            FROM toks t JOIN model m USING (token) CROSS JOIN stats s
            GROUP BY doc_id
        """,
        # neighborhood_anf_containment (r13): the containment DAG is
        # functional (out-degree 1 below region), so pairs at
        # distance d = nodes with chain length >= d; chain lengths:
        # order 3, customer/supplier 2, nation 1
        "neighborhood_anf_containment": """
            WITH c AS (
                SELECT (SELECT count(*) FROM orders)   AS o,
                       (SELECT count(*) FROM customer) AS cu,
                       (SELECT count(*) FROM supplier) AS s,
                       (SELECT count(*) FROM nation)   AS n,
                       (SELECT count(*) FROM region)   AS r
            )
            SELECT CAST(0 AS BIGINT) AS radius,
                   CAST(o+cu+s+n+r AS DOUBLE) AS n_pairs FROM c
            UNION ALL SELECT 1,
                   CAST(o+cu+s+n+r + (o+cu+s+n) AS DOUBLE) FROM c
            UNION ALL SELECT 2,
                   CAST(o+cu+s+n+r + (o+cu+s+n)
                        + (o+cu+s) AS DOUBLE) FROM c
            UNION ALL SELECT 3,
                   CAST(o+cu+s+n+r + (o+cu+s+n) + (o+cu+s)
                        + o AS DOUBLE) FROM c
        """,
        # cypher_spatial_orders (r13): haversine at 6378140.0 m +
        # euclidean + bbox replayed arithmetically on the same
        # key-derived coordinates
        "cypher_spatial_orders": """
            SELECT o_orderkey AS okey,
                   round(2 * 6378140.0 * asin(sqrt(
                       pow(sin(radians(0 - (o_custkey % 170 - 85))
                               / 2), 2)
                       + cos(radians(o_custkey % 170 - 85))
                         * cos(radians(0))
                         * pow(sin(radians(0 - (o_orderkey % 360
                                - 180)) / 2), 2)
                   )) / 1000, 3) AS geo_km,
                   round(sqrt(pow(o_orderkey % 100 - 50.0, 2)
                              + pow(o_custkey % 100 - 50.0, 2)),
                         6) AS cart_d,
                   (o_orderkey % 100 BETWEEN 10 AND 60)
                       AND (o_custkey % 100 BETWEEN 10 AND 60)
                       AS inbox
            FROM orders
            WHERE o_orderkey < 2000
            ORDER BY okey
        """,
        # quality_classifier_docs (r13): rebuild the pinned weight
        # formula arithmetically, replay md5 feature hashing + tf +
        # sigmoid; LEFT JOIN keeps token-less docs at sigmoid(bias)
        "quality_classifier_docs": r"""
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(
                           string_split_regex(lower(text), '\s+'),
                           x -> len(x) > 0)) AS tok
                FROM documents
            ),
            cnt AS (
                SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id
            ),
            feat AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5(tok), 1, 13)) AS BIGINT)
                           % 512 AS f,
                       count(*) AS c
                FROM toks GROUP BY doc_id, f
            ),
            marg AS (
                SELECT feat.doc_id,
                       SUM((c / CAST(n AS DOUBLE))
                           * (((f * 2654435761) % 4096) / 4096.0 - 0.5))
                           AS m
                FROM feat JOIN cnt USING (doc_id)
                GROUP BY feat.doc_id
            )
            SELECT d.doc_id,
                   round(1.0 / (1.0 + exp(-(COALESCE(marg.m, 0.0) + 0.1))),
                         6) + 0.0 AS score
            FROM documents d LEFT JOIN marg ON d.doc_id = marg.doc_id
        """,
        # pack_sequences_docs (r13): replay the md5 shard/seq
        # permutation, one global running offset over (shard, seq)
        # with +1 EOS per doc, then cut every 512 tokens --
        # generate_series is inclusive like F.sequence
        "pack_sequences_docs": r"""
            WITH tok AS (
                SELECT doc_id,
                       CAST(('0x' || substr(md5('shuffle:'
                            || CAST(doc_id AS VARCHAR)), 1, 13))
                            AS BIGINT) AS hv,
                       CAST(len(list_filter(
                           string_split_regex(text, '\s+'),
                           x -> len(x) > 0)) AS BIGINT) AS n_tokens
                FROM documents
            ),
            placed AS (
                SELECT doc_id, n_tokens,
                       CAST(COALESCE(SUM(n_tokens + 1) OVER (
                           ORDER BY hv % 8, hv, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT) AS start
                FROM tok WHERE n_tokens > 0
            ),
            spans AS (
                SELECT doc_id, n_tokens, start,
                       start + n_tokens AS e,
                       unnest(generate_series(start // 512,
                              (start + n_tokens - 1) // 512)) AS seq_id
                FROM placed
            )
            SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
                   CAST(greatest(start, seq_id * 512) - start
                        AS BIGINT) AS doc_offset,
                   CAST(greatest(start, seq_id * 512) - seq_id * 512
                        AS BIGINT) AS seq_offset,
                   CAST(least(e, (seq_id + 1) * 512)
                        - greatest(start, seq_id * 512)
                        AS BIGINT) AS length,
                   n_tokens
            FROM spans
        """,
        # bigram_perplexity_docs (r13): the full interpolated-bigram
        # pipeline replayed — <s>-prefixed pair explode, bigram +
        # context + unigram counts, lam * ML + (1 - lam) * add-alpha
        # interpolation, per-doc mean — with the entry's rounding
        "bigram_perplexity_docs": """
            WITH toks AS (
                SELECT doc_id,
                       list_prepend('<s>', list_filter(
                           string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '')) AS ts
                FROM documents
                WHERE len(list_filter(
                          string_split_regex(trim(lower(text)), '\\s+'),
                          x -> x <> '')) > 0
            ),
            pairs AS (
                SELECT doc_id, ts[i] AS w1, ts[i + 1] AS w2
                FROM toks, UNNEST(range(1, len(ts))) AS u(i)
            ),
            bi AS (
                SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
                FROM pairs GROUP BY 1, 2
            ),
            ctx AS (
                SELECT w1, CAST(SUM(n) AS DOUBLE) AS ctx_n
                FROM bi GROUP BY 1
            ),
            unic AS (
                SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS un FROM (
                    SELECT unnest(string_split_regex(trim(lower(text)),
                                                     '\\s+')) AS t
                    FROM documents
                ) WHERE t <> '' GROUP BY 1
            ),
            stats AS (
                SELECT CAST(SUM(un) AS DOUBLE) AS total,
                       CAST(COUNT(*) + 1 AS DOUBLE) AS vocab
                FROM unic
            ),
            scored AS (
                SELECT p.doc_id,
                       ln(0.7 * COALESCE(b.n / c.ctx_n, 0.0)
                          + 0.3 * ((COALESCE(u.un, 0) + 1.0)
                                   / (s.total + 1.0 * s.vocab))) AS logp
                FROM pairs p
                LEFT JOIN bi b USING (w1, w2)
                LEFT JOIN ctx c ON p.w1 = c.w1
                LEFT JOIN unic u ON p.w2 = u.token
                CROSS JOIN stats s
            )
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(AVG(logp), 6) + 0.0 AS avg_logprob,
                   ROUND(exp(-AVG(logp)), 2) + 0.0 AS ppl
            FROM scored GROUP BY doc_id
        """,
        "pii_scrub_docs": f"""
            -- sequential scrub mirrored exactly: each count is taken
            -- on the text as already scrubbed by the EARLIER rules
            -- (emails, then IPs, then phones — IPs must go before
            -- phones so dotted quads never scrub as <PHONE>)
            WITH d AS (
                SELECT doc_id,
                       text || ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@example.com or +1-555-123-4567 from 10.0.0.'
                            || CAST(doc_id % 256 AS VARCHAR) AS text
                FROM documents
            ), e AS (
                SELECT doc_id,
                       CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                            AS BIGINT) AS n_email,
                       regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g')
                           AS text
                FROM d
            ), i AS (
                SELECT doc_id, n_email,
                       CAST(len(regexp_extract_all(text, '{_IPV4_RE}'))
                            AS BIGINT) AS n_ip,
                       regexp_replace(text, '{_IPV4_RE}', '<IP>', 'g')
                           AS text
                FROM e
            )
            SELECT doc_id,
                   regexp_replace(text, '{_PHONE_RE}', '<PHONE>', 'g')
                       AS text,
                   n_email,
                   CAST(len(regexp_extract_all(text, '{_PHONE_RE}'))
                        AS BIGINT) AS n_phone,
                   n_ip
            FROM i
        """,
        "chunk_documents": """
            -- windows of 16 ws-tokens advancing by 12 (overlap 4);
            -- DuckDB list slice l[a:b] is 1-based inclusive
            WITH t AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(trim(text), '\\s+'),
                           t -> t <> ''
                       ) AS toks
                FROM documents
            ), c AS (
                SELECT doc_id, toks, len(toks) AS n,
                       GREATEST(CAST(ceil((len(toks) - 4) / 12.0) AS BIGINT),
                                1) AS n_chunks
                FROM t
            ), x AS (
                SELECT doc_id, toks, n,
                       unnest(generate_series(0, n_chunks - 1)) AS i
                FROM c
            )
            SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
                   array_to_string(toks[(i*12+1):(i*12+16)], ' ')
                       AS chunk_text,
                   CAST(LEAST(n - i*12, 16) AS BIGINT) AS n_tokens
            FROM x
        """,
        "salted_join_lineitem": """
            SELECT l_orderkey, l_linenumber, l_suppkey, s_name
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        """,
        "sessionize_stream": f"""
            WITH b AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL THEN 1
                            WHEN ts >= lag(ts) OVER w + INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT user_id, ts,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS seq
                FROM b
            )
            SELECT user_id,
                   strftime(MIN(ts), '{tfmt}') AS session_start,
                   strftime(MAX(ts), '{tfmt}') AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY user_id, seq
        """,
        # recall=1 at this (n_planes, n_tables) on this corpus and
        # precision=1 by exact verify ⇒ the exact all-pairs SQL is a
        # valid oracle (same construction as minhash_lsh_dedup's)
        "embedding_near_dup_lsh": """
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
            WHERE list_cosine_similarity(
                CAST(x.embedding AS DOUBLE[]), CAST(y.embedding AS DOUBLE[])
            ) >= 0.45
        """,
        "lang_id": f"""
            WITH toks AS (
                SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents
            ),
            sc AS (
                SELECT doc_id,
                       len(list_intersect(t, {en})) AS s_en,
                       len(list_intersect(t, {de})) AS s_de,
                       len(list_intersect(t, {fr})) AS s_fr
                FROM toks
            )
            SELECT doc_id,
                   CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
                        WHEN s_de >= s_en AND s_de >= s_fr THEN 'de'
                        WHEN s_en >= s_fr THEN 'en'
                        ELSE 'fr' END AS lang_pred
            FROM sc
        """,
        "text_quality": f"""
            WITH m AS (
                SELECT doc_id,
                       CAST(length(text) AS BIGINT) AS n_chars_q,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))
                            AS BIGINT) AS n_punct,
                       CAST(len(list_intersect(list_distinct({_TOKS}), {en}))
                            AS BIGINT) AS n_stopwords
                FROM documents
            )
            SELECT doc_id, n_chars_q, n_tokens, n_punct, n_stopwords,
                   n_stopwords / 10.0
                   + CASE WHEN n_chars_q / greatest(n_tokens, 1) >= 3
                           AND n_chars_q / greatest(n_tokens, 1) <= 12
                          THEN 0.5 ELSE 0.0 END
                   - n_punct / greatest(n_chars_q, 1) AS quality
            FROM m
        """,
        "token_counts": f"""
            SELECT doc_id,
                   CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
                   CAST(len(regexp_extract_all(lower(text), '{BPE_SPLIT_REGEX}'))
                        AS BIGINT) AS bpe_tokens
            FROM documents
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           list_transform(str_split(text, ''),
                                          c -> CAST(ascii(c) AS BIGINT))),
                       (a, x) -> (a * 31 + x) % 2147483647
                   ) AS fingerprint
            FROM documents
        """,
        "media_features": """
            SELECT doc_id AS media_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   CAST(ascii(substr(text, 1, 1)) AS INTEGER) AS first_byte,
                   CAST(len(list_filter(
                       list_transform(str_split(text, ''), c -> ascii(c)),
                       x -> x % 16 = 0)) AS BIGINT) AS h0,
                   CAST(len(list_filter(
                       list_transform(str_split(text, ''), c -> ascii(c)),
                       x -> x % 16 = 7)) AS BIGINT) AS h7
            FROM documents
        """,
        "frame_sample": """
            SELECT doc_id AS media_id,
                   unnest(generate_series(0,
                       CAST(least(floor((length(text) - 1) / 64) + 1, 8)
                            AS BIGINT) - 1)) AS frame_idx
            FROM documents
        """,
        "windowed_event_counts": f"""
            SELECT strftime(date_trunc('hour', ts), '{tfmt}') AS window_start,
                   event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM events GROUP BY 1, 2
        """,
        "sessionize_events": f"""
            WITH b AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL THEN 1
                            WHEN ts > lag(ts) OVER w + INTERVAL '30 minutes'
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            s AS (
                SELECT user_id, ts,
                       SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS seq
                FROM b
            )
            SELECT user_id, CAST(seq AS BIGINT) AS session_seq,
                   strftime(MIN(ts), '{tfmt}') AS session_start,
                   strftime(MAX(ts), '{tfmt}') AS session_end,
                   COUNT(*) AS n_events
            FROM s GROUP BY 1, 2
        """,
        "asof_join_events": f"""
            SELECT l.event_id, l.user_id,
                   strftime(l.ts, '{tfmt}') AS ts_s,
                   strftime(r.ts, '{tfmt}') AS matched_ts_s
            FROM (SELECT * FROM events WHERE event_type = 'click') l
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "stream_dedup_events": f"""
            SELECT event_id, user_id, event_type,
                   strftime(ts, '{tfmt}') AS ts_s
            FROM events
        """,
        "user_stats_events": f"""
            SELECT user_id, COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents,
                   strftime(MIN(ts), '{tfmt}') AS first_ts_s,
                   strftime(MAX(ts), '{tfmt}') AS last_ts_s
            FROM events GROUP BY user_id
        """,
        "kmeans_assign": _kmeans_assign_sql(n_clusters=8, iters=2),
        "semantic_dedup_embeddings": _semantic_dedup_sql(
            n_clusters=8, iters=2, threshold=0.45
        ),
        "semantic_index_query": _semantic_index_sql(
            n_clusters=8, iters=2, nprobe=2, threshold=0.40
        ),
        "semantic_decontam_embeddings": """
            WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                       FROM embeddings),
            ev AS (SELECT * FROM v WHERE vec_id % 50 = 0),
            tr AS (SELECT * FROM v WHERE vec_id % 50 <> 0)
            SELECT t.vec_id AS train_id, e.vec_id AS eval_id
            FROM tr t CROSS JOIN ev e
            WHERE list_cosine_similarity(t.e, e.e) >= 0.40
        """,
        "rollup_event_counts": f"""
            SELECT 'hour' AS level,
                   strftime(date_trunc('hour', ts), '{tfmt}') AS bucket_s,
                   event_type, COUNT(*) AS n_events,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS sum_cents
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day',
                   strftime(date_trunc('day', ts), '{tfmt}'),
                   event_type, COUNT(*),
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
            FROM events GROUP BY 2, 3
        """,
        "kmv_distinct_users": """
            WITH h AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
                           ::BIGINT / 4503599627370496.0 AS hh
                FROM events
            ),
            mins AS (
                SELECT event_type, hh,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY hh) AS rn
                FROM h
            ),
            est AS (
                SELECT event_type, COUNT(*) AS n_distinct,
                       MAX(CASE WHEN rn = 32 THEN hh END) AS hk
                FROM mins GROUP BY event_type
            )
            SELECT event_type,
                   CAST(LEAST(n_distinct, 32) AS BIGINT) AS n_hashes,
                   round(CASE WHEN n_distinct < 32
                              THEN CAST(n_distinct AS DOUBLE)
                              ELSE 31.0 / hk END, 4) AS distinct_est
            FROM est
        """,
        "sssp_region_orders": _sssp_region_sql(rounds=8),
        "substring_dup_docs": """
            WITH d AS (
                SELECT doc_id,
                       text || ' verbatim shared span ' ||
                       CAST(CAST(floor(doc_id / 2) AS BIGINT) AS VARCHAR) ||
                       ' closing words here' AS text
                FROM documents
            ),
            h AS (
                SELECT doc_id,
                       list_transform(
                           generate_series(1, greatest(length(text) - 15, 0)),
                           i -> ('0x' || substr(md5(substr(text, i, 16)), 1, 13))
                                    ::BIGINT) AS hs
                FROM d
            ),
            fps AS (
                SELECT DISTINCT doc_id AS id, s.fp AS fp_hash FROM (
                    SELECT doc_id,
                           list_transform(
                               generate_series(1, greatest(len(hs) - 7, 0)),
                               j -> struct_pack(
                                   fp := list_min(list_slice(hs, j, j + 7)))) AS ps
                    FROM h) p0, LATERAL (SELECT unnest(ps) AS s) u
            ),
            kept AS (
                SELECT fp_hash FROM (
                    SELECT fp_hash, COUNT(*) AS df FROM fps GROUP BY fp_hash)
                WHERE df <= 20
            ),
            f2 AS (SELECT id, fp_hash FROM fps JOIN kept USING (fp_hash))
            SELECT x.id AS a, y.id AS b,
                   CAST(COUNT(DISTINCT x.fp_hash) AS BIGINT) AS n_shared
            FROM f2 x JOIN f2 y ON x.fp_hash = y.fp_hash AND x.id < y.id
            GROUP BY x.id, y.id
            HAVING COUNT(DISTINCT x.fp_hash) >= 2
        """,
        "json_props_extract": """
            SELECT event_id, CAST(props->>'$.k' AS INTEGER) AS k
            FROM events
        """,
        "curation_pipeline": f"""
            WITH canon AS (
                SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
            ),
            kept AS (
                SELECT d.* FROM documents d
                JOIN canon USING (doc_id)
            ),
            toks AS (
                SELECT doc_id, list_distinct({_TOKS}) AS t FROM kept
            ),
            lang AS (
                SELECT doc_id,
                       CASE WHEN greatest(s_de, s_en, s_fr) = 0 THEN 'und'
                            WHEN s_de >= s_en AND s_de >= s_fr THEN 'de'
                            WHEN s_en >= s_fr THEN 'en'
                            ELSE 'fr' END AS lang_pred
                FROM (
                    SELECT doc_id,
                           len(list_intersect(t, {en})) AS s_en,
                           len(list_intersect(t, {de})) AS s_de,
                           len(list_intersect(t, {fr})) AS s_fr
                    FROM toks)
            ),
            w AS (
                SELECT doc_id, text,
                       list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '') AS words
                FROM kept
            ),
            gq AS (
                SELECT doc_id, n_words,
                       (n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND symbol_word_ratio < 0.1
                        AND alpha_word_frac > 0.8
                        AND n_required_stopwords >= 2) AS passes_gopher
                FROM (
                    SELECT doc_id,
                           CAST(len(words) AS BIGINT) AS n_words,
                           CAST(list_sum(list_transform(words,
                                    x -> CAST(strlen(x) AS BIGINT)))
                                AS DOUBLE)
                               / greatest(len(words), 1) AS mean_word_len,
                           CAST(len(regexp_extract_all(text, '#|\\.\\.\\.'))
                                AS DOUBLE)
                               / greatest(len(words), 1) AS symbol_word_ratio,
                           CAST(len(list_filter(words,
                                    x -> regexp_matches(x, '[A-Za-z]')))
                                AS DOUBLE)
                               / greatest(len(words), 1) AS alpha_word_frac,
                           CAST(len(list_intersect(
                                    list_distinct(list_transform(words,
                                                                 x -> lower(x))),
                                    ['the','be','to','of','and','that',
                                     'have','with'])) AS BIGINT)
                               AS n_required_stopwords
                    FROM w)
            )
            SELECT l.doc_id, l.lang_pred, g.n_words, g.passes_gopher,
                   (l.lang_pred = 'en' AND g.passes_gopher) AS selected
            FROM lang l JOIN gq g USING (doc_id)
        """,
        "bloom_membership": """
            WITH mem AS (SELECT text FROM documents WHERE doc_id % 10 = 0),
            hs AS (SELECT unnest([0, 1, 2, 3, 4]) AS i),
            pos AS (
                SELECT (('0x' || substr(md5(m.text || ':' || h.i), 1, 8))::BIGINT
                        % 65536) AS p
                FROM mem m, hs h),
            words AS (
                SELECT CAST(floor(p / 32) AS BIGINT) AS word,
                       bit_or(CAST(pow(2.0, p % 32) AS BIGINT)) AS bits
                FROM pos GROUP BY 1),
            probe AS (
                SELECT d.doc_id,
                       (('0x' || substr(md5(d.text || ':' || h.i), 1, 8))::BIGINT
                        % 65536) AS p
                FROM documents d, hs h)
            SELECT pr.doc_id,
                   bool_and(
                       (coalesce(w.bits, 0)
                        & CAST(pow(2.0, pr.p % 32) AS BIGINT)) <> 0
                   ) AS might_contain
            FROM probe pr
            LEFT JOIN words w ON w.word = CAST(floor(pr.p / 32) AS BIGINT)
            GROUP BY pr.doc_id
        """,
        "stratified_sample_docs": f"""
            SELECT doc_id, lang FROM documents
            WHERE CAST('0x' || substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT)
                  < CASE lang
                        WHEN 'en' THEN {int(0.5 * (1 << 32))}
                        WHEN 'de' THEN {int(0.2 * (1 << 32))}
                        ELSE {1 << 32} END
        """,
        "pack_docs_stream": """
            WITH base AS (
                SELECT doc_id, CAST(doc_id % 4 AS BIGINT) AS shard,
                       CAST(n_chars AS BIGINT) AS n
                FROM documents
            ),
            offs AS (
                SELECT doc_id, shard,
                       CAST(SUM(n) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS end_offset,
                       n
                FROM base
            )
            SELECT doc_id, shard,
                   CAST(end_offset - n AS BIGINT) AS start_offset, end_offset,
                   CAST(floor((end_offset - n) / 4096.0) AS BIGINT) AS chunk_start,
                   CAST(floor((end_offset - 1) / 4096.0) AS BIGINT) AS chunk_end
            FROM offs
        """,
        "tfidf_top_terms_docs": f"""
            WITH tc AS (
                SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
                GROUP BY doc_id, t
            ),
            dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY term),
            n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM documents),
            sc AS (
                SELECT doc_id, term, tf, df,
                       tf * ln((SELECT c FROM n) / df) AS tfidf
                FROM tc JOIN dfq USING (term)
            )
            SELECT doc_id, term, tf, df, tfidf, rank FROM (
                SELECT *, CAST(row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term
                ) AS BIGINT) AS rank FROM sc
            ) WHERE rank <= 3
        """,
        "bm25_search_docs": f"""
            WITH tc AS (
                SELECT doc_id AS id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
                FROM (SELECT doc_id, unnest({_TOKS}) AS t FROM documents)
                GROUP BY doc_id, t
            ),
            dl AS (SELECT id, CAST(SUM(tf) AS BIGINT) AS dl FROM tc GROUP BY id),
            avgdl AS (SELECT AVG(dl) AS a FROM dl),
            dfq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tc GROUP BY term),
            n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM documents),
            q(term) AS (VALUES ('batch'), ('merge'), ('window')),
            scored AS (
                SELECT tc.id,
                       SUM(
                           ln(1.0 + ((SELECT c FROM n) - df + 0.5) / (df + 0.5))
                           * (tf * 2.2)
                           / (tf + 1.2 * (0.25 + 0.75 * dl / (SELECT a FROM avgdl)))
                       ) AS score
                FROM tc JOIN q USING (term) JOIN dfq USING (term)
                JOIN dl ON tc.id = dl.id
                GROUP BY tc.id
            )
            SELECT id AS doc_id, score, rank FROM (
                SELECT *, CAST(row_number() OVER (ORDER BY score DESC, id)
                               AS BIGINT) AS rank
                FROM scored
            ) WHERE rank <= 20
        """,
        "media_header_probe": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                        ELSE 'unknown' END AS format,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(100 + doc_id % 500 AS BIGINT) END AS width,
                   CASE WHEN doc_id % 3 = 0
                        THEN CAST(50 + doc_id % 300 AS BIGINT) END AS height,
                   CASE WHEN doc_id % 3 = 1
                        THEN CAST(1 + doc_id % 2 AS BIGINT) END AS channels,
                   CASE WHEN doc_id % 3 = 1
                        THEN CAST(8000 + (doc_id % 5) * 1000 AS BIGINT)
                        END AS sample_rate
            FROM documents
        """,
        "repetition_signals_docs": f"""
            WITH base AS (
                SELECT doc_id, text, {_TOKS} AS t,
                       list_filter(str_split(text, chr(10)), x -> len(x) > 0) AS ls
                FROM documents
            ),
            bg AS (
                SELECT doc_id, t, ls,
                       CASE WHEN len(t) = 0 THEN ['']
                            WHEN len(t) = 1 THEN t
                            ELSE list_transform(range(1, len(t)),
                                                i -> t[i] || '_' || t[i+1])
                       END AS bgs
                FROM base
            ),
            top AS (
                SELECT doc_id, MAX(c) AS top_cnt FROM (
                    SELECT doc_id, b, COUNT(*) AS c
                    FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
                    GROUP BY doc_id, b
                ) GROUP BY doc_id
            )
            SELECT bg.doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CAST(len(list_distinct(ls)) AS BIGINT) AS n_distinct_lines,
                   1.0 - len(list_distinct(ls)) / CAST(greatest(len(ls), 1) AS DOUBLE)
                       AS dup_line_frac,
                   CAST(top_cnt AS BIGINT) AS top_bigram_count,
                   top_cnt / CAST(greatest(len(bgs), 1) AS DOUBLE) AS top_bigram_frac,
                   1.0 - len(list_distinct(t)) / CAST(greatest(len(t), 1) AS DOUBLE)
                       AS dup_token_frac
            FROM bg JOIN top ON bg.doc_id = top.doc_id
        """,
    }


def oracle_sql() -> dict[str, str]:
    base = {
        "cypher_filter_topk": """
            SELECT c_name AS name, n_name AS nation
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > 9000
            ORDER BY name LIMIT 25
        """,
        "cypher_nation_order_stats": """
            SELECT n_name AS nation, COUNT(*) AS n_orders,
                   COUNT(DISTINCT c_custkey) AS n_custs
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE o_totalprice > 100000
            GROUP BY n_name ORDER BY nation
        """,
        "cypher_with_having_expand": """
            WITH nc AS (
                SELECT c_nationkey AS nk, COUNT(*) AS custs
                FROM customer GROUP BY c_nationkey HAVING COUNT(*) > 8
            )
            SELECT r_name AS region, n_name AS nation, custs
            FROM nc
            JOIN nation ON n_nationkey = nk
            JOIN region ON r_regionkey = n_regionkey
            ORDER BY region, nation
        """,
        "label_scan_prop_seek": """
            SELECT c_name AS name FROM customer
            WHERE c_mktsegment = 'BUILDING'
        """,
        "bgp_three_hop": """
            SELECT c_name AS cust, n_name AS nation, r_name AS region
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        """,
        "filter_order_limit": """
            SELECT c_name AS cust, o_totalprice AS total
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_totalprice > 100000
            ORDER BY total DESC, cust LIMIT 50
        """,
        "group_count": """
            SELECT c_mktsegment AS seg, COUNT(*) AS n
            FROM customer GROUP BY 1 ORDER BY 1
        """,
        "count_distinct": """
            SELECT COUNT(DISTINCT c_mktsegment) AS n FROM customer
        """,
        "agg_full": """
            SELECT o_orderstatus AS status, COUNT(*) AS n,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) AS sum_cents,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / COUNT(*) AS avg_cents,
                   MIN(o_totalprice) AS min_total,
                   MAX(o_totalprice) AS max_total
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "optional_left_join": """
            SELECT s_name AS sname, n_name AS nname
            FROM supplier LEFT JOIN nation ON s_nationkey = n_nationkey
            ORDER BY sname
        """,
        "union_names": """
            SELECT r_name AS name FROM region
            UNION ALL
            SELECT n_name AS name FROM nation
        """,
        "not_exists_anti": """
            SELECT c_name AS name FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
            ORDER BY name
        """,
        "exists_semi": """
            SELECT DISTINCT c_name AS name FROM customer
            WHERE c_custkey IN (SELECT o_custkey FROM orders)
            ORDER BY name
        """,
        "distinct_projection": """
            SELECT DISTINCT c_mktsegment AS seg FROM customer ORDER BY 1
        """,
        "dsl_two_hop_group": """
            SELECT n_name AS nation, COUNT(*) AS n
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > 5000 GROUP BY 1
        """,
        "gremlin_match": """
            SELECT DISTINCT
                   'urn:customer:' || CAST(c_custkey AS VARCHAR) AS c,
                   'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS n,
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) AS r
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        """,
        "sql_passthrough": """
            SELECT n_name AS nation, COUNT(*) AS n_suppliers
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            GROUP BY 1 ORDER BY 1
        """,
        "gremlin_repeat_until": """
            SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR) AS start_uri,
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) AS dest_uri
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            UNION ALL
            SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                   'urn:region:' || CAST(n_regionkey AS VARCHAR)
            FROM nation
        """,
        "closure_reachability": """
            WITH RECURSIVE base(child, parent) AS (
                SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR),
                       'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
                UNION ALL
                SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                       'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
                UNION ALL
                SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                       'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
            ), clo(descendant, ancestor) AS (
                SELECT child, parent FROM base
                UNION
                SELECT b.child, c.ancestor FROM base b
                JOIN clo c ON b.parent = c.descendant
            )
            SELECT descendant, ancestor FROM clo
        """,
        # consolidated r13 (VERDICT r12 #2): the three former
        # micro-reasoner sub-oracles (nodes_with_label_inferred /
        # nodes_linked_to_inferred / rels_inferred) UNION ALL'd
        # verbatim under their stage tags, '' fills where the Spark
        # side pads node-only stages
        "inference_suite": """
            SELECT 'label' AS stage,
                   'urn:customer:' || CAST(c_custkey AS VARCHAR) AS a,
                   '' AS b, '' AS c FROM customer
            UNION ALL
            SELECT 'label', 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                   '', '' FROM supplier
            UNION ALL
            SELECT 'linked', 'urn:customer:' || CAST(c_custkey AS VARCHAR),
                   '', ''
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE n_regionkey = 1
            UNION ALL
            SELECT 'linked', 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                   '', ''
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 1
            UNION ALL
            SELECT 'rels', 'urn:customer:' || CAST(c_custkey AS VARCHAR),
                   'IN_NATION',
                   'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
            UNION ALL
            SELECT 'rels', 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                   'IN_NATION',
                   'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
            UNION ALL
            SELECT 'rels', 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                   'IN_REGION',
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
        """,
        "running_window_orders": """
            SELECT o_custkey, o_orderkey,
                   CAST(SUM(cents) OVER w_cum AS BIGINT) AS running_sum_cents,
                   CAST(COUNT(*) OVER w_cum AS BIGINT) AS running_n,
                   AVG(cents) OVER w_mov AS moving_avg
            FROM (
                SELECT o_custkey, o_orderkey, o_orderdate,
                       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                FROM orders
            )
            WINDOW w_cum AS (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS UNBOUNDED PRECEDING),
                   w_mov AS (PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        """,
        "quantiles_order_prices": """
            SELECT o_orderpriority AS priority,
                   quantile_cont(o_totalprice, 0.5) AS p50,
                   quantile_cont(o_totalprice, 0.9) AS p90
            FROM orders GROUP BY 1 ORDER BY 1
        """,
        "topk_orders_per_segment": """
            SELECT seg, okey, total FROM (
                SELECT c_mktsegment AS seg, o_orderkey AS okey,
                       o_totalprice AS total,
                       ROW_NUMBER() OVER (
                           PARTITION BY c_mktsegment
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS rn
                FROM orders JOIN customer ON o_custkey = c_custkey
            ) t WHERE rn <= 3
        """,
    }
    base.update(
        {
            "lineitem_pricing_summary": """
                SELECT l_returnflag AS rf, l_linestatus AS ls, COUNT(*) AS n,
                       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT))
                            AS DOUBLE) AS sum_qty_cents,
                       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                            AS DOUBLE) AS sum_price_cents
                FROM lineitem
                WHERE CAST(l_shipdate AS VARCHAR) <= '2001-06-30 00:00:00'
                GROUP BY 1, 2 ORDER BY 1, 2
            """,
            "lineitem_three_hop_volume": """
                SELECT n_name AS nation, COUNT(*) AS n_items
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                WHERE l_returnflag = 'R'
                GROUP BY 1 ORDER BY 1
            """,
            "sparql_bind": """
                SELECT cust, tax FROM (
                    SELECT c_name AS cust, o_totalprice * 0.1 AS tax
                    FROM orders JOIN customer ON o_custkey = c_custkey
                ) t WHERE tax > 15000
                ORDER BY tax DESC, cust LIMIT 25
            """,
            "sparql_values": """
                SELECT c_name AS name, c_mktsegment AS seg FROM customer
                WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
                ORDER BY name
            """,
            "sparql_minus": """
                SELECT c_name AS name FROM customer
                WHERE c_mktsegment <> 'BUILDING'
                ORDER BY name
            """,
            # consolidated r13 (VERDICT r12 #2): the four former
            # path_* sub-oracles UNION ALL'd verbatim under their
            # stage tags — every value still individually hashed
            "sparql_path_suite": """
                SELECT 'seq' AS stage, c_name AS a, r_name AS b FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                UNION ALL
                SELECT 'inv_alt', n_name, member FROM (
                  SELECT n_name, 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS member
                  FROM customer JOIN nation ON c_nationkey = n_nationkey
                  UNION ALL
                  SELECT n_name, 'urn:supplier:' || CAST(s_suppkey AS VARCHAR)
                  FROM supplier JOIN nation ON s_nationkey = n_nationkey
                )
                UNION ALL
                SELECT 'plus', child, parent FROM (
                  WITH RECURSIVE base(child, parent) AS (
                      SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR),
                             'urn:nation:' || CAST(c_nationkey AS VARCHAR) FROM customer
                      UNION ALL
                      SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                             'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
                      UNION ALL
                      SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                             'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
                  ), clo(child, parent) AS (
                      SELECT child, parent FROM base
                      UNION
                      SELECT b.child, c.parent FROM base b JOIN clo c ON b.parent = c.child
                  )
                  SELECT child, parent FROM clo
                )
                UNION ALL
                SELECT 'opt', u, u
                FROM (SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS u FROM nation)
                UNION ALL
                SELECT 'opt', 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                       'urn:region:' || CAST(n_regionkey AS VARCHAR)
                FROM nation
            """,
            "subselect_nation_order_counts": """
                SELECT n_name AS nation, COUNT(*) AS n
                FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY n_name ORDER BY n DESC, nation
            """,
            "group_concat_nations": """
                SELECT r_name AS region,
                       string_agg(DISTINCT n_name, ', ' ORDER BY n_name) AS nations
                FROM nation JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name ORDER BY region
            """,
            "connected_components_regions": """
                SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS node_uri,
                       'urn:region:' || CAST(n_regionkey AS VARCHAR) AS component_uri
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                UNION ALL
                SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                       'urn:region:' || CAST(n_regionkey AS VARCHAR)
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                UNION ALL
                SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                       'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
                UNION ALL
                SELECT 'urn:region:' || CAST(r_regionkey AS VARCHAR),
                       'urn:region:' || CAST(r_regionkey AS VARCHAR) FROM region
            """,
            "pagerank_containment": _pagerank_sql(10, 0.85),
            "ppr_region_seeds": _ppr_sql(10, 0.85),
            "bfs_hops_containment": """
                SELECT 'urn:region:1' AS node_uri, CAST(0 AS BIGINT) AS hops
                UNION ALL
                SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR), 1
                FROM nation WHERE n_regionkey = 1
                UNION ALL
                SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), 2
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                WHERE n_regionkey = 1
                UNION ALL
                SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR), 2
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                WHERE n_regionkey = 1
            """,
            "triangle_count_dups": f"""
                WITH e AS (
                    SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v
                    FROM ({_jaccard_pairs_sql(0.8)}) jp
                ),
                tri AS (
                    SELECT e1.u AS x, e1.v AS y, e2.v AS z
                    FROM e e1
                    JOIN e e2 ON e1.v = e2.u
                    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
                )
                SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
                FROM (
                    SELECT unnest([x, y, z]) AS node FROM tri
                ) GROUP BY node
            """,
            "near_dup_doc_clusters": f"""
                WITH RECURSIVE pr AS (
                    SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp
                ),
                sym(u, v) AS (
                    SELECT a, b FROM pr UNION SELECT b, a FROM pr
                ),
                reach(u, v) AS (
                    SELECT u, v FROM sym
                    UNION
                    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
                    WHERE s.v <> r.u
                )
                SELECT u AS id, LEAST(u, MIN(v)) AS cluster
                FROM reach GROUP BY u
                UNION ALL
                SELECT doc_id, doc_id FROM documents
                WHERE doc_id NOT IN (SELECT u FROM sym)
            """,
            "ask_exists": """
                SELECT COUNT(*) > 0 AS ask
                FROM customer JOIN orders ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 100000
            """,
            "construct_derived_edges": """
                SELECT DISTINCT
                       'urn:customer:' || CAST(c_custkey AS VARCHAR) AS subject,
                       'IN_REGION' AS predicate,
                       'urn:region:' || CAST(n_regionkey AS VARCHAR) AS object,
                       FALSE AS is_literal
                FROM customer JOIN nation ON c_nationkey = n_nationkey
            """,
        }
    )
    base.update(_scale_extension_oracles())
    # identical output contract (component = min reachable node id),
    # so the star variant shares the propagation variant's oracle
    base["connected_components_star"] = base["connected_components_regions"]
    # -- second late-r8 additions (past the r8 window; r9 pulls them in)
    base["cypher_count_subquery"] = """
        SELECT n_name AS nation,
               (SELECT COUNT(*) FROM customer
                WHERE c_nationkey = n_nationkey) AS custs
        FROM nation
        WHERE EXISTS (SELECT 1 FROM supplier WHERE s_nationkey = n_nationkey)
        ORDER BY n_name
    """
    base["cypher_named_path_stats"] = """
        SELECT r_name AS region, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(2 AS BIGINT) AS plen
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """
    base["kcore_dup_graph"] = _kcore_sql(2, 10)
    # max_k=6 unrolls stages for degeneracy <= 5 — 2.5x the sf0.01
    # graph's observed degeneracy of 2, so a fixture regeneration has
    # real margin before the documented loud row-mismatch fires
    base["core_numbers_dup_graph"] = _core_numbers_sql(6, 10)
    base["eigenvector_containment"] = _eig_sql(20)
    base["assortativity_containment"] = """
        WITH ed AS MATERIALIZED (
            SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR) AS s,
                   'urn:nation:' || CAST(c_nationkey AS VARCHAR) AS d
            FROM customer
            UNION ALL
            SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR),
                   'urn:nation:' || CAST(s_nationkey AS VARCHAR) FROM supplier
            UNION ALL
            SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR),
                   'urn:region:' || CAST(n_regionkey AS VARCHAR) FROM nation
        ),
        e AS MATERIALIZED (
            SELECT DISTINCT LEAST(s, d) AS u, GREATEST(s, d) AS v
            FROM ed WHERE s <> d
        ),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS DOUBLE) AS deg FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e
            ) GROUP BY node
        ),
        sym2 AS MATERIALIZED (
            SELECT u, v FROM e UNION ALL SELECT v, u FROM e
        ),
        scored AS MATERIALIZED (
            SELECT du.deg AS du, dv.deg AS dv
            FROM sym2 JOIN deg du ON du.node = sym2.u
                      JOIN deg dv ON dv.node = sym2.v
        )
        SELECT CAST(COUNT(*) / 2 AS BIGINT) AS n_edges,
               CAST(FLOOR(
                   CASE WHEN stddev_pop(du) > 0 AND stddev_pop(dv) > 0
                        THEN covar_pop(du, dv)
                             / (stddev_pop(du) * stddev_pop(dv))
                   END * 1e6) AS BIGINT) AS assort_bucket
        FROM scored
    """
    base["local_clustering_dups"] = f"""
        WITH e AS MATERIALIZED (
            SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
            FROM ({_jaccard_pairs_sql(0.8)}) jp WHERE a <> b
        ),
        tri AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
                SELECT unnest([e1.u, e1.v, e2.v]) AS node
                FROM e e1
                JOIN e e2 ON e1.v = e2.u
                JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            ) GROUP BY node
        ),
        deg AS MATERIALIZED (
            SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e
            ) GROUP BY node
        )
        SELECT d.node,
               COALESCE(t.triangles, 0) AS triangles,
               d.degree,
               CASE WHEN d.degree >= 2
                    THEN 2.0 * COALESCE(t.triangles, 0)
                         / (d.degree * (d.degree - 1))
                    ELSE 0.0 END AS lcc
        FROM deg d LEFT JOIN tri t ON t.node = d.node
    """
    base["label_prop_dup_communities"] = _lpa_sql(5)
    base["louvain_dup_communities"] = _louvain_sql(levels=2, n_rounds=6)
    # -- r11 composites (VERDICT r10 #1): each consolidates sibling
    #    entries into one frame; the sub-oracles are reused VERBATIM
    #    (popped out of the per-entry registry and wrapped), so the
    #    per-operator replay logic is unchanged — only the packaging.
    base["ann_faiss_stack"] = f"""
        SELECT 'ivf_exact' AS stage, query_id AS key_id,
               "rank" AS pos, neighbor_id AS value_id
        FROM ({base.pop("ivf_topk_exact")})
        UNION ALL
        SELECT 'ivf_probe2', query_id, "rank", neighbor_id
        FROM ({base.pop("ivf_topk_probe2")})
        UNION ALL
        SELECT 'ivf_indexed', query_id, "rank", neighbor_id
        FROM ({base.pop("ivf_topk_indexed")})
        UNION ALL
        SELECT 'pq_codes', vec_id, subspace, code
        FROM ({base.pop("pq_codes")})
        UNION ALL
        SELECT 'pq_adc', query_id, "rank", neighbor_id
        FROM ({base.pop("pq_topk_adc")})
        UNION ALL
        SELECT 'ivfpq', query_id, "rank", neighbor_id
        FROM ({base.pop("ivfpq_topk")})
    """
    base["text_metrics_suite"] = f"""
        SELECT l.doc_id, l.lang_pred, q.n_chars_q, q.n_tokens, q.n_punct,
               q.n_stopwords, q.quality, t.ws_tokens, t.bpe_tokens
        FROM ({base.pop("lang_id")}) l
        JOIN ({base.pop("text_quality")}) q ON q.doc_id = l.doc_id
        JOIN ({base.pop("token_counts")}) t ON t.doc_id = l.doc_id
    """
    base["event_stream_suite"] = f"""
        SELECT 'windowed' AS stage, event_type AS key_s, '' AS sub_s,
               window_start AS ts1_s, '' AS ts2_s,
               CAST(n_events AS BIGINT) AS n, CAST(sum_cents AS BIGINT) AS v
        FROM ({base.pop("windowed_event_counts")})
        UNION ALL
        SELECT 'sessionize', CAST(user_id AS VARCHAR), '',
               session_start, session_end,
               CAST(n_events AS BIGINT), CAST(session_seq AS BIGINT)
        FROM ({base.pop("sessionize_events")})
        UNION ALL
        SELECT 'dedup', CAST(user_id AS VARCHAR), event_type,
               ts_s, '', CAST(-1 AS BIGINT), CAST(event_id AS BIGINT)
        FROM ({base.pop("stream_dedup_events")})
    """
    base["scc_event_transitions"] = """
        WITH RECURSIVE seq AS MATERIALIZED (
            SELECT event_type,
                   LAG(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
        ),
        e AS MATERIALIZED (
            SELECT DISTINCT prev AS src, event_type AS dst
            FROM seq WHERE prev IS NOT NULL AND prev <> event_type
        ),
        nodes AS MATERIALIZED (
            SELECT src AS node FROM e UNION SELECT dst FROM e
        ),
        reach(u, v) AS (
            SELECT src, dst FROM e
            UNION
            SELECT r.u, e.dst FROM reach r JOIN e ON e.src = r.v
        ),
        mutual AS MATERIALIZED (
            SELECT a.u, a.v FROM reach a
            JOIN reach b ON b.u = a.v AND b.v = a.u
        )
        SELECT n.node AS node,
               LEAST(n.node, COALESCE(MIN(m.v), n.node)) AS component
        FROM nodes n LEFT JOIN mutual m ON m.u = n.node
        GROUP BY n.node
    """
    base["cypher_patcomp_nation_rich"] = """
        SELECT n_name AS nation,
               CAST((SELECT COUNT(*) FROM customer
                     WHERE c_nationkey = n_nationkey
                       AND c_acctbal > 5000) AS INTEGER) AS n_rich
        FROM nation ORDER BY n_name
    """
    base["closeness_containment"] = """
        WITH nat AS (SELECT n_regionkey AS rk, COUNT(*) AS c
                     FROM nation GROUP BY 1),
        cus AS (SELECT n_regionkey AS rk, COUNT(*) AS c
                FROM customer JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1),
        sup AS (SELECT n_regionkey AS rk, COUNT(*) AS c
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                GROUP BY 1),
        ord AS (SELECT n_regionkey AS rk, COUNT(*) AS c
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1)
        SELECT 'urn:region:' || r_regionkey AS node_uri,
               COALESCE(nat.c, 0) + COALESCE(cus.c, 0)
                 + COALESCE(sup.c, 0) + COALESCE(ord.c, 0) AS n_reached,
               COALESCE(nat.c, 0)
                 + 2 * (COALESCE(cus.c, 0) + COALESCE(sup.c, 0))
                 + 3 * COALESCE(ord.c, 0) AS sum_hops,
               CAST(COALESCE(nat.c, 0) + COALESCE(cus.c, 0)
                    + COALESCE(sup.c, 0) + COALESCE(ord.c, 0) AS DOUBLE)
                 / (COALESCE(nat.c, 0)
                    + 2 * (COALESCE(cus.c, 0) + COALESCE(sup.c, 0))
                    + 3 * COALESCE(ord.c, 0)) AS closeness
        FROM region
        LEFT JOIN nat ON nat.rk = r_regionkey
        LEFT JOIN cus ON cus.rk = r_regionkey
        LEFT JOIN sup ON sup.rk = r_regionkey
        LEFT JOIN ord ON ord.rk = r_regionkey
    """
    base["betweenness_containment"] = """
        WITH opc AS (SELECT o_custkey AS ck, COUNT(*) AS c
                     FROM orders GROUP BY 1),
        cpn AS (SELECT c_nationkey AS nk, COUNT(*) AS c
                FROM customer GROUP BY 1),
        spn AS (SELECT s_nationkey AS nk, COUNT(*) AS c
                FROM supplier GROUP BY 1),
        opn AS (SELECT c_nationkey AS nk, COUNT(*) AS c
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1)
        SELECT 'urn:nation:' || n_nationkey AS node_uri,
               CAST(COALESCE(cpn.c, 0) + COALESCE(spn.c, 0)
                    + COALESCE(opn.c, 0) AS DOUBLE) AS betweenness
        FROM nation
        LEFT JOIN cpn ON cpn.nk = n_nationkey
        LEFT JOIN spn ON spn.nk = n_nationkey
        LEFT JOIN opn ON opn.nk = n_nationkey
        UNION ALL
        SELECT 'urn:customer:' || c_custkey,
               CAST(COALESCE(opc.c, 0) AS DOUBLE)
        FROM customer LEFT JOIN opc ON opc.ck = c_custkey
        UNION ALL
        SELECT 'urn:supplier:' || s_suppkey, 0.0 FROM supplier
        UNION ALL
        SELECT 'urn:orders:' || o_orderkey, 0.0 FROM orders
        UNION ALL
        SELECT 'urn:region:' || r_regionkey, 0.0 FROM region
    """
    base["node_similarity_event_types"] = """
        WITH tu AS (SELECT DISTINCT event_type AS t, user_id AS u
                    FROM events),
        deg AS (SELECT t, COUNT(*) AS d FROM tu GROUP BY t),
        common AS (
            SELECT x.t AS a, y.t AS b, COUNT(*) AS n_common
            FROM tu x JOIN tu y ON x.u = y.u AND x.t < y.t
            GROUP BY 1, 2
        )
        SELECT a, b, n_common,
               CAST(n_common AS DOUBLE) / (da.d + db.d - n_common) AS jaccard
        FROM common
        JOIN deg da ON da.t = a
        JOIN deg db ON db.t = b
    """
    base["mixture_budget_sample"] = """
        WITH avail AS (
            SELECT source, SUM(n_chars) AS a FROM documents GROUP BY source
        ),
        nsrc AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM avail),
        r AS (
            SELECT source, a,
                   (300000.0 * (1.0 / nsrc.n)) / a AS rate
            FROM avail, nsrc
        ),
        e AS (
            SELECT source, CAST(FLOOR(rate) AS INTEGER) AS nf,
                   rate - FLOOR(rate) AS frac
            FROM r
        ),
        expanded AS (
            SELECT d.doc_id, d.source, ep.epoch, e.nf, e.frac
            FROM documents d
            JOIN e USING (source),
            LATERAL UNNEST(generate_series(0, e.nf)) AS ep(epoch)
        )
        SELECT doc_id, source, CAST(epoch AS INTEGER) AS epoch
        FROM expanded
        WHERE epoch < nf
           OR CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                       || CAST(epoch AS VARCHAR)), 1, 13))
                   AS BIGINT) / 4503599627370496.0 < frac
    """
    base["interval_join_events"] = """
        SELECT v.event_id AS view_id, p.event_id AS purchase_id
        FROM events v JOIN events p ON v.user_id = p.user_id
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
          AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    """
    base["cms_user_counts"] = """
        WITH sk AS (
            SELECT d,
                   ('0x' || substr(md5(user_id::VARCHAR || ':' || d), 1, 13))
                       ::BIGINT % 256 AS bucket,
                   COUNT(*) AS cnt
            FROM events, UNNEST([0, 1, 2, 3]) u(d)
            GROUP BY 1, 2
        ),
        probes AS (
            SELECT DISTINCT user_id FROM events
        ),
        keyed AS (
            SELECT user_id, d,
                   ('0x' || substr(md5(user_id::VARCHAR || ':' || d), 1, 13))
                       ::BIGINT % 256 AS bucket
            FROM probes, UNNEST([0, 1, 2, 3]) u(d)
        )
        SELECT k.user_id, MIN(COALESCE(sk.cnt, 0)) AS est
        FROM keyed k
        LEFT JOIN sk ON sk.d = k.d AND sk.bucket = k.bucket
        GROUP BY k.user_id
    """
    base["hits_containment"] = _hits_sql(10)
    base["sequence_detect_events"] = """
        WITH w AS (
            SELECT user_id, ts, event_type, event_id,
                   LEAD(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS t1,
                   LEAD(ts, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS ts1,
                   LEAD(event_id, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS id1
            FROM events
        )
        SELECT user_id, ts AS start_ts, ts1 AS end_ts,
               event_id AS id_0, id1 AS id_1
        FROM w
        WHERE event_type = 'view' AND t1 = 'purchase'
          AND ts1 <= ts + INTERVAL 30 MINUTE
    """
    base["profile_orders_table"] = """
        SELECT 'o_orderkey' AS column, COUNT(*) AS n_rows,
               COUNT(*) - COUNT(o_orderkey) AS n_null,
               COUNT(DISTINCT o_orderkey) AS n_distinct FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey),
               COUNT(DISTINCT o_custkey) FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
               COUNT(DISTINCT o_orderstatus) FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
               COUNT(DISTINCT o_totalprice) FROM orders
    """
    # -- r9 consolidated Cypher-surface entries ------------------------
    base["cypher_shortest_path"] = """
        SELECT 'urn:nation:' || CAST(n_nationkey AS VARCHAR) AS node_uri,
               CAST(1 AS BIGINT) AS hops
        FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        UNION ALL
        SELECT 'urn:customer:' || CAST(c_custkey AS VARCHAR), 2
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
        UNION ALL
        SELECT 'urn:supplier:' || CAST(s_suppkey AS VARCHAR), 2
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
    """
    base["cypher_regex_collect"] = """
        SELECT n_name AS nation,
               array_to_string(list(DISTINCT c_mktsegment
                                    ORDER BY c_mktsegment), '|') AS segments,
               COUNT(*) AS custs
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE regexp_full_match(n_name, 'NATION_1[0-9]')
        GROUP BY n_name
    """
    base["cypher_list_library"] = """
        SELECT x,
               array_to_string(list_transform(
                   list_filter(range(1, x + 1), y -> x % y = 0),
                   y -> CAST(y AS VARCHAR)), ',') AS divisors,
               CAST(x * (x + 1) / 2 AS BIGINT) AS tri,
               len(list_filter(range(1, x + 1), y -> y * y = x)) > 0
                   AS has_sqrt
        FROM generate_series(1, 12) g(x)
        WHERE x % 3 <> 0
    """
    base["cypher_union_stats"] = """
        SELECT 'cust' AS kind, n_name AS grp,
               ROUND(STDDEV_SAMP(c_acctbal), 1) AS sd,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c_acctbal) AS med
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        UNION ALL
        SELECT 'supp', n_name,
               ROUND(STDDEV_SAMP(s_acctbal), 1),
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY s_acctbal)
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        GROUP BY n_name
    """
    base["shuffle_shard_docs"] = """
        WITH h AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5('shuffle:'
                        || CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS hv
            FROM documents
        )
        SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1
                   AS BIGINT) AS seq
        FROM h
    """
    base["simhash_index_query"] = _simhash_index_sql(60, 3)

    def _spread(col: str) -> str:
        x = f"({col} & 4294967295)"
        for sh, mask in [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]:
            x = f"(({x} | ({x} << {sh})) & {mask})"
        return x

    base["zorder_events_key"] = f"""
        SELECT event_id,
               ({_spread('user_id')} | ({_spread('event_id')} << 1)) AS z
        FROM events
    """
    base["ktruss_dup_graph"] = _ktruss_sql(3, 8)
    base["blocklist_filter_docs"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               CAST(len(list_filter(toks,
                    x -> list_contains(['0', 'shard', 'the'], x)))
                    AS BIGINT) AS n_blocked,
               len(list_filter(toks,
                    x -> list_contains(['0', 'shard', 'the'], x)))
                   / CAST(greatest(len(toks), 1) AS DOUBLE) AS blocked_frac,
               len(list_filter(toks,
                    x -> list_contains(['0', 'shard', 'the'], x)))
                   / CAST(greatest(len(toks), 1) AS DOUBLE) <= 0.05
                   AS blocklist_ok
        FROM t
    """
    base["jl_project_embeddings"] = """
        WITH m AS (
            SELECT i.i, j.j,
                   CASE CAST(('0x' || substr(md5('jl:' || CAST(i.i AS VARCHAR)
                             || ':' || CAST(j.j AS VARCHAR)), 1, 13))
                             AS BIGINT) % 6
                        WHEN 0 THEN sqrt(3.0 / 16)
                        WHEN 1 THEN -sqrt(3.0 / 16)
                        ELSE 0.0 END AS v
            FROM generate_series(0, 15) i(i), generate_series(0, 63) j(j)
        ),
        e AS (
            SELECT vec_id, j.j,
                   CAST(embedding[j.j + 1] AS DOUBLE) AS x
            FROM embeddings, generate_series(0, 63) j(j)
        )
        SELECT e.vec_id, m.i AS dim, ROUND(SUM(m.v * e.x), 6) AS val
        FROM e JOIN m ON m.j = e.j
        GROUP BY e.vec_id, m.i
    """
    walk_steps = []
    for s in (1, 2, 3):
        walk_steps.append(f"""
        w{s} AS (
            SELECT f.start, f.walk, r.nbr AS node
            FROM w{s - 1} f
            JOIN deg d ON d.cur = f.node
            JOIN rk r ON r.cur = f.node
             AND r.rk = CAST(('0x' || substr(md5('walk:'
                     || CAST(f.start AS VARCHAR) || ':'
                     || CAST(f.walk AS VARCHAR) || ':{s}'), 1, 13))
                     AS BIGINT) % d.deg + 1
        )""")
    base["random_walks_containment"] = f"""
        WITH raw AS (
            SELECT n_nationkey + 100 AS src,
                   CAST(n_regionkey AS BIGINT) AS dst FROM nation
            UNION ALL
            SELECT c_custkey + 10000, c_nationkey + 100 FROM customer
            UNION ALL
            SELECT s_suppkey + 20000, s_nationkey + 100 FROM supplier
        ),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM raw UNION ALL SELECT dst, src FROM raw
            ) WHERE src <> dst
        ),
        rk AS (
            SELECT src AS cur, dst AS nbr,
                   ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) AS rk
            FROM sym
        ),
        deg AS (SELECT cur, MAX(rk) AS deg FROM rk GROUP BY cur),
        nodes AS (
            SELECT DISTINCT src AS node FROM sym
            UNION SELECT DISTINCT dst FROM sym
        ),
        w0 AS (
            SELECT node AS start, w.walk, node
            FROM nodes, (SELECT 0 AS walk UNION ALL SELECT 1) w
        ),{",".join(walk_steps)}
        SELECT start, walk, CAST(0 AS INTEGER) AS step, node FROM w0
        UNION ALL
        SELECT start, walk, 1, node FROM w1
        UNION ALL
        SELECT start, walk, 2, node FROM w2
        UNION ALL
        SELECT start, walk, 3, node FROM w3
    """
    base["skipgram_pairs_walks"] = f"""
        WITH walks AS ({base['random_walks_containment']}),
        t1 AS (SELECT start, walk, node AS center, 1 AS off,
                      lead(node, 1) OVER (PARTITION BY start, walk
                                          ORDER BY step) AS ctx
               FROM walks),
        t2 AS (SELECT start, walk, node AS center, 2 AS off,
                      lead(node, 2) OVER (PARTITION BY start, walk
                                          ORDER BY step) AS ctx
               FROM walks),
        tap AS (SELECT * FROM t1 UNION ALL SELECT * FROM t2),
        flt AS (SELECT * FROM tap WHERE ctx IS NOT NULL)
        SELECT start, walk, center, ctx AS context, off AS offset FROM flt
        UNION ALL
        SELECT start, walk, ctx, center, -off FROM flt
    """
    base["leakage_free_split_docs"] = f"""
        WITH RECURSIVE pr AS (
            SELECT a, b FROM ({_jaccard_pairs_sql(0.8)}) jp
        ),
        sym(u, v) AS (
            SELECT a, b FROM pr UNION SELECT b, a FROM pr
        ),
        reach(u, v) AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
            WHERE s.v <> r.u
        ),
        comp AS (
            SELECT u AS doc_id, LEAST(u, MIN(v)) AS grp
            FROM reach GROUP BY u
        ),
        g AS (
            SELECT d.doc_id, COALESCE(c.grp, d.doc_id) AS split_group
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        )
        SELECT doc_id, split_group,
               CASE WHEN CAST(('0x' || substr(md5('split'
                        || CAST(split_group AS VARCHAR)), 1, 8)) AS BIGINT)
                         < {int(0.25 * (1 << 32))}
                    THEN 'val' ELSE 'train' END AS split
        FROM g
    """
    base["funnel_events"] = """
        WITH anchor AS (
            SELECT user_id, MIN(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        s1 AS (
            SELECT a.user_id, a.t1, MIN(e.ts) AS t2
            FROM anchor a JOIN events e
              ON e.user_id = a.user_id AND e.event_type = 'click'
             AND e.ts >= a.t1 AND e.ts <= a.t1 + INTERVAL 2 HOUR
            GROUP BY a.user_id, a.t1
        ),
        s2 AS (
            SELECT s.user_id, MIN(e.ts) AS t3
            FROM s1 s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'purchase'
             AND e.ts >= s.t2 AND e.ts <= s.t1 + INTERVAL 2 HOUR
            GROUP BY s.user_id
        ),
        c AS (
            SELECT (SELECT COUNT(*) FROM anchor) AS n0,
                   (SELECT COUNT(*) FROM s1) AS n1,
                   (SELECT COUNT(*) FROM s2) AS n2
        )
        SELECT 0 AS step_idx, 'view' AS step, n0 AS n_converted,
               CASE WHEN n0 > 0 THEN 1.0 ELSE 0.0 END AS conversion FROM c
        UNION ALL
        SELECT 1, 'click', n1,
               CASE WHEN n0 > 0 THEN n1 / CAST(n0 AS DOUBLE) ELSE 0.0 END
        FROM c
        UNION ALL
        SELECT 2, 'purchase', n2,
               CASE WHEN n0 > 0 THEN n2 / CAST(n0 AS DOUBLE) ELSE 0.0 END
        FROM c
    """
    base["constraints_orders"] = """
        WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM orders)
        SELECT 'not_null' AS rule, 'o_custkey' AS column,
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_violations,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                   / (SELECT total FROM n) AS frac_violations
        FROM orders
        UNION ALL
        SELECT 'range', 'o_totalprice',
               CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                              AND (o_totalprice < 0 OR o_totalprice > 100000)
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN o_totalprice IS NOT NULL
                         AND (o_totalprice < 0 OR o_totalprice > 100000)
                        THEN 1 ELSE 0 END) / (SELECT total FROM n)
        FROM orders
        UNION ALL
        SELECT 'in_set', 'o_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                              AND o_orderstatus NOT IN ('F', 'O', 'P')
                             THEN 1 ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN o_orderstatus IS NOT NULL
                         AND o_orderstatus NOT IN ('F', 'O', 'P')
                        THEN 1 ELSE 0 END) / (SELECT total FROM n)
        FROM orders
        UNION ALL
        SELECT 'unique', 'o_orderkey',
               CAST(COALESCE(SUM(c - 1), 0) AS BIGINT),
               COALESCE(SUM(c - 1), 0) / CAST(SUM(c) AS DOUBLE)
        FROM (SELECT COUNT(*) AS c FROM orders
              WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
        UNION ALL
        SELECT 'fk', 'o_custkey',
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                   / CAST(COUNT(*) AS DOUBLE)
        FROM (SELECT o_custkey, c_custkey
              FROM orders LEFT JOIN customer ON o_custkey = c_custkey
              WHERE o_custkey IS NOT NULL)
    """
    base["corpus_diff_snapshots"] = """
        SELECT doc_id, 'removed' AS change FROM documents
        WHERE doc_id % 5 <> 4 AND doc_id % 7 = 0
        UNION ALL
        SELECT doc_id, 'added' FROM documents
        WHERE doc_id % 5 = 4 AND doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, 'changed' FROM documents
        WHERE doc_id % 5 <> 4 AND doc_id % 7 <> 0 AND doc_id % 11 = 0
    """
    base["cohort_retention_events"] = """
        WITH peru AS (SELECT user_id,
                             min(CAST(date_trunc('day', ts) AS DATE)) AS cohort
                      FROM events GROUP BY user_id),
             act AS (SELECT DISTINCT user_id,
                            CAST(date_trunc('day', ts) AS DATE) AS p
                     FROM events),
             j AS (SELECT p.cohort,
                          CAST(datediff('day', p.cohort, a.p) AS INT)
                              AS period_offset,
                          count(*) AS n_active
                   FROM act a JOIN peru p USING(user_id) GROUP BY 1, 2)
        SELECT j.cohort, j.period_offset, j.n_active,
               round(j.n_active / CAST(z.n_active AS DOUBLE), 6) AS retention
        FROM j JOIN j z ON z.cohort = j.cohort AND z.period_offset = 0
    """
    base["skew_report_lineitem"] = """
        WITH c AS (SELECT CAST(l_suppkey AS VARCHAR) AS key,
                          count(*) AS cnt
                   FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
             t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
                          count(*) AS n_distinct FROM c),
             tk AS (SELECT key, cnt,
                           CAST(row_number() OVER (ORDER BY cnt DESC, key)
                                AS INT) AS rank
                    FROM c ORDER BY cnt DESC, key LIMIT 10),
             pk AS (SELECT key, cnt, rank,
                           round(cnt / CAST(n_rows AS DOUBLE), 6) AS share,
                           round(CAST(sum(cnt) OVER (ORDER BY rank) AS BIGINT)
                                 / CAST(n_rows AS DOUBLE), 6)
                               AS running_share,
                           n_rows, n_distinct,
                           round(n_rows / CAST(n_distinct AS DOUBLE), 6)
                               AS avg_per_key,
                           round(CAST(cnt AS DOUBLE) * n_distinct / n_rows, 6)
                               AS skew_ratio
                    FROM tk, t)
        SELECT * FROM pk
        UNION ALL
        SELECT NULL, NULL, NULL,
               max(CASE WHEN rank = 1 THEN share END),
               max(running_share), max(n_rows), max(n_distinct),
               max(avg_per_key),
               max(CASE WHEN rank = 1 THEN skew_ratio END)
        FROM pk
    """
    base["quantile_band_orders"] = """
        WITH r AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   CAST(rank() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice) - 1
                        AS DOUBLE)
                     / count(*) OVER (PARTITION BY o_orderpriority)
                     AS lo,
                   cume_dist() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice) AS hi
            FROM orders WHERE o_totalprice IS NOT NULL
        )
        SELECT o_orderkey, o_orderpriority, o_totalprice
        FROM r WHERE lo <= 0.9 AND hi >= 0.1
    """
    base["weighted_sample_docs"] = """
        WITH s AS (
            SELECT doc_id, n_chars,
                   -ln((CAST(('0x' || substr(md5('wsample:'
                              || CAST(doc_id AS VARCHAR)), 1, 13))
                        AS BIGINT) + 1) / 4503599627370497.0)
                   / CAST(n_chars AS DOUBLE) AS score
            FROM documents
            WHERE n_chars IS NOT NULL AND n_chars > 0
        )
        SELECT doc_id, n_chars, round(score, 6) AS sample_score
        FROM s ORDER BY round(score, 9), doc_id LIMIT 40
    """
    base["modularity_regions"] = """
        WITH e AS (
            SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
            FROM (
                SELECT n_nationkey + 100 AS src,
                       CAST(n_regionkey AS BIGINT) AS dst FROM nation
                UNION ALL
                SELECT c_custkey + 10000, c_nationkey + 100 FROM customer
                UNION ALL
                SELECT s_suppkey + 20000, s_nationkey + 100 FROM supplier
            ) WHERE src <> dst
        ),
        mm AS (SELECT count(*) AS m FROM e),
        asg AS (
            SELECT n_nationkey + 100 AS node,
                   CAST(n_regionkey AS BIGINT) AS community FROM nation
            UNION ALL
            SELECT c_custkey + 10000, CAST(n_regionkey AS BIGINT)
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT s_suppkey + 20000, CAST(n_regionkey AS BIGINT)
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            UNION ALL
            SELECT CAST(r_regionkey AS BIGINT),
                   CAST(r_regionkey AS BIGINT) FROM region
        ),
        intra AS (
            SELECT a1.community, count(*) AS e_c
            FROM e JOIN asg a1 ON a1.node = e.u
                   JOIN asg a2 ON a2.node = e.v
            WHERE a1.community = a2.community GROUP BY 1
        ),
        deg AS (
            SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e UNION ALL SELECT v FROM e
            ) GROUP BY node
        ),
        dsum AS (
            SELECT community, sum(deg) AS d_c
            FROM deg JOIN asg USING (node) GROUP BY 1
        )
        SELECT dsum.community, coalesce(e_c, 0) AS e_c,
               CAST(d_c AS BIGINT) AS d_c, mm.m AS m,
               CAST(4 * mm.m * coalesce(e_c, 0) - d_c * d_c
                    AS BIGINT) AS q_num
        FROM dsum LEFT JOIN intra USING (community) CROSS JOIN mm
    """
    base["heavy_hitter_tokens"] = r"""
        WITH t AS (SELECT unnest(string_split_regex(text, '\s+')) AS tok
                   FROM documents),
             c AS (SELECT tok, count(*) AS cnt FROM t
                   WHERE len(tok) > 0 GROUP BY tok),
             n AS (SELECT count(*) AS n FROM t WHERE len(tok) > 0)
        SELECT tok, cnt, cnt > n / 65.0 AS guaranteed
        FROM c, n
        ORDER BY cnt DESC, tok LIMIT 25
    """
    base["cypher_collect_subquery"] = """
        SELECT n_name AS nation,
               (SELECT count(*) FROM customer
                WHERE c_nationkey = n_nationkey
                  AND c_acctbal > 5000) AS n_rich,
               coalesce((SELECT string_agg(s_name, ',' ORDER BY s_name)
                         FROM supplier
                         WHERE s_nationkey = n_nationkey), '') AS sups
        FROM nation
        ORDER BY n_name
    """
    # -- r10 entries ----------------------------------------------------
    base["gremlin_sack_order_cost"] = """
        SELECT o_orderkey, c_acctbal + o_totalprice AS sack
        FROM orders JOIN customer ON o_custkey = c_custkey
    """
    base["gremlin_local_topk"] = """
        SELECT c_name, c_acctbal FROM (
            SELECT c_name, c_acctbal, row_number() OVER (
                PARTITION BY c_nationkey
                ORDER BY c_acctbal DESC, c_custkey) AS rn
            FROM customer
        ) WHERE rn <= 2
    """
    base["gremlin_subgraph_labels"] = """
        SELECT 'Orders' AS label, count(*) AS n
        FROM orders WHERE o_totalprice > 200000
        UNION ALL
        SELECT 'Customer', count(DISTINCT o_custkey)
        FROM orders WHERE o_totalprice > 200000
    """
    base["gremlin_tree_region"] = """
        WITH mem AS (
            SELECT n_regionkey AS rk, n_nationkey AS nk,
                   c_custkey + 1000000 AS child
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT n_regionkey, n_nationkey, s_suppkey + 4000000
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT CAST(1 AS INTEGER) AS depth, CAST(rk AS BIGINT) AS parent,
               CAST(nk + 100 AS BIGINT) AS child,
               count(*) AS n_traversers
        FROM mem GROUP BY rk, nk
        UNION ALL
        SELECT CAST(2 AS INTEGER), CAST(nk + 100 AS BIGINT),
               CAST(child AS BIGINT), CAST(1 AS BIGINT)
        FROM mem
    """
    base["gremlin_path_cycles"] = """
        WITH hop2 AS (
            SELECT c.c_custkey AS start, m.node AS dest
            FROM customer c JOIN (
                SELECT c_custkey + 1000000 AS node, c_nationkey AS nk
                FROM customer
                UNION ALL
                SELECT s_suppkey + 4000000, s_nationkey FROM supplier
            ) m ON m.nk = c.c_nationkey
        )
        SELECT 'cyclic' AS kind, count(*) AS n FROM hop2
        WHERE dest = start + 1000000
        UNION ALL
        SELECT 'simple', count(*) FROM hop2
        WHERE dest <> start + 1000000
    """
    base["link_prediction_containment"] = """
        WITH raw AS (
            SELECT n_nationkey + 100 AS src,
                   CAST(n_regionkey AS BIGINT) AS dst FROM nation
            UNION ALL
            SELECT c_custkey + 10000, c_nationkey + 100 FROM customer
            UNION ALL
            SELECT s_suppkey + 20000, s_nationkey + 100 FROM supplier
        ),
        sym AS (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM raw
                UNION ALL SELECT dst, src FROM raw
            ) WHERE src <> dst
        ),
        deg AS (SELECT src AS node, count(*) AS deg FROM sym GROUP BY 1),
        cand AS (
            SELECT s1.src AS a, s2.src AS b, count(*) AS n_common
            FROM sym s1 JOIN sym s2
              ON s1.dst = s2.dst AND s1.src < s2.src
            GROUP BY 1, 2
        ),
        nonadj AS (
            SELECT c.a, c.b, c.n_common
            FROM cand c LEFT JOIN sym e ON e.src = c.a AND e.dst = c.b
            WHERE e.src IS NULL
        )
        SELECT a, b, n_common,
               CAST(da.deg * db.deg AS BIGINT) AS pref_attachment
        FROM nonadj
        JOIN deg da ON da.node = nonadj.a
        JOIN deg db ON db.node = nonadj.b
    """
    base["negative_samples_walks"] = f"""
        WITH pairs AS ({base['skipgram_pairs_walks']}),
        vocab AS (
            SELECT node,
                   ROW_NUMBER() OVER (ORDER BY node) AS rk,
                   COUNT(*) OVER () AS n
            FROM (SELECT DISTINCT center AS node FROM pairs
                  UNION SELECT DISTINCT context FROM pairs)
        ),
        ex AS (
            SELECT p.*, i.i AS neg_i,
                   CAST(('0x' || substr(md5('neg:'
                        || CAST(p.start AS VARCHAR) || ':'
                        || CAST(p.walk AS VARCHAR) || ':'
                        || CAST(p.center AS VARCHAR) || ':'
                        || CAST(p.context AS VARCHAR) || ':'
                        || CAST(p.offset AS VARCHAR) || ':'
                        || CAST(i.i AS VARCHAR)), 1, 13)) AS BIGINT) AS h
            FROM pairs p, generate_series(1, 3) i(i)
        )
        SELECT e.start, e.walk, e.center, e.context, e.offset,
               CAST(e.neg_i AS INTEGER) AS neg_i, v.node AS negative
        FROM ex e JOIN vocab v ON v.rk = e.h % v.n + 1
        WHERE v.node <> e.center AND v.node <> e.context
    """

    # url_canon_cap_docs: the oracle derives the CANONICAL url
    # directly (independent derivation of the normalization contract:
    # lowercase scheme/host, :443 dropped, #fragment dropped,
    # utm_source dropped, remaining param kept, trailing slash
    # stripped), then replays the dedup aggregate and the md5 quota
    # draw (13-hex-char prefix order == the 52-bit numeric order
    # md5_prefix_long uses; doc_id tiebreak both sides).
    base["url_canon_cap_docs"] = """
        WITH canon AS (
            SELECT doc_id,
                   'https://www.' || source || '-'
                     || CAST(doc_id % 4 AS VARCHAR)
                     || '.com/docs/' || CAST(doc_id % 40 AS VARCHAR)
                     || '?sid=' || CAST(doc_id % 7 AS VARCHAR) AS url_norm,
                   source || '-' || CAST(doc_id % 4 AS VARCHAR)
                     || '.com' AS domain
            FROM documents
        ),
        dedup AS (
            SELECT url_norm, ANY_VALUE(domain) AS domain,
                   MIN(doc_id) AS doc_id,
                   COUNT(*) AS n_dups
            FROM canon GROUP BY url_norm
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY domain
                ORDER BY substring(md5('domaincap:' || domain || ':'
                           || CAST(doc_id AS VARCHAR)), 1, 13),
                         doc_id
            ) AS rn
            FROM dedup
        )
        SELECT doc_id, url_norm, domain, n_dups
        FROM ranked WHERE rn <= 3
    """

    # exact_contam_docs: eval strings = lower(trim(first 24 chars))
    # of every 97th doc, >= 16 chars after trim, distinct; per doc,
    # count how many appear verbatim in the case-folded text
    base["exact_contam_docs"] = """
        WITH ev AS (
            SELECT DISTINCT lower(trim(substring(text, 1, 24))) AS e
            FROM documents
            WHERE doc_id % 97 = 0
              AND length(lower(trim(substring(text, 1, 24)))) >= 16
        )
        SELECT d.doc_id,
               CAST((SELECT count(*) FROM ev
                     WHERE contains(lower(d.text), ev.e))
                    AS BIGINT) AS n_contaminated,
               (SELECT count(*) FROM ev
                WHERE contains(lower(d.text), ev.e)) > 0 AS contaminated
        FROM documents d
    """

    # gremlin_modulators: where_ = EXISTS over IN_NATION in-edges
    # (customers + suppliers), not_ = region <> AFRICA, project count
    # = correlated member counts, project first = the region name,
    # group(by-traversal) roster = per-region sorted nation list
    base["gremlin_modulators"] = """
        WITH members AS (
            SELECT n_nationkey, n_name, n_regionkey,
                   (SELECT count(*) FROM customer
                    WHERE c_nationkey = n_nationkey)
                 + (SELECT count(*) FROM supplier
                    WHERE s_nationkey = n_nationkey) AS n_members
            FROM nation
        ),
        rosters AS (
            SELECT r_name AS region,
                   string_agg(n_name, ',' ORDER BY n_name)
                     AS region_nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        )
        SELECT m.n_name AS nation, r.r_name AS region,
               m.n_members, g.region_nations
        FROM members m
        JOIN region r ON r.r_regionkey = m.n_regionkey
        JOIN rosters g ON g.region = r.r_name
        WHERE m.n_members > 0 AND r.r_name <> 'AFRICA'
    """

    # cypher_list_ops: subscripts are 0-based and negatives count
    # from the end; xs = [rk, rk+1, rk+2, rk+3] makes every access a
    # closed-form expression on n_regionkey
    base["cypher_list_ops"] = """
        SELECT n_name AS name, n_name AS dyn_name,
               'r' || CAST(n_regionkey AS VARCHAR) AS rtag,
               n_regionkey + 1 AS second,
               n_regionkey + 3 AS last,
               n_regionkey + 1 AS mid0
        FROM nation
        ORDER BY name
    """

    # registrable_domains_docs: the oracle replays the PSL decision
    # per suffix residue — plain TLD keeps 2 labels, co.uk/com.au/
    # tokyo.jp keep 3, the *.kawasaki.jp wildcard makes the whole
    # 4-label host registrable, github.io (private section) keeps 3
    base["registrable_domains_docs"] = """
        WITH hosts AS (
            SELECT doc_id,
                   'sub' || CAST(doc_id % 5 AS VARCHAR) AS sub,
                   'site' || CAST(doc_id % 7 AS VARCHAR) AS site,
                   doc_id % 6 AS s
            FROM documents
        ),
        reg AS (
            SELECT doc_id,
                   CASE s
                       WHEN 0 THEN site || '.co.uk'
                       WHEN 1 THEN site || '.com'
                       WHEN 2 THEN site || '.com.au'
                       WHEN 3 THEN sub || '.' || site || '.kawasaki.jp'
                       WHEN 4 THEN site || '.github.io'
                       ELSE site || '.tokyo.jp'
                   END AS domain
            FROM hosts
        )
        SELECT domain, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc
        FROM reg
        GROUP BY domain
    """

    # cypher_pattern_predicates: XOR = exactly one of (region is
    # AFRICA, nationkey even); the bare pattern predicate is the
    # region-membership side
    base["cypher_pattern_predicates"] = """
        SELECT n_name AS nation, n_nationkey AS nkey
        FROM nation JOIN region ON n_regionkey = r_regionkey
        WHERE (r_name = 'AFRICA') != (n_nationkey % 2 = 0)
        ORDER BY nation
    """

    # sparql_nps_inverse: forward non-PLACED_BY edges of a nation =
    # its one IN_REGION hop; inverse non-PLACED_BY edges = reversed
    # IN_NATION in-edges (customers + suppliers of the nation)
    base["sparql_nps_inverse"] = """
        SELECT n_name AS nation,
               1 + (SELECT count(*) FROM customer
                    WHERE c_nationkey = n_nationkey)
                 + (SELECT count(*) FROM supplier
                    WHERE s_nationkey = n_nationkey) AS c
        FROM nation
    """

    # cypher_temporal_orders: DuckDB date +- INTERVAL yields a DATE
    # here; both engines serialize to 'YYYY-MM-DD' strings
    base["cypher_temporal_orders"] = """
        SELECT o_orderkey AS okey,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY
                    AS DATE) AS VARCHAR) AS due,
               CAST(CAST(CAST(o_orderdate AS DATE) - INTERVAL 7 DAY
                    AS DATE) AS VARCHAR) AS early,
               CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
               CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
               CAST(CAST(date_trunc('month', CAST(o_orderdate AS DATE))
                    AS DATE) AS VARCHAR) AS mon,
               CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00',
                    CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS age_days
        FROM orders
        WHERE o_orderstatus = 'O'
        ORDER BY okey LIMIT 200
    """

    # normalize_text_docs: chr(769) = the combining acute; DuckDB's
    # nfc_normalize folds Cafe+U+0301 to the composed form exactly as
    # Python unicodedata does; lower() maps fullwidth A/B via utf8proc
    # the same way Java toLowerCase does
    base["normalize_text_docs"] = r"""
        SELECT doc_id,
               trim(regexp_replace(
                   lower(nfc_normalize(
                       substring(text, 1, 40) || ' Cafe' || chr(769)
                       || ' ＡＢ ' || CAST(doc_id % 3 AS VARCHAR)
                   )),
                   '[\s\p{Z}]+', ' ', 'g')) AS text_norm
        FROM documents
    """
    return base
