"""Plan-shape regression tests: the scale properties documented in
SCALE.md, asserted against actual executed plans so they cannot
silently regress."""

from pyspark.sql import functions as F

from pidb_rdf_spark.plans import plan_summary


def test_bgp_join_plan_uses_broadcasts(spark):
    """On dimension-sized data every BGP join should be a broadcast
    hash join, with no Python in the pipeline. (Cache-agnostic
    assertions only: when the shared fixture has cached the graph
    tables, Spark serves matching plan subtrees from memory and the
    parquet-scan details disappear.)"""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sparql import sparql

    df = sparql(
        graphify(spark, "/root/testdata/sf0.001"),
        """
        SELECT ?cust ?total WHERE {
          ?c v:label "Customer" . ?c v:c_name ?cust .
          ?o e:PLACED_BY ?c . ?o v:o_totalprice ?total .
          FILTER(?total > 100000)
        } ORDER BY DESC(?total) ?cust LIMIT 10
        """,
    )
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] >= 2
    assert s["sort_merge_joins"] == 0
    assert s["python_evals"] == 0  # pure JVM pipeline


def test_filter_pushdown_and_column_pruning(spark):
    """Predicate pushdown + column pruning reach the parquet scan
    (checked on a table no fixture caches)."""
    from pyspark.sql import functions as F

    # part.parquet: no fixture caches a standalone scan of it (the
    # graphify cache registers only the union-root plan, which a bare
    # file scan does not subtree-match)
    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    out = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey", "p_name")
    s = plan_summary(out)
    assert s["pushed_filter_scans"] >= 1
    # 3 columns read (filter col + 2 projected), not the full schema
    assert s["scan_widths"] and max(s["scan_widths"]) <= 3


def test_text_ops_are_scan_only(spark):
    """Text metrics must not shuffle or leave the JVM."""
    from pidb_rdf_spark.operators import quality_score, token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (token_count(docs), quality_score(docs)):
        s = plan_summary(out)
        assert s["exchanges"] == 0
        assert s["python_evals"] == 0


def test_asof_join_single_shuffle(spark):
    """The as-of join's contract: exactly one shuffle (on the key)."""
    from pidb_rdf_spark.sources.tables import read_events
    from pidb_rdf_spark.streaming import asof_join

    ev = read_events(spark, "/root/testdata/sf0.001")
    clicks = ev.filter(F.col("event_type") == "click")
    errors = ev.filter(F.col("event_type") == "error")
    s = plan_summary(asof_join(clicks, errors, on="user_id"))
    assert s["exchanges"] == 1


def test_value_patterns_fuse_into_one_scan(spark):
    """N v:-property patterns on one subject compile to ONE nodes
    access, not N self-joins (compiler._fused_value_frame). A
    Q1-shaped query (label + 5 properties) must contain zero joins —
    just scan -> filter -> aggregate."""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sparql import sparql

    df = sparql(
        graphify(spark, "/root/testdata/sf0.001"),
        """
        SELECT ?rf ?ls (COUNT(?qty) AS ?n) (SUM(?qty) AS ?sum_qty) WHERE {
          ?l v:label "Lineitem" .
          ?l v:l_returnflag ?rf . ?l v:l_linestatus ?ls .
          ?l v:l_quantity ?qty . ?l v:l_shipdate ?sd .
        } GROUP BY ?rf ?ls
        """,
    )
    s = plan_summary(df)
    assert s["broadcast_hash_joins"] == 0
    assert s["sort_merge_joins"] == 0
    assert s["python_evals"] == 0


def test_fused_and_join_paths_agree(spark):
    """Fusion is output-identical to the join path: a query whose
    patterns fuse must equal the same query with each pattern on a
    distinct subject-var copy forced through joins (object var shared
    across subjects prevents fusion)."""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.sparql import sparql

    g = graphify(spark, "/root/testdata/sf0.001")
    fused = sparql(
        g,
        'SELECT ?n ?seg WHERE { ?c v:label "Customer" . '
        "?c v:c_name ?n . ?c v:c_mktsegment ?seg }",
    ).collect()
    # same semantics, fusion defeated by the repeated-object-var guard
    joined = sparql(
        g,
        'SELECT ?n ?seg WHERE { ?c v:label "Customer" . '
        "?c v:c_name ?n . ?c v:c_mktsegment ?seg . ?c v:c_name ?n }",
    ).collect()
    assert sorted(map(tuple, fused)) == sorted(map(tuple, joined))


def test_decontam_broadcasts_eval_side(spark):
    """ngram_overlap: eval shingles broadcast (no shuffle of the train
    side's shingle set for the join), all-JVM expressions."""
    from pidb_rdf_spark.operators import ngram_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    tr = docs.filter(F.col("doc_id") % 20 != 0)
    out = ngram_overlap(tr, ev, n=4, min_overlap=1)
    s = plan_summary(out)
    assert s["broadcast_hash_joins"] >= 1
    assert s["sort_merge_joins"] == 0
    assert s["python_evals"] == 0


def test_bucketed_save_makes_node_edge_join_shuffle_free(spark, tmp_path):
    """save_graph_bucketed: nodes bucketed by id, edges by src — the
    traversal join then runs with ZERO exchanges (vs 2 shuffles + SMJ
    on plain parquet). This is SCALE.md's co-location claim, executed."""
    from pidb_rdf_spark.graph import graphify
    from pidb_rdf_spark.mutation import load_graph_bucketed, save_graph_bucketed

    g = graphify(spark, "/root/testdata/sf0.001")
    save_graph_bucketed(g, "bk_t", n_buckets=4, path=str(tmp_path / "bk"))
    gb = load_graph_bucketed(spark, "bk_t")
    assert gb.nodes.count() == g.nodes.count()
    assert gb.edges.count() == g.edges.count()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = gb.edges.join(
            gb.nodes.withColumnRenamed("id", "src"), on="src"
        ).select("src", "dst", "predicate", "uri")
        s = plan_summary(joined)
        assert s["sort_merge_joins"] == 1
        assert s["exchanges"] == 0, "bucketed join must not shuffle"
        # control: same join on the unbucketed frames DOES shuffle
        j2 = g.edges.join(
            g.nodes.withColumnRenamed("id", "src"), on="src"
        ).select("src", "dst", "predicate", "uri")
        assert plan_summary(j2)["exchanges"] >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bk_t_nodes")
        spark.sql("DROP TABLE IF EXISTS bk_t_edges")
        spark.sql("DROP TABLE IF EXISTS bk_t_namespaces")


def test_quantize_is_scan_only(spark):
    """int8 quantization must stay a narrow zero-shuffle JVM
    projection (higher-order functions, no Python)."""
    from pidb_rdf_spark.operators import quantize_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    s = plan_summary(quantize_embeddings(emb))
    assert s["exchanges"] == 0
    assert s["python_evals"] == 0


def test_bloom_probe_is_broadcast_no_shuffle(spark):
    """The probe side must be a broadcast of the word map + a narrow
    projection: no shuffle Exchange past the (already-aggregated)
    filter build, no Python."""
    from pidb_rdf_spark.operators import bloom_build, bloom_probe

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bloom = bloom_build(docs.limit(50), "text").localCheckpoint(eager=True)
    s = plan_summary(bloom_probe(docs, bloom, "text"))
    # one exchange allowed: the single-row map aggregation's broadcast
    assert s["python_evals"] == 0
    assert s["sort_merge_joins"] == 0
    plan = (
        bloom_probe(docs, bloom, "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_kmv_two_shuffles(spark):
    """KMV = distinct (group, hash) pairs + one grouped min-k array:
    two exchanges, all JVM."""
    from pidb_rdf_spark.operators import kmv_distinct

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    s = plan_summary(kmv_distinct(ev, "user_id", k=16, by=["event_type"]))
    assert s["python_evals"] == 0
    assert s["exchanges"] <= 3  # dedup + group (+AQE reuse markers)


def test_rollup_day_reads_hour_partials(spark):
    """The coarse level must aggregate the finer level's MATERIALIZED
    partials, not rescan raw input: exactly one file scan in the
    whole executed two-level plan (the checkpointed hour table feeds
    both the hour output and the day aggregation)."""
    from pidb_rdf_spark.streaming import rollup_counts

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = rollup_counts(ev, units=("hour", "day"))
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both levels come from materialized (checkpointed) partials: the
    # union job rescans NO file — the raw scan ran exactly once, in
    # the hour level's checkpoint job
    assert plan.count("FileScan") == 0
    assert plan.count("ExistingRDD") == 2


def test_semantic_dedup_assignment_evaluated_once(spark):
    """SemDeDup: the k-means assignment UDF must not appear in the
    pair-pipeline plan at all — it runs exactly once behind the
    checkpointed (id, vec, norm, cluster) frame (un-checkpointed, the
    executed plan showed FOUR full-corpus Arrow passes: per join
    branch plus the pushed isnotnull(cluster) key filters). The only
    Python left is the per-candidate-pair cosine kernel."""
    from pidb_rdf_spark.operators import semantic_dup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = semantic_dup_pairs(emb, n_clusters=4, iters=2, threshold=0.4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "nearest" not in plan
    # dot kernel: filter + projection dup-eval only (pairs, not corpus)
    assert plan.count("ArrowEvalPython") <= 2


def test_winnow_selection_is_shuffle_free_map(spark):
    """Fingerprint selection = JVM k-gram md5 arrays + ONE Arrow
    sliding-min kernel: no join, no window sort, and the only
    allowed exchange is the small-input parallelism gate's
    round-robin (absent on a real multi-partition corpus scan)."""
    from pidb_rdf_spark.operators import winnow_fingerprints

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s = plan_summary(winnow_fingerprints(docs))
    assert s["python_evals"] == 1
    assert s["sort_merge_joins"] == 0 and s["broadcast_hash_joins"] == 0
    assert s["exchanges"] <= 1  # the ensure_min_parallelism gate only


def test_cypher_plan_is_jvm_only_with_broadcasts(spark):
    """The Cypher front-end compiles to the same plan family as the
    SPARQL path: broadcast joins on dimension-sized sides, zero
    Python evals, and the WITH/HAVING pipeline stays one plan."""
    from pidb_rdf_spark.cypher import cypher
    from pidb_rdf_spark.graph import graphify

    g = graphify(spark, "/root/testdata/sf0.001")
    df = cypher(
        g,
        "MATCH (c:Customer)-[:IN_NATION]->(n) "
        "WITH n, count(*) AS custs WHERE custs > 5 "
        "MATCH (n)-[:IN_REGION]->(r) "
        "RETURN r.r_name AS region, count(*) AS k ORDER BY region",
    )
    from pidb_rdf_spark.plans import plan_summary

    s = plan_summary(df)
    assert s["python_evals"] == 0
    assert s["broadcast_hash_joins"] >= 2
    assert s["sort_merge_joins"] == 0


def test_mixture_broadcasts_rate_table_no_python(spark):
    """mix_sources: the per-source rate table joins in broadcast
    (never a shuffle of the corpus on source) and the whole pipeline
    stays JVM-side."""
    from pidb_rdf_spark.operators.mixing import mix_sources

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = mix_sources(
        docs, {f"src{i}": 1.0 for i in range(20)}, 100_000.0
    )
    s = plan_summary(out)
    assert s["broadcast_hash_joins"] >= 1
    assert s["sort_merge_joins"] == 0
    assert s["python_evals"] == 0


def test_pattern_comprehension_single_aggregate_join(spark):
    """A pattern comprehension compiles to exactly one collect_list
    aggregation joined back — not one job per outer row, and no
    Python."""
    from pidb_rdf_spark.cypher import cypher
    from pidb_rdf_spark.graph import graphify

    g = graphify(spark, "/root/testdata/sf0.001")
    df = cypher(
        g,
        "MATCH (n:Nation) RETURN n.n_name AS nation, "
        "size([(c:Customer)-[:IN_NATION]->(n) | c.c_name]) AS deg",
    )
    s = plan_summary(df)
    # one partial+final pair for the collect_list, none hidden in
    # Python. (The list-frame rejoin may plan as a sort-merge join in
    # the static plan — correct when the collected frame is large;
    # AQE demotes it to broadcast at runtime on dimension-sized data.)
    assert s["python_evals"] == 0
    assert s["hash_aggregates"] >= 1


def test_deterministic_shuffle_single_exchange(spark):
    """deterministic_shuffle: exactly ONE shuffle (the window's hash
    partition on shard) and no Python in the row path — the md5
    shard/seq math is codegen."""
    from pidb_rdf_spark.operators.mixing import deterministic_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = deterministic_shuffle(docs, n_shards=8)
    s = plan_summary(out)
    assert s["exchanges"] == 1
    assert s["python_evals"] == 0


def test_corpus_diff_shuffles_hashes_not_payloads(spark):
    """corpus_diff: both sides reduce to (id, md5) before the join —
    every scan/exchange schema is two narrow columns, the payload
    never moves. (Uses part.parquet: no fixture caches it, so the
    parquet ReadSchema stays observable — same precedent as
    test_filter_pushdown_and_column_pruning.)"""
    from pidb_rdf_spark.operators.curation import corpus_diff

    part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    out = corpus_diff(
        part.filter(F.col("p_partkey") % 2 == 0),
        part.filter(F.col("p_partkey") % 3 == 0),
        id_col="p_partkey",
        content_col="p_name",
    )
    s = plan_summary(out)
    assert s["python_evals"] == 0
    # projection reached the scans: only (p_partkey, p_name) read
    assert all(w <= 2 for w in s["scan_widths"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no full-width payload column crosses an exchange: the join keys
    # and md5 projections are the only shuffled attributes
    import re

    for seg in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "p_name" not in seg


def test_explain_query_surfaces(spark):
    from pidb_rdf_spark.explain import explain_df, explain_query
    from pidb_rdf_spark.graph import graphify

    g = graphify(spark, "/root/testdata/sf0.001")
    s = explain_query(
        g,
        'SELECT ?n WHERE { ?c v:label "Customer" . ?c v:c_name ?n }',
        dialect="sparql",
    )
    assert "ReadSchema" in s or "InMemory" in s  # formatted scan detail
    c = explain_query(
        g,
        "MATCH (n:Nation) WHERE n.n_nationkey < 5 RETURN n.n_name AS x",
        dialect="cypher",
        mode="simple",
    )
    assert "Physical Plan" in c or "Filter" in c
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dialect"):
        explain_query(g, "X", dialect="gremlin")
    with _pytest.raises(ValueError, match="mode"):
        explain_df(g.nodes, mode="fancy")


# ---------------------------------------------------------------------------
# bucketed co-located joins: the zero-exchange layout
# ---------------------------------------------------------------------------


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed by the same key into the same bucket count
    join with ZERO Exchange operators; the identical unbucketed join
    shuffles both sides. This is the layout contract write_bucketed
    exists for."""
    from pidb_rdf_spark.operators import count_exchanges, write_bucketed

    left = spark.range(0, 2000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("lv")
    )
    right = spark.range(0, 500).select(
        (F.col("id") % 97).alias("k"), (F.col("id") * 2).alias("rv")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
    # broadcast would bypass the exchange question entirely: disable
    with_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed(left, "bkt_left", "k", n_buckets=8)
        write_bucketed(right, "bkt_right", "k", n_buckets=8)
        bl, br = spark.table("bkt_left"), spark.table("bkt_right")
        joined = bl.join(br, on="k")
        assert count_exchanges(joined) == 0
        # same join without the layout: both sides shuffle
        plain = left.join(right, on="k")
        assert count_exchanges(plain) >= 2
        # and the layout changes nothing about the answer
        assert joined.count() == plain.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_threshold)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_write_bucketed_validates(spark):
    import pytest

    from pidb_rdf_spark.operators import write_bucketed

    with pytest.raises(ValueError):
        write_bucketed(spark.range(3), "t", "id", n_buckets=0)


def test_count_exchanges_finalizes_the_inspected_plan(spark):
    """count_exchanges must report the FINAL AQE plan of the very
    QueryExecution it inspects (ADVICE r9: df.count() built a new
    QueryExecution and left the inspected one pre-replan, so the
    returned number could describe a plan that never ran)."""
    from pidb_rdf_spark.operators import count_exchanges

    a = spark.range(0, 50_000).withColumn("k", F.col("id") % 1000)
    b = spark.range(0, 800).withColumn("k", F.col("id") % 1000)
    joined = a.join(b, on="k").groupBy("k").count()
    n = count_exchanges(joined)
    qe = joined._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=false" not in plan
    # the returned count equals what the finalized plan actually shows
    import re as _re

    assert n == len(_re.findall(r"\bExchange\b|\bShuffleExchange", plan))


def test_ranked_vocabulary_no_single_partition(spark):
    """The vocabulary ranking stage must never funnel the node table
    through one task (VERDICT r9 #3): the executed plan of
    ranked_vocabulary contains range/hash exchanges only — NO
    SinglePartition exchange anywhere."""
    from pidb_rdf_spark.analytics import _ranked_local, ranked_vocabulary

    nodes = spark.createDataFrame(
        [(i * 7 % 1000,) for i in range(400)], "__nn long"
    ).dropDuplicates()
    stage = _ranked_local(nodes, "__nn", None)
    plan = stage._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    # the public wrapper (checkpoint + offset fold) also stays clean
    ranked = ranked_vocabulary(nodes)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_new_operator_shuffle_claims(spark):
    """Pin the documented shuffle shapes of the late-r9 operators via
    count_exchanges (final AQE plans): weighted_sample's global top-n
    is exchange-free (TakeOrdered), and cohort_retention stays within
    its claimed budget (user-key aggregate + matrix-sized cell
    aggregate + the broadcast size join)."""
    import datetime as dt

    from pidb_rdf_spark.operators import count_exchanges, weighted_sample
    from pidb_rdf_spark.streaming import cohort_retention

    docs = spark.createDataFrame(
        [(f"d{i}", float(1 + i % 9)) for i in range(500)],
        "doc_id string, w double",
    )
    assert count_exchanges(weighted_sample(docs, "doc_id", "w", n=10)) == 0

    ev = spark.createDataFrame(
        [
            (i % 40, dt.datetime(2024, 1, 1 + (i * 7) % 28))
            for i in range(600)
        ],
        "user_id long, ts timestamp",
    ).repartition(4)
    assert count_exchanges(cohort_retention(ev)) <= 3


def test_weighted_betweenness_no_single_partition(spark):
    """The weighted-Brandes dense_rank layering is partitioned by
    origin (r11): a global-window rank would funnel every
    (origin, node) distance row through one task. Pinned directly on
    the _dag_rank stage (the full result's checkpoints truncate
    lineage, so its tail plan alone could not prove this) AND on the
    result tail."""
    from pidb_rdf_spark.analytics import _dag_rank, betweenness_centrality

    state = spark.createDataFrame(
        [(i % 7, i, (i * 3) % 11) for i in range(200)],
        "origin long, node long, dist long",
    )
    plan = _dag_rank(state)._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    assert "hashpartitioning(origin" in plan

    edges = [(i, (i * 3 + 1) % 40, 1 + i % 3) for i in range(80)]
    df = spark.createDataFrame(edges, "src long, dst long, wt long")
    out = betweenness_centrality(df, weight="wt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_pack_manifest_one_data_exchange(spark):
    """pack_manifest's scale contract (r13): exactly ONE data-sized
    exchange — the shard hash partition, which the intra-shard offset
    window shares. The cross-shard carry must stay tiny: the shard-
    totals aggregate is pushed to the scan (a map-side partial sum,
    no second Window stack in that branch), its running offset runs
    on one n_shards-row partition, and the join back is a broadcast."""
    from pidb_rdf_spark.operators import pack_manifest

    df = spark.createDataFrame(
        [(i, 1 + (i * 7) % 300) for i in range(500)],
        "doc_id long, n_tokens long",
    )
    m = pack_manifest(df, seq_len=128, n_shards=8, tokens_col="n_tokens")
    plan = m._jdf.queryExecution().executedPlan().toString()
    # one data-sized hash exchange on shard for the offset window,
    # one tiny agg exchange (partial-sum rows), one single-partition
    # exchange over n_shards rows, one broadcast
    assert plan.count("Exchange hashpartitioning(shard") == 2
    assert plan.count("Exchange SinglePartition") == 1
    assert "BroadcastExchange" in plan
    # the totals branch is agg-pushdown (partial_sum under the
    # exchange), not a second data-sized window stack: exactly 3
    # Window nodes total (row_number + the intra-shard cumsum on the
    # data side; the n_shards-row offset cumsum on the tiny side)
    assert plan.count("Window [") == 3
    assert "partial_sum" in plan


def _final_plan(df) -> str:
    """The executed plan after ``df`` ran: AQE's final plan only (the
    AdaptiveSparkPlan string also lists the initial plan)."""
    p = df._jdf.queryExecution().executedPlan()
    if p.nodeName() == "AdaptiveSparkPlan":
        p = p.executedPlan()
    return p.toString()


def _scans_by_table(plan: str) -> dict:
    """ReadSchema of every parquet scan in ``plan``, by TPC-H table
    (the column prefix names it; Location strings are truncated)."""
    import re

    tables = {"c": "customer", "n": "nation", "s": "supplier", "o": "orders",
              "l": "lineitem", "p": "part", "r": "region"}
    by_table: dict = {}
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        by_table.setdefault(tables.get(schema.split("_", 1)[0], schema), []).append(schema)
    return by_table


def _uncached_graph(spark, tmp_path):
    """A graph over the test tables that no fixture has cached: the
    files are reached through symlinks, so the scans are new relations
    and the executed plan shows the parquet scans themselves."""
    import os

    from conftest import SF_DIR

    from pidb_rdf_spark.graph import graphify

    for name in os.listdir(SF_DIR):
        os.symlink(os.path.join(SF_DIR, name), tmp_path / name)
    return graphify(spark, str(tmp_path))


def test_cypher_props_read_in_binding_scan(spark, tmp_path):
    """Each pattern variable's properties come from the label-filtered
    scan that binds it, never from a join back to the whole node
    table: the Customer scan reads c_name/c_acctbal, the Nation scan
    n_name, and no other node table (lineitem, orders, ...) is read.
    customer.parquet appears twice — the c scan and the customer
    branch of the IN_NATION edges, which never reads c_name."""
    from pidb_rdf_spark.cypher import cypher

    df = cypher(
        _uncached_graph(spark, tmp_path),
        "MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
        "WHERE c.c_acctbal > 0 RETURN c.c_name, n.n_name",
    )
    assert len(df.collect()) > 0
    plan = _final_plan(df)
    by_table = _scans_by_table(plan)
    assert sorted(by_table) == ["customer", "nation", "supplier"]
    assert len(by_table["nation"]) == 1 and "n_name" in by_table["nation"][0]
    assert sorted("c_name" in s for s in by_table["customer"]) == [False, True]
    assert plan.count("Exchange") == plan.count("BroadcastExchange")


def test_cypher_read_your_write_lookup_is_one_scan(spark, tmp_path):
    """The read-your-write check after MERGE+SET is a point lookup:
    the Tag scan projects t.weight itself, so the plan has no Exchange
    (no shuffle or broadcast of the node table to attach one
    property)."""
    from pidb_rdf_spark.cypher import cypher
    from pidb_rdf_spark.cypher_write import cypher_write

    g = cypher_write(
        _uncached_graph(spark, tmp_path),
        "MERGE (t:Tag {name: 'pin'}) "
        "ON CREATE SET t.weight = 7 ON MATCH SET t.weight = 7",
    )
    df = cypher(g, "MATCH (t:Tag {name: 'pin'}) RETURN t.weight AS w")
    assert [tuple(r) for r in df.collect()] == [("7",)]
    assert "Exchange" not in _final_plan(df)


def test_dsl_hop_read_scans_only_target_label(spark, tmp_path):
    """After out("IN_NATION") the graph summary says the frontier is
    Nation nodes, so group_count's node read scans the nation table
    alone: customer and supplier are read once each, by the Customer
    scan and the IN_NATION edge branches, and lineitem, orders, part
    and region not at all."""
    from pidb_rdf_spark.dsl import P, traversal

    df = (
        traversal(_uncached_graph(spark, tmp_path)).V().has_label("Customer")
        .has("c_acctbal", P.gt(0)).out("IN_NATION").group_count("n_name")
    )
    assert len(df.collect()) > 0
    by_table = _scans_by_table(_final_plan(df))
    assert sorted(by_table) == ["customer", "nation", "supplier"]
    assert len(by_table["nation"]) == 1 and "n_name" in by_table["nation"][0]
    assert len(by_table["supplier"]) == 1


def test_sparql_uri_lookup_scans_only_end_label(spark, tmp_path):
    """?n is the object of an IN_NATION pattern, so its uri is read
    from the nation table alone."""
    from pidb_rdf_spark.sparql import sparql

    df = sparql(_uncached_graph(spark, tmp_path), "SELECT ?n WHERE { ?c e:IN_NATION ?n }")
    assert len(df.collect()) > 0
    by_table = _scans_by_table(_final_plan(df))
    assert sorted(by_table) == ["customer", "nation", "supplier"]
    assert len(by_table["nation"]) == 1
    assert by_table["nation"][0].startswith("n_nationkey:")


def test_merge_probe_reads_no_file(spark, tmp_path):
    """The MERGE existence probe for a urn:cypher: uri excludes every
    graphify label (none of their uri prefixes match), so Catalyst
    prunes every union branch and the probe reads no file."""
    g = _uncached_graph(spark, tmp_path)
    probe = g.node_by_uri("urn:cypher:merge:Tag|name=pin")
    assert probe.isEmpty()
    assert "ReadSchema" not in _final_plan(probe)
    assert g.node_by_uri("urn:nation:3").count() == 1
