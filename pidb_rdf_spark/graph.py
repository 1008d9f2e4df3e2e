"""Property-graph data model on DataFrames.

Reference data model (SURVEY.md §1): nodes with multi-labels and a
schemaless property map, single-typed directed edges with properties
(``neo4j/structure/Neo4jVertex.java:41``, ``Neo4jEdge.java:84-87``,
``Neo4jEntityImpl.java:45-72``). Here that becomes two DataFrames:

- ``nodes``:  id long, uri string, labels array<string>,
  props map<string,string>, plus *typed hot columns* (one column per
  frequently-queried property — the property-table layout; generic
  access falls back to the ``props`` map).
- ``edges``:  id long, src long, dst long, predicate string,
  props map<string,string>.

At scale the two tables are parquet, partitionable by label /
predicate so label scans (reference ``findNodes(label)``,
``Neo4jGraphAPIImpl.java:84-86``) become partition-pruned scans
instead of full scans, and predicate-filtered edge traversals prune
the same way.
"""

from __future__ import annotations

import os
import warnings
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Driver-side schema inventories (property keys, edge predicates,
# namespaces) are vocabulary-sized on any sane corpus, but a
# pathological schemaless corpus can mint unbounded keys. Every such
# collect is capped at the top-K keys by frequency; access to
# overflow keys still works through the ``props`` map (they just lose
# their typed-family cast and drop out of SELECT-*-style expansions).
MAX_SCHEMA_KEYS = int(os.environ.get("SPARK_GRAFT_MAX_SCHEMA_KEYS", "10000"))


def _capped_key_collect(df: DataFrame, what: str, cap: int | None = None) -> list:
    """Collect grouped key rows capped at top-``cap`` by frequency
    (ties broken by key for determinism). ``df`` must carry an ``n``
    count column and the key as its first column. Warns on overflow."""
    cap = MAX_SCHEMA_KEYS if cap is None else cap
    key_col = df.columns[0]
    rows = (
        df.orderBy(F.col("n").desc(), F.col(key_col).asc())
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        warnings.warn(
            f"{what}: more than {cap} distinct keys; keeping the {cap} "
            f"most frequent (overflow keys remain readable via the "
            f"props map). Raise SPARK_GRAFT_MAX_SCHEMA_KEYS to widen.",
            stacklevel=3,
        )
        rows = rows[:cap]
    return rows


TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Deterministic, collision-free node-id bands per source table.
# Dense per-table ids (reference ids are store-assigned longs,
# Neo4jGraph.java:153-154 — user-supplied ids rejected; ours are
# deterministic functions of the primary key instead so re-graphify
# is reproducible).
ID_BANDS = {
    "region": 0,
    "nation": 100,
    "customer": 1_000_000,
    "supplier": 4_000_000,
    "part": 5_000_000,
    "orders": 10_000_000,
    # lineitem ids are full-range xxhash64 values (see graphify) — the
    # band must be 0 or adding it could overflow a near-2^63 hash
    "lineitem": 0,
}

NODE_CORE = ["id", "uri", "labels", "props"]

# sidecar columns that ride on the nodes table but are not user
# properties: typed-family map from RDF import, meta-properties store
SIDECAR_COLS = {"__prop_types", "__meta"}


@dataclass(frozen=True)
class GraphSummary:
    """Facts about a graph that hold by construction, so reading them
    costs no job:

    - ``ends``: predicate -> ``(src labels, dst labels)``. Every edge
      of that predicate starts at a node carrying at least one of the
      src labels and ends at one carrying at least one of the dst
      labels (when that node exists). Its keys are every predicate of
      the edge table.
    - ``uri_prefix``: label -> prefix. Every node carrying the label
      has a uri starting with the prefix.

    A reader that knows the labels its ids can carry filters the node
    table with ``array_contains(labels, L)``; on a graph whose node
    table is a union of per-label frames with literal label arrays
    (``graphify``), Catalyst folds that filter per branch and prunes
    every branch it cannot hit."""

    ends: dict
    uri_prefix: dict

    def hop_labels(self, predicates, direction: str) -> frozenset | None:
        """Labels of the nodes an ``out``/``in``/``both`` hop over
        edges with any of ``predicates`` (all when empty) reaches; None
        when the summary does not cover one of the predicates."""
        if any(p not in self.ends for p in predicates):
            return None
        sides = {"out": (1,), "in": (0,), "both": (0, 1)}[direction]
        return frozenset().union(
            *[self.ends[p][i] for p in (predicates or self.ends) for i in sides]
        )

    def without_prefixes(self, labels) -> GraphSummary:
        return GraphSummary(
            self.ends,
            {k: v for k, v in self.uri_prefix.items() if k not in labels},
        )


def _has_any_label(labels) -> Column:
    """The node carries one of ``labels``; NULL labels read false."""
    hits = [F.array_contains("labels", lab) for lab in sorted(labels)]
    return F.coalesce(reduce(Column.__or__, hits, F.lit(False)), F.lit(False))


@dataclass
class PropertyGraph:
    """A pair of DataFrames + small broadcastable side tables.

    Plays the role of the reference's ``Neo4jGraph`` handle
    (``neo4j/structure/Neo4jGraph.java:61``): the object every query
    surface (SPARQL compiler, graph DSL, SQL views) executes against.
    """

    spark: SparkSession
    nodes: DataFrame
    edges: DataFrame
    namespaces: DataFrame | None = None
    # graph-wide key/value config, reference Neo4jGraphVariables.java:33-79
    variables: dict = field(default_factory=dict)
    # facts true by construction (``graphify``); None when unknown.
    # Mutations drop it unless they provably keep it (mutation._derive)
    summary: GraphSummary | None = None

    # ---- scans (SURVEY §2.1 S1-S6) -------------------------------------

    def vertices(self, *ids) -> DataFrame:
        """All nodes, or point lookups by id (S1/S2)."""
        if not ids:
            return self.nodes
        return self.nodes.filter(F.col("id").isin([int(i) for i in ids]))

    def relationships(self, *ids) -> DataFrame:
        """All edges, or point lookups by id (S3/S4)."""
        if not ids:
            return self.edges
        return self.edges.filter(F.col("id").isin([int(i) for i in ids]))

    def find_nodes(self, label: str, prop: str | None = None, value=None) -> DataFrame:
        """Label scan / (label, prop=value) seek (S5/S6).

        Reference: ``Neo4jGraphAPIImpl.java:84-91`` — label index scan
        and schema-index seek. Declaratively it is one filter; Catalyst
        pushes the property predicate into the parquet scan and the
        label test prunes label-partitioned layouts.
        """
        out = self.nodes.filter(F.array_contains("labels", label))
        if prop is not None:
            out = out.filter(self.node_prop(prop) == F.lit(value))
        return out

    def node_by_uri(self, uri: str) -> DataFrame:
        """Point lookup on the unique uri (reference ``:Resource(uri)``
        index invariant, ``semantics/RDFImport.java:198-203``). With a
        summary, nodes carrying a label whose uri prefix ``uri`` lacks
        are excluded up front, so no graphify branch is scanned for a
        uri none of them can hold."""
        out = self.nodes.filter(F.col("uri") == uri)
        foreign = [
            lab for lab, pre in (self.summary.uri_prefix if self.summary else {}).items()
            if not uri.startswith(pre)
        ]
        return out.filter(~_has_any_label(foreign)) if foreign else out

    def lookup(
        self,
        df: DataFrame,
        id_col: str,
        cols: dict,
        edges: bool = False,
        how: str = "left",
        labels=None,
    ) -> DataFrame:
        """Attach element columns to ``df`` by the element id held in
        ``id_col``: one hash join of ``df`` with ``(id, cols)`` of the
        node table (the edge table when ``edges``). ``cols`` maps each
        output name to a Column over that table; an output name that
        ``df`` already has (``id_col`` included) is replaced in place,
        the others are appended. ``how`` is ``"left"`` (ids without an
        element row read NULL) or ``"inner"`` (they drop). ``labels``,
        when given, are labels one of which every node id in ``id_col``
        carries: the node table is filtered on them first, which prunes
        the union branches no such node lives in. Every front end's
        by-id read of node or edge columns goes through here."""
        def ref(name):  # names may hold dots (Cypher's `n.name`)
            return F.col("`" + name.replace("`", "``") + "`")

        table = self.edges if edges else self.nodes
        if labels is not None and not edges:
            table = table.filter(_has_any_label(labels))
        side = table.select(
            F.col("id").alias("__lookup_id"),
            *[c.alias(f"__lookup_{i}") for i, c in enumerate(cols.values())],
        )
        out = {n: F.col(f"__lookup_{i}").alias(n) for i, n in enumerate(cols)}
        return df.join(side, ref(id_col) == F.col("__lookup_id"), how).select(
            *[out.pop(c, ref(c)) for c in df.columns], *out.values()
        )

    # ---- property access ----------------------------------------------

    def prop_type_families(self) -> dict:
        """{prop key -> 'long'|'double'|'boolean'|'string'} for
        props-map properties, from the ``__prop_types`` sidecar the RDF
        importer writes (F5 typing). Collected once per graph (the
        distinct key set is ontology-sized, not data-sized) and cached;
        a key observed with conflicting families degrades to string."""
        cached = self.__dict__.get("_prop_families")
        if cached is None:
            cached = {}
            if "__prop_types" in self.nodes.columns:
                rows = _capped_key_collect(
                    self.nodes.select(
                        F.explode(F.col("__prop_types")).alias("key", "family")
                    )
                    .groupBy("key")
                    .agg(
                        F.collect_set("family").alias("fams"),
                        F.count("*").alias("n"),
                    ),
                    "prop_type_families",
                )
                cached = {
                    r["key"]: (r["fams"][0] if len(r["fams"]) == 1 else "string")
                    for r in rows
                }
            self.__dict__["_prop_families"] = cached
        return cached

    def node_prop_keys(self) -> set:
        """All property names: typed hot columns + props-map keys
        (collected once, cached)."""
        cached = self.__dict__.get("_prop_keys")
        if cached is None:
            hot = {
                c
                for c in self.nodes.columns
                if c not in NODE_CORE and c not in SIDECAR_COLS
            }
            if "__prop_types" in self.nodes.columns:
                map_keys = set(self.prop_type_families())
            else:
                map_keys = {
                    r["k"]
                    for r in _capped_key_collect(
                        self.nodes.select(
                            F.explode(F.map_keys(F.col("props"))).alias("k")
                        )
                        .groupBy("k")
                        .agg(F.count("*").alias("n")),
                        "node_prop_keys",
                    )
                }
            cached = hot | map_keys
            self.__dict__["_prop_keys"] = cached
        return cached

    def edge_predicate_names(self) -> set:
        """Distinct edge predicates (collected once, cached) — the
        analog of the reference's relationship-type inventory."""
        cached = self.__dict__.get("_edge_preds")
        if cached is None:
            cached = {
                r["predicate"]
                for r in _capped_key_collect(
                    self.edges.groupBy("predicate").agg(F.count("*").alias("n")),
                    "edge_predicate_names",
                )
            }
            self.__dict__["_edge_preds"] = cached
        return cached

    def namespace_map(self) -> dict:
        """``{namespace: prefix}`` of the namespace registry (collected
        once, cached; empty without one). Rows are kept as stored,
        including the importer's ``("", "")`` placeholder of a registry
        with no namespace: IRI serializers skip the empty namespace."""
        cached = self.__dict__.get("_ns_map")
        if cached is None:
            cached = {} if self.namespaces is None else {
                r["namespace"]: r["prefix"] for r in self.namespaces.collect()
            }
            self.__dict__["_ns_map"] = cached
        return cached

    def node_prop(self, name: str) -> Column:
        """Property column: typed hot column if present, else the
        schemaless ``props`` map (reference property reads,
        ``Neo4jEntityImpl.java:45-58``), cast to its imported XSD
        family (F5) so numeric/boolean literals stay typed through
        projection and comparison."""
        if name in self.nodes.columns:
            return F.col(name)
        base = F.col("props").getItem(name)
        family = self.prop_type_families().get(name)
        # try_cast, not cast: under Spark 4 ANSI defaults a plain cast
        # RAISES on the first unparseable value — and nodes added
        # after import carry no type sidecar, so a later string value
        # for a numeric-family key must read as NULL (the pre-ANSI
        # semantics every comparison here assumes), not kill the query
        if family == "long":
            return base.try_cast("long")
        if family == "double":
            return base.try_cast("double")
        if family == "boolean":
            return base.try_cast("boolean")
        return base

    def node_prop_dtype(self, name: str):
        from pyspark.sql import types as T

        if name in self.nodes.columns:
            return self.nodes.schema[name].dataType
        return {
            "long": T.LongType(),
            "double": T.DoubleType(),
            "boolean": T.BooleanType(),
        }.get(self.prop_type_families().get(name), T.StringType())

    def has_node_prop(self, name: str) -> bool:
        return name in self.nodes.columns or "props" in self.nodes.columns

    # ---- expansion joins (SURVEY §2.4 J6-J8) ---------------------------

    def expand(
        self,
        bound: DataFrame,
        src_col: str,
        dst_col: str,
        predicate: str | None = None,
        direction: str = "out",
    ) -> DataFrame:
        """vertex→vertex expansion: join bound node-ids through edges.

        Reference adjacency iteration ``Neo4jVertex.java:106-129``
        (OUT/IN/BOTH, optional type filter). BOTH is the union of both
        orientations, matching the reference's concat(OUT, IN).
        """
        e = self.edges
        if predicate is not None:
            e = e.filter(F.col("predicate") == predicate)
        pairs = e.select(F.col("src"), F.col("dst"))
        if direction == "in":
            pairs = pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        elif direction == "both":
            pairs = pairs.unionAll(
                pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
        pairs = pairs.select(F.col("src").alias(src_col), F.col("dst").alias(dst_col))
        return bound.join(pairs, on=src_col, how="inner")

    def degrees(self, direction: str = "out", predicate: str | None = None) -> DataFrame:
        """Materialized degree table (reference ``node.degree``,
        ``Neo4jNodeImpl.java:63-71``) — one shuffle, reusable."""
        e = self.edges
        if predicate is not None:
            e = e.filter(F.col("predicate") == predicate)
        if direction == "out":
            key = "src"
        elif direction == "in":
            key = "dst"
        else:
            e = e.select("src").unionAll(e.select(F.col("dst").alias("src")))
            key = "src"
        return e.groupBy(F.col(key).alias("id")).agg(F.count("*").alias("degree"))

    # ---- SQL pass-through (SURVEY §2.1 S11, §3.3) ----------------------

    def register_views(self, prefix: str = "") -> None:
        """Register ``nodes``/``edges`` temp views so ``spark.sql`` is
        the second query language (reference Cypher pass-through,
        ``Neo4jGraph.java:288-304``)."""
        self.nodes.createOrReplaceTempView(f"{prefix}nodes")
        self.edges.createOrReplaceTempView(f"{prefix}edges")
        if self.namespaces is not None:
            self.namespaces.createOrReplaceTempView(f"{prefix}namespaces")

    def sql(self, query: str) -> DataFrame:
        self.register_views()
        return self.spark.sql(query)


def read_tables(spark: SparkSession, sf_dir: str, names=None) -> dict[str, DataFrame]:
    names = names or TABLES
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in names}


def _nodeframe(
    df: DataFrame, table: str, pk: Column, prop_cols: list[str]
) -> DataFrame:
    """One table → F2-shaped node rows with typed hot columns kept:
    label ``table.capitalize()``, uri ``urn:{table}:{pk}``."""
    id_col = (F.lit(ID_BANDS[table]) + pk.cast("long")).alias("id")
    uri = F.concat(F.lit(f"urn:{table}:"), pk.cast("string")).alias("uri")
    labels = F.array(F.lit(table.capitalize())).alias("labels")
    props = F.map_from_arrays(
        F.array(*[F.lit(c) for c in prop_cols]),
        F.array(*[F.col(c).cast("string") for c in prop_cols]),
    ).alias("props")
    return df.select(id_col, uri, labels, props, *[F.col(c) for c in prop_cols])


def graphify(
    spark: SparkSession, sf_dir: str, with_lineitem_nodes: bool = True
) -> PropertyGraph:
    """Deterministic property-graph view of the driver's relational
    testdata (FIXTURES.md §F6) — the shared substrate on which this
    engine and the DuckDB oracle answer the same questions.

    Mapping (mirrors the RDF-import contract of
    ``semantics/DirectStatementLoader.java:155-182``: scalar columns →
    node properties, table name → label, foreign keys → edges):

    - node per row of region/nation/customer/supplier/part/orders
      (+ lineitem when ``with_lineitem_nodes``), uri ``urn:{table}:{pk}``
    - edges: customer-[IN_NATION]->nation, nation-[IN_REGION]->region,
      supplier-[IN_NATION]->nation, orders-[PLACED_BY]->customer,
      lineitem-[PART_OF]->orders, -[OF_PART]->part, -[FROM_SUPPLIER]->supplier.

    All node frames keep their typed hot columns; the union pads with
    NULLs (columnar storage makes the wide-but-sparse layout cheap —
    this is the classic property-table RDF layout). The graph's
    ``summary`` records each predicate's end labels and each label's
    uri prefix, read off the mapping above with no job.
    """
    t = read_tables(
        spark,
        sf_dir,
        ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"],
    )

    frames = [
        _nodeframe(t["region"], "region", F.col("r_regionkey"), ["r_regionkey", "r_name"]),
        _nodeframe(t["nation"], "nation", F.col("n_nationkey"), ["n_nationkey", "n_name", "n_regionkey"]),
        _nodeframe(
            t["customer"], "customer", F.col("c_custkey"),
            ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        ),
        _nodeframe(
            t["supplier"], "supplier", F.col("s_suppkey"),
            ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
        ),
        _nodeframe(
            t["part"], "part", F.col("p_partkey"),
            ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
        ),
        _nodeframe(
            t["orders"].withColumn("o_orderdate", F.col("o_orderdate").cast("string")),
            "orders", F.col("o_orderkey"),
            ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        ),
    ]
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    # (the generator assigns linenumbers randomly), so lineitem node
    # ids come from the physical row identity instead: xxhash64 of
    # (file path, row index in file) — deterministic across runs and
    # plan subtrees, computed executor-side with no coordination, and
    # valid at any scale. The band-less hash cannot collide with the
    # small banded ids of the other tables except with ~1e-7 chance.
    li = t["lineitem"].select(
        "*",
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__row"),
    )
    li_pk = F.xxhash64(F.col("__file"), F.col("__row"))
    tables = ["region", "nation", "customer", "supplier", "part", "orders"]
    if with_lineitem_nodes:
        tables.append("lineitem")
        frames.append(
            _nodeframe(
                li.withColumn("l_shipdate", F.col("l_shipdate").cast("string")),
                "lineitem", li_pk,
                ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"],
            )
        )

    nodes = frames[0]
    for fr in frames[1:]:
        nodes = nodes.unionByName(fr, allowMissingColumns=True)

    ends: dict = {}

    def edge(df, pred, eid, s_table, s_key, d_table, d_key):
        src, dst = ends.get(pred, (frozenset(), frozenset()))
        ends[pred] = (src | {s_table.capitalize()}, dst | {d_table.capitalize()})
        return df.select(
            eid.cast("long").alias("id"),
            (F.lit(ID_BANDS[s_table]) + s_key.cast("long")).alias("src"),
            (F.lit(ID_BANDS[d_table]) + d_key.cast("long")).alias("dst"),
            F.lit(pred).alias("predicate"),
            F.map_from_arrays(
                F.array().cast("array<string>"), F.array().cast("array<string>")
            ).alias("props"),
        )

    # Edge-id bands are deterministic functions of the source row key.
    B = 1_000_000_000
    edges_frames = [
        edge(t["customer"], "IN_NATION", F.lit(1 * B) + F.col("c_custkey"),
             "customer", F.col("c_custkey"), "nation", F.col("c_nationkey")),
        edge(t["nation"], "IN_REGION", F.lit(2 * B) + F.col("n_nationkey"),
             "nation", F.col("n_nationkey"), "region", F.col("n_regionkey")),
        edge(t["supplier"], "IN_NATION", F.lit(3 * B) + F.col("s_suppkey"),
             "supplier", F.col("s_suppkey"), "nation", F.col("s_nationkey")),
        edge(t["orders"], "PLACED_BY", F.lit(4 * B) + F.col("o_orderkey"),
             "orders", F.col("o_orderkey"), "customer", F.col("o_custkey")),
        # hash-based edge ids for lineitem edges: adding a numeric band
        # to a full-range hash would overflow; hashing in the predicate
        # name keeps them unique across the three edge types
        edge(li, "PART_OF", F.xxhash64(F.lit("PART_OF"), F.col("__file"), F.col("__row")),
             "lineitem", li_pk, "orders", F.col("l_orderkey")),
        edge(li, "OF_PART", F.xxhash64(F.lit("OF_PART"), F.col("__file"), F.col("__row")),
             "lineitem", li_pk, "part", F.col("l_partkey")),
        edge(li, "FROM_SUPPLIER", F.xxhash64(F.lit("FROM_SUPPLIER"), F.col("__file"), F.col("__row")),
             "lineitem", li_pk, "supplier", F.col("l_suppkey")),
    ]
    edges = edges_frames[0]
    for fr in edges_frames[1:]:
        edges = edges.unionByName(fr)

    summary = GraphSummary(
        ends, {t.capitalize(): f"urn:{t}:" for t in tables}
    )
    return PropertyGraph(spark=spark, nodes=nodes, edges=edges, summary=summary)
