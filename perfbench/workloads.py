"""The benchmark's two workloads.

Each workload generates its inputs from the seed, loads them into Spark
(the timed part of set-up), and hands out one pass of ops at a time.
Every op carries the answer it must produce, computed before the op
runs (DuckDB SQL over the same parquet files, or a pure-Python twin of
the algorithm), so checking never adds to an op's latency.

Layer functions are always looked up on their defining module at call
time, so the traced run sees the calls through the wrappers that
``trace.Tracer.install`` puts there.
"""

from __future__ import annotations

import importlib
import math
import operator
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path
from typing import Any

import duckdb

from perfbench import gen

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "documents", "embeddings",
]


def lib(name: str):
    """A ``pidb_rdf_spark`` module, resolved at call time."""
    return importlib.import_module(f"pidb_rdf_spark.{name}")


def norm_cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def norm_rows(rows) -> list[tuple]:
    """Order-insensitive, float-tolerant canonical form of a result."""
    return sorted(tuple(norm_cell(c) for c in r) for r in rows)


def collect(df) -> list[tuple]:
    return norm_rows(tuple(r) for r in df.collect())


@dataclass
class Op:
    """One measured operation. ``build`` calls into the layer and
    returns a frame (or any handle); ``fetch`` runs it to the answer;
    ``check`` compares that answer with ``want``, the oracle's answer,
    computed before the op runs (equality unless given)."""

    name: str
    kind: str
    layer: str
    build: Callable[[], Any]
    fetch: Callable[[Any], Any]
    want: Any
    check: Callable[[Any, Any], bool] = operator.eq


class Workload:
    name = ""
    # statements moved per import / export op, for the throughput metrics
    triples: dict[str, int] = {}

    def __init__(self, seed: int, work: Path):
        self.seed = seed
        self.work = work
        self.data = work / "data"
        self.spark = None

    def generate(self) -> None:
        """Write the inputs (untimed)."""

    def load(self, spark) -> None:
        """Timed set-up after session start."""
        self.spark = spark

    def prepare(self) -> None:
        """Read back from Spark what the oracles need (untimed)."""

    def pass_ops(self, i: int) -> list[Op]:
        raise NotImplementedError

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            p = self.data / f"{t}.parquet"
            if p.exists():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return con


# ---------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------


class Interactive(Workload):
    """One client's closed loop of front-end calls over the graph of a
    sf0.01 generated database. Reads: SPARQL, Cypher and DSL queries
    with seeded constants, each checked against DuckDB SQL built from
    the same constants. Writes: a chain of a Cypher ``MERGE``/``SET``
    and a property mutation, each followed by a read-your-write query.
    The writes are spread through the reads in chain order; the chain
    restarts from the loaded graph every pass, so its depth is bounded."""

    name = "interactive"
    SF = 0.01

    def generate(self) -> None:
        gen.write_tables(self.seed, self.data, self.SF)
        self.con = self.duck()
        self.n_customers = self.con.execute("SELECT COUNT(*) FROM customer").fetchone()[0]

    def load(self, spark) -> None:
        super().load(spark)
        self.graph = lib("graph").graphify(spark, str(self.data))

    def pass_ops(self, i: int) -> list[Op]:
        rng = gen.param_rng(self.seed, f"{self.name}:{i}")
        reads = [f(rng) for f in self._templates()]
        rng.shuffle(reads)
        writes = self._write_chain(rng, i)
        at = sorted(rng.sample(range(len(reads) + len(writes)), len(writes)))
        ops, w, r = [], iter(writes), iter(reads)
        for k in range(len(reads) + len(writes)):
            ops.append(next(w) if k in at else next(r))
        return ops

    def _write_chain(self, rng, i: int) -> list[Op]:
        from pyspark.sql import functions as F

        state = {"g": self.graph}

        def write(name, layer, apply, check_build, want):
            def build():
                state["g"] = apply(state["g"])
                return check_build()

            return Op(name, "update", layer, build, collect, norm_rows(want))

        w = rng.randrange(1, 100)
        key = rng.randrange(1, self.n_customers + 1)
        bal = round(rng.uniform(-999.0, 9999.0), 2)
        return [
            write(
                "cypher_merge_set", "cypher",
                lambda g: lib("cypher_write").cypher_write(
                    g, f"MERGE (t:Tag {{name: 'tag{i}'}}) "
                       f"ON CREATE SET t.weight = {w} ON MATCH SET t.weight = {w}"),
                lambda: lib("cypher").cypher(
                    state["g"], f"MATCH (t:Tag {{name: 'tag{i}'}}) RETURN t.weight AS w"),
                [(w,)],
            ),
            write(
                "set_property", "mutation",
                lambda g: lib("mutation").set_vertex_property(
                    g, F.col("c_custkey") == key, "c_acctbal", bal),
                lambda: lib("sparql.compiler").sparql(state["g"], f"""
                    SELECT ?b WHERE {{
                      ?c v:label "Customer" . ?c v:c_custkey ?k .
                      ?c v:c_acctbal ?b . FILTER(?k = {key})
                    }}"""),
                [(bal,)],
            ),
        ]

    def _op(self, name, kind, build, sql) -> Op:
        want = norm_rows(self.con.execute(sql).fetchall())
        return Op(name, kind, kind, build, collect, want)

    def _templates(self):
        g = lambda: self.graph  # noqa: E731 - late-bound graph

        def sparql(text):
            return lambda: lib("sparql.compiler").sparql(g(), text)

        def cypher(text):
            return lambda: lib("cypher").cypher(g(), text)

        def seek(rng):
            seg, nk = rng.choice(gen.SEGMENTS), rng.randrange(25)
            return self._op("sparql_seek", "sparql", sparql(f"""
                SELECT ?name WHERE {{
                  ?c v:label "Customer" . ?c v:c_mktsegment "{seg}" .
                  ?c v:c_nationkey ?nk . ?c v:c_name ?name .
                  FILTER(?nk = {nk})
                }}"""), f"""
                SELECT c_name FROM customer
                WHERE c_mktsegment = '{seg}' AND c_nationkey = {nk}""")

        def three_hop(rng):
            region = rng.choice(gen.REGIONS)
            return self._op("sparql_three_hop", "sparql", sparql(f"""
                SELECT ?cust ?nation WHERE {{
                  ?c v:label "Customer" . ?c v:c_name ?cust .
                  ?c e:IN_NATION ?n . ?n v:n_name ?nation .
                  ?n e:IN_REGION ?r . ?r v:r_name "{region}" .
                }}"""), f"""
                SELECT c_name, n_name FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = '{region}'""")

        def topk(rng):
            seg, k = rng.choice(gen.SEGMENTS), rng.randrange(5, 40)
            t = rng.randrange(200_000, 500_000) + 0.005
            return self._op("sparql_topk", "sparql", sparql(f"""
                SELECT ?cust ?total WHERE {{
                  ?c v:label "Customer" . ?c v:c_name ?cust .
                  ?c v:c_mktsegment "{seg}" .
                  ?o e:PLACED_BY ?c . ?o v:o_totalprice ?total .
                  FILTER(?total > {t})
                }} ORDER BY DESC(?total) ?cust LIMIT {k}"""), f"""
                SELECT c_name, o_totalprice FROM orders
                JOIN customer ON o_custkey = c_custkey
                WHERE c_mktsegment = '{seg}' AND o_totalprice > {t}
                ORDER BY o_totalprice DESC, c_name LIMIT {k}""")

        def cypher_topk(rng):
            nation, _ = rng.choice(gen.NATIONS)
            b, k = rng.randrange(0, 8000) + 0.005, rng.randrange(5, 30)
            return self._op("cypher_topk", "cypher", cypher(
                f"MATCH (c:Customer)-[:IN_NATION]->(n:Nation) "
                f"WHERE c.c_acctbal > {b} AND n.n_name = '{nation}' "
                f"RETURN c.c_name AS name, c.c_acctbal AS bal "
                f"ORDER BY bal DESC, name LIMIT {k}"), f"""
                SELECT c_name, c_acctbal FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                WHERE c_acctbal > {b} AND n_name = '{nation}'
                ORDER BY c_acctbal DESC, c_name LIMIT {k}""")

        def dsl_group(rng):
            seg, b = rng.choice(gen.SEGMENTS), rng.randrange(0, 9000) + 0.005

            def build():
                P = lib("dsl").P
                return (
                    lib("dsl").traversal(g()).V().has_label("Customer")
                    .has("c_acctbal", P.gt(b)).has("c_mktsegment", seg)
                    .out("IN_NATION").group_count("n_name")
                )

            return self._op("dsl_group", "dsl", build, f"""
                SELECT n_name, COUNT(*) FROM customer
                JOIN nation ON c_nationkey = n_nationkey
                WHERE c_acctbal > {b} AND c_mktsegment = '{seg}'
                GROUP BY n_name""")

        return [seek, three_hop, topk, cypher_topk, dsl_group]


# ---------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------


def twin_pagerank(edges, n_iter: int, d: float = 0.85) -> dict:
    nodes = sorted({n for e in edges for n in e})
    out = defaultdict(list)
    for s, t in edges:
        out[s].append(t)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(rank[v] for v in nodes if v not in out)
        nxt = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            share = rank[s] / len(ts)
            for t in ts:
                nxt[t] += share
        rank = {v: (1 - d) / n + d * (nxt[v] + dangling / n) for v in nodes}
    return rank


def twin_closure(pairs) -> list[tuple]:
    up = defaultdict(set)
    for c, p in pairs:
        up[c].add(p)
    out = set()
    for c in list(up):
        stack, seen = list(up[c]), set()
        while stack:
            p = stack.pop()
            if p not in seen:
                seen.add(p)
                stack.extend(up.get(p, ()))
        out.update((c, p) for p in seen)
    return norm_rows(out)


def close_ranks(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(abs(got[k] - want[k]) < 1e-9 for k in want)


class Batch(Workload):
    """Execution-bound jobs, one after another: bulk RDF import with a
    snapshot and an N-Triples export; PageRank and a closure with an
    inferred-label lookup over edge sets of the sf0.01 graph, checked
    against pure-Python twins; and a curation operator over sf0.01
    documents, checked against its declared entry's ``oracle_sql``."""

    name = "batch"
    SF = 0.01
    PEOPLE = 2000
    # the declared entry run as the curation op
    ENTRY = "pii_scrub_docs"

    def generate(self) -> None:
        import __spark_entry__ as entry

        gen.write_tables(self.seed, self.data, self.SF)
        self.rdf = gen.write_rdf(self.seed, self.data / "rdf", self.PEOPLE)
        self.triples = {
            "import": self.rdf["n_statements"],
            # class, name and age per person plus the distinct knows edges
            "export": 3 * self.rdf["n_nodes"] + self.rdf["n_edges"],
        }
        self.curate = entry.queries()[self.ENTRY]
        self.curated = norm_rows(self.duck().execute(entry.oracle_sql()[self.ENTRY]).fetchall())

    def load(self, spark) -> None:
        from pyspark.sql import functions as F

        super().load(spark)
        g = lib("graph").graphify(spark, str(self.data))
        self.graph = g
        # the containment edges (customer/supplier -> nation -> region)
        # and the node uris the ops share
        self.cont = (
            g.edges.filter(F.col("predicate").isin("IN_NATION", "IN_REGION"))
            .select("src", "dst").localCheckpoint()
        )
        self.uris = g.nodes.select("id", "uri", "labels").localCheckpoint()

    def prepare(self) -> None:
        self.cont_rows = [tuple(r) for r in self.cont.collect()]
        self.uri_pairs = [tuple(r) for r in self._uri_pairs().collect()]
        self.label_sets = [
            (set(r[0]), r[1]) for r in self.uris.groupBy("labels").count().collect()
        ]

    def _uri_pairs(self):
        """The containment edges as (child uri, parent uri)."""
        from pyspark.sql import functions as F

        src = self.uris.select(F.col("id").alias("src"), F.col("uri").alias("child"))
        dst = self.uris.select(F.col("id").alias("dst"), F.col("uri").alias("parent"))
        return self.cont.join(src, on="src").join(dst, on="dst").select("child", "parent")

    def pass_ops(self, i: int) -> list[Op]:
        rng = gen.param_rng(self.seed, f"{self.name}:{i}")
        state: dict = {}
        return [
            self._import_op(state),
            self._export_op(state, i),
            self._pagerank_op(rng),
            self._closure_op(rng),
            self._curation_op(),
        ]

    def _import_op(self, state) -> Op:
        """Parse the N-Triples and Turtle files, import them as one
        property graph and snapshot it; the snapshot is the export's
        input."""
        rdf = self.rdf

        def build():
            reader = lib("sources.rdf_reader")
            triples = reader.read_ntriples(self.spark, str(rdf["nt"])).unionByName(
                reader.read_rdf(self.spark, str(rdf["ttl"]), fmt="Turtle")
            )
            return lib("sources.importer").import_triples(self.spark, triples)

        def fetch(g):
            g.nodes = g.nodes.localCheckpoint()
            g.edges = g.edges.localCheckpoint()
            state["g"] = g
            return g.nodes.count(), g.edges.count()

        return Op("import", "import", "sources", build, fetch,
                  (rdf["n_nodes"], rdf["n_edges"]))

    def _export_op(self, state, i: int) -> Op:
        out = self.work / f"export-{i}"

        def build():
            lib("sources.rdf_writer").export_ntriples(state["g"], str(out))
            return out

        def fetch(path):
            return sum(
                sum(1 for line in p.open() if line.strip())
                for p in path.glob("part-*")
            )

        return Op("export", "export", "sources", build, fetch, self.triples["export"])

    def _pagerank_op(self, rng) -> Op:
        n_iter = rng.choice([6, 8, 10])
        return Op("pagerank", "analytics", "analytics",
                  lambda: lib("analytics").pagerank(self.cont, n_iter=n_iter),
                  lambda df: {r[0]: r[1] for r in df.collect()},
                  twin_pagerank(self.cont_rows, n_iter), close_ranks)

    def _closure_op(self, rng) -> Op:
        """Containment closure over uris plus an inferred-label lookup
        through a seeded label hierarchy."""
        parents = ["Actor", "Place", "Thing"]
        hier_rows = [
            ("Customer", rng.choice(parents[:2])), ("Supplier", "Actor"),
            ("Nation", "Place"), ("Region", "Place"),
            ("Actor", "Thing"), ("Place", "Thing"),
            # a fresh label per pass keeps the closure cache from
            # answering later passes
            (f"Tag{rng.randrange(10**6)}", "Actor"),
        ]
        target = rng.choice(parents)
        subs = {c for c, p in twin_closure(hier_rows) if p == target} | {target}
        n_labelled = sum(n for labels, n in self.label_sets if subs & labels)

        def build():
            inf = lib("inference")
            hier = self.spark.createDataFrame(hier_rows, "child string, parent string")
            return (
                inf.transitive_closure(self._uri_pairs()),
                inf.get_nodes_with_label(self.graph, hier, target),
            )

        return Op("closure", "inference", "inference", build,
                  lambda out: (collect(out[0]), out[1].count()),
                  (twin_closure(self.uri_pairs), n_labelled))

    def _curation_op(self) -> Op:
        return Op(self.ENTRY, "operators", "operators",
                  lambda: self.curate(self.spark, str(self.data)), collect, self.curated)


WORKLOADS = {w.name: w for w in (Interactive, Batch)}
