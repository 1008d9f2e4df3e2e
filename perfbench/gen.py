"""Deterministic input generators for the benchmark.

Every generator takes an integer seed and writes the same bytes for the
same seed: the relational tables the graph is built from (TPC-H-shaped,
plus ``documents`` and ``embeddings`` for the curation operators), and
the N-Triples / Turtle files the batch workload imports. Parameter streams
for queries and updates come from :func:`param_rng`.
"""

from __future__ import annotations

import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1),
    ("EGYPT", 4), ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3),
    ("INDIA", 2), ("INDONESIA", 2), ("IRAN", 4), ("IRAQ", 4),
    ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0), ("MOROCCO", 0),
    ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3),
    ("UNITED KINGDOM", 3), ("UNITED STATES", 1),
]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = (
    "the a data query table row column join filter group order sort merge "
    "hash scan part line customer key value window stream batch spark fast "
    "slow big small agg vector index graph node edge path rank label"
).split()
EMBED_DIM = 128

# Seconds since the epoch of 1992-01-01 and the span of seven years.
_DATE0 = 694224000
_DATE_SPAN = 7 * 365 * 86400


def param_rng(seed: int, stream: str) -> random.Random:
    """Seeded parameter stream, independent per named stream."""
    return random.Random(f"{seed}:{stream}")


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def _timestamps(rng: np.random.Generator, n: int) -> pa.Array:
    secs = _DATE0 + rng.integers(0, _DATE_SPAN, n) // 86400 * 86400
    return pa.array(secs.astype("datetime64[s]").astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with planted near-duplicate families: about
    one in ten documents copies an earlier one and appends a word, which
    keeps the 8-shingle Jaccard of the pair far above 0.8 while random
    documents share almost no shingles."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " " + WORDS[int(rng.integers(0, len(WORDS)))])
            continue
        k = int(rng.integers(30, 90))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    langs = ["en", "de", "fr", "es", "zh"]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([langs[j] for j in rng.integers(0, len(langs), n)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 5, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Isotropic unit-scale vectors with planted near-duplicate pairs
    (cosine about 0.95). In 128 dimensions two random vectors sit more
    than five standard deviations below cosine 0.45, so the only pairs
    above the near-dup threshold are the planted ones."""
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    for i in range(1, n):
        if rng.random() < 0.05:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + rng.normal(0.0, 0.3, EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_tables(seed: int, out: Path, sf: float) -> Path:
    """Write the relational tables at scale factor ``sf`` (sf0.01 has
    1,500 customers, 15,000 orders and 60,000 lineitems) to ``out``."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_c, n_s, n_p = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_o, n_d = int(1_500_000 * sf), int(50_000 * sf)
    n_l = 4 * n_o
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }), out / "region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([n for n, _ in NATIONS]),
        "n_regionkey": pa.array(np.array([r for _, r in NATIONS], dtype=np.int32)),
    }), out / "nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(1, n_c + 1, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_c + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_c)]),
    }), out / "customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(1, n_s + 1, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_s + 1)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
    }), out / "supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(1, n_p + 1, dtype=np.int64)),
        "p_name": pa.array([
            " ".join(WORDS[j] for j in row) for row in rng.integers(0, len(WORDS), (n_p, 3))
        ]),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in rng.integers(1, 6, (n_p, 2))]),
        "p_type": pa.array([f"TYPE {j}" for j in rng.integers(0, 30, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(_money(rng, 900.0, 2100.0, n_p)),
    }), out / "part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(1, n_o + 1, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, n_c + 1, n_o).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_money(rng, 850.0, 550_000.0, n_o)),
        "o_orderdate": _timestamps(rng, n_o),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_o)]),
    }), out / "orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(1, n_o + 1, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(1, n_p + 1, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_s + 1, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 100_000.0, n_l)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_l) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_l) / 100.0, 2)),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_l)]),
        "l_shipdate": _timestamps(rng, n_l),
    }), out / "lineitem.parquet")
    _write(_documents(rng, n_d), out / "documents.parquet")
    _write(_embeddings(rng, n_d), out / "embeddings.parquet")
    return out


EX = "http://example.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD = "http://www.w3.org/2001/XMLSchema#"
PEOPLE_CLASSES = ["Person", "Employee", "Manager"]


def write_rdf(seed: int, out: Path, n_people: int) -> dict:
    """Write ``n_people`` people (a class, a name, an age and two
    ``knows`` edges each) as one N-Triples file and one Turtle file,
    split in half between them. Returns the paths and the node and edge
    counts the import must reproduce (repeated ``knows`` statements
    collapse to one edge)."""
    out.mkdir(parents=True, exist_ok=True)
    rng = param_rng(seed, "rdf")
    knows = set()
    nt, ttl = [], [f"@prefix ex: <{EX}> .", f"@prefix xsd: <{XSD}> ."]
    for i in range(n_people):
        cls, age = PEOPLE_CLASSES[i % 3], rng.randrange(18, 90)
        a, b = rng.randrange(n_people), rng.randrange(n_people)
        knows.update([(i, a), (i, b)])
        if i < n_people // 2:
            s = f"<{EX}p{i}>"
            nt += [
                f"{s} <{RDF_TYPE}> <{EX}{cls}> .",
                f'{s} <{EX}name> "person {i}" .',
                f'{s} <{EX}age> "{age}"^^<{XSD}integer> .',
                f"{s} <{EX}knows> <{EX}p{a}> .",
                f"{s} <{EX}knows> <{EX}p{b}> .",
            ]
        else:
            ttl.append(
                f'ex:p{i} a ex:{cls} ; ex:name "person {i}" ; '
                f'ex:age "{age}"^^xsd:integer ; ex:knows ex:p{a} , ex:p{b} .'
            )
    (out / "people.nt").write_text("\n".join(nt) + "\n")
    (out / "people.ttl").write_text("\n".join(ttl) + "\n")
    return {
        "nt": out / "people.nt",
        "ttl": out / "people.ttl",
        "n_nodes": n_people,
        "n_edges": len(knows),
        "n_statements": 5 * n_people,
    }
