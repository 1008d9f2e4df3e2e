"""Local simulation of the driver's correctness gate: run every
``__spark_entry__.queries()`` entry and its ``oracle_sql()`` twin at a
given scale factor, compare row-count + (name-sorted-column,
order-insensitive) values.

Both sides stream: Spark rows through ``toLocalIterator()``, DuckDB
rows through ``fetchmany``, each folded into a multiset digest
(:func:`digest_rows`), so memory stays bounded by one partition. Only
a mismatch collects both results whole, for the row-level printout.

Usage: python tools/check_correctness.py [sf_dir] [name ...]
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def non_atomic_columns(schema) -> list:
    """Columns the DRIVER's canonicalization cannot hash.

    The driver sorts entry output through pandas before value-hashing;
    array/map/struct cells raise ``TypeError: unhashable type`` there
    (exactly how r4's ``quantize_embeddings`` shipped red while this
    checker — which stringifies lists in ``norm_cell`` — stayed green).
    Simulate the stricter contract: any entry emitting a complex-typed
    column is a FAIL here, before the driver ever sees it."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def digest_rows(cols, rows):
    """``(sorted column names, row count, digest)`` of a result, read
    in one pass over ``rows``. The digest is the sum mod 2^128 of a
    128-bit blake2b of each normalized row (cells in name-sorted column
    order): row order does not change it, row multiplicity does."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    n = total = 0
    for r in rows:
        cells = repr(tuple(norm_cell(r[i]) for i in order)).encode()
        h = hashlib.blake2b(cells, digest_size=16).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 128)
        n += 1
    return sorted(cols), n, total


def fetch_iter(cur, size: int = 10_000):
    """Stream a DuckDB cursor's rows ``size`` at a time."""
    while batch := cur.fetchmany(size):
        yield from batch


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from pidb_rdf_spark.session import get_spark

    spark = get_spark("correctness-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        bad = non_atomic_columns(sdf.schema)
        if bad:
            print(
                f"  {name:30s} FAIL non-atomic columns {bad} — the "
                "driver's pandas canon cannot hash array/map/struct "
                "cells; explode or hash them in the entry"
            )
            failures.append(name)
            continue
        sc, sn, sd = digest_rows(sdf.columns, sdf.toLocalIterator(True))
        if name not in oracles:
            print(f"  {name:30s} rows={sn} (no oracle — rows-only check)")
            continue
        ocur = con.execute(oracles[name])
        oc, on, od = digest_rows(
            [d[0] for d in ocur.description], fetch_iter(ocur)
        )
        ok = (sc, sn, sd) == (oc, on, od)
        status = "OK " if ok else "FAIL"
        print(f"  {name:30s} {status} rows={sn}/{on} cols={sc}")
        if not ok:
            failures.append(name)
            if sc != oc:
                print(f"    columns: spark={sc} oracle={oc}")
            else:
                sr = norm_rows(sdf.columns, sdf.collect())[1]
                ocur = con.execute(oracles[name])
                orr = norm_rows(
                    [d[0] for d in ocur.description], ocur.fetchall()
                )[1]
                sset, oset = set(sr), set(orr)
                for d in list(sset - oset)[:3]:
                    print(f"    spark-only: {d}")
                for d in list(oset - sset)[:3]:
                    print(f"    oracle-only: {d}")
    if failures:
        print(f"FAILURES: {failures}")
        sys.exit(1)
    print("all queries match oracle")


if __name__ == "__main__":
    main()
