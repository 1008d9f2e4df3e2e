"""Table profiling: per-column row/null/distinct counts — the
data-validation step a pipeline runs before and after every transform
(schema drift, null regressions, key-uniqueness checks).

No reference analog (the reference is a graph store); this extends
the curation family with the QA primitive.

Scale shape: ONE aggregation pass computes every column's metrics
(count + null count + distinct) — a single job whose output is one
row of 3 x n_columns values, collected driver-side (bounded by the
SCHEMA size, not the data — the namespace-registry class of collect).
``exact_distinct=False`` (default) uses HyperLogLog++ partial
aggregation — the bounded-state 100 TB tier; ``True`` switches to
exact ``count_distinct`` (Spark expands multiple distinct aggregates
into a union of plans — fine for validation-sized tables, and the
form a SQL oracle can replay exactly).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pidb_rdf_spark.session import local_frame


def profile_table(
    df: DataFrame,
    cols: list[str] | None = None,
    exact_distinct: bool = False,
) -> DataFrame:
    """(column, dtype, n_rows, n_null, n_distinct) per column.

    ``n_distinct`` counts non-null distinct values (approximate via
    HLL++ unless ``exact_distinct``); ``n_null`` counts NULLs.
    Row order follows the schema.
    """
    cols = list(cols) if cols is not None else list(df.columns)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"no such column(s): {missing}")
    distinct = F.count_distinct if exact_distinct else F.approx_count_distinct
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.col(c)).alias(f"__nn{i}"))
        aggs.append(distinct(F.col(c)).alias(f"__nd{i}"))
    row = df.agg(*aggs).collect()[0]  # one row, 2n+1 values — bounded
    dtypes = dict(df.dtypes)
    out = [
        (
            c,
            dtypes[c],
            row["__n"],
            row["__n"] - row[f"__nn{i}"],
            row[f"__nd{i}"],
        )
        for i, c in enumerate(cols)
    ]
    schema = T.StructType(
        [
            T.StructField("column", T.StringType(), False),
            T.StructField("dtype", T.StringType(), False),
            T.StructField("n_rows", T.LongType(), False),
            T.StructField("n_null", T.LongType(), False),
            T.StructField("n_distinct", T.LongType(), False),
        ]
    )
    return local_frame(df.sparkSession, out, schema)


def profile_diff(
    before: DataFrame,
    after: DataFrame,
    null_frac_tol: float = 0.01,
    distinct_rel_tol: float = 0.10,
) -> DataFrame:
    """Drift report between two ``profile_table`` outputs: one row
    per column with the before/after metrics and a ``drift`` flag —
    dtype changes, added/removed columns, null-fraction movement
    beyond ``null_frac_tol`` (absolute), or distinct-count movement
    beyond ``distinct_rel_tol`` (relative). The standard pre/post
    transform gate: fail the pipeline when ``drift`` is set on a
    column you did not mean to touch.

    Both inputs are profile frames (schema-bounded), so every join
    here is broadcast-trivial at any corpus size."""
    b = before.select(
        "column",
        F.col("dtype").alias("dtype_before"),
        F.col("n_rows").alias("rows_before"),
        F.col("n_null").alias("null_before"),
        F.col("n_distinct").alias("distinct_before"),
    )
    a = after.select(
        "column",
        F.col("dtype").alias("dtype_after"),
        F.col("n_rows").alias("rows_after"),
        F.col("n_null").alias("null_after"),
        F.col("n_distinct").alias("distinct_after"),
    )
    j = b.join(a, on="column", how="full_outer")
    nf_b = F.col("null_before") / F.nullif(F.col("rows_before"), F.lit(0))
    nf_a = F.col("null_after") / F.nullif(F.col("rows_after"), F.lit(0))
    rel = F.abs(F.col("distinct_after") - F.col("distinct_before")) / F.nullif(
        F.greatest("distinct_before", "distinct_after"), F.lit(0)
    )
    drift = (
        F.col("dtype_before").isNull()  # column added
        | F.col("dtype_after").isNull()  # column removed
        | (F.col("dtype_before") != F.col("dtype_after"))
        | (F.abs(F.coalesce(nf_a, F.lit(0.0)) - F.coalesce(nf_b, F.lit(0.0)))
           > null_frac_tol)
        | (F.coalesce(rel, F.lit(0.0)) > distinct_rel_tol)
    )
    return j.select(
        "column",
        "dtype_before",
        "dtype_after",
        "rows_before",
        "rows_after",
        "null_before",
        "null_after",
        "distinct_before",
        "distinct_after",
        drift.alias("drift"),
    )


# ---------------------------------------------------------------------------
# declarative constraint checks (expectations)
# ---------------------------------------------------------------------------

_CONSTRAINT_KINDS = ("not_null", "unique", "range", "in_set", "regex", "fk")


def check_constraints(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality gate: evaluate every rule in ONE pass
    and return (rule, column, n_violations, frac_violations) — the
    expectations step (Great-Expectations/dbt-test shape) a pipeline
    runs between transforms.

    Rules (dicts): ``{"kind": "not_null", "col": c}``;
    ``{"kind": "range", "col": c, "min": lo, "max": hi}`` (either
    bound optional; NULLs don't violate range — compose with
    not_null); ``{"kind": "in_set", "col": c, "values": [...]}``;
    ``{"kind": "regex", "col": c, "pattern": p}`` (full match);
    ``{"kind": "unique", "col": c}``; ``{"kind": "fk", "col": c,
    "ref": DataFrame, "ref_col": r}``.

    Scale shape: all row-level rules (not_null/range/in_set/regex)
    fold into ONE aggregation over ONE scan — adding a rule adds a
    column expression, not a pass. ``unique`` adds one hash-aggregate
    shuffle per column; ``fk`` one left-anti join against the
    (deduplicated, usually broadcastable) reference keys. Output is
    rules-sized."""
    spark = df.sparkSession
    aggs = []
    row_rules = []
    outs = []
    total = F.count(F.lit(1)).alias("__n")
    for i, r in enumerate(rules):
        kind = r.get("kind")
        if kind not in _CONSTRAINT_KINDS:
            raise ValueError(
                f"unknown constraint kind {kind!r} (one of {_CONSTRAINT_KINDS})"
            )
        c = F.col(r["col"])
        if kind == "not_null":
            viol = c.isNull()
        elif kind == "range":
            if "min" not in r and "max" not in r:
                raise ValueError("range rule needs min and/or max")
            viol = F.lit(False)
            if "min" in r:
                viol = viol | (c < F.lit(r["min"]))
            if "max" in r:
                viol = viol | (c > F.lit(r["max"]))
            viol = c.isNotNull() & viol
        elif kind == "in_set":
            viol = c.isNotNull() & ~c.isin(list(r["values"]))
        elif kind == "regex":
            viol = c.isNotNull() & ~c.cast("string").rlike(
                "^(?:" + r["pattern"] + ")$"
            )
        else:
            continue  # unique/fk handled below
        row_rules.append((i, r))
        aggs.append(
            F.sum(F.when(viol, 1).otherwise(0)).cast("long").alias(f"__v{i}")
        )
    out_schema = (
        "rule string, column string, n_violations long, frac_violations double"
    )
    if aggs:
        row0 = df.agg(total, *aggs).collect()[0]
        n = row0["__n"] or 0
        for i, r in row_rules:
            v = row0[f"__v{i}"]
            outs.append((r["kind"], r["col"], v, v / n if n else 0.0))
    for r in rules:
        if r["kind"] == "unique":
            # violations = rows beyond the first of each duplicated value
            dup = (
                df.filter(F.col(r["col"]).isNotNull())
                .groupBy(r["col"])
                .agg(F.count(F.lit(1)).alias("__c"))
                .agg(
                    F.coalesce(
                        F.sum(F.when(F.col("__c") > 1, F.col("__c") - 1)),
                        F.lit(0),
                    ).alias("__d"),
                    F.coalesce(F.sum("__c"), F.lit(0)).alias("__t"),
                )
                .collect()[0]
            )
            outs.append(
                (
                    "unique",
                    r["col"],
                    dup["__d"],
                    dup["__d"] / dup["__t"] if dup["__t"] else 0.0,
                )
            )
        elif r["kind"] == "fk":
            refk = r["ref"].select(
                F.col(r["ref_col"]).alias(r["col"])
            ).dropDuplicates()
            orphan = (
                df.filter(F.col(r["col"]).isNotNull())
                .join(refk, on=r["col"], how="left_anti")
                .count()
            )
            n = df.filter(F.col(r["col"]).isNotNull()).count()
            outs.append(("fk", r["col"], orphan, orphan / n if n else 0.0))
    return local_frame(spark, outs, out_schema)


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
    approx: bool = False,
    capacity: int = 4096,
) -> DataFrame:
    """Join-key skew diagnostic — the "does this key need salting /
    AQE skew-join?" decision in one small frame:

    one summary row (``key`` NULL): n_rows (non-null), n_distinct,
    avg_per_key, top1_share and topk_share (fraction of all rows
    carried by the heaviest and the ``top_k`` heaviest keys), plus
    skew_ratio = top1_cnt / avg_per_key — the number one compares
    against the per-partition capacity before a shuffle on this key;
    and one row per top-``top_k`` key: its count, its share, and its
    rank's running share. NULL keys are excluded (they broadcast to
    one partition in a shuffle anyway — a skew of their own; their
    count is visible as profile_table's n_null).

    Tiers: exact (default) groups the full key space — the
    SQL-replayable form; ``approx=True`` is the 100 TB tier — the
    heavy keys come from the Misra-Gries candidate pass
    (`sketch.heavy_hitters`, exact recounts, no full-key shuffle) and
    n_distinct from HyperLogLog++, so nothing in the job shuffles
    more than candidate rows.

    Output columns: (key string, cnt, rank, share, running_share,
    n_rows, n_distinct, avg_per_key, skew_ratio) — the summary row
    repeats the scalars with key/cnt/rank NULL.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    src = df.filter(F.col(key_col).isNotNull())
    if approx:
        from pidb_rdf_spark.operators.sketch import heavy_hitters

        top = heavy_hitters(src, key_col, k=top_k, capacity=capacity).drop(
            "guaranteed"
        )
        totals = src.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.approx_count_distinct(key_col).alias("n_distinct"),
        )
        # top is <= top_k rows but its lineage is the two-scan MG
        # pipeline; checkpoint so the summary branch below does not
        # replay it
        top = top.localCheckpoint(eager=False)
    else:
        counts = src.groupBy(F.col(key_col)).agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # key-cardinality-sized; checkpoint so the top-k, totals and
        # summary branches share ONE key aggregation (at 100 TB key
        # cardinalities prefer approx=True, which never materializes
        # the key space at all)
        counts = counts.localCheckpoint(eager=False)
        top = counts.orderBy(F.col("cnt").desc(), F.col(key_col)).limit(
            top_k
        )
        totals = counts.agg(
            F.sum("cnt").alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
    top = top.select(
        F.col(key_col).cast("string").alias("key"), "cnt"
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("cnt").desc(), F.col("key"))
        ),
    )
    joined = top.crossJoin(F.broadcast(totals))
    # per_key is <= top_k rows and feeds both the output and the
    # summary aggregate — materialize once
    per_key = joined.select(
        "key",
        "cnt",
        "rank",
        F.round(F.col("cnt") / F.col("n_rows"), 6).alias("share"),
        F.round(
            F.sum("cnt").over(
                Window.orderBy("rank").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            / F.col("n_rows"),
            6,
        ).alias("running_share"),
        "n_rows",
        "n_distinct",
        F.round(F.col("n_rows") / F.col("n_distinct"), 6).alias(
            "avg_per_key"
        ),
        # cast-first: an int64 cnt * n_distinct product overflows at
        # 100 TB key cardinalities (the mixing.py overflow lesson)
        F.round(
            F.col("cnt").cast("double")
            * F.col("n_distinct")
            / F.col("n_rows"),
            6,
        ).alias("skew_ratio"),
    ).localCheckpoint(eager=False)
    summary = (
        per_key.orderBy("rank")
        .limit(top_k)
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("share"))).alias(
                "top1_share"
            ),
            F.max("running_share").alias("topk_share"),
            F.max("n_rows").alias("n_rows"),
            F.max("n_distinct").alias("n_distinct"),
            F.max("avg_per_key").alias("avg_per_key"),
            F.max(F.when(F.col("rank") == 1, F.col("skew_ratio"))).alias(
                "skew_ratio"
            ),
        )
        .select(
            F.lit(None).cast("string").alias("key"),
            F.lit(None).cast("long").alias("cnt"),
            F.lit(None).cast("int").alias("rank"),
            F.col("top1_share").alias("share"),
            F.col("topk_share").alias("running_share"),
            "n_rows",
            "n_distinct",
            "avg_per_key",
            "skew_ratio",
        )
    )
    return per_key.unionByName(summary)
