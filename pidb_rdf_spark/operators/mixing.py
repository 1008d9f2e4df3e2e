"""Training-mixture construction: deterministic weighted source
sampling against a token budget (the Pile / LLaMA / Dolma mixture
step — per-source target shares, upsampling by whole epochs plus a
fractional remainder, downsampling by rate).

No reference analog (the reference is a graph store); this extends
the curation family (``curation.hash_sample``) with the step that
turns per-source weights into an actual training set.

Scale shape: the only driver-side data is the per-source token
aggregate (vocabulary-sized by construction — a mixture has tens of
sources, not millions). The plan itself is one broadcast join of the
per-source rate table + one ``explode(sequence(...))`` for epoch
replication + one filter on a deterministic integer hash — no
shuffle beyond the aggregate, no Python in the row path.

Determinism: the fractional sample keeps row (id, epoch) iff the
first 52 bits of ``md5(id ':' epoch)`` divided by 2^52 fall below
``frac`` — the repo-wide md5 hash contract (``hashing.
md5_prefix_long``), exact in a double on every engine and at any
partitioning, and safe for ids of ANY magnitude (the earlier
multiplicative hash overflowed int64 under ANSI mode for ids >=
~3.5e9). Rerunning with a larger budget keeps a superset of each
epoch's rows only when rates do not cross epoch boundaries —
document for users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.operators.hashing import md5_prefix_long
from pidb_rdf_spark.session import local_frame

_UNIT_DIV = float(1 << 52)


def unit_hash(id_col, epoch_col):
    """Deterministic uniform value in [0, 1) from (id, epoch): first
    52 md5 bits of ``id ':' epoch`` over 2^52 — overflow-proof at any
    id magnitude and bit-replayable in any engine with md5 + hex."""
    h = md5_prefix_long(
        F.concat(
            F.col(id_col).cast("string"),
            F.lit(":"),
            F.col(epoch_col).cast("string"),
        ),
        52,
    )
    return h.cast("double") / F.lit(_UNIT_DIV)


def mixture_rates(
    docs: DataFrame,
    weights: dict,
    budget_tokens: float,
    temperature: float = 1.0,
    source_col: str = "source",
    token_col: str = "n_chars",
) -> list:
    """Per-source (source, available, target, rate) for a weighted
    mixture: share_s = w_s^(1/T) / sum(w^(1/T)), target_s = budget *
    share_s, rate_s = target_s / available_s. Sources with no/zero
    weight are excluded. The per-source aggregate is the ONLY
    collect — bounded by the number of sources."""
    if budget_tokens <= 0:
        raise ValueError("budget_tokens must be positive")
    if temperature <= 0:
        raise ValueError("temperature must be positive")
    # coalesce: an all-NULL token column must read as 0 available
    # (excluded below), not None (which would TypeError in the > 0)
    avail = {
        r["s"]: r["a"]
        for r in docs.groupBy(F.col(source_col).alias("s"))
        .agg(F.coalesce(F.sum(token_col), F.lit(0)).alias("a"))
        .collect()
    }
    keep = sorted(
        s for s, w in weights.items() if w > 0 and avail.get(s, 0) > 0
    )
    if not keep:
        raise ValueError("no source has positive weight and data")
    if temperature == 1.0:  # skip pow(): exact engine-portable shares
        wt = {s: float(weights[s]) for s in keep}
    else:
        wt = {s: float(weights[s]) ** (1.0 / temperature) for s in keep}
    sum_w = 0.0
    for s in keep:  # fixed (sorted) accumulation order — deterministic
        sum_w += wt[s]
    out = []
    for s in keep:
        share = wt[s] / sum_w
        target = budget_tokens * share
        rate = target / avail[s]
        out.append((s, avail[s], target, rate))
    return out


def mix_sources(
    docs: DataFrame,
    weights: dict,
    budget_tokens: float,
    temperature: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
    token_col: str = "n_chars",
) -> DataFrame:
    """The mixed training set: every input column plus ``epoch``.

    A source with rate r contributes floor(r) full copies (epochs
    0..floor(r)-1) and one fractionally-sampled epoch floor(r) at
    rate frac(r) — the standard upsample-by-epochs construction, so
    a document never repeats within an epoch and repeats at most
    ceil(r) times overall. Expected token total = budget (per
    source: available * rate = target)."""
    rates = mixture_rates(
        docs, weights, budget_tokens, temperature, source_col, token_col
    )
    spark = docs.sparkSession
    # the rate table's key column carries the INPUT source dtype
    # (int source ids are legal — a hardcoded string schema would
    # crash createDataFrame and mistype the equi-join)
    stype = docs.schema[source_col].dataType.simpleString()
    rate_df = local_frame(
        spark,
        [(s, int(r // 1), r - int(r // 1)) for s, _a, _t, r in rates],
        f"{source_col} {stype}, __nfull int, __frac double",
    )
    return (
        docs.join(F.broadcast(rate_df), on=source_col)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.col("__nfull")))
        )
        .filter(
            (F.col("epoch") < F.col("__nfull"))
            | (unit_hash(id_col, "epoch") < F.col("__frac"))
        )
        .drop("__nfull", "__frac")
    )


def deterministic_shuffle(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the step that turns
    a curated corpus into training shards (the Pile / Dolma layout):
    every row gets a ``shard`` in [0, n_shards) and a dense ``seq``
    position within its shard, both pure functions of (salt, id).

    The order is a uniform random permutation (md5 of the id), yet
    fully reproducible: the same corpus + salt yields byte-identical
    shards on any engine, at any partitioning, on reruns — no
    ``rand()``, no ``zipWithIndex`` driver coupling, no global sort.

    Scale shape: ONE shuffle (the window's hash partition on
    ``shard``) and a per-shard local sort — never a total order over
    the corpus. n_shards controls downstream file count; at 100 TB
    pick n_shards >> executor count and write with
    ``.repartition('shard').sortWithinPartitions('seq')`` so each
    task streams one shard. Re-salting gives a fresh epoch
    permutation (``salt='epoch0'``, ``'epoch1'``, ...) without
    touching the data."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    from pyspark.sql import Window

    h = md5_prefix_long(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string")), 52
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        df.withColumn("__h", h)
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
        .withColumn("seq", F.row_number().over(w).cast("long") - 1)
        .drop("__h")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> None:
    """Materialize the training-data layout: ``deterministic_shuffle``
    then write parquet partitioned by ``shard``, rows sorted by
    ``seq`` within each file — a data loader streams shard
    directories in order and replays the exact global permutation.

    Two shard-keyed exchanges end to end (the seq window's hash
    partition, then the repartition that feeds the directory
    partitioning and local sort — AQE cannot fuse them because the
    window's partition count differs from n_shards); rerunning
    with the same salt is byte-stable, re-salting lays out a fresh
    epoch. At 100 TB pick n_shards so a shard ~ the loader's unit of
    parallelism (thousands) — parquet files per directory stay 1."""
    out = deterministic_shuffle(df, n_shards, id_col, salt)
    (
        out.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "seq")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
