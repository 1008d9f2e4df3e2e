"""Hashed-feature quality classifier: the fasttext-style linear
filter every modern pretraining pipeline runs (FineWeb-Edu, DCLM,
phi-class data curation) — logistic regression over hashing-trick
bag-of-words, trained on a bounded labeled sample, scored across the
corpus as pure JVM expressions.

No reference analog (the reference is a graph store); this extends
the quality family (``text.quality_score``'s hand rules, Gopher
rules, ``lm.bigram_perplexity``) with the LEARNED filter tier.

Scale doctrine (the ``similarity.kmeans_centroids`` class): model
TRAINING is driver-side over a bounded sample — quality labels are
human/LLM annotations that exist in the thousands, never at corpus
scale, and the model is ``n_features + 1`` floats regardless of
corpus size — while SCORING the full corpus stays distributed: one
token explode + one broadcast join against the (tiny) weight table +
one doc-keyed aggregation, all whole-stage codegen, no Python in the
row path.

Determinism: feature indexing is the repo-wide md5 contract
(``hashing.md5_prefix_long % n_features`` of the lowercase token), so
features — and therefore scores for a fixed model — replay
bit-identically on any engine and at any partitioning; the driver fit
is seedless full-batch gradient descent from zero init (fixed
row order by id), so refits on the same sample are byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pidb_rdf_spark.operators.hashing import md5_prefix_long
from pidb_rdf_spark.session import local_frame

__all__ = [
    "hashed_features",
    "quality_classifier_fit",
    "quality_classifier_score",
]


def _tokens(text_col):
    """Lowercased non-empty ``\\s+`` tokens — the repo token
    convention (DuckDB twin: ``list_filter(string_split_regex(
    lower(text), '\\s+'), x -> len(x) > 0)``)."""
    return F.filter(
        F.split(F.lower(text_col), r"\s+"), lambda w: w != ""
    )


def hashed_features(
    df: DataFrame,
    n_features: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sparse hashed bag-of-words: one row per (doc, feature) with
    ``v`` = term frequency (token count / doc token count). Feature
    index = 52-bit md5 of the token mod ``n_features`` — the hashing
    trick: no vocabulary pass, no driver state, collision rate set by
    ``n_features``. Zero-token docs emit no rows (scorers fill
    ``sigmoid(bias)``). One explode + one (id, f) aggregation."""
    if n_features < 1:
        raise ValueError("n_features must be >= 1")
    toks = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("__ts")
    ).select(
        "id",
        F.size("__ts").alias("__n"),
        F.explode("__ts").alias("__tok"),
    )
    return (
        toks.groupBy(
            "id",
            (md5_prefix_long(F.col("__tok"), 52) % n_features).alias("f"),
        )
        .agg(
            (F.count(F.lit(1)) / F.first("__n")).alias("v"),
        )
        .withColumnsRenamed({"id": id_col})
    )


def quality_classifier_fit(
    df: DataFrame,
    label_col: str,
    n_features: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    epochs: int = 200,
    lr: float = 1.0,
    l2: float = 1e-4,
    max_train: int = 100_000,
) -> dict:
    """Fit the logistic filter on a bounded labeled sample ->
    ``{"weights": [n_features floats], "bias", "n_features",
    "n_train", "loss"}`` (``loss`` = final mean log-loss, for
    convergence monitoring).

    Driver-side by design: labels are annotation-scale, the model is
    corpus-size-independent, and full-batch GD over a <=100k x sparse
    matrix is milliseconds in numpy — a distributed gradient loop
    would spend seconds of job overhead per epoch moving a vector
    that fits in one packet. The TRAINING SET is the ``max_train``
    LOWEST ids with a non-null label (fixed, seedless — the
    ``kmeans_centroids`` sampling contract); raise ``max_train``
    rather than sampling differently to keep refits comparable.
    Features come from ``hashed_features`` (the same md5 indexing the
    distributed scorer uses), L2 regularization excludes the bias."""
    import numpy as np

    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    labeled = df.filter(F.col(label_col).isNotNull())
    sample = labeled.orderBy(F.col(id_col).asc()).limit(max_train)
    feats = hashed_features(
        sample, n_features=n_features, id_col=id_col, text_col=text_col
    )
    rows = (
        feats.join(
            sample.select(
                F.col(id_col), F.col(label_col).cast("double").alias("__y")
            ),
            id_col,
        )
        .select(id_col, "f", "v", "__y")
        .collect()
    )
    if not rows:
        raise ValueError(
            "quality_classifier_fit: no labeled rows with tokens"
        )
    # fixed (id, f) order: np.add.at's float accumulation follows row
    # order, and collect() order follows partitioning — sorting is
    # what makes refits byte-identical on ANY partitioning
    rows.sort(key=lambda r: (r[0], r["f"]))
    ids = sorted({r[0] for r in rows})
    pos = {d: i for i, d in enumerate(ids)}
    n = len(ids)
    ri = np.array([pos[r[0]] for r in rows])
    fi = np.array([r["f"] for r in rows])
    fv = np.array([r["v"] for r in rows], dtype=np.float64)
    y = np.zeros(n)
    for r in rows:
        y[pos[r[0]]] = r["__y"]

    w = np.zeros(n_features)
    b = 0.0
    for _ in range(epochs):
        margin = np.bincount(ri, weights=fv * w[fi], minlength=n) + b
        p = 1.0 / (1.0 + np.exp(-margin))
        err = p - y
        g = np.zeros(n_features)
        np.add.at(g, fi, err[ri] * fv)
        w -= lr * (g / n + l2 * w)
        b -= lr * float(err.mean())
    margin = np.bincount(ri, weights=fv * w[fi], minlength=n) + b
    p = np.clip(1.0 / (1.0 + np.exp(-margin)), 1e-12, 1 - 1e-12)
    loss = float(-(y * np.log(p) + (1 - y) * np.log(1 - p)).mean())
    return {
        "weights": [float(x) for x in w],
        "bias": float(b),
        "n_features": int(n_features),
        "n_train": n,
        "loss": loss,
    }


def quality_classifier_score(
    df: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document: ``sigmoid(sum_f tf_f * w_f + bias)`` ->
    (id_col, score). Distributed and JVM-only: the weight table
    (``n_features`` rows) broadcast-joins the exploded features; docs
    with no tokens keep a row at ``sigmoid(bias)`` (a left
    join, not a silent drop). Works with any ``model`` dict shaped
    like ``quality_classifier_fit``'s output — including externally
    trained weights."""
    D = int(model["n_features"])
    weights = model["weights"]
    if len(weights) != D:
        raise ValueError("model weights length != n_features")
    # D weight rows, driver-built
    wt = local_frame(
        df.sparkSession, [(i, float(weights[i])) for i in range(D)],
        "f long, w double",
    )
    feats = hashed_features(
        df, n_features=D, id_col=id_col, text_col=text_col
    )
    margins = (
        feats.join(F.broadcast(wt), "f")
        .groupBy(id_col)
        .agg(F.sum(F.col("v") * F.col("w")).alias("__m"))
    )
    bias = float(model["bias"])
    return (
        df.select(id_col)
        .join(margins, id_col, "left")
        .select(
            id_col,
            (
                F.lit(1.0)
                / (
                    F.lit(1.0)
                    + F.exp(-(F.coalesce(F.col("__m"), F.lit(0.0)) + bias))
                )
            ).alias("score"),
        )
    )
