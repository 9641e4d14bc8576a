"""Hashed-feature linear quality classifier scoring.

The "quality classifier" step of a web-corpus pipeline (CCNet's
fastText language/quality filter, DataComp/FineWeb's trained quality
classifiers): a linear model over hashed bag-of-words features, applied
to every document to produce a keep/drop score.  Training happens
offline; the 100 TB job is pure INFERENCE, which is what this operator
implements.  No reference counterpart (`/root/reference` has no ML
surface) — this is graft-brief scope.

Scale shape: the model is a (bucket -> weight) table of at most a few
million rows — always broadcast.  Scoring explodes tokens, maps each
through the hashing trick (md5 -> bucket), broadcast-joins the weight,
and re-aggregates per document with a partially-aggregatable mean, so
the only exchange carries (id, partial sum, partial count) after
map-side combine — never the tokens.  Missing buckets score 0 (the
hashing-trick convention).  Totality costs nothing: ``explode_outer``
keeps empty/NULL documents as a single null-token row, so there is no
second corpus-sized restore join — the whole plan is one broadcast
join plus one aggregation exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix
from .dedup import word_tokens


def feature_bucket(tok, n_buckets: int):
    """Hashing-trick bucket for a token: first 8 hex digits of md5,
    mod ``n_buckets``.  md5 (not Spark's ``hash``) so any SQL engine —
    and the DuckDB oracle — reproduces the identical bucketing."""
    return (
        md5_prefix(tok, 8).cast("long")
        % n_buckets
    )


def hash_weights(spark, n_buckets: int) -> DataFrame:
    """Deterministic synthetic weight table for tests/benchmarks:
    ``weight(b) = hex(md5('w|' || b))[:6] / 16^6 * 2 - 1`` — uniform in
    [-1, 1), a pure function of the bucket, identical in DuckDB.
    A real deployment replaces this with trained weights (same schema:
    ``bucket long, weight double``)."""
    b = F.col("id")
    w = (
        md5_prefix(F.concat(F.lit("w|"), b.cast("string")), 6).cast("double")
        / F.lit(float(16**6))
        * 2
        - 1
    )
    return spark.range(n_buckets).select(
        b.cast("long").alias("bucket"), w.alias("weight")
    )


def linear_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    *,
    n_buckets: int = 1 << 18,
) -> DataFrame:
    """Score every document with a linear model over hashed bag-of-words
    features: ``score = sigmoid(bias + mean(weight[bucket(token)]))``
    with ``bias = 0``
    (the fastText shape — mean of feature vectors, then the linear
    layer; with scalar per-bucket weights the two collapse into one
    mean).

    ``weights`` is ``(bucket long, weight double)``; buckets absent
    from it contribute 0.  Returns one row per input document:
    ``(doc_id, n_tokens, mean_w, score)`` — a TOTAL operator (empty
    and NULL-text docs kept with ``n_tokens = 0``, ``mean_w = 0``,
    ``score = sigmoid(0) = 0.5``), so a downstream ``score >= t`` filter
    makes an explicit decision about empty text instead of silently
    dropping it.  ``explode_outer`` emits one null-token row for an
    empty document; ``count(bucket)`` skips that null, so totality
    needs no restore join.  Means are rounded to 4 decimals so the result
    is stable under summation order.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.explode_outer(word_tokens(F.col("text"))).alias("_tok"),
    ).select(
        "doc_id",
        F.when(
            F.col("_tok").isNotNull(),
            feature_bucket(F.col("_tok"), n_buckets),
        ).alias("bucket"),
    )
    scored = (
        toks.join(F.broadcast(weights), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.col("bucket")).cast("long").alias("n_tokens"),
            F.avg(F.coalesce(F.col("weight"), F.lit(0.0))).alias("_mw"),
        )
    )
    mean_w = F.round(F.coalesce(F.col("_mw"), F.lit(0.0)), 4)
    return scored.select(
        "doc_id",
        "n_tokens",
        mean_w.alias("mean_w"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(-(F.lit(0.0) + mean_w))),
            4,
        ).alias("score"),
    )
