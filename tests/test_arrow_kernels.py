"""Focused tests for the Arrow vector kernels that replaced the
unrolled/literal codegen expressions (round-6 optimization).

The kernels' contract is BIT-IDENTITY with the aggregate/zip_with fold:
same left-to-right float64 operation order, same null/ragged semantics
(any null side or length mismatch -> NULL, like zip_with's null
padding nulling the fold).  These tests pin both the happy path and
the guard paths against the JVM fold computed on the same rows.
"""

import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.operators.similarity import (
    _centroid_dist_arrow,
    _pair_dot_arrow,
    dot,
    embedding_near_dup_pairs,
)


@pytest.fixture(scope="module")
def pairs_df(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),          # exact dim
        (2, [0.1, -0.2, 0.3], [-0.4, 0.5, 0.625]),       # exact dim, fp
        (3, None, [1.0, 2.0, 3.0]),                      # null side
        (4, [1.0, 2.0], [1.0, 2.0, 3.0]),                # ragged
        (5, [1.0, 2.0], [3.0, 4.0]),                     # equal non-dim
        (6, [], []),                                     # empty arrays
        (7, [float("nan"), 1.0, 2.0], [1.0, 1.0, 1.0]),  # NaN propagates
    ]
    return spark.createDataFrame(
        rows, "id long, va array<double>, vb array<double>"
    )


def test_pair_dot_matches_fold_bit_exactly(pairs_df):
    kernel = _pair_dot_arrow(3)
    got = {
        r["id"]: r["k"]
        for r in pairs_df.select(
            "id", kernel("va", "vb").alias("k")
        ).collect()
    }
    want = {
        r["id"]: r["f"]
        for r in pairs_df.select(
            "id", dot(F.col("va"), F.col("vb")).alias("f")
        ).collect()
    }
    for i in want:
        if want[i] is None:
            assert got[i] is None, f"id {i}: kernel {got[i]} != fold NULL"
        elif want[i] != want[i]:  # NaN
            assert got[i] != got[i], f"id {i}: kernel {got[i]} != fold NaN"
        else:
            # bit-exact, not approx: the kernel claims fold identity
            assert got[i] == want[i], f"id {i}: {got[i]} != {want[i]}"


def test_pair_dot_null_and_ragged_are_null(pairs_df):
    kernel = _pair_dot_arrow(3)
    got = {
        r["id"]: r["k"]
        for r in pairs_df.select(
            "id", kernel("va", "vb").alias("k")
        ).collect()
    }
    assert got[3] is None          # null side
    assert got[4] is None          # length mismatch (zip_with pads null)
    assert got[5] == 11.0          # equal non-dim length: fold over it
    assert got[6] == 0.0           # empty fold = initial 0.0


def test_centroid_dists_match_sql_form(spark):
    cents = {0: [0.0, 0.0, 0.0], 1: [1.0, 2.0, 3.0]}
    df = spark.createDataFrame(
        [
            (1, [1.0, 2.0, 3.0]),
            (2, [0.25, -0.5, 0.125]),
            (3, None),
            (4, [1.0, 2.0]),  # wrong length
            (5, [float("nan"), 1.0, 2.0]),  # NaN element
        ],
        "id long, v array<double>",
    )
    kernel = _centroid_dist_arrow(cents)
    got = {
        r["id"]: r["d"]
        for r in df.select("id", kernel("v").alias("d")).collect()
    }
    # the SQL form the kernel replaced: _vv - 2*dot(v, c) + cc
    vv = dot(F.col("v"), F.col("v"))
    want_rows = df.select(
        "id",
        *[
            (
                vv
                - 2.0 * dot(F.col("v"), F.array(*[F.lit(x) for x in c]))
                + F.lit(sum(x * x for x in c))
            ).alias(f"c{i}")
            for i, c in sorted(cents.items())
        ],
    ).collect()
    for r in want_rows:
        i = r["id"]
        if i in (3, 4):
            assert got[i] is None
        elif i == 5:
            # documented divergence: NaN elements cannot cross the
            # Arrow list boundary as values; distances surface as NULL
            # (the fold yields NaN) — neither form gives a usable
            # cluster for a NaN vector
            assert got[i] == [None, None]
        else:
            assert got[i] == [r["c0"], r["c1"]], (got[i], r)


def test_pair_dot_null_element_is_nan_and_near_dup_pairs_drop_it(spark):
    """A NULL element inside a dim-length vector reaches numpy as NaN:
    the kernel returns NaN where the fold returns NULL.  The vector's
    fold norm is NULL, so every cosine it takes part in is NULL and
    ``embedding_near_dup_pairs`` drops those pairs."""
    df = spark.createDataFrame(
        [(1, [1.0, None, 3.0], [4.0, 5.0, 6.0])],
        "id long, va array<double>, vb array<double>",
    )
    row = df.select(
        _pair_dot_arrow(3)("va", "vb").alias("k"),
        dot(F.col("va"), F.col("vb")).alias("f"),
    ).first()
    assert row["k"] != row["k"]  # NaN
    assert row["f"] is None

    emb = spark.createDataFrame(
        [
            (1, [1.0, None, 0.0]),
            (2, [1.0, None, 0.0]),  # same vector as 1: cosine would be 1
            (3, [0.0, 1.0, 0.0]),
            (4, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = embedding_near_dup_pairs(emb, threshold=0.5).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(3, 4)]
