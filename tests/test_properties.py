"""Property-based invariants (hypothesis) for order-sensitive operators.

The reference's test strategy is golden fixtures (SURVEY §5); these
properties add the Spark-specific guarantees no fixture can pin down —
algebraic equivalence of skew-proof reformulations and conservation
laws — over randomized inputs.  Examples are kept small (Spark-job
latency per example), with fixed derandomized profiles so CI never
flakes.
"""

from __future__ import annotations

import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

T0 = datetime.datetime(2024, 3, 1)

# (user, minute-offset) event sets: few keys -> dense per-key streams,
# offsets spanning multiple days so sessions cross the day buckets
events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),
        st.integers(min_value=0, max_value=5000),
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@PROP
@given(rows=events_strategy)
def test_session_stats_matches_gap_reference_property(spark, rows):
    """The day-bucketed session_stats equals a pure-Python gap-session
    reference on ANY event set."""
    from dandi_s3_log_parser_spark.operators.sessionize import session_stats

    from .test_sessionize_streaming_agg import gap_sessions

    events = [(u, T0 + datetime.timedelta(minutes=m)) for u, m in rows]
    df = spark.createDataFrame(events, "user_id long, ts timestamp")
    got = session_stats(df, key_col="user_id", ts_col="ts", gap_minutes=90)
    assert sorted(map(tuple, got.collect())) == gap_sessions(events, 90)


docs_strategy = st.lists(
    st.integers(min_value=1, max_value=40),  # token count per doc
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@PROP
@given(sizes=docs_strategy)
def test_pack_sequences_conservation_property(spark, sizes):
    """Packing conserves docs and tokens exactly, and a pack never
    exceeds budget by more than one document (a doc joins the pack its
    cumulative start falls in)."""
    from dandi_s3_log_parser_spark.operators.curation import pack_sequences

    budget = 50
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    packs = pack_sequences(d, budget=budget, buckets=4, bucket_fn="md5").collect()
    assert sum(p["docs"] for p in packs) == len(sizes)
    assert sum(p["tokens"] for p in packs) == sum(sizes)
    assert all(p["tokens"] < budget + max(sizes) for p in packs)
    # seq ids are contiguous from 0 within each bucket
    by_bucket = {}
    for p in packs:
        by_bucket.setdefault(p["bucket"], []).append(p["seq_id"])
    for seqs in by_bucket.values():
        assert sorted(seqs) == list(range(len(seqs)))


words_strategy = st.lists(
    st.lists(
        st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
        min_size=3,
        max_size=8,
    ),
    min_size=2,
    max_size=12,
)


@pytest.mark.slow
@PROP
@given(docs=words_strategy)
def test_exact_duplicates_are_always_lsh_candidates_property(spark, docs):
    """A verbatim duplicate (jaccard 1.0) collides in EVERY MinHash band,
    so the candidate set must contain every exact-duplicate pair — the
    one LSH recall guarantee that holds with probability 1."""
    from dandi_s3_log_parser_spark.operators.dedup import minhash_dedup

    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    # duplicate every doc under id+1000
    rows += [(i + 1000, t) for i, t in rows]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup(d, threshold=1.0).collect()
    }
    for i, _ in enumerate(docs):
        assert (i, i + 1000) in pairs


# weight<=1 upsampling must degenerate to EXACTLY the stratified
# subsample drawn with the same salt — the two mixing operators share
# one uniform, so the corpus a user downsamples then later re-mixes
# with weights is bit-stable across the API choice
mix_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # doc_id
        st.sampled_from(["a", "b", "c"]),
        st.sampled_from([0.0, 0.25, 0.5, 1.0]),
    ),
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@pytest.mark.slow
@PROP
@given(rows=mix_strategy)
def test_upsample_weight_le1_equals_stratified_sample_property(spark, rows):
    from dandi_s3_log_parser_spark.operators.curation import (
        stratified_sample,
        upsample_corpus,
    )

    rates = {s: r for _, s, r in rows}  # last wins; any map is fine
    df = spark.createDataFrame(
        [(i, "txt", s) for i, s, _ in rows],
        "doc_id long, text string, source string",
    )
    up = upsample_corpus(
        df, rates, default_weight=0.0, salt="same-salt"
    ).select("doc_id")
    sub = stratified_sample(
        df, rates, default_rate=0.0, salt="same-salt"
    ).select("doc_id")
    assert sorted(r["doc_id"] for r in up.collect()) == sorted(
        r["doc_id"] for r in sub.collect()
    )


caps_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),    # source (few keys -> hot)
        st.integers(min_value=0, max_value=50),   # n_chars (dup-heavy ties)
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.slow
@PROP
@given(rows=caps_strategy, k=st.integers(min_value=1, max_value=5))
def test_per_key_cap_equals_pandas_topk_property(spark, rows, k):
    """per_key_cap == pandas groupby head(k) under the same total order
    on ANY input, including heavy ties (broken by doc_id)."""
    import pandas as pd

    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    data = [(i, f"s{s}", n) for i, (s, n) in enumerate(rows)]
    df = spark.createDataFrame(data, "doc_id long, source string, n_chars long")
    got = sorted(
        r["doc_id"]
        for r in per_key_cap(
            df, "source", k=k, order_by=[F.desc("n_chars"), F.asc("doc_id")]
        ).collect()
    )
    pdf = pd.DataFrame(data, columns=["doc_id", "source", "n_chars"])
    want = sorted(
        pdf.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        .groupby("source")
        .head(k)["doc_id"]
        .tolist()
    )
    assert got == want


graph_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),
        st.integers(min_value=0, max_value=14),
    ),
    min_size=1,
    max_size=40,
)


@pytest.mark.slow
@PROP
@given(edges=graph_strategy)
def test_pagerank_conserves_mass_property(spark, edges):
    """Total rank stays 1 (to rounding) on ANY digraph — including ones
    that are all self-loops after dedup (no nodes -> empty result) and
    ones with dangling sinks."""
    from dandi_s3_log_parser_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src long, dst long")
    rows = pagerank(df, iters=3).collect()
    if df.filter("src <> dst").count() == 0:
        assert rows == []  # empty after self-loop removal, no crash
        return
    total = sum(r["rank"] for r in rows)
    # ndp=8 rounding error accumulates at most n_nodes * 5e-9
    assert total == pytest.approx(1.0, abs=len(rows) * 5e-9 + 1e-9)
    assert all(r["rank"] > 0 for r in rows)


docs_strategy = st.lists(
    st.integers(min_value=0, max_value=30),
    min_size=1,
    max_size=12,
    unique=True,
)


@pytest.mark.slow
@PROP
@given(ids=docs_strategy)
def test_incremental_dedup_identical_doc_always_flagged_property(
    spark, ids
):
    """A new doc byte-identical to a corpus doc is flagged with
    jaccard 1.0 whatever the id set (identical shingle sets collide in
    every LSH band, so recall is 1 by construction)."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = spark.createDataFrame(
        [(i * 2, text) for i in ids], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(i * 2 + 1, text) for i in ids], "doc_id long, text string"
    )
    rows = incremental_minhash_dedup(new, corpus, threshold=0.99).collect()
    assert len(rows) == len(ids)
    lowest = min(i * 2 for i in ids)
    for r in rows:
        assert r["is_dup"] and r["jaccard"] == 1.0
        assert r["dup_of"] == lowest  # min corpus id wins for every new doc
