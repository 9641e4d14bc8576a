"""Curation operators (``operators/curation.py``): quality signals,
dedup, sampling, splitting, chunking and corpus statistics.

Tiny hand-built corpora with hand-computed expectations; the sf0.01
DuckDB parity gate covers the same operators at corpus scale.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.operators.curation import (
    hash_split,
    pack_sequences,
    repetition_metrics,
    source_stats,
    top_bigram_fraction,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        # 4 lines, "dup dup" twice: dup_line_frac = 1 - 3/4
        (1, "a b\ndup dup\nc d\ndup dup", "en", "s1"),
        (2, "unique one\nunique two", "en", "s1"),
        (3, "", "en", "s2"),  # empty -> zeros
        (4, "x y x y x y x z", "de", "s2"),  # top bigram "x y" 3/7
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


def test_repetition_metrics_hand_computed(docs):
    got = {
        r["doc_id"]: r for r in repetition_metrics(docs).collect()
    }
    assert got[1]["line_count"] == 4
    assert got[1]["dup_line_frac"] == pytest.approx(0.25)
    # dup chars: "dup dup" (7 chars) * 2 = 14 of 3+7+3+7=20 total
    assert got[1]["dup_line_char_frac"] == pytest.approx(0.7)
    assert got[2]["dup_line_frac"] == 0.0
    assert got[3]["line_count"] == 0
    assert got[3]["dup_line_frac"] == 0.0
    assert len(got) == 4  # total operator: empty doc restored


def test_top_bigram_fraction_hand_computed(docs):
    got = {r["doc_id"]: r for r in top_bigram_fraction(docs).collect()}
    # doc 4 tokens: x y x y x y x z -> 7 bigrams, "x y" occurs 3x
    assert got[4]["bigram_count"] == 7
    assert got[4]["top_bigram_frac"] == pytest.approx(3 / 7, abs=1e-6)
    assert got[3]["bigram_count"] == 0


def test_hash_split_deterministic_and_total(spark):
    d = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = hash_split(d).groupBy("split").count().collect()
    s2 = hash_split(d.repartition(7)).groupBy("split").count().collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))
    counts = dict(map(tuple, s1))
    assert sum(counts.values()) == 1000
    # 90/5/5 within loose tolerance on 1000 md5 buckets
    assert 850 <= counts["train"] <= 950
    assert counts.get("val", 0) > 0 and counts.get("test", 0) > 0


def test_source_stats_blocklist(docs):
    out = source_stats(docs, blocklist=("s2",)).collect()
    assert [r["source"] for r in out] == ["s1"]
    assert out[0]["docs"] == 2


def test_pack_sequences_budget_and_determinism(spark):
    # 100 docs x 10 tokens, budget 25 -> each pack gets 2-3 docs
    d = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.lit(f"t{i}") for i in range(10)]).alias("text"),
    )
    packs = pack_sequences(d, budget=25, buckets=4, bucket_fn="md5").collect()
    assert sum(p["docs"] for p in packs) == 100
    assert sum(p["tokens"] for p in packs) == 1000
    # no pack except possibly each bucket's last exceeds budget by more
    # than one doc's tokens (greedy bound: tokens < budget + max_doc)
    assert all(p["tokens"] < 25 + 10 for p in packs)
    # deterministic under repartitioning
    packs2 = pack_sequences(
        d.repartition(13), budget=25, buckets=4, bucket_fn="md5"
    ).collect()
    assert sorted(map(tuple, packs)) == sorted(map(tuple, packs2))


def test_stratified_sample_semantics(spark):
    """Per-source mixing: rate 1.0 keeps everything, rate 0 drops
    everything, the draw is deterministic under repartitioning, and a
    new salt is an independent draw."""
    from dandi_s3_log_parser_spark.operators.curation import stratified_sample

    rows = [(i, f"s{i % 2}") for i in range(400)]
    d = spark.createDataFrame(rows, "doc_id long, source string")

    kept = stratified_sample(d, {"s0": 1.0, "s1": 0.5}).collect()
    s0 = [r for r in kept if r["source"] == "s0"]
    s1 = [r for r in kept if r["source"] == "s1"]
    assert len(s0) == 200                 # rate 1.0 keeps all
    assert 60 <= len(s1) <= 140           # ~0.5 of 200

    # default_rate=0 drops unknown sources entirely
    assert stratified_sample(d, {"s0": 1.0}).filter("source = 's1'").count() == 0

    # deterministic under partitioning
    again = stratified_sample(d.repartition(7), {"s0": 1.0, "s1": 0.5}).collect()
    assert sorted(map(tuple, kept)) == sorted(map(tuple, again))

    # different salt -> different (independent) draw for the sampled side
    other = stratified_sample(d, {"s0": 1.0, "s1": 0.5}, salt="mix-v2").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, kept))

    with pytest.raises(ValueError, match="rate"):
        stratified_sample(d, {"s0": 1.5})


# ---------------------------------------------------------------------------
# Corpus-level line dedup (CCNet boilerplate removal)
# ---------------------------------------------------------------------------


def test_corpus_line_dedup_hand_computed(spark):
    from dandi_s3_log_parser_spark.operators.curation import corpus_line_dedup

    rows = [
        (1, "cookie banner\nreal content one\ncookie banner"),
        (2, "cookie banner\nreal content two"),
        (3, "cookie banner\nanother thing"),
        (4, "only original text here"),
        (5, ""),  # empty doc: its single empty line is never removed
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # "cookie banner" appears in 3 distinct docs > max_doc_freq=2 -> drop
    out = {
        r["doc_id"]: r
        for r in corpus_line_dedup(df, max_doc_freq=2).collect()
    }
    assert len(out) == 5
    assert out[1]["kept_lines"] == 1 and out[1]["removed_lines"] == 2
    assert out[1]["text"] == "real content one"
    assert out[2]["text"] == "real content two"
    assert out[3]["text"] == "another thing"
    assert out[4]["removed_lines"] == 0
    assert out[4]["text"] == "only original text here"
    assert out[5]["kept_lines"] == 1 and out[5]["text"] == ""


def test_corpus_line_dedup_preserves_line_order(spark):
    from dandi_s3_log_parser_spark.operators.curation import corpus_line_dedup

    df = spark.createDataFrame(
        [(1, "z last\ncommon\na first"), (2, "common"), (3, "common")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in corpus_line_dedup(df, max_doc_freq=2).collect()
    }
    # original order, NOT sorted content order
    assert out[1] == "z last\na first"
    assert out[2] == ""


def test_corpus_line_dedup_df_exchange_carries_digest_not_line(spark):
    """The document-frequency aggregation must shuffle the sha2 digest,
    never the line bytes (the corpus-scale contract).  The digest is
    computed once into a localCheckpoint, so this plan reads the
    checkpointed ``_digest`` column instead of a sha2 expression."""
    import re

    from dandi_s3_log_parser_spark.operators.curation import corpus_line_dedup

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    lines = (
        corpus_line_dedup(df, max_doc_freq=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
        .splitlines()
    )
    # the exchange under the document-frequency aggregate (the final
    # count(distinct doc_id) per digest) is keyed on the digest alone
    (df_agg,) = [
        i for i, ln in enumerate(lines)
        if "HashAggregate" in ln and "functions=[count(distinct doc_id" in ln
    ]
    assert re.search(
        r"Exchange hashpartitioning\(_digest#\d+, \d+\)", lines[df_agg + 1]
    ), lines[df_agg + 1]
    # and no exchange anywhere is keyed on the line text
    for exch in [ln for ln in lines if "Exchange hashpartitioning" in ln]:
        assert not re.search(r"hashpartitioning\([^)]*\bline#", exch), exch


# ---------------------------------------------------------------------------
# Weighted upsampling (corpus mixing with repetition)
# ---------------------------------------------------------------------------


def test_upsample_integer_weights_exact(spark):
    from dandi_s3_log_parser_spark.operators.curation import upsample_corpus

    df = spark.createDataFrame(
        [(i, "t", ["a", "b", "c"][i % 3]) for i in range(30)],
        "doc_id long, text string, source string",
    )
    out = upsample_corpus(
        df, {"a": 3.0, "b": 1.0, "c": 0.0}, default_weight=1.0
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # integer weights have no random component at all
    assert len(by_src["a"]) == 30  # 10 docs x 3 epochs
    assert sorted(r["epoch"] for r in by_src["a"])[:3] == [0, 0, 0]
    assert len(by_src["b"]) == 10 and all(r["epoch"] == 0 for r in by_src["b"])
    assert "c" not in by_src  # weight 0 -> dropped entirely


def test_upsample_fractional_weight_bounds_and_determinism(spark):
    from dandi_s3_log_parser_spark.operators.curation import upsample_corpus

    df = spark.createDataFrame(
        [(i, "t", "s") for i in range(200)],
        "doc_id long, text string, source string",
    )
    a = upsample_corpus(df, {"s": 2.5}).collect()
    b = upsample_corpus(df, {"s": 2.5}).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    per_doc = {}
    for r in a:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert set(per_doc.values()) <= {2, 3}
    assert len(per_doc) == 200  # every doc emitted at least floor(w) times
    frac3 = sum(1 for v in per_doc.values() if v == 3) / 200
    assert 0.35 < frac3 < 0.65  # md5 uniform ~ 0.5
    # epochs are a contiguous 0..n-1 range per doc
    epochs = sorted(r["epoch"] for r in a if r["doc_id"] == 0)
    assert epochs == list(range(len(epochs)))


def test_upsample_plan_has_no_shuffle(spark):
    from dandi_s3_log_parser_spark.operators.curation import upsample_corpus

    df = spark.createDataFrame(
        [(1, "t", "s")], "doc_id long, text string, source string"
    )
    plan = (
        upsample_corpus(df, {"s": 2.5})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # pure projection + explode


def test_upsample_rejects_negative_weight(spark):
    import pytest as _pytest

    from dandi_s3_log_parser_spark.operators.curation import upsample_corpus

    df = spark.createDataFrame(
        [(1, "t", "s")], "doc_id long, text string, source string"
    )
    with _pytest.raises(ValueError):
        upsample_corpus(df, {"s": -1.0})


# ---------------------------------------------------------------------------
# Curation funnel
# ---------------------------------------------------------------------------


def test_curation_funnel_first_failing_rule_attribution(spark):
    from dandi_s3_log_parser_spark.operators.curation import curation_funnel

    df = spark.createDataFrame(
        [
            (1, 10, "en"),   # fails short AND lang-rule order -> too_short
            (2, 500, "de"),  # wrong_lang
            (3, 500, "en"),  # survives
            (4, 5, "de"),    # too_short (first failing wins)
            (5, 500, "en"),  # survives
        ],
        "doc_id long, n_chars long, lang string",
    )
    from pyspark.sql import functions as F2

    rules = [
        ("too_short", F2.col("n_chars") < 100),
        ("wrong_lang", F2.col("lang") != "en"),
    ]
    rows = curation_funnel(df, rules).collect()
    assert [(r["stage"], r["rule"], r["docs"], r["remaining"]) for r in rows] == [
        (1, "too_short", 2, 3),
        (2, "wrong_lang", 1, 2),
        (3, "survived", 2, 2),
    ]


def test_curation_funnel_zero_drop_rule_still_reported(spark):
    from pyspark.sql import functions as F2

    from dandi_s3_log_parser_spark.operators.curation import curation_funnel

    df = spark.createDataFrame([(1, 500, "en")], "doc_id long, n_chars long, lang string")
    rows = curation_funnel(
        df, [("too_short", F2.col("n_chars") < 100)]
    ).collect()
    assert [(r["rule"], r["docs"], r["remaining"]) for r in rows] == [
        ("too_short", 0, 1),
        ("survived", 1, 1),
    ]


def test_curation_funnel_single_scan(spark):
    """All rules fold into one CASE projection — the corpus must be
    scanned exactly once."""
    from pyspark.sql import functions as F2

    from dandi_s3_log_parser_spark.operators.curation import curation_funnel

    df = spark.range(10).select(
        F2.col("id").alias("doc_id"),
        F2.lit(500).alias("n_chars"),
        F2.lit("en").alias("lang"),
    )
    plan = (
        curation_funnel(df, [("too_short", F2.col("n_chars") < 100)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the single corpus scan happens eagerly at construction (one CASE
    # projection + hash aggregate); the returned report is a local
    # table — its plan must contain NO corpus scan and NO Window
    assert plan.count("Range (0, 10") == 0
    assert "LocalTableScan" in plan or "ExistingRDD" in plan
    assert "Window" not in plan


def test_unigram_logprob_hand_computed(spark):
    """3-doc corpus: vocab {a:3, b:2, c:1}, total 6.  Doc nll is the
    mean of -ln(cnt/6) over its token instances."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in unigram_logprob(df).collect()}
    p = {"a": 3 / 6, "b": 2 / 6, "c": 1 / 6}
    exp1 = -(math.log(p["a"]) * 2 + math.log(p["b"])) / 3
    exp3 = -math.log(p["c"])
    assert got[1]["n_tokens"] == 3
    assert got[1]["nll"] == pytest.approx(round(exp1, 4), abs=1e-9)
    assert got[3]["nll"] == pytest.approx(round(exp3, 4), abs=1e-9)
    # rarest-token doc scores highest (garbage detection direction)
    assert got[3]["nll"] > got[1]["nll"] > 0


def test_unigram_logprob_single_tokenize_no_text_shuffle(spark):
    """The explode feeds both the vocab aggregate and the probe join;
    no exchange in the plan carries the raw text column."""
    from dandi_s3_log_parser_spark.operators.curation import unigram_logprob

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    plan = (
        unigram_logprob(df)._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line


def test_group_quantiles_hand_computed(spark):
    """p*(n-1) rank-linear interpolation, per group: [10,20,30,40] has
    p25 = 17.5, p50 = 25, p75 = 32.5; a singleton group returns the
    value at every quantile."""
    from dandi_s3_log_parser_spark.operators.curation import group_quantiles

    df = spark.createDataFrame(
        [("a", 10), ("a", 20), ("a", 30), ("a", 40), ("b", 7)],
        "g string, v long",
    )
    got = {r["g"]: r for r in group_quantiles(df, "g", "v").collect()}
    a = got["a"]
    assert (a["n"], a["p25"], a["p50"], a["p75"]) == (4, 17.5, 25.0, 32.5)
    assert a["p95"] == pytest.approx(38.5)
    b = got["b"]
    assert (b["n"], b["p25"], b["p50"], b["p95"]) == (1, 7.0, 7.0, 7.0)


def test_group_quantiles_single_shuffle(spark):
    """All quantiles + the count must come from ONE aggregation over one
    group-keyed exchange — no plan-doubling self-join."""
    from dandi_s3_log_parser_spark.operators.curation import group_quantiles

    df = spark.createDataFrame([("a", 1)], "g string, v long")
    plan = (
        group_quantiles(df, "g", "v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1


def test_approx_distinct_check_semantics(spark):
    """Exact counts are exact; the HLL sketch at rsd=5% must sit inside
    the 20% tolerance on an easy 100-distinct group."""
    from dandi_s3_log_parser_spark.operators.curation import (
        approx_distinct_check,
    )

    df = spark.range(300).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 100).alias("v"),
    )
    rows = {r["g"]: r for r in approx_distinct_check(df, "g", "v").collect()}
    assert set(rows) == {"0", "1", "2"}
    for r in rows.values():
        # ids 0..299 % 3 buckets each see 100 distinct (id % 100) values?
        # bucket g sees v = (3k+g) % 100 over k=0..99 -> all residues mod 100
        assert r["exact_distinct"] == 100
        assert r["approx_ok"] is True


def test_chunk_documents_window_geometry(spark):
    """12 tokens, window=5, stride=3: starts 0,3,6,9 -> sizes 5,5,5,3;
    the tail is covered exactly once past the last full window."""
    from dandi_s3_log_parser_spark.operators.curation import chunk_documents

    text = " ".join(f"t{i}" for i in range(12))
    df = spark.createDataFrame([(1, text), (2, "a b c"), (3, "")],
                               "doc_id long, text string")
    rows = chunk_documents(df, window=5, stride=3).collect()
    got = {(r["doc_id"], r["chunk_id"]): r for r in rows}
    assert [got[(1, i)]["n_tokens"] for i in range(4)] == [5, 5, 5, 3]
    assert got[(1, 3)]["chunk"] == "t9 t10 t11"
    assert got[(1, 1)]["chunk"] == "t3 t4 t5 t6 t7"
    # shorter than window -> exactly one full-coverage chunk
    assert got[(2, 0)]["n_tokens"] == 3 and got[(2, 0)]["chunk"] == "a b c"
    assert sum(1 for k in got if k[0] == 2) == 1
    # empty doc -> one empty chunk, not zero rows (count-preserving)
    assert got[(3, 0)]["n_tokens"] == 0 and got[(3, 0)]["chunk"] == ""


def test_chunk_documents_no_shuffle(spark):
    """Chunking is a pure map-side fan-out: no Exchange in the plan
    (the orderBy is the query-surface sort, so check pre-sort)."""
    from dandi_s3_log_parser_spark.operators.curation import chunk_documents
    import pytest as _pytest

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        chunk_documents(df, window=2, stride=1)
        .drop("chunk")  # plan shape unaffected
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan
    with _pytest.raises(ValueError):
        chunk_documents(df, window=4, stride=5)


def test_tfidf_top_terms_hand_computed(spark):
    """3 docs; 'shared' appears in all (low idf), 'rare' in one (high
    idf).  Check the smooth-idf math against a hand evaluation and the
    term-asc tie-break."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "rare shared shared"),
            (2, "shared common common"),
            (3, "shared common"),
        ],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, k=2).collect()
    got = {(r["doc_id"], r["rank"]): r for r in rows}

    def tfidf(tf, dfreq, n=3):
        return round(tf * (math.log((n + 1) / (dfreq + 1)) + 1), 6)

    # doc 1: rare tf=1 df=1 -> 1*(ln(2)+1); shared tf=2 df=3 -> 2*1.0
    assert got[(1, 1)]["term"] == "shared"
    assert got[(1, 1)]["tfidf"] == pytest.approx(tfidf(2, 3))
    assert got[(1, 2)]["term"] == "rare"
    assert got[(1, 2)]["tfidf"] == pytest.approx(tfidf(1, 1))
    # doc 2: common tf=2 df=2 beats shared tf=1 df=3
    assert got[(2, 1)]["term"] == "common"
    assert got[(2, 2)]["term"] == "shared"
    # doc 3: common (ln(4/3)+1 ~ 1.288) > shared (1.0); ties impossible
    # here, so force one: equal scores order by term ascending
    assert got[(3, 1)]["term"] == "common"
    # k caps the output per doc
    assert sum(1 for key in got if key[0] == 1) == 2


def test_tfidf_tie_breaks_by_term(spark):
    """Two terms with identical tf and df in the same doc -> identical
    rounded score; rank must order them by term ascending."""
    from dandi_s3_log_parser_spark.operators.curation import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "zebra apple"), (2, "zebra apple")],
        "doc_id long, text string",
    )
    rows = tfidf_top_terms(df, k=2).filter(F.col("doc_id") == 1).collect()
    assert [r["term"] for r in rows] == ["apple", "zebra"]
    assert rows[0]["tfidf"] == rows[1]["tfidf"]


def test_tfidf_window_plans_as_group_limit(spark):
    """The per-doc top-k must plan as WindowGroupLimit (map-side
    partial top-k before the exchange), not a full window sort."""
    from dandi_s3_log_parser_spark.operators.curation import tfidf_top_terms

    df = spark.createDataFrame(
        [(i, "a b c d") for i in range(10)], "doc_id long, text string"
    )
    plan = (
        tfidf_top_terms(df, k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_select_budget_prefix_semantics(spark):
    """Hand walk: docs ordered by (score desc, id asc); keep while the
    inclusive cumsum fits.  The first overflow drops the doc AND the
    rest of the prefix order (prefix, not knapsack: a later smaller doc
    that would fit is still dropped)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        select_by_token_budget,
    )

    df = spark.createDataFrame(
        [
            (1, 0.9, 50),
            (2, 0.9, 30),   # tie with 1 -> id asc: 1 then 2
            (3, 0.8, 100),  # cum 180 > 150: overflow, dropped
            (4, 0.7, 10),   # would fit but comes after overflow: dropped
        ],
        "doc_id long, score double, n_tokens long",
    )
    got = sorted(
        r["doc_id"]
        for r in select_by_token_budget(df, 150).collect()
    )
    assert got == [1, 2]


def test_select_budget_edge_bin_exact_walk(spark):
    """Docs landing in the same coarse bin (bin_ndp=1) with distinct
    exact scores: the edge-bin walk must use exact score order, and a
    zero-token doc at the boundary is kept (cum unchanged)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        select_by_token_budget,
    )

    df = spark.createDataFrame(
        [
            (1, 0.94, 60),  # kept: cum 60
            (2, 0.93, 40),  # kept: cum 100 == budget
            (3, 0.92, 0),   # kept: cum still 100 <= budget
            (4, 0.91, 1),   # dropped: cum 101
        ],
        "doc_id long, score double, n_tokens long",
    )
    got = sorted(
        r["doc_id"]
        for r in select_by_token_budget(df, 100, bin_ndp=1).collect()
    )
    assert got == [1, 2, 3]
    # budget 0 selects nothing (unless leading docs are zero-token)
    assert select_by_token_budget(df, 0, bin_ndp=1).count() == 0
    with pytest.raises(ValueError):
        select_by_token_budget(df, -1)


def test_select_budget_no_fact_sized_window(spark):
    """The ONLY window in the plan is the edge-bin walk, PARTITIONED
    by _bin — the histogram cumsum is a broadcast non-equi self-join,
    so no unpartitioned (single-task) Window exists anywhere.  A naive
    global selection window would order by (score, doc_id) with no
    _bin partition."""
    from dandi_s3_log_parser_spark.operators.curation import (
        select_by_token_budget,
    )

    df = spark.createDataFrame(
        [(i, float(i % 7) / 10, 10) for i in range(100)],
        "doc_id long, score double, n_tokens long",
    )
    qe = select_by_token_budget(df, 300)._jdf.queryExecution()
    plan = qe.optimizedPlan().toString()
    specs = [
        seg.split(")")[0]
        for seg in plan.split("windowspecdefinition(")[1:]
    ]
    assert len(specs) == 1  # edge walk only
    assert specs[0].startswith("_bin")  # partitioned by the bin key
    # histogram cumsum became a broadcast range join
    assert "BroadcastNestedLoopJoin" in (
        qe.executedPlan().toString()
    )


def test_temperature_weights_math(spark):
    """2 sources, 100 vs 1 docs, alpha=0.5: p_temp = 10/11 vs 1/11;
    alpha=1 is the natural distribution (weights all 1); alpha=0 is
    uniform (p_temp = 1/k)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        temperature_weights,
    )

    df = spark.createDataFrame(
        [(i, "big") for i in range(100)] + [(100, "small")],
        "doc_id long, source string",
    )
    w = {r["source"]: r for r in temperature_weights(df, 0.5).collect()}
    assert w["big"]["p_temp"] == pytest.approx(10 / 11, abs=1e-6)
    assert w["small"]["p_temp"] == pytest.approx(1 / 11, abs=1e-6)
    # low-resource boost: small's weight > 1, big's < 1
    assert w["small"]["weight"] > 1 > w["big"]["weight"]
    # alpha=1 -> natural mix
    for r in temperature_weights(df, 1.0).collect():
        assert r["weight"] == pytest.approx(1.0, abs=1e-6)
    # alpha=0 -> uniform over sources
    for r in temperature_weights(df, 0.0).collect():
        assert r["p_temp"] == pytest.approx(0.5, abs=1e-6)
    with pytest.raises(ValueError):
        temperature_weights(df, -0.1)


def test_temperature_weights_feed_upsample(spark):
    """End-to-end mixing: tempered weights handed to upsample_corpus
    shift the realized mix toward the tempered distribution."""
    from dandi_s3_log_parser_spark.operators.curation import (
        temperature_weights,
        upsample_corpus,
    )

    df = spark.createDataFrame(
        [(i, "big", "t") for i in range(200)] + [(200, "small", "t")],
        "doc_id long, source string, text string",
    )
    wts = {
        r["source"]: r["weight"]
        for r in temperature_weights(df, 0.3).collect()
    }
    out = upsample_corpus(df, wts).groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in out}
    # small (weight ~41) must be heavily repeated; big downsampled
    assert got["small"] >= 30
    assert got["big"] < 200


def test_dsir_importance_hand_computed(spark):
    """Tiny corpus, Laplace math by hand: target-like doc scores above
    the off-target doc, and both means match the closed form."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import dsir_importance

    docs = spark.createDataFrame(
        [(0, "alpha alpha beta"), (1, "beta gamma")],
        "doc_id long, text string",
    )
    target = docs.filter("doc_id = 0")
    got = {r["doc_id"]: r for r in dsir_importance(docs, target).collect()}
    # corpus: alpha 2, beta 2, gamma 1 (T_c=5); target: alpha 2, beta 1
    # (T_t=3); union V=3
    lr_alpha = math.log((2 + 1) / (3 + 3)) - math.log((2 + 1) / (5 + 3))
    lr_beta = math.log((1 + 1) / 6) - math.log((2 + 1) / 8)
    lr_gamma = math.log((0 + 1) / 6) - math.log((1 + 1) / 8)
    want0 = round((2 * lr_alpha + lr_beta) / 3, 4)
    want1 = round((lr_beta + lr_gamma) / 2, 4)
    assert got[0]["logratio"] == pytest.approx(want0, abs=1e-9)
    assert got[1]["logratio"] == pytest.approx(want1, abs=1e-9)
    assert got[0]["logratio"] > got[1]["logratio"]
    assert got[0]["n_tokens"] == 3 and got[1]["n_tokens"] == 2


def test_dsir_single_tokenize_no_text_shuffle(spark):
    """The corpus-scale contract: text is tokenized once and never
    shuffled — every hash exchange carries the token or the doc id."""
    import re

    from dandi_s3_log_parser_spark.operators.curation import dsir_importance

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "b c")], "doc_id long, text string"
    )
    plan = (
        dsir_importance(docs, docs.filter("doc_id = 0"))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert not re.search(r"hashpartitioning\(text", ln), ln


def test_gumbel_topk_deterministic_and_score_dominant(spark):
    """Same salt -> identical selection under repartitioning; the
    md5-seeded noise is bounded by ln(2^32) ~ 22, so a 100-point score
    gap is deterministic: all high-score rows select first.  The noise
    column matches the closed form."""
    import hashlib
    import math

    from dandi_s3_log_parser_spark.operators.curation import gumbel_topk

    rows = [(i, 100.0 if i < 10 else 0.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, logratio double")
    sel = gumbel_topk(df, 15).collect()
    ids = {r["doc_id"] for r in sel}
    assert len(sel) == 15
    assert set(range(10)) <= ids  # every high-score row selected
    # closed-form noise check for one row
    r0 = next(r for r in sel if r["doc_id"] == 0)
    h = int(hashlib.md5(b"gumbel-v1|0").hexdigest()[:8], 16)
    u = (h + 0.5) / 4294967296.0
    assert r0["gumbel_key"] == pytest.approx(
        round(100.0 + -math.log(-math.log(u)), 6), abs=1e-9
    )
    # partition-invariant
    again = gumbel_topk(df.repartition(7), 15).collect()
    assert sorted(map(tuple, sel)) == sorted(map(tuple, again))
    # different salt -> different draw among the tied-score tail
    other = gumbel_topk(df, 15, salt="gumbel-v2").collect()
    assert {r["doc_id"] for r in other} != ids
    with pytest.raises(ValueError):
        gumbel_topk(df, 0)


def test_gumbel_topk_plans_take_ordered(spark):
    """No global sort: the ordered limit must plan as
    TakeOrderedAndProject."""
    from dandi_s3_log_parser_spark.operators.curation import gumbel_topk

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "doc_id long, logratio double"
    )
    plan = (
        gumbel_topk(df, 5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_inverted_index_postings_and_df(spark):
    """Hand-built corpus: exact df counts duplicates once; postings
    ascend and cap at max_postings while df stays exact."""
    from dandi_s3_log_parser_spark.operators.curation import inverted_index

    docs = spark.createDataFrame(
        [(3, "b a"), (1, "a a b"), (2, "a c")],
        "doc_id long, text string",
    )
    got = {r["token"]: r for r in inverted_index(docs).collect()}
    assert got["a"]["df"] == 3 and got["a"]["postings"] == "1,2,3"
    assert got["b"]["df"] == 2 and got["b"]["postings"] == "1,3"
    assert got["c"]["df"] == 1 and got["c"]["postings"] == "2"
    capped = {
        r["token"]: r for r in inverted_index(docs, max_postings=2).collect()
    }
    assert capped["a"]["df"] == 3  # df exact even when postings capped
    assert capped["a"]["postings"] == "1,2"
    with pytest.raises(ValueError):
        inverted_index(docs, max_postings=0)


def test_inverted_index_plans_window_group_limit(spark):
    """The per-token cap must plan as WindowGroupLimit (partial,
    map-side limiting before the window sort) so a stopword's full
    posting list never reaches one task."""
    from dandi_s3_log_parser_spark.operators.curation import inverted_index

    docs = spark.createDataFrame(
        [(i, "the quick") for i in range(50)], "doc_id long, text string"
    )
    plan = (
        inverted_index(docs, max_postings=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan


def test_filter_blocked_domains_suffix_semantics(spark):
    """Exact and subdomain matches drop; a listed domain's PARENT
    suffix does not block; blocklist case-insensitive."""
    from dandi_s3_log_parser_spark.operators.curation import (
        filter_blocked_domains,
    )

    docs = spark.createDataFrame(
        [
            (1, "bad.com"),
            (2, "Deep.Sub.BAD.com"),
            (3, "notbad.com"),
            (4, "tracker.net"),          # parent of a listed domain
            (5, "x.ads.tracker.net"),
            (6, "good.io"),
        ],
        "doc_id long, host string",
    )
    block = spark.createDataFrame(
        [("BAD.COM",), ("ads.tracker.net",)], "domain string"
    )
    kept = sorted(
        r["doc_id"] for r in filter_blocked_domains(docs, block).collect()
    )
    assert kept == [3, 4, 6]


def test_filter_blocked_domains_probe_is_broadcast_narrow(spark):
    """The blocklist probe must be a broadcast join, and the explode
    must fan out only (id, host) — a wide payload column stays put."""
    from dandi_s3_log_parser_spark.operators.curation import (
        filter_blocked_domains,
    )

    docs = spark.createDataFrame(
        [(1, "a.bad.com", "PAYLOAD" * 100)],
        "doc_id long, host string, text string",
    )
    block = spark.createDataFrame([("bad.com",)], "domain string")
    out = filter_blocked_domains(docs, block)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the generate (explode) node projects only id + host, never text
    gen = [ln for ln in plan.splitlines() if "Generate explode" in ln]
    assert gen and all("text" not in ln for ln in gen)
    assert out.count() == 0


def test_domain_suffixes_values(spark):
    from dandi_s3_log_parser_spark.functions.url import domain_suffixes

    row = (
        spark.createDataFrame([("A.b.C",)], "h string")
        .select(domain_suffixes(F.col("h")).alias("s"))
        .first()
    )
    assert row["s"] == ["a.b.c", "b.c", "c"]


# ---------------------------------------------------------------------------
# boilerplate_strip — jusText-lite segment classifier
# ---------------------------------------------------------------------------


def test_boilerplate_strip_hand_computed(spark):
    from dandi_s3_log_parser_spark.operators.curation import boilerplate_strip

    rows = [
        # para 1 = prose (13 words -> blocks of 10+3, both stopword-dense);
        # para 2 = stopword-free junk (11 words -> blocks of 10+1, dropped)
        (1, "the cat sat on the mat and it was warm in the sun today\n"
            "buy now click here best deals sale discount offer free shipping"),
        # 30 words, single paragraph: the/10 keep, zz/10 drop, stop/10 keep
        (2, " ".join(["the"] * 10 + ["zz"] * 10
                     + ["of", "a", "the", "is", "in", "on", "at", "we",
                        "do", "it"])),
        (3, ""),          # empty -> 0 segments, NULL frac
        (4, "   \n  "),   # whitespace-only paragraphs -> 0 segments
        (5, "short one"),  # below min_words -> dropped regardless of ratio
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in boilerplate_strip(
            df, block_words=10, min_stopword_ratio=0.2, min_words=3
        ).collect()
    }
    assert got[1]["clean_text"] == (
        "the cat sat on the mat and it was warm in the sun today"
    )
    assert (got[1]["n_segments"], got[1]["n_kept"]) == (4, 2)
    assert got[1]["boilerplate_frac"] == 0.5
    assert got[2]["n_segments"] == 3 and got[2]["n_kept"] == 2
    assert "zz" not in got[2]["clean_text"]
    assert got[2]["clean_text"].startswith("the the")  # order preserved
    assert (got[3]["n_segments"], got[3]["boilerplate_frac"]) == (0, None)
    assert got[3]["clean_text"] == ""
    assert got[4]["n_segments"] == 0
    assert (got[5]["n_kept"], got[5]["boilerplate_frac"]) == (0, 1.0)


def test_boilerplate_strip_plan_single_eval_no_exchange(spark):
    """The segment array must be built once per row (staged projections
    stop CollapseProject from inlining it per output column) and the
    whole operator must stay map-only."""
    from dandi_s3_log_parser_spark.operators.curation import boilerplate_strip

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        boilerplate_strip(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("regexp_extract_all") == 1
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# approx_quantile_check — GK sketch vs exact rank-error bracket
# ---------------------------------------------------------------------------


def test_approx_quantile_check_within_guarantee(spark):
    """A coarse sketch (accuracy=10, 10% rank error) over 1000 distinct
    values must still pass the +/- slack/accuracy bracket."""
    from dandi_s3_log_parser_spark.operators.curation import (
        approx_quantile_check,
    )

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1000)], "grp string, v double"
    )
    row = approx_quantile_check(
        df, "grp", "v", probs=(0.5, 0.9), accuracy=10
    ).collect()[0]
    assert row["n"] == 1000
    assert row["p50"] == 499.5  # exact interpolated median of 0..999
    assert row["p50_ok"] and row["p90_ok"]


def test_approx_quantile_check_zero_slack_can_fail(spark):
    """With slack=0 the bracket collapses to the exact interpolated
    value; the sketch returns a real ELEMENT, which on an even-count
    group differs from the interpolation — proving the check is real
    (capable of failing), not a tautology."""
    from dandi_s3_log_parser_spark.operators.curation import (
        approx_quantile_check,
    )

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(100)], "grp string, v double"
    )
    row = approx_quantile_check(
        df, "grp", "v", probs=(0.5,), accuracy=10000, slack=0.0
    ).collect()[0]
    assert row["p50"] == 49.5
    assert row["p50_ok"] is False


# ---------------------------------------------------------------------------
# char_entropy — character-distribution quality signal
# ---------------------------------------------------------------------------


def test_char_entropy_hand_computed(spark):
    import math

    from dandi_s3_log_parser_spark.operators.curation import char_entropy

    rows = [
        (1, "aaaa"),        # one symbol -> 0 bits
        (2, "abab"),        # two equiprobable -> 1 bit
        (3, "abcd"),        # four equiprobable -> 2 bits
        (4, ""),            # empty -> (0, 0.0)
        (5, "aab"),         # 2/3,1/3 -> H = log2(3) - (2/3)
    ]
    got = {
        r["doc_id"]: r
        for r in char_entropy(
            spark.createDataFrame(rows, "doc_id long, text string")
        ).collect()
    }
    assert (got[1]["n_chars"], got[1]["entropy"]) == (4, 0.0)
    assert got[2]["entropy"] == 1.0
    assert got[3]["entropy"] == 2.0
    assert (got[4]["n_chars"], got[4]["entropy"]) == (0, 0.0)
    assert got[5]["entropy"] == pytest.approx(
        round(math.log2(3) - 2 / 3, 6)
    )


def test_char_entropy_counts_newlines_and_spaces(spark):
    """(?s). must include whitespace/newlines — they are part of the
    byte-level distribution a garbled-text filter looks at."""
    from dandi_s3_log_parser_spark.operators.curation import char_entropy

    got = char_entropy(
        spark.createDataFrame([(1, "a\n b")], "doc_id long, text string")
    ).collect()[0]
    assert got["n_chars"] == 4
    assert got["entropy"] == 2.0


# ---------------------------------------------------------------------------
# pmi_collocations — bigram PMI
# ---------------------------------------------------------------------------


def test_pmi_collocations_hand_computed(spark):
    """'new york' always co-occurs; 'the the' is anti-associated."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import pmi_collocations

    # 4 docs, each "new york" once; "the" floods the unigram table
    rows = [(i, "the quick the lazy new york the end") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["w1"], r["w2"]): r
        for r in pmi_collocations(df, min_count=2, topk=100).collect()
    }
    ny = got[("new", "york")]
    assert ny["pair_count"] == 4
    # p(new,york)=4/28 bigrams; p(new)=p(york)=4/32 tokens
    expect = math.log2((4 / 28) / ((4 / 32) * (4 / 32)))
    assert ny["pmi"] == pytest.approx(round(expect, 6))
    # frequent-but-independent pair scores far lower
    assert got[("the", "quick")]["pmi"] < ny["pmi"]


def test_pmi_collocations_min_count_prunes_before_topk(spark):
    from dandi_s3_log_parser_spark.operators.curation import pmi_collocations

    rows = [(1, "rare pair"), (2, "common duo"), (3, "common duo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = pmi_collocations(df, min_count=2, topk=10).collect()
    assert [(r["w1"], r["w2"]) for r in got] == [("common", "duo")]


def test_pmi_collocations_plan_take_ordered_and_reused_exchange(spark):
    """Top-k must be TakeOrderedAndProject (no global sort) and the
    bigram-total branch must reuse the pair aggregate's exchange."""
    from dandi_s3_log_parser_spark.operators.curation import pmi_collocations

    df = spark.createDataFrame(
        [(1, "a b a b")], "doc_id long, text string"
    )
    # assert on the static plan: the AQE executedPlan string is
    # session-history-dependent (flaked once in a full-suite run), while
    # TakeOrderedAndProject and ReuseExchange are deterministic physical
    # preparation rules visible without AQE re-planning
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = pmi_collocations(df, min_count=1)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.split("TakeOrderedAndProject")[0]
    assert "ReusedExchange" in plan


# ---------------------------------------------------------------------------
# equidepth_histogram — cutpoint-counted value buckets
# ---------------------------------------------------------------------------


def test_equidepth_histogram_uniform_values(spark):
    from dandi_s3_log_parser_spark.operators.curation import (
        equidepth_histogram,
    )

    df = spark.createDataFrame(
        [("g", float(i)) for i in range(16)], "grp string, v double"
    )
    got = equidepth_histogram(df, "v", group_col="grp", buckets=4).collect()
    assert [
        (r["bucket"], r["n"], r["lo"], r["hi"]) for r in got
    ] == [
        (0, 4, 0.0, 3.0),
        (1, 4, 4.0, 7.0),
        (2, 4, 8.0, 11.0),
        (3, 4, 12.0, 15.0),
    ]


def test_equidepth_histogram_ties_lower_bucket_and_gaps(spark):
    """A value equal to a cutpoint lands in the LOWER bucket; a heavy
    tie can empty downstream buckets (absent rows, not zero rows)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        equidepth_histogram,
    )

    df = spark.createDataFrame(
        [("g", 1.0)] * 9 + [("g", 9.0)], "grp string, v double"
    )
    got = equidepth_histogram(df, "v", group_col="grp", buckets=2).collect()
    # median cut = 1.0; every 1.0 is NOT strictly above it -> bucket 0
    assert [(r["bucket"], r["n"], r["lo"], r["hi"]) for r in got] == [
        (0, 9, 1.0, 1.0),
        (1, 1, 9.0, 9.0),
    ]


def test_equidepth_histogram_plan_no_sort_no_window(spark):
    from dandi_s3_log_parser_spark.operators.curation import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([("g", 1.0)], "grp string, v double")
    out = equidepth_histogram(df, "v", group_col="grp")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_corpus_shuffle_deterministic_total_and_dense(spark):
    from dandi_s3_log_parser_spark.operators.curation import corpus_shuffle

    d = spark.range(500).withColumnRenamed("id", "doc_id")
    out = corpus_shuffle(d, n_shards=4).collect()
    # total: every doc assigned exactly once
    assert len(out) == 500
    assert len({r["doc_id"] for r in out}) == 500
    # positions are a dense 1..k range per shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # md5 draw -> roughly uniform shards (loose bound)
    assert min(len(v) for v in by_shard.values()) > 60
    # deterministic across partitionings: same (doc_id, shard, pos)
    again = corpus_shuffle(
        d.repartition(13), n_shards=4
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_corpus_shuffle_salt_changes_order_not_totality(spark):
    from dandi_s3_log_parser_spark.operators.curation import corpus_shuffle

    d = spark.range(200).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: (r["shard"], r["pos"]) for r in
         corpus_shuffle(d, n_shards=4, salt="epoch-0").collect()}
    b = {r["doc_id"]: (r["shard"], r["pos"]) for r in
         corpus_shuffle(d, n_shards=4, salt="epoch-1").collect()}
    assert set(a) == set(b)  # same docs either way
    assert a != b  # a different salt reshuffles


def test_bigram_logprob_hand_computed(spark):
    import math

    from dandi_s3_log_parser_spark.operators.curation import bigram_logprob

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a"), (3, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r
        for r in bigram_logprob(docs, lam=0.75).collect()
    }
    # corpus: uni a:3 b:1 N=4; bigrams (a,b):1 (b,a):1
    # doc 1: p(b|a)=.75*1/3+.25*1/4=.3125  p(a|b)=.75*1/1+.25*3/4=.9375
    expect = round((-math.log(0.3125) - math.log(0.9375)) / 2, 4)
    assert got[1]["n_bigrams"] == 2
    assert got[1]["nll"] == pytest.approx(expect, abs=1e-9)
    # total operator: <2-token docs kept with NULL nll
    for d in (2, 3):
        assert got[d]["n_bigrams"] == 0
        assert got[d]["nll"] is None


def test_bigram_logprob_rejects_bad_lambda(spark):
    from dandi_s3_log_parser_spark.operators.curation import bigram_logprob

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        bigram_logprob(docs, lam=1.0)


def test_cms_frequency_check_hand_computed(spark):
    import hashlib

    from dandi_s3_log_parser_spark.operators.curation import (
        cms_frequency_check,
    )

    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "v string"
    )
    width, depth = 16, 3
    got = cms_frequency_check(df, "v", width=width, depth=depth, topk=3).collect()
    assert [(r["value"], r["exact_count"]) for r in got] == [
        ("a", 5), ("b", 3), ("c", 1)
    ]
    # recompute the sketch by hand: estimate = min over rows of the
    # bucket counts that value's instances (plus any colliders) hit
    def bucket(d, v):
        return int(
            hashlib.md5(f"{d}|{v}".encode()).hexdigest()[:8], 16
        ) % width

    counts = {"a": 5, "b": 3, "c": 1}
    sketch = {}
    for v, c in counts.items():
        for d in range(depth):
            k = (d, bucket(d, v))
            sketch[k] = sketch.get(k, 0) + c
    for r in got:
        expect = min(
            sketch[(d, bucket(d, r["value"]))] for d in range(depth)
        )
        assert r["cms_estimate"] == expect
        assert r["ge_ok"] is True


def test_cms_frequency_check_rejects_bad_dims(spark):
    from dandi_s3_log_parser_spark.operators.curation import (
        cms_frequency_check,
    )

    df = spark.createDataFrame([("a",)], "v string")
    with pytest.raises(ValueError):
        cms_frequency_check(df, "v", width=0)


def test_encode_tokens_hand_computed_and_total(spark):
    from dandi_s3_log_parser_spark.operators.curation import encode_tokens

    docs = spark.createDataFrame(
        [(1, "Apple banana apple cherry"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame(
        [("apple", 7), ("banana", 9)], "token string, token_id long"
    )
    got = {
        r["doc_id"]: r
        for r in encode_tokens(docs, vocab, oov_id=0).collect()
    }
    assert len(got) == 3  # total: empty and NULL docs kept
    # lowercase tokens: apple banana apple cherry -> 7 9 7 0(oov)
    assert got[1]["n_tokens"] == 4
    assert list(got[1]["ids"]) == [7, 9, 7, 0]
    for d in (2, 3):
        assert got[d]["n_tokens"] == 0
        assert list(got[d]["ids"]) == []


def test_encode_tokens_vocab_is_broadcast(spark):
    from dandi_s3_log_parser_spark.operators.curation import encode_tokens

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    vocab = spark.createDataFrame([("a", 1)], "token string, token_id long")
    out = encode_tokens(docs, vocab)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# per_key_cap (hot-key-safe per-key top-k) and oov_rate
# ---------------------------------------------------------------------------


def test_per_key_cap_keeps_topk_per_key(spark):
    """The cap keeps exactly the top-k rows per key under the total
    order, including a hot key with far more rows than the cap."""
    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    rows = [(i, "hot" if i % 5 else f"cold{i}", (i * 13) % 97) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    got = {
        tuple(r)
        for r in per_key_cap(df, "source", k=3, order_by=order).select(
            "doc_id", "source"
        ).collect()
    }
    hot = sorted(
        ((i, (i * 13) % 97) for i in range(200) if i % 5),
        key=lambda t: (-t[1], t[0]),
    )[:3]
    assert {(i, "hot") for i, _ in hot} <= got
    assert sum(1 for _, s in got if s == "hot") == 3
    assert sum(1 for _, s in got if s.startswith("cold")) == 40  # 1 each


def test_per_key_cap_plan_has_partial_group_limit(spark):
    """The scale property per_key_cap relies on: Spark's
    WindowGroupLimit rewrite must put a PARTIAL per-key top-k below the
    exchange, so a hot key ships <= k rows per input partition through
    the shuffle rather than its full row count."""
    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
        (F.col("id") * 13 % 97).alias("n_chars"),
    )
    plan = (
        per_key_cap(
            df, "source", k=5, order_by=[F.desc("n_chars"), F.asc("doc_id")]
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    partial = plan.find("WindowGroupLimit")
    assert partial != -1 and "Partial" in plan
    # the Partial limit must sit BELOW the source-hash exchange
    assert "Exchange hashpartitioning(source" in plan
    assert plan.find("Partial") > plan.find("Exchange hashpartitioning(source")


def test_oov_rate_empty_and_null_text(spark):
    """Degenerate docs: empty text has zero tokens (oov_rate pinned at
    1.0 by the greatest(n,1) guard — 'nothing in vocabulary'), and the
    operator must not throw on them."""
    from dandi_s3_log_parser_spark.operators.curation import oov_rate

    df = spark.createDataFrame(
        [(1, "a a b"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_tokens"], r["oov_rate"]) for r in
           oov_rate(df, vocab_k=10).collect()}
    assert got[1] == (3, 0.0)
    assert got[2] == (0, 1.0)
    assert got[3] == (0, 1.0)


def test_oov_rate_vocab_join_is_broadcast(spark):
    """The vocabulary membership probe must be a broadcast join — a
    shuffled join here would re-exchange the full token explosion."""
    from dandi_s3_log_parser_spark.operators.curation import oov_rate

    df = spark.createDataFrame(
        [(1, "a a b"), (2, "b c zz")], "doc_id long, text string"
    )
    out = oov_rate(df, vocab_k=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    got = {r["doc_id"]: r["oov_rate"] for r in out.collect()}
    # vocab (count desc, tok asc) = {a:2, b:2} -> doc1 all in-vocab,
    # doc2 has 2 of 3 occurrences out of vocab (c, zz)
    assert got[1] == 0.0
    assert abs(got[2] - 2 / 3) < 1e-6


def test_score_percentile_has_no_global_sort(spark):
    """The per-document output is not sorted: no caller reads its row
    order, so neither the static nor the final adaptive plan carries a
    range-partitioned exchange (with its sampling job) on ``doc_id``."""
    from dandi_s3_log_parser_spark.operators.curation import (
        score_percentile_by_source,
    )

    df = spark.createDataFrame(
        [(i, f"s{i % 3}", i * 7 % 50) for i in range(60)],
        "doc_id long, source string, n_chars long",
    )
    out = score_percentile_by_source(df, score_col="n_chars")
    qe = out._jdf.queryExecution()
    static = qe.executedPlan().toString()
    assert len(out.collect()) == 60
    final = qe.executedPlan().toString()
    assert "isFinalPlan=true" in final
    for plan in (static, final):
        assert "rangepartitioning(doc_id" not in plan
