"""Corpus operators: HITS hubs/authorities, containment near-dup,
repeated-span removal, winnowing, fixed-window chunking, byte-pair
encoding, CCNet buckets and the per-source corpus statistics
(divergence, vocabulary growth, Zipf fit, overlap, grouped split,
duplicate flow, score percentiles)."""

import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.operators.dedup import containment_near_dup
from dandi_s3_log_parser_spark.operators.graph import hits


# ---------------------------------------------------------------------------
# hits
# ---------------------------------------------------------------------------


def test_hits_star_graph_separates_hub_from_authority(spark):
    """0->1, 0->2, 0->3: node 0 is the only hub (auth 0 — nothing
    links TO it), nodes 1-3 are equal pure authorities (hub 0)."""
    e = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "src long, dst long"
    )
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(e).collect()}
    assert got[0] == (1.0, 0.0)
    assert got[1] == got[2] == got[3]
    assert got[1][0] == 0.0 and got[1][1] == pytest.approx(1 / 3)


def test_hits_scores_normalized_to_sum_one(spark):
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 0), (0, 2)], "src long, dst long"
    )
    rows = hits(e, iters=3).collect()
    assert sum(r["hub"] for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert sum(r["auth"] for r in rows) == pytest.approx(1.0, abs=1e-6)


def test_hits_dedups_edges_and_drops_self_loops(spark):
    noisy = spark.createDataFrame(
        [(0, 1), (0, 1), (1, 1), (1, 0)], "src long, dst long"
    )
    clean = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
    a = sorted(map(tuple, hits(noisy, iters=3).collect()))
    b = sorted(map(tuple, hits(clean, iters=3).collect()))
    assert a == b


def test_hits_deterministic_under_partitioning(spark):
    edges = [(i % 7, (i * 3 + 1) % 8) for i in range(40)]
    one = spark.createDataFrame(edges, "src long, dst long").coalesce(1)
    many = spark.createDataFrame(edges, "src long, dst long").repartition(9)
    assert sorted(map(tuple, hits(one).collect())) == sorted(
        map(tuple, hits(many).collect())
    )


def test_hits_empty_graph_and_bad_iters(spark):
    empty = spark.createDataFrame([(0, 0)], "src long, dst long")
    assert hits(empty).collect() == []  # only a self-loop: no edges left
    with pytest.raises(ValueError, match="iters"):
        hits(empty, iters=-1)


# ---------------------------------------------------------------------------
# containment_near_dup
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_is_asymmetric(spark):
    """Excerpt's shingles all appear in the parent: containment
    (excerpt -> parent) = 1.0, but the reverse direction is far below
    threshold and must NOT be emitted."""
    parent = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    excerpt = "alpha beta gamma delta"  # first 4 tokens -> 2 shingles
    d = _docs(spark, [(1, parent), (2, excerpt)])
    rows = containment_near_dup(d, threshold=0.8, n=3).collect()
    assert [(r["id_a"], r["id_b"], r["containment"]) for r in rows] == [
        (2, 1, 1.0)
    ]


def test_containment_exact_value_over_full_shingle_sets(spark):
    """3 of doc a's 4 shingles appear in doc b -> containment 0.75,
    reported exactly (verification uses FULL sets, not capped ones)."""
    a = "w1 w2 w3 w4 w5 w6"  # shingles: w1w2w3 w2w3w4 w3w4w5 w4w5w6
    b = "w1 w2 w3 w4 w5 zz"  # shares w1w2w3 w2w3w4 w3w4w5
    d = _docs(spark, [(1, a), (2, b)])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_near_dup(d, threshold=0.5, n=3).collect()
    }
    assert got[(1, 2)] == 0.75 and got[(2, 1)] == 0.75


def test_containment_df_cap_drops_boilerplate_only_pairs(spark):
    """Two docs whose ONLY shared shingle exceeds df_cap generate no
    candidate — the boilerplate guard; with a higher cap the pair
    reappears."""
    boiler = "click here now"
    rows = [(i, f"{boiler} unique{i} tail{i} end{i}") for i in range(5)]
    d = _docs(spark, rows)
    capped = containment_near_dup(d, threshold=0.1, n=3, df_cap=3)
    assert capped.collect() == []
    uncapped = containment_near_dup(d, threshold=0.1, n=3, df_cap=100)
    assert uncapped.count() == 20  # all 5*4 ordered pairs share boiler


def test_containment_threshold_validated(spark):
    d = _docs(spark, [(1, "a b c d")])
    with pytest.raises(ValueError, match="threshold"):
        containment_near_dup(d, threshold=0.0)


def test_containment_short_docs_never_pair(spark):
    """Docs under n tokens have no shingles and appear in no pair (and
    never divide by zero)."""
    d = _docs(spark, [(1, "one two"), (2, "one two"), (3, "x y z w")])
    assert containment_near_dup(d, threshold=0.1, n=3).collect() == []


# ---------------------------------------------------------------------------
# remove_repeated_spans
# ---------------------------------------------------------------------------

from dandi_s3_log_parser_spark.operators.dedup import remove_repeated_spans


def test_remove_spans_cuts_shared_run_and_keeps_rest(spark):
    """A 5-token run shared by two docs is cut from both; unique
    text survives, untouched docs pass through byte-identical."""
    shared = "one two three four five"
    d = _docs(
        spark,
        [
            (1, f"Intro {shared} outro1"),
            (2, f"{shared} tail2 here"),
            (3, "totally   unrelated\ttext"),  # raw whitespace kept
        ],
    )
    got = {r["doc_id"]: (r["text"], r["n_removed"])
           for r in remove_repeated_spans(d, k=5, min_docs=2).collect()}
    assert got[1] == ("Intro outro1", 5)
    assert got[2] == ("tail2 here", 5)
    assert got[3] == ("totally   unrelated\ttext", 0)


def test_remove_spans_fully_covered_doc_becomes_empty(spark):
    t = "a b c d e"
    d = _docs(spark, [(1, t), (2, t)])
    got = {r["doc_id"]: (r["text"], r["n_removed"])
           for r in remove_repeated_spans(d, k=5, min_docs=2).collect()}
    assert got[1] == ("", 5) and got[2] == ("", 5)


def test_remove_spans_preserves_original_case(spark):
    """Detection is case-insensitive (lowered tokens); the rebuilt text
    keeps the surviving tokens' ORIGINAL case."""
    shared = "alpha beta gamma delta epsilon"
    d = _docs(
        spark,
        [(1, f"KEEP-Me {shared.upper()}"), (2, f"{shared} other x y")],
    )
    got = {r["doc_id"]: r["text"]
           for r in remove_repeated_spans(d, k=5, min_docs=2).collect()}
    assert got[1] == "KEEP-Me"
    assert got[2] == "other x y"


def test_remove_spans_accepts_precomputed_spans(spark):
    from dandi_s3_log_parser_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    shared = "p q r s t"
    d = _docs(spark, [(1, f"{shared} u1 u2"), (2, f"z0 {shared} z1")])
    spans = repeated_ngram_spans(d, k=5, min_docs=2)
    a = sorted(map(tuple, remove_repeated_spans(d, spans).collect()))
    b = sorted(map(tuple,
                   remove_repeated_spans(d, k=5, min_docs=2).collect()))
    assert a == b
    assert a[0][1] == "u1 u2"


# ---------------------------------------------------------------------------
# chunk_fixed_windows
# ---------------------------------------------------------------------------

from dandi_s3_log_parser_spark.operators.curation import chunk_fixed_windows


def test_chunk_short_doc_single_chunk(spark):
    d = _docs(spark, [(1, "a b c")])
    rows = chunk_fixed_windows(d, chunk_tokens=5).collect()
    assert [(r["chunk_id"], r["n_tokens"], r["text"]) for r in rows] == [
        (0, 3, "a b c")
    ]


def test_chunk_exact_multiple_no_overlap(spark):
    d = _docs(spark, [(1, "a b c d e f")])
    rows = chunk_fixed_windows(d, chunk_tokens=3, overlap=0).collect()
    assert [(r["chunk_id"], r["text"]) for r in rows] == [
        (0, "a b c"), (1, "d e f")
    ]


def test_chunk_overlap_and_clamped_tail(spark):
    """len 7, chunk 3, overlap 1 (step 2): starts 0,2,4 — every chunk
    exactly 3 tokens, last ends at the document end."""
    d = _docs(spark, [(1, "a b c d e f g")])
    rows = chunk_fixed_windows(d, chunk_tokens=3, overlap=1).collect()
    assert [(r["chunk_id"], r["n_tokens"], r["text"]) for r in rows] == [
        (0, 3, "a b c"), (1, 3, "c d e"), (2, 3, "e f g")
    ]


def test_chunk_tail_clamp_increases_last_overlap(spark):
    """len 8, chunk 5, step 5: naive start 5 leaves a 3-token tail;
    the clamp moves the last chunk to start 3 so it is full-size."""
    d = _docs(spark, [(1, "t0 t1 t2 t3 t4 t5 t6 t7")])
    rows = chunk_fixed_windows(d, chunk_tokens=5, overlap=0).collect()
    assert [(r["chunk_id"], r["text"]) for r in rows] == [
        (0, "t0 t1 t2 t3 t4"), (1, "t3 t4 t5 t6 t7")
    ]


def test_chunk_every_token_covered(spark):
    d = _docs(spark, [(i, " ".join(f"w{j}" for j in range(i)))
                      for i in range(1, 40)])
    out = chunk_fixed_windows(d, chunk_tokens=7, overlap=2)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r["doc_id"], set()).update(
            r["text"].split())
    for i, toks in per_doc.items():
        assert toks == {f"w{j}" for j in range(i)}


def test_chunk_empty_and_validation(spark):
    d = _docs(spark, [(1, "   "), (2, "x y")])
    rows = chunk_fixed_windows(d, chunk_tokens=4).collect()
    assert [r["doc_id"] for r in rows] == [2]
    import pytest as _pt
    with _pt.raises(ValueError, match="chunk_tokens"):
        chunk_fixed_windows(d, chunk_tokens=0)
    with _pt.raises(ValueError, match="overlap"):
        chunk_fixed_windows(d, chunk_tokens=4, overlap=4)


# ---------------------------------------------------------------------------
# winnow_fingerprints
# ---------------------------------------------------------------------------


def _winnow_py(text, k, w):
    """Pure-Python winnowing reference (same normalization + hash)."""
    import hashlib
    import re

    t = re.sub(r"\s+", " ", text.lower()).strip()
    if len(t) < k:
        return set()
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    n_wins = max(len(hs) - w + 1, 1)
    return {min(hs[j : j + w]) for j in range(n_wins)}


def test_winnow_matches_pure_python_reference(spark):
    from dandi_s3_log_parser_spark.operators.dedup import winnow_fingerprints

    docs = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "pack   my box\nwith five dozen liquor jugs"),
        (3, "aaaaaaaaaaaaaaa"),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(d, k=5, window=4).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc_id, text in docs:
        assert got.get(doc_id, set()) == _winnow_py(text, 5, 4), doc_id


def test_winnow_shared_substring_shares_fingerprint(spark):
    """The winnowing guarantee: any shared substring of length >=
    k + window - 1 produces at least one common fingerprint."""
    from dandi_s3_log_parser_spark.operators.dedup import winnow_fingerprints

    shared = "xylophone quartz vibes"  # 22 chars >= 5 + 4 - 1
    d = spark.createDataFrame(
        [
            (1, "left context " + shared + " and one tail"),
            (2, "a completely different prefix " + shared),
        ],
        "doc_id long, text string",
    )
    fps = {}
    for r in winnow_fingerprints(d, k=5, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    assert fps[1] & fps[2]


def test_winnow_short_and_empty_docs(spark):
    from dandi_s3_log_parser_spark.operators.dedup import winnow_fingerprints

    d = spark.createDataFrame(
        [(1, "abc"), (2, ""), (3, "   "), (4, "abcdef")],
        "doc_id long, text string",
    )
    rows = winnow_fingerprints(d, k=5, window=4).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["fp"])
    # 1-3: under k normalized chars -> no fingerprints at all
    assert set(by_id) == {4}
    # "abcdef": 2 grams < window -> single whole-text window min
    assert set(by_id[4]) == _winnow_py("abcdef", 5, 4)


def test_winnow_sparser_than_gram_index(spark):
    """Density check: fingerprints ~ 2/(w+1) of grams, far fewer than
    the full gram index on real-ish text."""
    from dandi_s3_log_parser_spark.operators.dedup import winnow_fingerprints

    text = " ".join(f"token{i} word{i*7%13}" for i in range(200))
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_fp = winnow_fingerprints(d, k=5, window=8).count()
    n_grams = len(text) - 5 + 1
    assert n_fp < n_grams / 2


def test_winnow_validates_params(spark):
    from dandi_s3_log_parser_spark.operators.dedup import winnow_fingerprints

    d = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnow_fingerprints(d, k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(d, window=0)


# ---------------------------------------------------------------------------
# bpe_pair_counts / bpe_train
# ---------------------------------------------------------------------------


def _bpe_py(word_counts, n_merges):
    """Pure-Python reference BPE (Sennrich alg. 1): returns the merge
    list [(a, b, count)] with lexicographic (a, b) tie-break."""
    words = {
        tuple(list(w[:-1]) + [w[-1] + "</w>"]): n
        for w, n in word_counts.items()
    }
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for syms, n in words.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        pairs = {p: c for p, c in pairs.items() if c >= 2}
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        new_words = {}
        for syms, n in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + n
        words = new_words
    return merges


def test_bpe_pair_counts_hand_corpus(spark):
    from dandi_s3_log_parser_spark.operators.tokenizer import bpe_pair_counts

    # 'low' x3, 'lower' x1  ->  (l,o)=4, (o,w</w>)=3, (o,w)=1, ...
    d = spark.createDataFrame(
        [(1, "low low lower"), (2, "Low")], "doc_id long, text string"
    )
    got = {
        (r["a"], r["b"]): r["pair_count"]
        for r in bpe_pair_counts(d, min_count=1, topk=50).collect()
    }
    assert got[("l", "o")] == 4
    assert got[("o", "w</w>")] == 3
    assert got[("o", "w")] == 1
    assert got[("w", "e")] == 1
    assert ("e", "r</w>") in got


def test_bpe_train_matches_pure_python_reference(spark):
    from dandi_s3_log_parser_spark.operators.tokenizer import bpe_train

    text = "low low low lower lower newest newest newest newest widest widest"
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    wc = {}
    for w in text.split():
        wc[w] = wc.get(w, 0) + 1
    expect = _bpe_py(wc, 8)
    got = bpe_train(d, n_merges=8)
    assert got == expect


def _bpe_apply_py(word, merges):
    """Pure-Python reference ENCODE: greedy left-to-right application
    of each merge in order; returns the token count."""
    syms = list(word[:-1]) + [word[-1] + "</w>"]
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


def test_bpe_encode_counts_matches_pure_python(spark):
    from dandi_s3_log_parser_spark.operators.tokenizer import (
        bpe_encode_counts,
    )

    rows = [
        (1, "the theater thin that out"),
        (2, "aaaa banana than"),
        (3, "re rereater at"),
    ]
    merges = [("t", "h"), ("a", "n"), ("th", "e</w>"), ("a", "a"),
              ("r", "e"), ("a", "t</w>")]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_tokens_bpe"]
           for r in bpe_encode_counts(d, merges).collect()}
    expect = {
        i: sum(_bpe_apply_py(w, merges) for w in text.lower().split())
        for i, text in rows
    }
    assert got == expect


def test_bpe_encode_counts_roundtrip_with_trained_merges(spark):
    """Train on a corpus, then encode the SAME corpus with the learned
    merges — counts must equal the pure-Python apply, and the empty
    merge list degenerates to per-word character counts."""
    from dandi_s3_log_parser_spark.operators.tokenizer import (
        bpe_encode_counts,
        bpe_train,
    )

    text = "low low low lower lower newest newest newest widest widest"
    d = spark.createDataFrame([(1, text)], "doc_id long, text string")
    trained = bpe_train(d, n_merges=5)
    pairs = [(a, b) for a, b, _ in trained]
    got = bpe_encode_counts(d, trained).collect()[0]["n_tokens_bpe"]
    assert got == sum(_bpe_apply_py(w, pairs) for w in text.split())
    raw = bpe_encode_counts(d, []).collect()[0]["n_tokens_bpe"]
    assert raw == sum(len(w) for w in text.split())


def test_bpe_train_stops_when_no_pair_repeats(spark):
    from dandi_s3_log_parser_spark.operators.tokenizer import bpe_train

    d = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
    # every pair occurs once -> zero merges regardless of budget
    assert bpe_train(d, n_merges=5) == []


def test_bpe_merge_handles_runs_greedily(spark):
    from dandi_s3_log_parser_spark.operators.tokenizer import bpe_train

    # 'aaaa' x2: pairs (a,a)=4(x2 weighted)... first merge (a,a);
    # greedy left-to-right gives [aa, aa</w>]-shaped splits, matching
    # the reference exactly
    d = spark.createDataFrame(
        [(1, "aaaa aaaa aaaa")], "doc_id long, text string"
    )
    wc = {"aaaa": 3}
    assert bpe_train(d, n_merges=3) == _bpe_py(wc, 3)


# ---------------------------------------------------------------------------
# ccnet_buckets
# ---------------------------------------------------------------------------


def _ccnet_rows(spark, texts):
    from dandi_s3_log_parser_spark.operators.curation import ccnet_buckets

    d = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    return ccnet_buckets(d).collect()


def test_ccnet_buckets_are_nll_ordered_tertiles(spark):
    """head <= middle <= tail by nll, boundaries to the lower bucket,
    each bucket non-empty on a 9-doc scoreable corpus."""
    texts = [
        " ".join(["the cat sat"] * (i + 1)) + f" tail{i}" for i in range(9)
    ]
    rows = _ccnet_rows(spark, texts)
    by_bucket = {}
    for r in rows:
        by_bucket.setdefault(r["bucket"], []).append(r["nll"])
    assert set(by_bucket) == {"head", "middle", "tail"}
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_ccnet_unscored_docs_get_null_bucket(spark):
    rows = _ccnet_rows(
        spark, ["single", "", "two words here repeated two words here"]
    )
    got = {r["doc_id"]: (r["n_bigrams"], r["bucket"]) for r in rows}
    assert got[0] == (0, None)   # 1 token: no bigram
    assert got[1] == (0, None)   # empty
    assert got[2][0] > 0 and got[2][1] is not None


def test_ccnet_total_and_tertile_balance(spark):
    """Every input doc keeps exactly one row; scoreable docs split
    ~n/3 per bucket (within rounding-tie slack)."""
    texts = [
        "the cat sat on the mat "
        + " ".join(f"rare{i}x{j}" for j in range(i + 1))
        for i in range(30)
    ]
    rows = _ccnet_rows(spark, texts)
    assert len(rows) == 30
    from collections import Counter

    c = Counter(r["bucket"] for r in rows)
    assert None not in c
    for b in ("head", "middle", "tail"):
        assert 6 <= c[b] <= 14, c


# ---------------------------------------------------------------------------
# source_divergence (per-source KL / JS vs the pooled corpus)
# ---------------------------------------------------------------------------


def test_source_divergence_hand_computed(spark):
    """Corpus: source A = 'a a b' (P_A = {a:2/3, b:1/3}), source B =
    'b c' (P_B = {b:1/2, c:1/2}); pooled P_c = {a:2/5, b:2/5, c:1/5}.
    KL and JS recomputed in closed form here, including the
    (1-cov)*ln2 out-of-vocabulary collapse on the corpus side."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import (
        source_divergence,
    )

    df = spark.createDataFrame(
        [(1, "A", "a a b"), (2, "B", "b c")],
        "doc_id long, source string, text string",
    )
    got = {r["source"]: r for r in source_divergence(df).collect()}

    def expect(ps, pc_all):
        cov = sum(pc_all[t] for t in ps)
        kl = sum(p * math.log(p / pc_all[t]) for t, p in ps.items())
        js_s = sum(
            p * math.log(p / ((p + pc_all[t]) / 2)) for t, p in ps.items()
        )
        js_c = sum(
            pc_all[t] * math.log(pc_all[t] / ((p + pc_all[t]) / 2))
            for t, p in ps.items()
        ) + (1 - cov) * math.log(2)
        return cov, kl, 0.5 * js_s + 0.5 * js_c

    pc = {"a": 2 / 5, "b": 2 / 5, "c": 1 / 5}
    cov_a, kl_a, js_a = expect({"a": 2 / 3, "b": 1 / 3}, pc)
    a = got["A"]
    assert (a["n_tokens"], a["vocab_size"]) == (3, 2)
    assert a["coverage"] == pytest.approx(round(cov_a, 6), abs=1e-9)
    assert a["kl"] == pytest.approx(round(kl_a, 6), abs=1e-9)
    assert a["js"] == pytest.approx(round(js_a, 6), abs=1e-9)
    cov_b, kl_b, js_b = expect({"b": 1 / 2, "c": 1 / 2}, pc)
    b = got["B"]
    assert (b["n_tokens"], b["vocab_size"]) == (2, 2)
    assert b["js"] == pytest.approx(round(js_b, 6), abs=1e-9)
    # JS is bounded by ln 2 and nonnegative
    for r in got.values():
        assert 0.0 <= r["js"] <= math.log(2) + 1e-9


def test_source_divergence_single_source_is_zero(spark):
    """A source identical to the pooled corpus (the only source) has
    coverage 1, KL 0, JS 0 exactly."""
    from dandi_s3_log_parser_spark.operators.curation import (
        source_divergence,
    )

    df = spark.createDataFrame(
        [(1, "only", "x y"), (2, "only", "y z")],
        "doc_id long, source string, text string",
    )
    r = source_divergence(df).collect()[0]
    assert (r["coverage"], r["kl"], r["js"]) == (1.0, 0.0, 0.0)


def test_source_divergence_no_text_in_exchanges(spark):
    """Single tokenize; every exchange carries (token, long) /
    (source, double) — never the raw text column."""
    from dandi_s3_log_parser_spark.operators.curation import (
        source_divergence,
    )

    df = spark.createDataFrame(
        [(1, "A", "alpha beta"), (2, "B", "beta gamma")],
        "doc_id long, source string, text string",
    )
    plan = (
        source_divergence(df)._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# vocab_growth (Heaps'-law type-token curve)
# ---------------------------------------------------------------------------


def test_vocab_growth_hand_computed(spark):
    """4 docs, 4 checkpoints (= every doc id): cumulative docs/tokens/
    vocab recomputed by hand."""
    from dandi_s3_log_parser_spark.operators.curation import vocab_growth

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a"), (3, "c c"), (4, "d")],
        "doc_id long, text string",
    )
    rows = {
        r["checkpoint"]: r
        for r in vocab_growth(df, n_checkpoints=4).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    exp = {
        1: (1, 2, 2),
        2: (2, 3, 2),
        3: (3, 5, 3),
        4: (4, 6, 4),
    }
    for cp, (d, t, v) in exp.items():
        r = rows[cp]
        assert (r["cum_docs"], r["cum_tokens"], r["vocab_size"]) == (d, t, v)
        assert r["ttr"] == pytest.approx(round(v / t, 6), abs=1e-9)


def test_vocab_growth_duplicate_checkpoints_collapse(spark):
    """max_doc < n_checkpoints makes floor(max*k/n) repeat; duplicate
    thresholds must NOT double-count through the non-equi join."""
    from dandi_s3_log_parser_spark.operators.curation import vocab_growth

    df = spark.createDataFrame(
        [(1, "a b"), (2, "b c")], "doc_id long, text string"
    )
    rows = {
        r["checkpoint"]: r
        for r in vocab_growth(df, n_checkpoints=10).collect()
    }
    # thresholds collapse to {0, 1, 2}; 0 matches nothing and drops out
    assert set(rows) == {1, 2}
    assert (rows[1]["cum_docs"], rows[1]["cum_tokens"],
            rows[1]["vocab_size"]) == (1, 2, 2)
    assert (rows[2]["cum_docs"], rows[2]["cum_tokens"],
            rows[2]["vocab_size"]) == (2, 4, 3)


def test_vocab_growth_no_window_no_text_shuffle(spark):
    """The curve is built from broadcast non-equi joins over narrow
    aggregates — NO Window operator, no text in any exchange."""
    from dandi_s3_log_parser_spark.operators.curation import vocab_growth

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma")], "doc_id long, text string"
    )
    plan = (
        vocab_growth(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line


# ---------------------------------------------------------------------------
# zipf_fit (log-log OLS over the top-k vocabulary)
# ---------------------------------------------------------------------------


def test_zipf_fit_exact_zipf_corpus(spark):
    """Counts exactly proportional to 1/rank (12, 6, 4, 3) fit with
    slope -1, r2 1, intercept ln(12) to machine precision."""
    import math

    from dandi_s3_log_parser_spark.operators.curation import zipf_fit

    text = " ".join(["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    assert r["n_terms"] == 4
    assert r["slope"] == pytest.approx(-1.0, abs=1e-6)
    assert r["r2"] == pytest.approx(1.0, abs=1e-6)
    assert r["intercept"] == pytest.approx(round(math.log(12), 6), abs=1e-9)


def test_zipf_fit_hand_computed_ols(spark):
    """Non-Zipfian counts: OLS of ln(cnt) on ln(rank) recomputed in
    numpy; ranks tie-break by token."""
    import math

    import numpy as np

    from dandi_s3_log_parser_spark.operators.curation import zipf_fit

    # counts: x->5, y->5, z->2 ; tie at 5 ranks x before y (token order)
    text = " ".join(["x"] * 5 + ["y"] * 5 + ["z"] * 2)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    xs = np.log(np.array([1.0, 2.0, 3.0]))
    ys = np.log(np.array([5.0, 5.0, 2.0]))
    slope, intercept = np.polyfit(xs, ys, 1)
    corr = np.corrcoef(xs, ys)[0, 1]
    assert r["n_terms"] == 3
    assert r["slope"] == pytest.approx(round(float(slope), 6), abs=1e-9)
    assert r["intercept"] == pytest.approx(
        round(float(intercept), 6), abs=1e-9
    )
    assert r["r2"] == pytest.approx(round(float(corr) ** 2, 6), abs=1e-9)


def test_zipf_fit_topk_plans_as_take_ordered(spark):
    """The vocabulary top-k must plan as TakeOrderedAndProject (per-
    partition top-k) — never a global Sort of the vocabulary; rank
    assignment is window-free (sorted-array fold over <= top_k rows)."""
    from dandi_s3_log_parser_spark.operators.curation import zipf_fit

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha")], "doc_id long, text string"
    )
    plan = zipf_fit(df)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line


# ---------------------------------------------------------------------------
# cross_source_overlap (pairwise source shingle-overlap matrix)
# ---------------------------------------------------------------------------


def test_cross_source_overlap_hand_computed(spark):
    """A = 'a b c d' -> 3-grams {abc, bcd}; B = 'b c d e' -> {bcd, cde};
    common = {bcd}: jaccard 1/3, containment 1/2."""
    from dandi_s3_log_parser_spark.operators.curation import (
        cross_source_overlap,
    )

    df = spark.createDataFrame(
        [(1, "A", "a b c d"), (2, "B", "b c d e")],
        "doc_id long, source string, text string",
    )
    rows = cross_source_overlap(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["source_a"], r["source_b"]) == ("A", "B")
    assert (r["grams_a"], r["grams_b"], r["common"]) == (2, 2, 1)
    assert r["jaccard"] == pytest.approx(round(1 / 3, 4))
    assert r["containment"] == pytest.approx(0.5)


def test_cross_source_overlap_disjoint_sources_absent(spark):
    """Sources sharing no shingle produce NO row (inner join on the
    shingle digest), and per-doc repeats don't inflate counts
    (distinct (source, digest) before the pair join)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        cross_source_overlap,
    )

    df = spark.createDataFrame(
        [
            (1, "A", "a b c"),
            (2, "A", "a b c"),  # duplicate doc, same source
            (3, "B", "x y z"),
            (4, "C", "a b c x"),
        ],
        "doc_id long, source string, text string",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in cross_source_overlap(df).collect()
    }
    assert set(got) == {("A", "C")}  # A-B and B-C disjoint
    assert got[("A", "C")]["grams_a"] == 1  # dup doc counted once


def test_cross_source_overlap_text_never_shuffled(spark):
    """Shingles are digested in the scan stage; every exchange carries
    (source, long) or counts — never the text or raw gram strings."""
    from dandi_s3_log_parser_spark.operators.curation import (
        cross_source_overlap,
    )

    df = spark.createDataFrame(
        [(1, "A", "a b c d"), (2, "B", "b c d e")],
        "doc_id long, source string, text string",
    )
    plan = (
        cross_source_overlap(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line and "_gram#" not in line
    assert "Window" not in plan and "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# group_split (leakage-safe grouped train/val/test split)
# ---------------------------------------------------------------------------


def test_group_split_whole_group_same_side(spark):
    """Every document of a group gets the identical assignment, equal to
    the md5-bucket recomputed here from first principles."""
    import hashlib

    from dandi_s3_log_parser_spark.operators.curation import group_split

    rows = [(i, f"grp{i % 7}", "t") for i in range(70)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    got = group_split(df).collect()
    for r in got:
        b = int(hashlib.md5(r["source"].encode()).hexdigest()[:4], 16) % 100
        want = "train" if b < 90 else ("val" if b < 95 else "test")
        assert r["split"] == want, (r, b)
    by_grp = {}
    for r in got:
        by_grp.setdefault(r["source"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_grp.values())


def test_group_split_is_a_pure_projection(spark):
    """No shuffle at all: the physical plan has zero Exchange nodes."""
    from dandi_s3_log_parser_spark.operators.curation import group_split

    df = spark.createDataFrame(
        [(1, "g", "t")], "doc_id long, source string, text string"
    )
    plan = (
        group_split(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# dup_flow_by_source (cross-source exact-duplicate flow matrix)
# ---------------------------------------------------------------------------


def test_dup_flow_by_source_hand_computed(spark):
    """Digest 'x' cluster keeps id 1 (source A) and drops ids 2, 4
    (both B) -> (A, B, 2); same-source pair 'z' -> (C, C, 1); unique
    'y' contributes nothing."""
    from dandi_s3_log_parser_spark.operators.curation import (
        dup_flow_by_source,
    )

    df = spark.createDataFrame(
        [
            (1, "x", "A"),
            (2, "x", "B"),
            (3, "y", "B"),
            (4, "x", "B"),
            (5, "z", "C"),
            (6, "z", "C"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r["source_kept"], r["source_dropped"]): r["dup_docs"]
        for r in dup_flow_by_source(df).collect()
    }
    assert got == {("A", "B"): 2, ("C", "C"): 1}


def test_dup_flow_by_source_no_dups_empty(spark):
    from dandi_s3_log_parser_spark.operators.curation import (
        dup_flow_by_source,
    )

    df = spark.createDataFrame(
        [(1, "a", "A"), (2, "b", "B")],
        "doc_id long, text string, source string",
    )
    assert dup_flow_by_source(df).count() == 0


def test_dup_flow_by_source_text_never_shuffled(spark):
    """The text is digested in place; every exchange carries
    (digest, id, source) — never the text column."""
    from dandi_s3_log_parser_spark.operators.curation import (
        dup_flow_by_source,
    )

    df = spark.createDataFrame(
        [(1, "x", "A"), (2, "x", "B")],
        "doc_id long, text string, source string",
    )
    plan = (
        dup_flow_by_source(df)._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# score_percentile_by_source (per-source percent_rank normalization)
# ---------------------------------------------------------------------------


def test_score_percentile_hand_computed(spark):
    """Source A scores [10, 20, 20, 30]: percent_rank = 0, 1/3, 1/3, 1
    (ties share the lower rank); single-doc source B -> 0.0; NULL
    score row excluded."""
    from dandi_s3_log_parser_spark.operators.curation import (
        score_percentile_by_source,
    )

    df = spark.createDataFrame(
        [
            (1, "A", 10),
            (2, "A", 20),
            (3, "A", 20),
            (4, "A", 30),
            (5, "B", 99),
            (6, "B", None),
        ],
        "doc_id long, source string, n_chars long",
    )
    got = {
        r["doc_id"]: r["pct_in_source"]
        for r in score_percentile_by_source(df, score_col="n_chars").collect()
    }
    third = round(1 / 3, 6)
    assert got == {1: 0.0, 2: third, 3: third, 4: 1.0, 5: 0.0}


def test_score_percentile_no_corpus_window(spark):
    """The window runs over the (source, score) histogram only: no
    Window node carries the doc_id column.  The histogram join is not
    hinted (a broadcast hint on a corpus-sized histogram of continuous
    scores would bypass the broadcast threshold); it is planned as a
    sort-merge join, and AQE turns it into a broadcast-hash join once
    it has measured a side under the threshold (both, on this input)."""
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
    assert "SortMergeJoin [source#" in static
    out.collect()
    final = qe.executedPlan().toString()
    assert "isFinalPlan=true" in final
    final_plan = final.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin [source#" in final_plan
    assert "SortMergeJoin" not in final_plan
    for plan in (static, final_plan):
        for line in plan.splitlines():
            if "Window" in line:
                assert "doc_id#" not in line


def test_score_percentile_threshold_equalizes_sources(spark):
    """Filtering pct_in_source >= 0.8 keeps ~the same fraction of every
    source regardless of each source's raw score range."""
    from dandi_s3_log_parser_spark.operators.curation import (
        score_percentile_by_source,
    )

    rows = [(i, "lo", i) for i in range(100)] + [
        (1000 + i, "hi", 100000 + i) for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long"
    )
    kept = (
        score_percentile_by_source(df, score_col="n_chars")
        .filter("pct_in_source >= 0.8")
        .groupBy("source")
        .count()
        .collect()
    )
    assert {r["source"]: r["count"] for r in kept} == {"lo": 20, "hi": 20}


def test_containment_common_gram_pairs_still_found_via_one_rare_match(spark):
    """c_r <= 0 path of the prefix filter: when a pair can reach the
    threshold mostly through capped-common grams, ONE shared rare gram
    must still make it a candidate (the prefix degrades to the full
    rare set), and verification still counts the common grams."""
    filler = [(i, "p q r s t") for i in range(10, 14)]  # pqr/qrs/rst df=6
    d = _docs(
        spark,
        filler + [(1, "p q r s t u v"), (2, "p q r s t u w")],
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_near_dup(d, threshold=0.5, n=3, df_cap=3).collect()
    }
    # A/B share pqr,qrs,rst (common) + stu (rare) = 4 of 5 shingles
    assert got[(1, 2)] == 0.8 and got[(2, 1)] == 0.8
    # filler-only pairs share ONLY common grams -> never candidates
    assert all(a in (1, 2) and b in (1, 2) for a, b in got)


def test_containment_exact_threshold_boundary_pair_is_kept(spark):
    """A pair at exactly the threshold (8 of 10 shingles shared,
    t=0.8) must survive the s-match prefix pigeonhole."""
    a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12"   # 10 shingles
    b = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 zz1 zz2"   # shares first 8
    d = _docs(spark, [(1, a), (2, b)])
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_near_dup(d, threshold=0.8, n=3).collect()
    }
    assert got[(1, 2)] == 0.8 and got[(2, 1)] == 0.8
