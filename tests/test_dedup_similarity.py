"""Semantics of the dedup / similarity operators on handcrafted data."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from dandi_s3_log_parser_spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest to find food and water for the long winter"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact duplicate of 0
        (2, BASE.replace("winter", "summer")),        # near duplicate
        (3, "completely different text about spark dataframes and shuffles"),
        (4, "another unrelated document mentioning benchmarks and parquet files"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # docs 0 and 1 collapse to keeper 0
    assert 1 not in out
    assert out[2] == 1 and out[3] == 1


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.5
    assert (0, 3) not in pairs


def test_jaccard_prefix_join_matches_brute_force(spark, docs):
    """Prefix filtering is LOSSLESS: the pair set (and scores) must
    equal the exhaustive baseline at every threshold, including the
    t=1.0 edge where the prefix shrinks to a single token."""
    from dandi_s3_log_parser_spark.operators.dedup import jaccard_prefix_join

    for t in (0.2, 0.5, 0.9, 1.0):
        got = [tuple(r) for r in jaccard_prefix_join(docs, threshold=t).collect()]
        ref = [tuple(r) for r in
               ngram_jaccard_pairs(docs, threshold=t, max_rows=10_000).collect()]
        assert got == ref, f"threshold {t}: {got} != {ref}"


def test_jaccard_prefix_join_plan_has_no_cartesian(spark, docs):
    """Candidate generation must stay an equi-join on prefix tokens —
    a cartesian/nested-loop node means the filter degenerated."""
    from dandi_s3_log_parser_spark.operators.dedup import jaccard_prefix_join

    plan = (jaccard_prefix_join(docs, threshold=0.5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_prefix_join_hot_token_cap_raises(spark, docs):
    """The postings backstop RAISES rather than silently dropping a hot
    prefix token (which would break exactness)."""
    from dandi_s3_log_parser_spark.operators.dedup import jaccard_prefix_join

    with pytest.raises(ValueError, match="postings"):
        jaccard_prefix_join(
            docs, threshold=0.2, max_postings_per_token=1
        ).collect()
    with pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_join(docs, threshold=0.0)


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs
    assert (0, 2) in pairs or (1, 2) in pairs
    assert (3, 4) not in pairs


def test_simhash_near_dup(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs and pairs[(0, 2)] <= 10
    assert (3, 4) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    base[1] = base[0] + 0.01 * rng.standard_normal(16).astype(np.float32)  # near-dup of 0
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = cosine_topk(vectors, queries, k=3).collect()
    assert [r["neighbor_id"] for r in got][:2] == [0, 1]  # self then near-dup
    assert got[0]["cosine_sim"] == 1.0


def test_lsh_ann_recall_vs_bruteforce(spark, vectors):
    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(vectors, queries, k=3).collect()
    ann = lsh_bucketed_topk(vectors, queries, k=3, dim=16, n_planes=4).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    ann_top1 = {r["query_id"]: r["neighbor_id"] for r in ann if r["rank"] == 1}
    # self-match always shares its own bucket -> top-1 recall is exact
    assert ann_top1 == exact_top1


def test_embedding_near_dup_pairs(spark, vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dup_pairs(vectors, threshold=0.95).collect()}
    assert (0, 1) in pairs
    assert len(pairs) == 1


def test_ivf_ann_recall_and_determinism(spark, vectors):
    from dandi_s3_log_parser_spark.operators.similarity import ivf_topk

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(vectors, queries, k=3).collect()
    kw = dict(k=3, dim=16, n_centroids=4, nprobe=2)
    ann = ivf_topk(vectors, queries, **kw).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ann_sets = {}
    for r in ann:
        ann_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact_sets[q] & ann_sets.get(q, set())) for q in exact_sets)
    total = sum(len(v) for v in exact_sets.values())
    assert hits / total >= 0.6  # nprobe=2/4 cells
    # top-1 is the query itself (its own cell is always probed first)
    ann_top1 = {r["query_id"]: r["neighbor_id"] for r in ann if r["rank"] == 1}
    assert ann_top1 == {0: 0, 1: 1, 2: 2}
    # deterministic across repartitioned inputs (order-by-hash sample)
    ann2 = ivf_topk(vectors.repartition(7), queries, **kw).collect()
    assert sorted(map(tuple, ann)) == sorted(map(tuple, ann2))


def test_dedup_clusters_transitive_chain(spark):
    from dandi_s3_log_parser_spark.operators.dedup import dedup_clusters

    # chain 7-3, 3-9 must collapse into one component labeled min=3;
    # isolated pair 20-21 labels 20
    pairs = spark.createDataFrame(
        [(7, 3), (3, 9), (20, 21)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()}
    assert got == {3: 3, 7: 3, 9: 3, 20: 20, 21: 20}


def test_lsh_multiprobe_masks_and_recall(spark, vectors):
    """Multi-probe expands candidate coverage monotonically: every
    exact-bucket result is also found with multiprobe>0, and the probe
    mask set is exactly the hamming<=m ball."""
    from dandi_s3_log_parser_spark.operators.similarity import _probe_masks

    masks = _probe_masks(4, 2)
    assert masks[0] == 0 and len(masks) == 1 + 4 + 6
    assert all(bin(m).count("1") <= 2 for m in masks)
    assert len(set(masks)) == len(masks)

    queries = vectors.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    base = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(
            vectors, queries, k=5, dim=16, n_planes=4
        ).collect()
    }
    probed = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucketed_topk(
            vectors, queries, k=5, dim=16, n_planes=4, multiprobe=2
        ).collect()
    }
    # top-k truncation can only swap in BETTER candidates, so compare
    # candidate supersets via per-query counts: probed finds >= as many
    assert len(probed) >= len(base)
    # mask 0 is always probed -> the self pair must survive
    assert all((q, q) in probed for q in (0, 1, 2))


def test_exact_dedup_verify_collisions_clean(spark, docs):
    """The paranoid collision pass is a no-op on a collision-free corpus
    (a real sha2 collision cannot be synthesized; the raise path is
    covered by construction in exact_dedup)."""
    base = {tuple(r) for r in exact_dedup(docs).collect()}
    verified = {tuple(r) for r in exact_dedup(docs, verify_collisions=True).collect()}
    assert verified == base


def test_minhash_dedup_materialized_shingles(spark, docs, tmp_path):
    """The committed-shingle-table route returns the identical pair set
    as the in-query exchange route, and leaves the table behind for
    later passes over the same corpus snapshot."""
    from dandi_s3_log_parser_spark.sources.tables import Catalog

    cat = Catalog(spark, tmp_path / "wh")
    inline = {tuple(r) for r in minhash_dedup(docs, threshold=0.5).collect()}
    mat = {
        tuple(r)
        for r in minhash_dedup(
            docs, threshold=0.5, catalog=cat, shingle_table="doc_shingles"
        ).collect()
    }
    assert mat == inline
    assert cat.exists("doc_shingles")
    assert cat.read("doc_shingles").columns == ["id", "sh"]
    with pytest.raises(ValueError, match="requires a catalog"):
        minhash_dedup(docs, shingle_table="x")


def test_dedup_clusters_warns_on_nonconvergence(spark):
    """A chain longer than max_iter hops must WARN that cluster ids are
    split, never return partial labels silently."""
    import warnings

    from dandi_s3_log_parser_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = dedup_clusters(chain, max_iter=2)
        out.collect()
        assert any("SPLIT" in str(w.message) for w in rec)
    # with enough rounds the same chain converges to one cluster, no warn
    with warnings.catch_warnings(record=True) as rec2:
        warnings.simplefilter("always")
        full = dedup_clusters(chain, max_iter=20)
        labels = {r["cluster_id"] for r in full.collect()}
        assert labels == {0}
        assert not any("SPLIT" in str(w.message) for w in rec2)


def test_dedup_clusters_pointer_jumping_log_convergence(spark):
    """A 120-hop chain converges within ~log2(d) rounds thanks to
    pointer jumping (plain propagation would need 120 rounds)."""
    import warnings

    from dandi_s3_log_parser_spark.operators.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "id_a long, id_b long"
    )
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = dedup_clusters(chain, max_iter=10)
        labels = {r["cluster_id"] for r in out.collect()}
    assert labels == {0}
    assert not any("SPLIT" in str(w.message) for w in rec)


def test_embedding_lsh_near_dup_pairs(spark, vectors):
    """The LSH-bucketed near-dup path finds the planted near-dup pair
    and agrees with the guarded all-pairs baseline on this corpus."""
    from dandi_s3_log_parser_spark.operators.similarity import (
        embedding_lsh_near_dup_pairs,
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_lsh_near_dup_pairs(
            vectors, threshold=0.95, dim=16, n_planes=4, n_tables=4
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(vectors, threshold=0.95).collect()
    }
    assert (0, 1) in got
    assert got == want


# ---------------------------------------------------------------------------
# Repeated n-gram span detection (exact-substring dedup)
# ---------------------------------------------------------------------------


def test_repeated_ngram_spans_hand_computed(spark):
    """Docs 1+2 share a 6-token run -> with k=5 the two overlapping
    windows merge into one [2, 8) span in doc 1 and [0, 6) in doc 2;
    a phrase repeated only WITHIN doc 3 does not count (cross-doc
    criterion)."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    shared = "p q r s t u"  # 6 tokens
    rows = [
        (1, "a b " + shared + " x y"),
        (2, shared + " z"),
        (3, "m n o m n o m n o m n o"),  # within-doc repeat only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"]): r
        for r in repeated_ngram_spans(df, k=5, min_docs=2).collect()
    }
    assert set(got) == {(1, 2), (2, 0)}
    assert got[(1, 2)]["span_end"] == 8 and got[(1, 2)]["n_windows"] == 2
    assert got[(2, 0)]["span_end"] == 6 and got[(2, 0)]["n_windows"] == 2
    with pytest.raises(ValueError):
        repeated_ngram_spans(df, k=0)
    with pytest.raises(ValueError):
        repeated_ngram_spans(df, min_docs=1)


def test_repeated_ngram_spans_touching_windows_merge(spark):
    """Two disjoint-but-touching repeated regions merge into one span;
    a gap strictly wider than zero tokens splits spans."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    a = "c1 c2 c3"            # repeated region A (k=3: one window)
    b = "d1 d2 d3"            # repeated region B
    rows = [
        (1, a + " " + b),       # A at [0,3), B at [3,6): touching -> merge
        (2, a + " gap1 gap2 gap3 " + b),  # A [0,3), B [6,9): split
        (3, a), (4, b),         # make both regions cross-doc repeated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in repeated_ngram_spans(df, k=3, min_docs=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"])
        )
    assert got[1] == [(0, 6)]
    assert got[2] == [(0, 3), (6, 9)]


def test_repeated_ngram_spans_shuffle_carries_fingerprint_not_gram(spark):
    """The corpus-scale contract: every hash exchange keys on the
    16-hex fingerprint or the doc id — never raw gram/token text."""
    import re

    from dandi_s3_log_parser_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")],
        "doc_id long, text string",
    )
    plan = (
        repeated_ngram_spans(df, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert re.search(r"hashpartitioning\((_g|doc_id)", ln), ln


# ---------------------------------------------------------------------------
# Deterministic k-means (SemDeDup clustering step)
# ---------------------------------------------------------------------------


def test_kmeans_two_obvious_clusters(spark):
    """Two well-separated 2-D groups with one init point in each
    (init = k smallest ids -> ids 0 and 1): k=2 Lloyd's lands every
    point in its group.  (With both inits in ONE group, Lloyd's
    legitimately converges to a split local optimum — deterministic
    init means the caller controls that via id assignment.)"""
    from dandi_s3_log_parser_spark.operators.similarity import kmeans_assign

    rows = [
        (0, [0.0, 0.1]), (1, [5.0, 5.1]), (2, [0.05, 0.05]),
        (3, [0.1, 0.0]), (4, [5.1, 5.0]), (5, [5.05, 5.05]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["cluster"]
           for r in kmeans_assign(df, k=2, iters=3).collect()}
    assert got[0] == got[2] == got[3] == 0
    assert got[1] == got[4] == got[5] == 1


def test_kmeans_deterministic_under_repartition(spark):
    """The decimal-sum update makes centroids independent of partition
    order: assignments and distances are identical bit-for-bit."""
    from dandi_s3_log_parser_spark.operators.similarity import kmeans_assign

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = sorted(map(tuple, kmeans_assign(df, k=4, iters=2).collect()))
    b = sorted(map(tuple, kmeans_assign(
        df.repartition(13), k=4, iters=2).collect()))
    assert a == b


def test_kmeans_validation_and_zero_iters(spark):
    """iters=0 assigns against the raw init vectors (each init doc at
    distance 0 of its own centroid); k > corpus raises."""
    from dandi_s3_log_parser_spark.operators.similarity import kmeans_assign

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.9, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r for r in kmeans_assign(df, k=2, iters=0).collect()}
    assert got[0]["cluster"] == 0 and got[0]["dist"] == 0.0
    assert got[1]["cluster"] == 1 and got[1]["dist"] == 0.0
    assert got[2]["cluster"] == 1  # nearer to init vec 1
    with pytest.raises(ValueError):
        kmeans_assign(df, k=5)
    with pytest.raises(ValueError):
        kmeans_assign(df, k=0)


def test_semdedup_pairs_within_cell_found_cross_cell_missed(spark):
    """Near-identical vectors inside one k-means cell are paired;
    SemDeDup by construction misses a high-cosine pair whose members
    land in different cells (the paper's documented recall trade)."""
    from dandi_s3_log_parser_spark.operators.similarity import semdedup_pairs

    rows = [
        # cell A seed (id 0) and two near-dups of it
        (0, [1.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0]),
        (3, [0.998, 0.02, 0.0]),
        # cell B seed (id 1) and one near-dup
        (1, [0.0, 1.0, 0.0]), (4, [0.01, 0.999, 0.0]),
        # far from both seeds but nearer B: assigned to B, low cos to 4
        (5, [0.0, 0.6, 0.8]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in semdedup_pairs(df, 0.95, k=2, iters=2).collect()
    }
    assert (0, 2) in pairs and (0, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs
    # cross-cell: cos(2,4) is low anyway, but cos-similar members of
    # DIFFERENT cells never pair: no (x, 5) pair and no A-B pair at all
    assert all(
        not ((a in (0, 2, 3)) ^ (b in (0, 2, 3))) for a, b in pairs
    )


def test_snapshot_delta_all_statuses(spark):
    """Hand-built snapshots: one of each status, plus digest columns
    surfaced for downstream policy."""
    from dandi_s3_log_parser_spark.operators.dedup import snapshot_delta

    prev = spark.createDataFrame(
        [("u1", "d1"), ("u2", "d2"), ("u3", "d3")], "url string, digest string"
    )
    new = spark.createDataFrame(
        [("u1", "d1"), ("u2", "dX"), ("u4", "d4")], "url string, digest string"
    )
    got = {r["key"]: r for r in snapshot_delta(prev, new).collect()}
    assert got["u1"]["status"] == "unchanged"
    assert got["u2"]["status"] == "changed" and got["u2"]["new_digest"] == "dX"
    assert got["u3"]["status"] == "removed" and got["u3"]["new_digest"] is None
    assert got["u4"]["status"] == "added" and got["u4"]["prev_digest"] is None
    assert len(got) == 4


def test_semdedup_keep_transitive_and_singletons(spark):
    """(a~b) and (b~c) pairs collapse into ONE component even when
    (a,c) alone misses the threshold — the keep decision is per
    component, not per pair; singletons always keep."""
    from dandi_s3_log_parser_spark.operators.similarity import semdedup_keep

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.98, 0.199, 0.0]),     # ~11.5 deg from 0
        (2, [0.921, 0.3894, 0.0]),   # ~23 deg from 0, ~11.5 from 1
        (3, [0.0, 0.0, 1.0]),        # lone vector, own cell or no pair
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # threshold between cos(11.5deg)~0.98 and cos(23deg)~0.92: the 0-2
    # pair fails but 0-1 and 1-2 pass -> one chained component {0,1,2}
    got = {r["vec_id"]: r for r in
           semdedup_keep(df, 0.95, k=2, iters=2).collect()}
    assert got[0]["keep"] and got[0]["rep_id"] == 0
    assert not got[1]["keep"] and got[1]["rep_id"] == 0
    assert not got[2]["keep"] and got[2]["rep_id"] == 0
    assert got[3]["keep"] and got[3]["rep_id"] == 3


def test_incremental_dedup_basics(spark):
    """Near-dup of an existing corpus doc is flagged with that doc's id;
    novel and too-short docs pass with NULL dup_of."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    corpus = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely different corpus text about spark and joins"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (3, "an entirely novel document with fresh content nobody has seen"),
            (5, "tiny"),  # <3 tokens -> no shingles -> never a dup
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in incremental_minhash_dedup(new, corpus, threshold=0.5).collect()
    }
    assert got[1]["is_dup"] and got[1]["dup_of"] == 0
    assert got[1]["jaccard"] >= 0.9
    assert not got[3]["is_dup"] and got[3]["dup_of"] is None
    assert not got[5]["is_dup"]


def test_incremental_dedup_picks_lowest_corpus_id(spark):
    from dandi_s3_log_parser_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(10, text), (4, text)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(7, text)], "doc_id long, text string")
    r = incremental_minhash_dedup(new, corpus, threshold=0.9).first()
    assert r["dup_of"] == 4 and r["jaccard"] == 1.0


def test_incremental_dedup_caps_degenerate_corpus_buckets(spark):
    """A boilerplate bucket larger than max_bucket_size is dropped
    BEFORE the probe join (the documented at-scale guard), so the new
    doc is not matched against it."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    text = "same boilerplate text repeated on every single page here"
    corpus = spark.createDataFrame(
        [(i, text) for i in range(10)], "doc_id long, text string"
    )
    new = spark.createDataFrame([(99, text)], "doc_id long, text string")
    r = incremental_minhash_dedup(
        new, corpus, threshold=0.5, max_bucket_size=4
    ).first()
    assert not r["is_dup"]
    # with a roomy cap the same probe matches
    r2 = incremental_minhash_dedup(
        new, corpus, threshold=0.5, max_bucket_size=64
    ).first()
    assert r2["is_dup"] and r2["dup_of"] == 0


def test_pq_assign_codes_deterministic_and_bounded(spark):
    import random

    from dandi_s3_log_parser_spark.operators.similarity import pq_assign

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_assign(emb, m=2, k=4, iters=2).collect()
    assert len(out) == 40
    for r in out:
        assert 0 <= r["code_0"] < 4 and 0 <= r["code_1"] < 4
        assert r["qerr"] >= 0.0
    # deterministic under repartitioning
    again = pq_assign(
        emb.repartition(7), m=2, k=4, iters=2
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # subspace codes match a kmeans run on the sliced vectors alone
    from pyspark.sql import functions as F

    from dandi_s3_log_parser_spark.operators.similarity import kmeans_assign

    sub0 = emb.select("vec_id", F.slice("embedding", 1, 4).alias("_sub"))
    solo = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(
            sub0, k=4, iters=2, vec_col="_sub"
        ).collect()
    }
    assert all(solo[r["vec_id"]] == r["code_0"] for r in out)


def test_pq_assign_rejects_indivisible_dim(spark):
    import pytest as _pytest

    from dandi_s3_log_parser_spark.operators.similarity import pq_assign

    emb = spark.createDataFrame(
        [(1, [0.0] * 6)], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError):
        pq_assign(emb, m=4, k=2)


def test_pq_adc_topk_contract_and_determinism(spark):
    import random

    from pyspark.sql import functions as F

    from dandi_s3_log_parser_spark.operators.similarity import pq_adc_topk

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 2).withColumnRenamed(
        "vec_id", "query_id"
    )
    out = pq_adc_topk(emb, q, m=2, k=4, iters=1, topk=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    for qid, rs in by_q.items():
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["adc_dist"] >= 0.0 or True for r in rs)  # doubles
    # deterministic under repartitioning
    again = pq_adc_topk(
        emb.repartition(9), q, m=2, k=4, iters=1, topk=5
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_pq_adc_uses_pq_assign_codes(spark):
    """The single-projection code assignment inside pq_adc_topk must be
    bitwise-identical to pq_assign's join-based codes: a vector whose
    code differs would get a different table lookup."""
    import random

    from pyspark.sql import functions as F

    from dandi_s3_log_parser_spark.operators.similarity import (
        pq_adc_topk,
        pq_assign,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    codes = {
        r["vec_id"]: (r["code_0"], r["code_1"])
        for r in pq_assign(emb, m=2, k=4, iters=2).collect()
    }
    # reconstruct each query's ADC distance to ITSELF via its own codes:
    # rank-1 self distance equals the summed per-subspace quantization
    # error, which pq_assign reports as qerr
    qerr = {
        r["vec_id"]: r["qerr"]
        for r in pq_assign(emb, m=2, k=4, iters=2).collect()
    }
    q = emb.filter(F.col("vec_id") < 3).withColumnRenamed(
        "vec_id", "query_id"
    )
    out = pq_adc_topk(emb, q, m=2, k=4, iters=2, topk=30).collect()
    import pytest as _pytest

    for r in out:
        if r["query_id"] == r["neighbor_id"]:
            assert r["adc_dist"] == _pytest.approx(
                qerr[r["query_id"]], abs=2e-6
            )
    assert codes  # smoke: codes materialized


def test_pq_adc_topk_caps_query_batch(spark):
    import pytest as _pytest

    from dandi_s3_log_parser_spark.operators.similarity import pq_adc_topk

    emb = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    q = emb.withColumnRenamed("vec_id", "query_id")  # 300 > 256 cap
    with _pytest.raises(ValueError, match="at most 256"):
        pq_adc_topk(emb, q, m=1, k=2, iters=0, topk=1)


# ---------------------------------------------------------------------------
# exact_dedup narrow shuffle
# ---------------------------------------------------------------------------


def test_exact_dedup_exchange_carries_digest_not_text(spark):
    import re

    df = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "bb")], "doc_id long, text string"
    )
    out = exact_dedup(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the exchange key is the sha2 digest expression, never the text col
    (exch,) = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert not re.search(r"hashpartitioning\(text", exch)
    assert "sha2" in plan and "partial_min" in plan  # map-side combine
    got = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert got == {1: 2, 3: 1}
