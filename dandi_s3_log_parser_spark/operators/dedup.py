"""Deduplication operators for large-scale text corpora.

Beyond the reference's scope (it has no dedup), these are the standard
training-data-pipeline dedup family, each built Spark-first:

* exact dedup          — hash groupBy (one shuffle of a narrow key)
* n-gram Jaccard pairs — array ops, native (array_intersect/union)
* MinHash + LSH        — shingle -> minhash signature -> banded bucket
                         join, entirely native Column expressions
                         (xxhash64-based hash family; no Python)
* SimHash              — token hashes native, bit-vote in a vectorized
                         pandas UDF (numpy bit ops over Arrow batches)

Scale notes: MinHash-LSH is the 100 TB path — candidate generation is a
groupBy on band-hash buckets (bounded fanout), and only candidates pay
the exact-verify cost.  The all-pairs operators take an explicit
``max_rows`` guard so they cannot be accidentally unleashed on a full
table.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import md5_prefix
from ..functions.text import tokens


def word_tokens(text: Column) -> Column:
    return tokens(F.lower(text))


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    verify_collisions: bool = False,
) -> DataFrame:
    """Keep the minimum id per exact text value (hash aggregation).

    Groups on a 256-bit content digest (sha2) instead of the text
    itself, so the shuffle exchange carries (32-byte digest, id) per row
    — never the corpus bytes — and the partial (map-side) aggregation
    collapses local duplicates before the exchange.  Digest equality is
    text equality for all practical purposes (collision probability
    ~2^-128 at 10^12 docs); ``verify_collisions=True`` adds the
    paranoid second pass — re-checking ONLY the dup_count>1 digest
    groups (a semi-join-pruned scan, not a second full shuffle of the
    corpus) that each maps to exactly one distinct text, raising if a
    sha2 collision merged distinct documents.
    """
    digests = df.groupBy(F.sha2(F.col(text_col), 256).alias("_digest")).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count")
    )
    if verify_collisions:
        dup_digests = digests.filter(F.col("dup_count") > 1).select("_digest")
        collided = (
            df.select(F.sha2(F.col(text_col), 256).alias("_digest"), text_col)
            .join(dup_digests, "_digest", "left_semi")
            .groupBy("_digest")
            .agg(F.count_distinct(text_col).alias("_n_texts"))
            .filter(F.col("_n_texts") > 1)
            .count()
        )
        if collided:
            raise ValueError(
                f"exact_dedup: {collided} sha2-256 digest group(s) span "
                "distinct texts — hash collision merged different documents"
            )
    return digests.select(id_col, "dup_count")


def with_shingles(df: DataFrame, n: int = 3, out_col: str = "sh") -> DataFrame:
    """Add a distinct word-n-gram shingle column, in linear time.

    PERF NOTE (measured, sf0.1 5000 docs: 174.6s -> 5.6s for the
    downstream minhash signature): expressions referenced inside
    higher-order-function lambdas are re-evaluated per array element —
    an ``element_at(tokens, i+j)``-style gram builder re-runs the whole
    split/filter per gram.  So tokens are materialized as a bound column
    first (projection boundary; non-cheap aliases are not inlined by
    CollapseProject) and grams come from ``arrays_zip`` of shifted
    slices, touching each token O(n) times total.
    """
    df = df.withColumn("_toks", word_tokens(F.col("text")))
    cnt = F.greatest(F.size(F.col("_toks")) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(
        *[F.slice(F.col("_toks"), j + 1, cnt) for j in range(n)]
    )
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return df.withColumn(out_col, F.array_distinct(grams)).drop("_toks")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    max_rows: int = 1000,
) -> DataFrame:
    """All-pairs word-n-gram Jaccard above ``threshold`` (guarded small-N
    baseline; use :func:`minhash_lsh_candidates` at scale)."""
    docs = (
        with_shingles(df, n=n)
        .select(F.col("doc_id").alias("id"), "sh")
        .filter(F.size("sh") > 0)
        .limit(max_rows)
    )
    a = docs.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter / union
    return (
        pairs.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def jaccard_prefix_join(
    df: DataFrame,
    *,
    threshold: float = 0.5,
    n: int = 3,
    max_postings_per_token: int | None = None,
) -> DataFrame:
    """EXACT all-pairs word-n-gram Jaccard >= ``threshold`` via prefix
    filtering — the scalable exact counterpart to the guarded
    brute-force :func:`ngram_jaccard_pairs` baseline and the
    probabilistic :func:`minhash_dedup` family.  Same output contract:
    ``(id_a, id_b, jaccard)``, and by the prefix-filter lemma the pair
    set EQUALS the brute-force answer (lossless pruning), which the
    oracle asserts by recomputing all pairs exhaustively.

    Method (Chaudhuri, Ganti & Kaushik, ICDE 2006; Bayardo, Ma &
    Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search"): order
    every document's distinct shingles by a single global total order —
    ascending document frequency, rarest first, token text as the
    tie-break — and keep only each document's first
    ``|x| - ceil(t*|x|) + 1`` tokens as its *prefix*.  Any pair with
    jaccard >= t has overlap >= ceil(t*|x|) (since |y| >= t*|x| is
    necessary), so by pigeonhole the two prefixes must share a token:
    candidates are exactly the pairs co-occurring in one inverted
    posting list of PREFIX tokens.  A length filter
    (t*|x| <= |y| and t*|y| <= |x|) prunes inside the join, then the
    survivors pay one exact verify on the full shingle arrays.

    Scale shape: two shuffles of narrow keys (token-frequency count,
    prefix-posting self-join) plus one equi-join back to the shingle
    table for the verify — no cartesian node anywhere, asserted by the
    plan test.  Prefixes are the globally RAREST tokens, so posting
    lists are short by construction; ``max_postings_per_token`` is a
    loud backstop — exceeding it RAISES (silently dropping a hot token
    would break exactness) with the offending count so the caller can
    re-shingle (larger n) or fall back to MinHash.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sh = (
        with_shingles(df, n=n)
        .select(F.col("doc_id").alias("id"), "sh")
        .filter(F.size("sh") > 0)
    )
    exploded = sh.select("id", F.size("sh").alias("sz"),
                         F.explode("sh").alias("tok"))
    freq = exploded.groupBy("tok").agg(F.count(F.lit(1)).alias("df_cnt"))
    # per-doc tokens in the global (df_cnt, tok) total order; struct
    # sort_array orders by fields left to right
    ordered = (
        exploded.join(freq, "tok")
        .groupBy("id", "sz")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("df_cnt", "tok"))
                ),
                lambda s: s["tok"],
            ).alias("toks")
        )
    )
    # overlap lower bound ceil(t*|x|); round() first so binary-float
    # dust (0.2*5 -> 1.0000000000000002) cannot inflate the ceil and
    # shorten the prefix below the lossless length
    alpha = F.ceil(F.round(F.lit(threshold) * F.col("sz"), 6))
    prefix = ordered.select(
        "id",
        "sz",
        F.explode(
            F.slice("toks", 1, (F.col("sz") - alpha + 1))
        ).alias("tok"),
    )
    if max_postings_per_token is not None:
        hot = (
            prefix.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("postings"))
            .filter(F.col("postings") > max_postings_per_token)
            .orderBy(F.col("postings").desc())
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                "jaccard_prefix_join: prefix token "
                f"{hot[0]['tok']!r} has {hot[0]['postings']} postings "
                f"(> {max_postings_per_token}); dropping it would break "
                "exactness — increase n, raise the cap, or use minhash_dedup"
            )
    a = prefix.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"),
                      "tok")
    b = prefix.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"),
                      "tok")
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_b") * threshold <= F.col("sz_a"))
            & (F.col("sz_a") * threshold <= F.col("sz_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    verified = (
        cand.join(sh.select(F.col("id").alias("id_a"),
                            F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("id").alias("id_b"),
                        F.col("sh").alias("sh_b")), "id_b")
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    return (
        verified.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def minhash_signature(sh_col: Column) -> Column:
    """MinHash signature as array<long>: hash family h_i(s) = xxhash64(s, i).

    ``sh_col`` must be a bound shingle COLUMN (see :func:`with_shingles`
    perf note) — passing a raw expression re-evaluates it per hash seed.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda i: F.array_min(F.transform(sh_col, lambda s: F.xxhash64(s, i))),
    )


def _band_buckets(
    shingled: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) rows from an (id, sh) shingle table: minhash
    signature, then one xxhash64 bucket per contiguous signature band.
    Shared by the self-dedup and the incremental (cross-snapshot)
    variants so both hash into the SAME bucket space.

    The signature is computed by exploding the shingle array and
    taking ``num_hashes`` codegen'd ``min(xxhash64(gram, seed))``
    aggregates — the same ``h_i(s) = xxhash64(s, i)`` family and the
    same per-doc minima as :func:`minhash_signature`, value-identical,
    but whole-stage-codegen instead of a nested interpreted HOF (16
    seeds x every gram per array element — measured ~7 s of the
    minhash stage at sf1.0, vs ~1 s exploded).  The shingle input is
    id-partitioned by the callers, so the groupBy(id) re-uses that
    partitioning and adds NO exchange (guide §2.4)."""
    rows_per_band = num_hashes // bands
    sig_arr = F.array(*[F.col(f"_h{i}") for i in range(num_hashes)])
    docs = (
        shingled.select("id", F.explode("sh").alias("_g"))
        .groupBy("id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("_g"), F.lit(i))).alias(f"_h{i}")
                for i in range(num_hashes)
            ]
        )
        .select("id", sig_arr.alias("sig"))
    )
    return docs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.slice(
                                F.col("sig"),
                                b * rows_per_band + 1,
                                rows_per_band,
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    *,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    shingle -> signature -> per-band bucket hash -> pairs within
    (band, bucket).  Buckets larger than 64 ids are dropped
    BEFORE pair generation (standard at-scale guard: a bucket with m ids
    yields m^2/2 pairs, so one degenerate bucket — boilerplate, tiny
    vocab, empty docs — would otherwise dominate the whole job; such
    buckets carry no dedup signal).  Pair generation is collect_list on
    the pre-filtered small buckets + native pair expansion — bounded at
    64^2/2 pairs per bucket, no skewed self-join.
    """
    if shingled is None:
        shingled = with_shingles(df).select(
            F.col("doc_id").alias("id"), "sh"
        ).filter(F.size("sh") > 0)
    # validity = non-empty shingle set, checked BEFORE the signature: a
    # filter on the signature itself would be pushed through the
    # projection by Catalyst and re-evaluate the whole minhash subtree
    # (measured 2x on this stage)
    banded = _band_buckets(shingled, 16, 4)

    # bucket-size guard via a window count over (band, bucket): a
    # count-then-join formulation would reference `banded` twice and
    # re-evaluate the shingle+signature subtree on both sides (measured
    # 25s -> ~6s on sf0.1).  The window shuffles once on (band, bucket)
    # and the following groupBy on the same keys reuses that exchange.
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    small = banded.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        (F.col("_n") >= 2) & (F.col("_n") <= 64)
    )
    grouped = small.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )
    n = F.size(F.col("ids"))
    pair_array = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pair_array).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def minhash_dedup(
    df: DataFrame,
    *,
    threshold: float = 0.7,
    catalog=None,
    shingle_table: str | None = None,
) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard >= threshold.

    The shingle set is materialized ONCE with ``localCheckpoint``: the
    signature path and both verify sides read the checkpointed blocks
    instead of re-running the tokenize/shingle subtree three times.
    The checkpoint is also the optimizer barrier that keeps the
    non-empty filter from being pushed into the parquet scan — without
    it Catalyst substitutes the whole gram-building tree into a scan
    DataFilter, recomputing it per branch on the scan's (few) input
    tasks (observed in the sf1.0 plan: three scans, each carrying the
    full shingle expression in its filter).  A forced repartition was
    measured strictly worse: exchanging the array<string> gram column
    costs 10-20x the same bytes as one string (per-element shuffle
    serialization, guide §2.3) and still leaves the three-subtree
    duplication in place.

    At real corpus scale pass ``catalog`` + ``shingle_table`` to
    materialize the shingle set as a committed table instead — written
    once, and all three consumers read the committed files (which also
    survive for any later dedup/fingerprint pass over the same corpus
    snapshot).
    """
    sh = (
        with_shingles(df)
        .select(F.col("doc_id").alias("id"), "sh")
        .localCheckpoint()
        .filter(F.size("sh") > 0)
    )
    if shingle_table is not None:
        if catalog is None:
            raise ValueError("shingle_table requires a catalog")
        catalog.write(sh, shingle_table, mode="overwrite")
        sh = catalog.read(shingle_table)
    cands = minhash_lsh_candidates(df, shingled=sh)
    # verify joins: candidate pairs x shingle dim; at corpus scale the
    # shingle dim won't broadcast — Catalyst/AQE will pick a shuffle
    # join automatically — but the candidate side stays the small side
    out = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def incremental_minhash_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    threshold: float = 0.5,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Dedup a NEW crawl snapshot against an EXISTING corpus: for each
    new document, find near-duplicates (shingle Jaccard >= threshold)
    already in the corpus via banded MinHash-LSH — the incremental
    variant of :func:`minhash_dedup` that every ongoing-crawl pipeline
    runs per snapshot instead of re-deduping the whole corpus
    quadratically (the content-level complement of
    :func:`snapshot_delta`, which only catches byte-level refetches).

    Returns every new document as ``(id, dup_of, jaccard, is_dup)``:
    ``dup_of`` = the LOWEST corpus id among verified matches (NULL if
    none), ``jaccard`` = that pair's verified similarity.

    Scale shape (10^9-doc corpus, 10^7-doc snapshot):

    - both sides band through :func:`_band_buckets`, so they hash into
      the SAME bucket space; in a real deployment the corpus side's
      (id, band, bucket) table is computed once and PERSISTED — only
      the new side's signatures are fresh work per snapshot;
    - the probe is a (band, bucket) equi-join — new x corpus, never a
      corpus self-join; degenerate corpus buckets (boilerplate) are
      capped at ``max_bucket_size`` BEFORE the join, same guard and
      rationale as :func:`minhash_lsh_candidates`;
    - Jaccard verification joins the candidate pairs (small side) back
      to the two shingle tables on their ids.
    """
    # one localCheckpoint per side: BOTH consumers (banding and the
    # Jaccard verify) read the materialized blocks instead of
    # re-running the tokenize/shingle subtree, and the checkpoint is
    # the optimizer barrier that keeps the size filter out of the scan
    # — the same single-materialization rationale minhash_dedup
    # documents (a forced repartition instead shuffles the gram
    # array<string> column at 10-20x the cost of its bytes)
    sh_new = (
        with_shingles(new_docs)
        .select(F.col("doc_id").alias("id"), "sh")
        .localCheckpoint()
        .filter(F.size("sh") > 0)
    )
    sh_old = (
        with_shingles(corpus)
        .select(F.col("doc_id").alias("id"), "sh")
        .localCheckpoint()
        .filter(F.size("sh") > 0)
    )
    b_new = _band_buckets(sh_new, 16, 4)
    from pyspark.sql import Window

    w = Window.partitionBy("band", "bucket")
    b_old = (
        _band_buckets(sh_old, 16, 4)
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(F.col("_n") <= max_bucket_size)
        .drop("_n")
    )
    cands = (
        b_new.withColumnRenamed("id", "new_id")
        .join(
            b_old.withColumnRenamed("id", "old_id"),
            ["band", "bucket"],
        )
        .select("new_id", "old_id")
        .distinct()
    )
    verified = (
        cands.join(
            sh_new.withColumnsRenamed({"id": "new_id", "sh": "sh_n"}),
            "new_id",
        )
        .join(
            sh_old.withColumnsRenamed({"id": "old_id", "sh": "sh_o"}),
            "old_id",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_n", "sh_o"))
                / F.size(F.array_union("sh_n", "sh_o")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = verified.groupBy("new_id").agg(
        F.min(F.struct("old_id", "jaccard")).alias("_b")
    )
    return (
        new_docs.select(F.col("doc_id"))
        .join(best, new_docs["doc_id"] == best["new_id"], "left")
        .select(
            "doc_id",
            F.col("_b.old_id").alias("dup_of"),
            F.col("_b.jaccard").alias("jaccard"),
            F.col("_b.old_id").isNotNull().alias("is_dup"),
        )
    )


def dedup_clusters(pairs: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Connected components over near-duplicate candidate pairs:
    (doc id -> cluster id), cluster id = min doc id in the component.

    The step after pair generation in a real dedup pipeline — pairs are
    not transitive ((a,b) and (b,c) pairs must collapse into one keep
    decision), so components, not pairs, are the dedup unit.

    Algorithm: hash-min label propagation (the standard Spark CC
    formulation; GraphX/GraphFrames does the same under the hood):
    every node starts labeled with its own id; each round a node takes
    the min of its label and its neighbors' labels, then **pointer-jumps**
    (label <- label[label]; labels are always node ids, so the jump is
    one self-join).  The jump roughly doubles propagation distance per
    round, so convergence is O(log diameter) instead of O(diameter) —
    near-dup clusters are dense and tiny (2-4 rounds either way), but a
    pathological 10^5-hop chain now converges in ~17 rounds instead of
    blowing the ``max_iter`` budget.

    Scale design: state is one narrow (id, label) table and the edge
    list; each round is one shuffle join + groupBy-min.  Lineage is
    truncated every round with ``localCheckpoint`` (iterative plans
    otherwise grow exponentially), and convergence is a driver-side
    scalar count — never a collect of the labels.
    """
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("a").alias("id")).distinct().withColumn(
        "label", F.col("id")
    ).localCheckpoint()
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
        )
        prop = labels.join(nbr_min, labels.id == nbr_min.a, "left").select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
            F.col("label").alias("_old"),
        )
        # pointer jumping: label <- min(label, label[label]).  One more
        # narrow (id, label) self-join per round buys O(log d) total
        # rounds; the join key is the label column, which is always a
        # node id, so the lookup side is the same labels table.
        lookup = prop.select(
            F.col("id").alias("_pid"), F.col("label").alias("_plabel")
        )
        # convergence rides an observe() on the SAME job the
        # localCheckpoint runs (observed metrics fire on checkpoint
        # materialization), so each round costs ONE eager job, not a
        # checkpoint plus a separate count
        obs = Observation(f"cc_changed_{_}")
        new_labels = (
            prop.join(lookup, prop.label == lookup._pid, "left")
            .select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("_plabel", F.col("label"))
                ).alias("label"),
                "_old",
            )
            .observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("_old")).cast("long")
                ).alias("changed"),
            )
            .localCheckpoint()
        )
        changed = obs.get["changed"] or 0
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    else:
        # fell through with changed > 0: some component's diameter
        # exceeds max_iter, so its labels are only partially propagated
        # (one near-dup chain would be reported as several clusters).
        # Never silent — the caller must raise max_iter (or pre-split
        # the input) rather than trust split cluster ids.
        import warnings

        warnings.warn(
            f"dedup_clusters: {changed} label(s) still changing after "
            f"max_iter={max_iter} rounds — component diameter exceeds the "
            "iteration budget and the returned cluster ids are SPLIT; "
            "raise max_iter",
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIMHASH_SCHEMA = T.LongType()


@F.pandas_udf(_SIMHASH_SCHEMA)
def _simhash_from_token_hashes(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash from per-token xxhash64 values (numpy bit votes)."""
    out = np.zeros(len(token_hashes), dtype=np.int64)
    for i, hashes in enumerate(token_hashes):
        if hashes is None or len(hashes) == 0:
            continue
        arr = np.asarray(hashes, dtype=np.uint64)
        bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sim = np.uint64(0)
        sim = np.bitwise_or.reduce(
            (votes > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
        )
        out[i] = sim.astype(np.int64)
    return pd.Series(out)


def md5_token_hash_60(tok: Column) -> Column:
    """60-bit token hash from the first 15 hex chars of md5.

    Exists so an external ANSI-SQL engine can recompute the identical
    hash (``CAST(concat('0x', substr(md5(t),1,15)) AS BIGINT)``) and
    mechanically verify the whole SimHash pipeline; xxhash64 (the
    default family, ~3x faster) has no portable SQL equivalent.  15 hex
    chars keep the value inside a signed 64-bit long."""
    return md5_prefix(tok, 15).cast("long")


def simhash(df: DataFrame, *, token_hash=None) -> Column:
    """SimHash column: token hashing native, bit-vote vectorized in numpy.

    ``token_hash``: Column->Column hash family; default xxhash64 (fast
    path), :func:`md5_token_hash_60` for oracle-verifiable output."""
    hash_fn = token_hash or F.xxhash64
    token_hashes = F.transform(word_tokens(F.col("text")), lambda t: hash_fn(t))
    return _simhash_from_token_hashes(token_hashes)


def simhash_near_dup_pairs(
    df: DataFrame,
    *,
    max_hamming: int = 3,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, LSH-bucketed on 16-bit
    chunks.  With ``max_hamming <= 3`` the result is EXACT (pigeonhole:
    a pair within distance 3 over 4 chunks must share one chunk), which
    is what makes the operator oracle-verifiable end to end."""
    docs = df.select(
        F.col("doc_id").alias("id"),
        simhash(df, token_hash=token_hash).alias("sh"),
    )
    chunks = docs.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "sh", "cc.chunk", "cc.val")
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.val") == F.col("r.val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.sh").alias("sh_a"),
            F.col("r.sh").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Repeated n-gram span detection (exact-substring dedup, Lee et al. 2022)
# ---------------------------------------------------------------------------


def repeated_ngram_spans(
    docs: DataFrame,
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated token spans: every ``k``-token window
    whose content recurs in >= ``min_docs`` distinct documents, merged
    into maximal per-document intervals — the detection half of
    exact-substring deduplication ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2022; suffix-array formulation
    there, fingerprinted k-token windows here).  Returns
    ``(id, span_start, span_end, n_windows)`` with token-index spans
    ``[start, end)``; overlapping or touching windows merge.

    Scale shape (10^12 docs): windows shuffle a 64-bit hex fingerprint
    (``substr(sha256(gram),1,16)``) — never gram text; repeated-gram
    detection is a two-phase distinct-doc count per fingerprint; the
    join back is fingerprint-keyed equi-join (AQE may broadcast the
    repeated set when rare).  The interval merge windows partition by
    document — bounded by document length, no global window.  Within-
    doc-only repeats do NOT count toward ``min_docs`` (cross-document
    criterion); collisions at 64 bits are the same accepted trade as
    the digest dedup (`exact_dedup`).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    toks = word_tokens(F.col("text"))
    nwin = F.size(F.col("_toks")) - F.lit(k) + 1
    # `wins` has two consumers (repeated-gram aggregate + join back)
    # and deliberately does NOT checkpoint: both a full checkpoint of
    # the exploded rows and a compact per-doc-array checkpoint were
    # measured SLOWER than letting the two branches recompute the
    # window hashing in parallel (the eager materialization job costs
    # more than the overlapped second evaluation at this row width)
    wins = (
        docs.select(F.col("doc_id"), toks.alias("_toks"))
        .filter(F.size("_toks") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), nwin - 1),
                    lambda i: F.substring(
                        F.sha2(
                            F.concat_ws(
                                " ", F.slice("_toks", i + 1, k)
                            ),
                            256,
                        ),
                        1,
                        16,
                    ),
                )
            ).alias("pos", "_g"),
        )
    )
    repeated = (
        wins.groupBy("_g")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_g")
    )
    hits = wins.join(repeated, "_g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = (
        hits.withColumn(
            "_brk",
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_brk").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        grouped.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max(F.col("pos") + k).cast("long").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_windows"),
        )
        .drop("_island")
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# Crawl snapshot delta (incremental-recrawl classification)
# ---------------------------------------------------------------------------


def snapshot_delta(
    prev: DataFrame,
    new: DataFrame,
    *,
    key_col: str = "url",
) -> DataFrame:
    """Classify every key across two crawl snapshots: ``added``
    (only in new), ``removed`` (only in prev), ``changed`` (both, but
    content digest differs), ``unchanged`` — the incremental-recrawl
    primitive that decides what re-enters the pipeline.

    Inputs must be one row per key (pre-aggregate a multi-fetch crawl
    first — this operator refuses ambiguity rather than guessing,
    because 'which fetch counts' is a policy decision).  Returns
    ``(key, status, prev_digest, new_digest)``.

    Scale shape (10^10 URLs): ONE key-keyed full outer join carrying
    only (key, digest) — content never moves; both sides partial-
    aggregate nothing and AQE handles skewed hosts.  Downstream,
    ``added``+``changed`` keys semi-join the new crawl to select the
    reprocess set.
    """
    p = prev.select(
        F.col(key_col).alias("key"),
        F.col("digest").alias("prev_digest"),
    )
    n = new.select(
        F.col(key_col).alias("key"),
        F.col("digest").alias("new_digest"),
    )
    return p.join(n, "key", "full_outer").select(
        "key",
        F.when(F.col("prev_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(
            F.col("prev_digest") == F.col("new_digest"),
            F.lit("unchanged"),
        )
        .otherwise(F.lit("changed"))
        .alias("status"),
        "prev_digest",
        "new_digest",
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup (excerpt / quote-inclusion detection)
# ---------------------------------------------------------------------------


def containment_near_dup(
    df: DataFrame,
    *,
    threshold: float = 0.8,
    n: int = 3,
    df_cap: int = 10_000,
) -> DataFrame:
    """Ordered near-dup pairs by n-gram CONTAINMENT:
    ``C(a -> b) = |S(a) & S(b)| / |S(a)|`` (Broder 1997's second
    resemblance measure).  Returns ``(id_a, id_b, containment)`` for
    every ordered pair ``id_a != id_b`` with ``containment >=
    threshold`` — the asymmetric relation symmetric Jaccard dedup
    misses: a short excerpt quoted inside a long page has tiny Jaccard
    (union is dominated by the long side) but containment ~1, and
    "drop the contained side" is the curation policy that removes
    syndicated snippets without touching the canonical page.

    Scale shape (10^12 docs):

    - shingles become 8-byte ``xxhash64`` digests immediately — the
      candidate exchange carries (digest, id), never gram text
      (collision odds at 64 bits are ~n^2/2^65 per posting list,
      negligible and deterministic);
    - postings with document frequency > ``df_cap`` are dropped BEFORE
      candidate generation (boilerplate grams would otherwise
      contribute df^2 join rows); the cap bounds any digest's join
      fan-out, the standard candidate-generation guard.  A pair whose
      ONLY shared grams are ultra-common is missed — acceptable,
      because containment evidenced solely by boilerplate is exactly
      the false-positive class the cap exists to kill;
    - candidate generation is an s-match PREFIX-FILTER join (Chaudhuri
      et al. ICDE'06 / Bayardo WWW'07, generalised to the asymmetric
      overlap bound, plus the PPJoin positional filter, Xiao et al.
      WWW'08): rank each doc's rare digests in the global
      (df, digest) order; a reported pair needs ``c = ceil(t'*|A|)``
      intersection grams of which at least ``c_r = c - |A_common|``
      must be rare, so by pigeonhole B holds >= s of A's first
      ``|A_rare| - c_r + s`` rare grams (s = 2 here) — the probe side
      posts only that prefix, the build side posts all rare postings
      with their ranks, a per-row positional filter
      ``s + min(|A_r|-i, |B_r|-j) >= c_r`` discards matches that
      cannot reach the bound even in principle (sound for the s
      canonically-smallest shared grams, which is what the >= s count
      below consumes), and only pairs with >= s surviving matches go
      to verification.  On the dense synthetic fixture this cuts the
      candidate exchange from 263M shared-gram events / 234M distinct
      pairs to ~33M events / ~0.6M verify pairs at sf1.0 (measured);
      ``t'`` carries a 1e-4 slack so float wobble can only ADD
      candidates, never drop one the exact verify would keep;
    - survivors are then verified EXACTLY: both sides' full shingle
      arrays are joined back in (suspect-sized join, not corpus-sized)
      and the true intersection over the FULL sets — common grams
      included — is computed with one ``array_intersect`` per pair,
      so the reported containment is exact, never an estimate.

    Eager materialization: the shingle table is ``localCheckpoint``-ed
    when this function is CALLED, so building the result runs a Spark
    job even if it is never consumed.  Local checkpoint blocks live
    only on the executor that computed them (not replicated, no
    lineage kept): if that executor is lost before the result is
    consumed, the query fails instead of recomputing the shingles.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"need 0 < threshold <= 1; got {threshold}")
    s_matches = 2
    # materialize the shingle table ONCE: it feeds posting generation
    # AND both verify sides, and without the barrier the tokenize/
    # shingle expression tree is re-evaluated per consumer (4 copies in
    # the sf1.0 plan, each ~10-15 executor-CPU-seconds) — same pattern
    # as minhash_dedup's checkpointed shingle table
    sh = (
        with_shingles(df, n=n)
        .select(F.col("doc_id").alias("id"), "sh")
        .filter(F.size("sh") > 0)
        .localCheckpoint()
    )
    # postings carry |sh| from the explode (no per-doc stats re-join)
    posts = sh.select(
        "id", F.size("sh").alias("_n"), F.explode("sh").alias("_g")
    ).select("id", "_n", F.xxhash64("_g").alias("_d"))
    rare = posts.join(
        posts.groupBy("_d")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= df_cap),
        "_d",
    )
    # per-doc canonical ranking of rare digests: global (df, digest)
    # order restricted to the doc — one narrow id-keyed exchange
    w_id = Window.partitionBy("id")
    # ranked is ALSO materialized: the candidate self-join consumes it
    # twice (probe prefix + build side), and the df-aggregate + double
    # window above it would otherwise run once per side.  Narrow rows
    # (five numeric columns), posting-table-sized.
    ranked = rare.select(
        "id",
        "_n",
        "_d",
        F.row_number().over(w_id.orderBy("_df", "_d")).alias("_rk"),
        F.count(F.lit(1)).over(w_id).alias("_nr"),
    ).localCheckpoint()
    # c: intersection grams needed for round(|A∩B|/|A|,4) >= t (1e-4
    # slack below the true boundary — recall-safe); c_r: how many of
    # them must be rare; s_a: matches demanded among the prefix
    c = F.greatest(
        F.ceil(F.lit(threshold - 1e-4) * F.col("_n")), F.lit(1)
    )
    c_r = c - (F.col("_n") - F.col("_nr"))
    s_a = F.least(F.lit(s_matches), F.greatest(c_r, F.lit(1)))
    probe = ranked.select(
        "id",
        "_d",
        "_rk",
        "_nr",
        c_r.alias("_cr"),
        s_a.alias("_sa"),
    ).filter(
        F.col("_rk")
        <= F.col("_nr") - F.greatest(F.col("_cr"), F.lit(1)) + F.col("_sa")
    )
    cand = (
        probe.alias("a")
        .join(
            ranked.select("id", "_d", "_rk", "_nr").alias("b"),
            (F.col("a._d") == F.col("b._d"))
            & (F.col("a.id") != F.col("b.id"))
            & (
                F.col("a._sa")
                + F.least(
                    F.col("a._nr") - F.col("a._rk"),
                    F.col("b._nr") - F.col("b._rk"),
                )
                >= F.greatest(F.col("a._cr"), F.lit(1))
            ),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).alias("_m"),
            F.max(F.col("a._sa")).alias("_sa"),
        )
        .filter(F.col("_m") >= F.col("_sa"))
        .select("id_a", "id_b")
    )
    verified = (
        cand.join(
            sh.select(F.col("id").alias("id_a"), F.col("sh").alias("_sa")),
            "id_a",
        )
        .join(
            sh.select(F.col("id").alias("id_b"), F.col("sh").alias("_sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("_sa", "_sb"))
                / F.size("_sa"),
                4,
            ).alias("containment"),
        )
    )
    return verified.filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# Repeated-span removal (the apply half of exact-substring dedup)
# ---------------------------------------------------------------------------


def remove_repeated_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    *,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cut cross-document repeated token spans OUT of the text — the
    apply half of exact-substring deduplication (Lee et al. 2022
    remove the duplicated substring, not the document; detection is
    :func:`repeated_ngram_spans`, which this calls unless precomputed
    ``spans`` are passed in).

    Returns ``(id, text, n_removed)``.  A touched document's text is
    rebuilt from its ORIGINAL-case whitespace tokens with covered
    positions dropped, single-space joined — i.e. whitespace-normalized
    (the tokenizer is whitespace-lossy by construction; position
    indices still align with the detector's because lowercasing never
    moves whitespace).  Untouched documents pass through byte-identical
    with ``n_removed = 0``, so the operator never rewrites what it
    did not edit.

    Scale shape (10^12 docs): the spans table is corpus-fraction-sized
    (only documents with cross-doc repeats) and per-doc span counts are
    bounded by document length, so the ``collect_list`` per id is safe;
    the apply is one id-keyed equi-join (AQE broadcasts the span side
    when rare) plus a per-row narrow rebuild — the corpus text is
    never shuffled.
    """
    if spans is None:
        spans = repeated_ngram_spans(docs, k=k, min_docs=min_docs)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    orig_toks = tokens(F.col("text"))
    kept = F.filter(
        orig_toks,
        lambda t, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("_spans").isNull(), F.col("text"))
        .otherwise(F.array_join(kept, " "))
        .alias("text"),
        F.when(F.col("_spans").isNull(), F.lit(0))
        .otherwise(F.size(orig_toks) - F.size(kept))
        .cast("long")
        .alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS)
# ---------------------------------------------------------------------------


def winnow_fingerprints(docs: DataFrame, *, k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every character ``k``-gram
    of the normalized text, then keep the MINIMUM hash of each sliding
    window of ``window`` consecutive gram hashes.  The distinct minima
    are the document's fingerprint set — position-robust (any shared
    substring of length >= k + window - 1 is guaranteed to share a
    fingerprint) and tunably sparse (~2/(window+1) of the grams
    survive), which is what makes fingerprint-index joins feasible
    where full k-gram inverted indexes are not.

    Normalization is lowercase + whitespace collapsed to single
    spaces + trim.  Documents shorter than ``k`` normalized chars
    yield no rows; documents with fewer than ``window`` grams yield
    the single min over all their grams (one whole-text window).
    Gram hash is the md5-derived 60-bit integer used across this
    module (DuckDB-mirrorable for the oracle).

    Returns distinct ``(id, fp)``.

    Scale shape (10^12 docs): entirely narrow until the terminal
    distinct — gram hashing and window minima are per-row array
    expressions (``transform`` over a ``sequence``, ``array_min`` over
    ``slice``), so the corpus text is never shuffled; only the sparse
    (id, fp) pairs reach the exchange, pre-shrunk map-side by
    ``array_distinct`` before the explode.  Downstream near-dup
    detection is then a fp-keyed equi-join on a table ~2/(window+1)
    the size of a full k-gram index.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))

    # The gram-hash + window-min kernel runs as an Arrow-batched
    # pandas UDF: hashlib.md5 is C speed and the rolling minima are
    # one vectorized numpy sliding-window reduction, vs ~300
    # interpreted md5/conv expression evaluations plus a fresh
    # slice+array_min allocation PER GRAM in the HOF form (guide §4.2
    # — measured ~74 executor-CPU-seconds at sf1.0 dropping to ~4).
    # Value-identical by construction: Python str slicing is
    # character-based like substr, md5 runs over the same UTF-8
    # bytes, and int(hex[:15], 16) == conv(substring(md5,1,15),16,10)
    # (60 bits, in-range for long) — integers, no float concerns.
    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _winnow_fps(norms: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        def fps(s):
            n = len(s) - k + 1
            b = s.encode("utf-8") if s.isascii() else None
            if b is not None:
                hashes = np.fromiter(
                    (
                        int(
                            hashlib.md5(b[i : i + k]).hexdigest()[:15], 16
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
            else:
                hashes = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                s[i : i + k].encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
            if n <= window:
                mins = hashes.min(keepdims=True)
            else:
                mins = np.lib.stride_tricks.sliding_window_view(
                    hashes, window
                ).min(axis=1)
            return np.unique(mins)

        return norms.map(fps)

    return (
        docs.select(F.col("doc_id"), norm.alias("_norm"))
        .filter(F.length("_norm") - k + 1 >= 1)
        .select("doc_id", F.explode(_winnow_fps(F.col("_norm"))).alias("fp"))
        .distinct()
    )
