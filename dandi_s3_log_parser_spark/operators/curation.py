"""Training-data curation operators: repetition metrics, deterministic
splits, source-level stats, and token-budget sequence packing.

These are the document-corpus counterparts of the reference's per-asset
summary stage (``_map_binned_s3_logs_to_dandisets.py`` aggregates per
key; here the key is the document / source / split) — the operations a
pretraining-data pipeline runs between raw text and tokenized batches:

- Gopher-style repetition rules (duplicate-line fraction, duplicated-
  line character fraction, top-bigram fraction) used to drop boilerplate
  and machine-generated pages;
- a deterministic content-hash train/val/test split (md5-bucket, so the
  assignment is stable across runs, partitionings, and engines);
- per-source corpus stats with a blocklist anti-join (the curation
  analog of the reference's excluded-IP filter);
- sequence packing: greedy token-budget binning of documents into
  fixed-size training sequences.

Scale notes (10^12 docs): every operator here shuffles narrow rows only
(ids, 64-bit hashes, counts — never full text except the per-line
explode in the repetition metrics, whose shuffle key is (doc_id) so it
partitions perfectly and carries each byte exactly once); packing uses
a hash-bucketed window so no single task sees more than one bucket.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix
from ..functions.text import tokens
from .dedup import word_tokens

# ---------------------------------------------------------------------------
# Gopher-style repetition metrics
# ---------------------------------------------------------------------------


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Per-document duplicate-line metrics (Gopher repetition rules).

    Returns ``(doc_id, line_count, dup_line_frac, dup_line_char_frac)``:

    - ``dup_line_frac``   = 1 - distinct_lines / total_lines
    - ``dup_line_char_frac`` = chars in lines occurring >1 time / chars

    Plan: split on newline, explode, count per (doc, line), aggregate
    back per doc.  The explode→groupBy shuffle is keyed on (doc_id,
    line) so hot documents spread over their distinct lines; the final
    per-doc aggregate carries four longs per document.  Documents with
    no non-empty lines report 0 for both fractions.
    """
    lines = docs.select(
        F.col("doc_id"),
        F.explode(
            F.filter(F.split(F.col("text"), "\n"), lambda x: x != "")
        ).alias("line"),
    )
    per_line = lines.groupBy("doc_id", "line").agg(F.count("*").alias("cnt"))
    agg = per_line.groupBy("doc_id").agg(
        F.sum("cnt").alias("line_count"),
        F.count("*").alias("distinct_lines"),
        F.sum(F.length("line") * F.col("cnt")).alias("total_chars"),
        F.sum(
            F.when(F.col("cnt") > 1, F.length("line") * F.col("cnt")).otherwise(0)
        ).alias("dup_chars"),
    )
    # docs whose text has no non-empty lines drop out of the explode;
    # a left join from the (column-pruned) id list restores them with
    # zero metrics.  NOT an anti-join + union: that would reference the
    # agg subtree twice and Spark would recompute the whole
    # explode→groupBy pass — the expensive full-text scan — once per
    # reference.
    return docs.select(F.col("doc_id")).join(agg, on="doc_id", how="left").select(
        F.col("doc_id"),
        F.coalesce("line_count", F.lit(0)).alias("line_count"),
        F.coalesce(
            F.round(1.0 - F.col("distinct_lines") / F.col("line_count"), 6),
            F.lit(0.0),
        ).alias("dup_line_frac"),
        F.coalesce(
            F.round(
                F.when(
                    F.col("total_chars") > 0,
                    F.col("dup_chars") / F.col("total_chars"),
                ).otherwise(F.lit(0.0)),
                6,
            ),
            F.lit(0.0),
        ).alias("dup_line_char_frac"),
    )


def top_bigram_fraction(docs: DataFrame) -> DataFrame:
    """Fraction of word-bigram occurrences taken by the most frequent
    bigram per document (Gopher ``top-2-gram`` boilerplate rule).

    Returns ``(doc_id, bigram_count, top_bigram_frac)``; documents with
    fewer than 2 tokens report ``(0, 0.0)``.

    Plan: lowercase-tokenize natively, zip adjacent tokens into bigram
    strings with ``zip_with`` (no Python), explode, count per (doc,
    bigram), take max/sum per doc.  Shuffle keys are (doc_id, bigram)
    then doc_id — narrow rows, perfectly partitionable.
    """
    toks = word_tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    exploded = docs.select(F.col("doc_id"), F.explode(bigrams).alias("bigram"))
    per_bigram = exploded.groupBy("doc_id", "bigram").agg(F.count("*").alias("cnt"))
    agg = per_bigram.groupBy("doc_id").agg(
        F.sum("cnt").alias("bigram_count"),
        F.max("cnt").alias("top_cnt"),
    )
    # left-join restore of <2-token docs (see repetition_metrics on why
    # not anti-join + union)
    return docs.select(F.col("doc_id")).join(agg, on="doc_id", how="left").select(
        F.col("doc_id"),
        F.coalesce("bigram_count", F.lit(0)).alias("bigram_count"),
        F.coalesce(
            F.round(F.col("top_cnt") / F.col("bigram_count"), 6), F.lit(0.0)
        ).alias("top_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# Deterministic hash split
# ---------------------------------------------------------------------------


def hash_split(docs: DataFrame) -> DataFrame:
    """Assign each document a deterministic train/val/test split.

    Bucket = first 4 hex digits of ``md5(cast(id))`` mod 100 — a pure
    function of the id, so the assignment is reproducible across runs,
    engines (DuckDB computes the identical md5), partitionings, and
    cluster sizes; held-out docs stay held out forever.  No shuffle at
    all: this is a projection.
    """
    bucket = (
        md5_prefix(F.col("doc_id").cast("string"), 4)
        .cast("int")
        % 100
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.withColumn("split", split)


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    *,
    default_rate: float = 0.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """Deterministic per-source subsampling — the corpus-mixing step of
    a training-data pipeline (per-source sampling weights, e.g. 'keep
    100% of curated, 25% of crawl').

    Each row draws a reproducible uniform u in [0,1) from
    ``md5(salt|id)`` (first 8 hex digits / 2^32) and survives iff
    u < rate(source).  Pure projection + filter: no shuffle, no RNG
    state, stable across runs/engines/partitionings/cluster sizes —
    re-running a 100 TB mix selects byte-identical rows, and adding a
    source never reshuffles the others.  ``salt`` versions the mix (a
    new salt is a fresh independent draw).
    """
    for s, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {s!r} must be in [0,1], got {r}")
    u = (
        md5_prefix(
            F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string")), 8
        ).cast("double")
        / F.lit(4294967296.0)
    )
    rate = F.lit(float(default_rate))
    for s, r in sorted(rates.items()):
        rate = F.when(F.col("source") == s, F.lit(float(r))).otherwise(rate)
    return docs.filter(u < rate)


def curation_funnel(
    docs: DataFrame,
    rules: list[tuple[str, "F.Column"]],
) -> DataFrame:
    """Ordered filter funnel with per-rule attribution — the report
    every production curation pipeline emits ("C4 dropped X% for
    length, Y% for language, ...").

    ``rules`` is an ordered list of ``(name, fail_condition)``; each
    document is attributed to its FIRST failing rule (one CASE chain,
    single scan — rules are never evaluated as separate passes).
    Returns one row per rule plus a terminal ``survived`` row:
    ``(stage, rule, docs, remaining)`` where ``remaining`` is the
    corpus size after that stage.

    Scale shape: the corpus sees exactly one projection + one hash
    aggregate keyed on the (tiny) rule name; the cumulative-remaining
    pass runs driver-side over the RESULT rows (``len(rules)+1`` of
    them), never the corpus.  Eager: the aggregate executes at call
    time and the returned DataFrame is a local table.
    """
    if not rules:
        raise ValueError("curation_funnel needs at least one rule")
    expr = F.when(rules[0][1], F.lit(rules[0][0]))
    for name, cond in rules[1:]:
        expr = expr.when(cond, F.lit(name))
    expr = expr.otherwise(F.lit("survived"))
    counts = (
        docs.select(expr.alias("rule"))
        .groupBy("rule")
        .agg(F.count(F.lit(1)).alias("docs"))
    )
    dim = docs.sparkSession.createDataFrame(
        [(i + 1, name) for i, (name, _) in enumerate(rules)]
        + [(len(rules) + 1, "survived")],
        "stage int, rule string",
    )
    joined = dim.join(counts, "rule", "left").withColumn(
        "docs", F.coalesce(F.col("docs"), F.lit(0))
    )
    # cumulative remaining WITHOUT a window: an unpartitioned Window
    # (even over this (rules+1)-row table) logs Spark's single-partition
    # warning on every run, drowning out real future regressions
    # (VERDICT r3 #4).  The corpus-sized work is exactly the one hash
    # aggregate above; the running totals are a driver-side pass over
    # its rules+1 result rows (eager — this operator returns a
    # materialized report, which every caller collects anyway), and the
    # returned DataFrame is a LocalTableScan with ZERO further corpus
    # scans.
    rows = joined.orderBy("stage").collect()
    total = sum(r["docs"] for r in rows)
    cum = 0
    report = []
    for r in rows:
        if r["rule"] != "survived":
            cum += r["docs"]
        report.append((r["stage"], r["rule"], int(r["docs"]), int(total - cum)))
    return docs.sparkSession.createDataFrame(
        report, "stage int, rule string, docs long, remaining long"
    ).orderBy("stage")


def upsample_corpus(
    docs: DataFrame,
    weights: dict[str, float],
    *,
    default_weight: float = 1.0,
    salt: str = "upsample-v1",
) -> DataFrame:
    """Deterministic per-source corpus mixing WITH repetition — the
    upsampling half of data mixing (Llama-style: low-resource curated
    sources repeated ~2x per epoch, crawl kept at <=1x).

    A weight w emits each document ``floor(w)`` times plus one more
    with probability ``frac(w)``, drawn from the same reproducible
    ``md5(salt|id)`` uniform as :func:`stratified_sample` (so w <= 1
    degenerates to exactly that subsample).  Output adds an ``epoch``
    column (0-based copy index) — downstream packing/shuffling treats
    repeats as distinct rows.

    Pure projection + ``explode(sequence(...))``: no shuffle, no RNG
    state; the emitted multiset is a function of (id, source, salt)
    only, so a 100 TB mix is byte-reproducible across cluster sizes
    and a weight change for one source never touches the others.
    """
    for s, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {s!r} must be >= 0, got {w}")
    u = (
        md5_prefix(
            F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string")), 8
        ).cast("double")
        / F.lit(4294967296.0)
    )
    w = F.lit(float(default_weight))
    for s, r in sorted(weights.items()):
        w = F.when(F.col("source") == s, F.lit(float(r))).otherwise(w)
    n_copies = F.floor(w).cast("long") + (u < (w - F.floor(w))).cast("long")
    return (
        docs.withColumn("_n", n_copies)
        .filter(F.col("_n") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("_n") - 1)))
        .drop("_n")
    )


# ---------------------------------------------------------------------------
# Per-source stats with blocklist
# ---------------------------------------------------------------------------


def source_stats(docs: DataFrame, *, blocklist: tuple[str, ...] = ()) -> DataFrame:
    """Per-source corpus stats after dropping blocklisted sources.

    The curation analog of the reference's excluded-IP filter
    (``_s3_log_file_reducer.py``: drop rows whose ip is in the exclusion
    list, then aggregate): filter on a tiny in-memory set, then one
    hash aggregate keyed on source.  The blocklist is a literal isin
    (never a join) — it is configuration, not data.
    """
    from .. import functions  # noqa: F401  (package layout)
    from ..functions.text import token_count

    kept = docs
    if blocklist:
        kept = kept.filter(~F.col("source").isin(*blocklist))
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(token_count(F.col("text"))).alias("total_tokens"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Corpus-level line dedup (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------


def corpus_line_dedup(docs: DataFrame, *, max_doc_freq: int = 50) -> DataFrame:
    """Remove lines that occur in more than ``max_doc_freq`` distinct
    documents across the WHOLE corpus (CCNet-style paragraph dedup —
    the step that strips nav bars, cookie banners, and license
    boilerplate from web text before training).

    Returns one row per input document:
    ``(doc_id, kept_lines, removed_lines, text)`` where ``text`` is the
    document re-assembled from its surviving lines in original order
    (empty string when every line was boilerplate).

    Plan shape at 10^12 docs:

    - ``posexplode`` lines with their position (map-side);
    - document frequency keyed on a sha2-256 LINE DIGEST, so the
      df aggregation exchange carries (32-byte digest, doc_id) — never
      the line bytes — and partial aggregation collapses within-doc
      repeats before the shuffle;
    - the common-digest set (boilerplate is by definition a tiny
      distinct set) comes back via a left_anti join that AQE plans as
      broadcast;
    - one final shuffle keyed on ``doc_id`` reassembles survivors —
      each corpus byte crosses the wire exactly once.

    Empty lines are never counted toward document frequency (they are
    structure, not content) and therefore never removed.
    """
    # materialized ONCE: `lines` feeds both the document-frequency
    # aggregate and the keep anti-join; without the checkpoint the
    # line split + per-line sha256 subtree is planned and run twice
    lines = docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n")).alias("pos", "line"),
    ).withColumn("_digest", F.sha2(F.col("line"), 256)).localCheckpoint()
    common = (
        lines.filter(F.col("line") != "")
        .groupBy("_digest")
        .agg(F.count_distinct(F.col("doc_id")).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_digest")
    )
    kept = lines.join(common, "_digest", "left_anti")
    survivors = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("_text"),
    )
    totals = docs.select(
        F.col("doc_id"), F.size(F.split(F.col("text"), "\n")).alias("_total")
    )
    return totals.join(survivors, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("kept_lines"), F.lit(0))
        .cast("long")
        .alias("kept_lines"),
        (F.col("_total") - F.coalesce(F.col("kept_lines"), F.lit(0)))
        .cast("long")
        .alias("removed_lines"),
        F.coalesce(F.col("_text"), F.lit("")).alias("text"),
    )


# ---------------------------------------------------------------------------
# Per-key document caps (per-domain caps in a Common-Crawl pipeline)
# ---------------------------------------------------------------------------


def per_key_cap(
    df: DataFrame,
    key_col: str,
    *,
    k: int,
    order_by: list["F.Column"],
) -> DataFrame:
    """Keep at most ``k`` rows per key under a deterministic total
    order — the per-domain document cap every web-corpus pipeline runs
    so one hot domain cannot dominate the training mix.

    Deliberately the naive ``row_number() <= k`` formulation: Spark
    >= 3.5 rewrites exactly this shape with ``WindowGroupLimit`` —  a
    PARTIAL per-key top-k runs map-side BEFORE the exchange (each input
    partition contributes at most ``k`` rows per key, a local sort with
    no key grouping), so a 10^9-row hot domain ships ``<= k * num_input_
    partitions`` rows through the shuffle instead of 10^9.  A hand-salted
    two-phase rank (as ``aggregate.mapped_per_asset`` needs for its
    unlimited window) would pay a SECOND exchange for nothing here —
    ``test_per_key_cap_plan_has_partial_group_limit`` pins the rewrite
    so a regression (e.g. an order expression the optimizer can't match)
    fails loudly instead of silently reintroducing the hot-key sort.

    ``order_by`` MUST be a total order (break ties on the id column) or
    the kept set is nondeterministic across runs/engines.
    """
    w = Window.partitionBy(key_col).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate vs the corpus top-K vocabulary
# ---------------------------------------------------------------------------


def oov_rate(docs: DataFrame, *, vocab_k: int = 100) -> DataFrame:
    """Per-document fraction of token OCCURRENCES outside the corpus'
    top-``vocab_k`` vocabulary — a standard quality / domain-shift
    signal for training-data triage.

    Scale shape: the vocabulary is a token-keyed aggregate finished by
    ``TakeOrderedAndProject`` (top-k, never a global sort), then
    BROADCAST back — the corpus-side membership probe is a map-side
    left-semi join on the exploded tokens, and the only corpus-sized
    shuffle is the final ``id``-keyed count.  Ties at the vocabulary
    boundary break on (count desc, token asc) so the kept set is a
    deterministic total order both engines replay.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("_tok")
    )
    vocab = (
        toks.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), F.asc("_tok"))
        .limit(vocab_k)
        .select("_tok")
    )
    in_vocab = (
        toks.join(F.broadcast(vocab), "_tok", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_in_cnt"))
    )
    totals = docs.select(
        F.col("doc_id"), F.size(word_tokens(F.col("text"))).alias("n_tokens")
    )
    return totals.join(in_vocab, "doc_id", "left").select(
        F.col("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(
            1.0
            - F.coalesce(F.col("_in_cnt"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Per-document mean negative log-likelihood under the corpus' own
    unigram language model — the KenLM-style perplexity proxy used to
    rank web text by "naturalness" (CCNet buckets pages by exactly this
    quantity; here the LM is the corpus itself, so no external model
    file is needed and every token has nonzero probability).

    Returns ``(id, n_tokens, nll)`` where ``nll = avg(-ln(cnt(tok) /
    total_tokens))`` over the document's token instances, rounded to 4
    decimals (both engines sum doubles in different orders; the 1e-12
    summation jitter is far inside the rounding).  Low nll = common
    boilerplate tokens, high nll = rare/garbage tokens.

    Scale shape (10^12 docs): one explode feeds BOTH the vocabulary
    aggregate and the probability join, so the text is tokenized once.
    Shuffles carry (token, long) and (id, double) — never text.  The
    vocabulary is corpus-sized at web scale, so it is NOT broadcast: the
    probe is a token-keyed shuffle join (AQE may still broadcast it at
    small SF).  The grand total rides a one-row broadcast cross join,
    not a ``collect``.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("_tok")
    )
    vocab = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cnt"))
    total = vocab.agg(F.sum("_cnt").cast("double").alias("_total"))
    return (
        toks.join(vocab, "_tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(
                F.avg(-F.log(F.col("_cnt") / F.col("_total"))), 4
            ).alias("nll"),
        )
    )


def bigram_logprob(docs: DataFrame, *, lam: float = 0.7) -> DataFrame:
    """Per-document mean negative log-likelihood under an interpolated
    corpus bigram language model — the next rung above
    ``unigram_logprob`` toward the 5-gram KenLM score CCNet actually
    buckets pages by.  ``p(w2|w1) = lam * c(w1,w2)/c(w1) + (1-lam) *
    c(w2)/N`` (Jelinek-Mercer interpolation with the unigram model, so
    every bigram has nonzero probability); the LM is the corpus itself,
    no external model file.

    Returns ``(id, n_bigrams, nll)`` — TOTAL: documents with fewer than
    two tokens keep a row with ``n_bigrams = 0`` and ``nll`` NULL (a
    bigram score is undefined there; NULL forces the caller to decide
    rather than a fake neutral value).  ``nll`` is the mean of
    ``-ln p`` over the document's bigram instances, rounded to 4
    decimals (summation-order jitter is far inside the rounding).

    Scale shape (10^12 docs): tokenization runs once per document
    (native ``zip_with``/``slice`` bigram construction — no self-join
    on positions); corpus counts are word-count-shaped aggregates with
    map-side combine; scoring is three hash equi-joins of the narrow
    ``(id, w1, w2)`` stream against the bigram and unigram count
    tables.  At web scale those tables are ~10^8-10^9 rows — joinable,
    NOT broadcastable; the classic deployment trick (prune the model
    to a broadcastable top-V vocab + top-P pairs, everything else
    falls to the backoff term) changes only the two count inputs, not
    this plan.  The grand total rides a one-row broadcast cross join.
    """
    if not (0.0 < lam < 1.0):
        raise ValueError("lam must be in (0, 1)")
    toks_arr = word_tokens(F.col("text"))
    n = F.size(toks_arr)
    bg = F.zip_with(
        F.slice(toks_arr, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks_arr, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    uni = (
        docs.select(F.explode(toks_arr).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("_n"))
    bi = (
        docs.select(F.explode(bg).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    # explode_outer keeps 0/1-token docs as a null-bigram row, so
    # totality needs no restore join (nulls never match the joins and
    # avg skips them)
    inst = docs.select(
        F.col("doc_id"), F.explode_outer(bg).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("_c2"))
    p = (
        F.lit(lam) * F.col("c12") / F.col("_c1")
        + F.lit(1.0 - lam) * F.col("_c2") / F.col("_n")
    )
    return (
        inst.join(bi, ["w1", "w2"], "left")
        .join(ca, "w1", "left")
        .join(cb, "w2", "left")
        .crossJoin(F.broadcast(n_uni))
        .groupBy("doc_id")
        .agg(
            F.count(F.col("w1")).cast("long").alias("n_bigrams"),
            F.round(F.avg(-F.log(p)), 4).alias("nll"),
        )
    )


def encode_tokens(docs: DataFrame, vocab: DataFrame, *, oov_id: int = 0) -> DataFrame:
    """Encode each document's tokens to vocabulary ids — the
    tokenize-to-ids step between curation and shard export that turns
    text into the integer sequences a training run actually reads.

    ``vocab`` is ``(token, token_id)``; tokens absent from it encode
    to ``oov_id`` (the <unk> convention).  Returns one row per
    document: ``(doc_id, n_tokens, ids)`` with ``ids`` an
    ``array<long>`` in original token order — TOTAL (empty/NULL text
    keeps a row with an empty array), so downstream packing sees every
    curated doc.

    Scale shape (10^12 tokens): a real vocabulary is bounded (tens of
    thousands to low millions of rows) — always broadcast, asserted
    here with an explicit ``F.broadcast``; the token stream joins
    map-side and re-assembles with ONE id-keyed exchange
    (``collect_list`` of (pos, id) structs, sorted inside the array —
    never a per-doc window).  The text is tokenized once;
    ``posexplode_outer`` keeps empty docs without a restore join.
    """
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode_outer(word_tokens(F.col("text"))).alias(
            "_pos", "_tok"
        ),
    )
    enc = toks.join(
        F.broadcast(
            vocab.select(
                F.col("token").alias("_tok"),
                F.col("token_id").cast("long").alias("_tid"),
            )
        ),
        "_tok",
        "left",
    ).select(
        "doc_id",
        "_pos",
        F.when(
            F.col("_pos").isNotNull(),
            F.coalesce(F.col("_tid"), F.lit(oov_id).cast("long")),
        ).alias("_id"),
    )
    return enc.groupBy("doc_id").agg(
        F.count(F.col("_id")).cast("long").alias("n_tokens"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_id").isNotNull(),
                        F.struct(F.col("_pos").alias("p"),
                                 F.col("_id").alias("i")),
                    )
                )
            ),
            lambda s: s["i"],
        ).alias("ids"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (training-order shard assignment)
# ---------------------------------------------------------------------------


def corpus_shuffle(
    docs: DataFrame,
    *,
    n_shards: int = 8,
    salt: str = "shuffle-v1",
) -> DataFrame:
    """Assign every document a deterministic global training order:
    a shard id plus a position within the shard — the shuffle step
    between curation and tokenization that decides the order examples
    are seen during training.

    A real random shuffle of a 100 TB corpus is a full-data exchange
    with RNG state that differs run to run; this is the standard
    hash-shuffle replacement: ``order_key = md5('order|'salt'|'id)``
    is a reproducible uniform draw, ``shard = hex(md5('shard|'...))
    mod n_shards`` an independent uniform shard assignment, and the
    training order is shard-major, ``order_key``-ascending within a
    shard.  A pure function of (id, salt, n_shards): re-running on any
    cluster size or partitioning yields the byte-identical order, and
    two trainers reading the same shard list see the same sequence.

    Scale shape: one projection (two md5s per row) plus ONE
    ``row_number`` window partitioned by shard.  Parallelism equals
    ``n_shards`` — at corpus scale shard counts are in the thousands
    (a shard ~ a training file), so every executor gets work, and the
    md5 draw makes shard sizes uniform (no skew).  Do not call with
    ``n_shards=1`` on a large corpus: that is a global sort by design.

    Returns ``(doc_id, shard, pos)`` — ``pos`` is 1-based within the
    shard.  Ids must be non-null (the usual key contract): a NULL id
    would draw a NULL order key/shard here while DuckDB's
    NULL-ignoring ``concat`` draws a real one, so the engines would
    disagree on rows that have no identity to shuffle by anyway.
    """
    order_key = F.md5(
        F.concat(F.lit(f"order|{salt}|"), F.col("doc_id").cast("string"))
    )
    shard = (
        md5_prefix(
            F.concat(F.lit(f"shard|{salt}|"), F.col("doc_id").cast("string")), 4
        ).cast("int")
        % n_shards
    )
    keyed = docs.select(
        F.col("doc_id"), shard.alias("shard"), order_key.alias("_ok")
    )
    w = Window.partitionBy("shard").orderBy(F.asc("_ok"), F.asc("doc_id"))
    return keyed.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(
    docs: DataFrame,
    *,
    budget: int = 2048,
    buckets: int = 64,
    bucket_fn: str = "xxhash64",
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    Each document lands in a pack ``(bucket, seq_id)`` such that packs
    are filled greedily in deterministic id order: within a hash bucket,
    docs are ordered by id and a running token total is binned every
    ``budget`` tokens (a document longer than the budget gets a bin of
    its own by construction of the cumulative sum).

    Scale design: a single global greedy pack would serialize on one
    task, so packing is bucketed by ``xxhash64(id) % buckets`` — the
    standard trick for embarrassingly parallel packing; each bucket is
    an independent window partition, so parallelism = ``buckets`` and
    no task ever holds more than ~1/buckets of the corpus.  At 10^12
    docs you raise ``buckets`` to O(cores); pack quality (fill ratio)
    is unaffected because token counts are iid across hash buckets.

    Returns one row per pack: ``(bucket, seq_id, docs, tokens)``.

    ``bucket_fn`` picks the id→bucket hash: ``"xxhash64"`` (default,
    cheapest) or ``"md5"`` (bit-identical in other engines — DuckDB has
    no xxhash64, so the cross-engine oracle uses the md5 bucketing).
    """
    from ..functions.text import token_count

    if bucket_fn == "md5":
        raw = md5_prefix(F.col("doc_id").cast("string"), 4).cast("int")
    else:
        raw = F.xxhash64(F.col("doc_id").cast("string"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    packed = (
        docs.select(
            F.col("doc_id"),
            F.pmod(raw, F.lit(buckets)).cast("int").alias("bucket"),
            token_count(F.col("text")).alias("n_tokens"),
        )
        .withColumn("cum", F.sum("n_tokens").over(w))
        # bin by the cumulative total *before* this doc, so a doc that
        # crosses a boundary still joins the pack it started in
        .withColumn(
            "seq_id",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(budget)).cast(
                "long"
            ),
        )
    )
    return (
        packed.groupBy("bucket", "seq_id")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .orderBy("bucket", "seq_id")
    )


# ---------------------------------------------------------------------------
# Distribution stats: exact group quantiles + sketched distinct counts
# ---------------------------------------------------------------------------


def group_quantiles(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """EXACT linear-interpolated quantiles of ``value_col`` per group.

    The corpus-health report every curation run prints (length / token /
    quality-score distributions per language or source).  Uses Spark's
    exact ``percentile`` aggregate — ONE narrow shuffle keyed on the
    group, with a map-side partial that collapses to a value→count map,
    so executor memory scales with DISTINCT values per group, not rows.
    That is the right trade for bounded-domain columns (lengths, token
    counts, 0-100 scores) even at 10^12 rows; for unbounded doubles
    switch the caller to ``approx_percentile`` (t-digest, fixed memory)
    and drop the oracle to rows-only.  Interpolation is p*(n-1)
    rank-linear — the same definition as DuckDB/Postgres
    ``quantile_cont``, which is what makes the result oracle-hashable.
    """
    aggs = [
        F.round(
            F.percentile(F.col(value_col).cast("double"), F.lit(p)), 4
        ).alias(f"p{int(p * 100)}")
        for p in (0.25, 0.5, 0.75, 0.95)
    ]
    return (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"), *aggs)
        .orderBy(group_col)
    )


def approx_distinct_check(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group HyperLogLog++ distinct count, self-checked against the
    exact count.

    At 10^12 rows the exact ``count(DISTINCT x)`` is a full shuffle of
    every distinct value; the HLL++ sketch (``approx_count_distinct``)
    is a fixed ~kilobytes-per-group accumulator that merges map-side —
    the only formulation that survives a hot group.  Because a sketch
    cannot be hash-compared across engines, the query SELF-verifies:
    it computes both (affordable at test scale), emits the exact count
    plus ``approx_ok`` = |approx − exact| ≤ 0.2·exact, and the
    oracle recomputes the exact count with ``approx_ok`` pinned TRUE —
    a sketch drifting past 20% (4σ at the sketch's rsd=5%)
    breaks the value hash exactly like a wrong answer would.
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.count_distinct(F.col(value_col)).alias("exact_distinct"),
            F.approx_count_distinct(F.col(value_col), 0.05).alias("_approx"),
        )
        .select(
            group_col,
            "exact_distinct",
            (
                F.abs(F.col("_approx") - F.col("exact_distinct"))
                <= F.lit(0.2) * F.col("exact_distinct")
            ).alias("approx_ok"),
        )
        .orderBy(group_col)
    )


def cms_frequency_check(
    df: DataFrame,
    value_col: str,
    *,
    width: int = 1024,
    depth: int = 4,
    topk: int = 20,
) -> DataFrame:
    """Count-min sketch frequency estimation, self-checked against the
    exact counts of the exact top-``topk`` values — the third sketch a
    100 TB corpus-health report needs (HLL -> distincts, GK ->
    quantiles, CMS -> per-value frequencies / heavy hitters).

    The sketch is ``depth`` independent md5 hash rows of ``width``
    buckets; an instance increments one bucket per row, and a value's
    estimate is the MIN over its ``depth`` buckets.  Everything is a
    pure function of the data (md5, no RNG), so the sketch — and the
    estimates — are byte-reproducible across runs, engines, and
    cluster sizes; the DuckDB oracle recomputes the identical sketch
    and the value hash covers the estimates themselves, not just a
    pass/fail flag.

    Returns one row per exact-top-k value (count desc, value asc — a
    reproducible cut): ``(value, exact_count, cms_estimate, ge_ok)``
    where ``ge_ok`` pins the CMS invariant ``estimate >= exact`` (a
    sketch can only overcount).

    Scale shape: the sketch build is a word-count-shaped aggregate on
    ``(hash_row, bucket)`` — map-side combine collapses each partition
    to at most ``depth * width`` rows, so the exchange is FIXED-size
    regardless of corpus size, and the finished sketch (``depth *
    width`` rows) broadcasts everywhere.  The exact top-k branch
    exists for the self-check; a production heavy-hitter query keeps
    only the sketch + candidate probes.
    """
    if width <= 0 or depth <= 0:
        raise ValueError("width and depth must be positive")
    v = F.col(value_col).cast("string")
    inst = df.select(v.alias("_v")).filter(F.col("_v").isNotNull())
    rows = F.explode(
        F.sequence(F.lit(0), F.lit(depth - 1))
    ).alias("_d")
    bucket = (
        md5_prefix(
            F.concat(F.col("_d").cast("string"), F.lit("|"), F.col("_v")), 8
        ).cast("long")
        % width
    )
    sketch = (
        inst.select("_v", rows)
        .select("_d", bucket.alias("_b"))
        .groupBy("_d", "_b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    top = (
        inst.groupBy("_v")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("_v"))
        .limit(topk)
    )
    probes = top.select("_v", "exact_count", rows).select(
        "_v", "exact_count", "_d", bucket.alias("_b")
    )
    est = (
        probes.join(F.broadcast(sketch), ["_d", "_b"])
        .groupBy("_v", "exact_count")
        .agg(F.min("_c").alias("cms_estimate"))
    )
    return est.select(
        F.col("_v").alias("value"),
        F.col("exact_count").cast("long").alias("exact_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("exact_count")).alias("ge_ok"),
    ).orderBy(F.desc("exact_count"), F.asc("value"))


# ---------------------------------------------------------------------------
# Sliding-window chunking (context-window prep for training / retrieval)
# ---------------------------------------------------------------------------


def chunk_documents(
    docs: DataFrame,
    *,
    window: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Split each document into overlapping token windows.

    The step between curated text and a fixed-context trainer (or a
    passage-level retrieval index): chunk ``i`` covers tokens
    ``[i*stride, i*stride + window)``; the last start is
    ``ceil(max(n-window,0)/stride)*stride`` so the tail is always
    covered and a doc shorter than ``window`` yields exactly one chunk.
    Returns ``(doc_id, chunk_id, n_tokens, chunk)``.

    Plan shape: tokens materialize ONCE behind a projection boundary
    (the with_shingles lesson — lambda-referenced expressions re-run
    per element), starts explode map-side, each chunk slice is taken
    from the bound token array — no shuffle anywhere, so it pipelines
    into whatever consumer follows and scales embarrassingly.  Chunks
    inherit the document's partitioning; downstream per-chunk work
    needs no repartition because rows only ever fan OUT in place.
    """
    if not 0 < stride <= window:
        raise ValueError(f"need 0 < stride <= window, got {stride}/{window}")
    toks = docs.select(
        F.col("doc_id"), word_tokens(F.col("text")).alias("_toks")
    )
    n = F.size("_toks")
    last_start = (
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(stride)) * stride
    ).cast("int")
    return (
        toks.select(
            "doc_id",
            "_toks",
            F.explode(
                F.sequence(F.lit(0), last_start, F.lit(stride))
            ).alias("_start"),
        )
        .select(
            F.col("doc_id"),
            (F.col("_start") / stride).cast("long").alias("chunk_id"),
            F.size(F.slice("_toks", F.col("_start") + 1, window)).alias(
                "n_tokens"
            ),
            F.array_join(
                F.slice("_toks", F.col("_start") + 1, window), " "
            ).alias("chunk"),
        )
        .orderBy("doc_id", "chunk_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (keyword extraction / indexing signal)
# ---------------------------------------------------------------------------


def tfidf_top_terms(docs: DataFrame, *, k: int = 5) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (smooth idf:
    ``tf * (ln((N+1)/(df+1)) + 1)``, sklearn's formulation — public
    knowledge).

    The keyword/indexing signal of a web-text pipeline: what a page is
    *about*, used for topic sampling and retrieval indexes.  Returns
    ``(id, term, tf, tfidf, rank)``, ties broken by term so the result
    is total-ordered.

    Scale shape (10^12 docs): one tokenize feeds one (id, term)-keyed
    count; the document-frequency table derives from THAT aggregate
    (rows are already distinct per doc — no second pass over text); the
    df probe is a term-keyed shuffle join because the vocabulary is
    corpus-sized at web scale (AQE may broadcast it at small SF); N
    rides a one-row broadcast.  The per-doc top-k is the naive
    ``row_number() <= k`` window — Spark rewrites it to
    WindowGroupLimit, i.e. map-side partial top-k before the exchange,
    so a hot document cannot flood the shuffle.  Ranking uses the
    ROUNDED score on both engines, so rounding cannot reorder ties.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tab = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    scored = (
        tf.join(df_tab, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("doc_id"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1) / (F.col("_df") + 1)) + 1),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Token-budget corpus selection (data-constrained pretraining)
# ---------------------------------------------------------------------------


def select_by_token_budget(
    docs: DataFrame,
    budget: int,
    *,
    bin_ndp: int = 3,
) -> DataFrame:
    """Greedy-prefix selection: walk documents in (score DESC, id ASC)
    order and keep the maximal prefix whose total token count fits in
    ``budget`` — "take the best data until the budget is spent", the
    selection step of every data-constrained pretraining run.

    Semantics (what the oracle recomputes with one window): a doc is
    kept iff its inclusive running token sum over the global
    (score DESC, id ASC) order is <= budget.  Prefix semantics, not
    knapsack: the first overflowing doc and everything after it drop.

    Scale shape (10^12 docs): a global ordered cumsum is the naive
    formulation and is not runnable at scale (single-partition window
    over facts).  Instead: (1) bin scores at ``bin_ndp`` decimals and
    aggregate per-bin token sums — a <=10^bin_ndp-row table; (2) the
    cumsum over THAT table is a broadcast non-equi self-join (sum of
    strictly-better bins' tokens — no window at all, so no single-task
    node anywhere) classifying each bin keep-all / drop-all /
    edge, where at most ONE bin straddles the budget; (3) facts join
    the broadcast bin table — keep-all and drop-all rows never see a
    window; only the single edge bin's docs (corpus_fraction ~
    10^-bin_ndp) run the exact ordered cumsum.  Equivalence to the
    naive window holds because rounding is monotone: bins occupy
    disjoint score intervals, so bin order extends the global order and
    within-bin (score DESC, id ASC) matches the global tie-break.
    Token sums are integer arithmetic — no float drift in the budget
    walk; score enters only through ordering.

    Cost note: the keep/edge union references the fact scan twice and
    the bin histogram twice (4 logical scans), but every scan is
    column-pruned to (id, score, tokens) — never text — so at 100 TB
    the re-read is a few narrow columns; physical exchange reuse
    typically collapses the duplicate histogram.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    binned = docs.withColumn("_bin", F.round(F.col("score"), bin_ndp))
    hist = binned.groupBy("_bin").agg(
        F.sum(F.col("n_tokens")).cast("long").alias("_btok")
    )
    # bins-table cumsum WITHOUT a window: "_before" = total tokens in
    # strictly-better bins, via a broadcast non-equi self-join of the
    # <=10^bin_ndp-row histogram (B^2/2 tiny pairs, fully partition-
    # parallel — an unpartitioned WindowExec here would be the one
    # single-task node in the whole query surface)
    hi = hist.select(
        F.col("_bin").alias("_bin_hi"), F.col("_btok").alias("_btok_hi")
    )
    hist = (
        hist.join(F.broadcast(hi), F.col("_bin_hi") > F.col("_bin"), "left")
        .groupBy("_bin", "_btok")
        .agg(F.coalesce(F.sum("_btok_hi"), F.lit(0)).alias("_before"))
    ).select(
        "_bin",
        "_before",
        F.when(F.col("_before") + F.col("_btok") <= budget, F.lit("keep"))
        .when(F.col("_before") > budget, F.lit("drop"))
        .otherwise(F.lit("edge"))
        .alias("_class"),
    )
    j = binned.join(F.broadcast(hist), "_bin")
    kept_whole = j.filter(F.col("_class") == "keep")
    # at most one bin straddles the budget; its docs get the exact walk
    we = (
        Window.partitionBy("_bin")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    kept_edge = (
        j.filter(F.col("_class") == "edge")
        .withColumn(
            "_cum", F.col("_before") + F.sum(F.col("n_tokens")).over(we)
        )
        .filter(F.col("_cum") <= budget)
        .drop("_cum")
    )
    out_cols = [c for c in docs.columns]
    return kept_whole.unionByName(kept_edge).select(*out_cols)


# ---------------------------------------------------------------------------
# Temperature-based source mixing weights (multilingual sampling)
# ---------------------------------------------------------------------------


def temperature_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    *,
    token_col: str | None = None,
) -> DataFrame:
    """Per-source sampling weights under temperature ``alpha``:
    ``p_i = n_i^alpha / sum_j n_j^alpha`` (the XLM-R / mT5 multinomial
    scheme, alpha<1 boosting low-resource sources — public knowledge).

    ``n_i`` is the source's document count, or its token sum when
    ``token_col`` is given.  Returns one row per source with the
    natural frequency ``p_natural``, the tempered probability
    ``p_temp``, and ``weight = p_temp / p_natural`` — the factor to
    hand straight to :func:`upsample_corpus` so the *expected* output
    mix matches the tempered distribution.

    Scale shape: one map-side-combined aggregate over facts (count or
    token sum keyed by source) to a sources-sized table; the
    normalization constants ride a one-row broadcast cross join.  No
    window, no second fact pass.
    """
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    n = (
        F.sum(F.col(token_col)) if token_col is not None
        else F.count(F.lit(1))
    ).cast("double")
    per = docs.groupBy("source").agg(n.alias("_n"))
    tot = per.agg(
        F.sum("_n").alias("_tot"),
        F.sum(F.pow("_n", F.lit(alpha))).alias("_tot_a"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            F.col("source"),
            F.col("_n").cast("long").alias("n"),
            F.round(F.col("_n") / F.col("_tot"), 6).alias("p_natural"),
            F.round(
                F.pow("_n", F.lit(alpha)) / F.col("_tot_a"), 6
            ).alias("p_temp"),
            F.round(
                (F.pow("_n", F.lit(alpha)) / F.col("_tot_a"))
                / (F.col("_n") / F.col("_tot")),
                6,
            ).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance scoring (data selection for language models)
# ---------------------------------------------------------------------------


def dsir_importance(docs: DataFrame, target: DataFrame) -> DataFrame:
    """Per-document importance score for target-domain selection: the
    mean per-token log-likelihood ratio between a target-sample unigram
    LM and the corpus unigram LM (the DSIR scheme — Data Selection via
    Importance Resampling, Xie et al. 2023, with unigrams standing in
    for their hashed n-gram features).  Positive = looks like the
    target domain; rank or Gumbel-sample by this score to select.

    Both LMs are add-one (Laplace) smoothed over the UNION vocabulary,
    so every token seen in either corpus has nonzero mass in both.
    Returns ``(doc_id, n_tokens, logratio)``, rounded to 4 decimals (the
    engines sum doubles in different orders; 1e-12 jitter is far
    inside the rounding — same argument as ``unigram_logprob``).

    Scale shape (10^12 docs, 10^6-doc target): corpus text is
    tokenized ONCE and feeds both the vocabulary aggregate and the
    probability probe; shuffles carry (token, count) and (id, double),
    never text.  The token table is corpus-sized so the probe is a
    token-keyed shuffle join (not broadcast); the three scalars
    (two totals + union-vocab size) ride a one-row broadcast.
    """
    toks = docs.select(
        F.col("doc_id"), F.explode(word_tokens(F.col("text"))).alias("_tok")
    )
    tgt_toks = target.select(
        F.explode(word_tokens(F.col("text"))).alias("_tok")
    )
    vc = toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_cc"))
    vt = tgt_toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_ct"))
    vocab = vc.join(vt, "_tok", "full_outer").select(
        "_tok",
        F.coalesce("_cc", F.lit(0)).alias("_cc"),
        F.coalesce("_ct", F.lit(0)).alias("_ct"),
    )
    scalars = vocab.agg(
        F.sum("_cc").cast("double").alias("_tc"),
        F.sum("_ct").cast("double").alias("_tt"),
        F.count(F.lit(1)).cast("double").alias("_v"),
    )
    scored = (
        toks.join(vocab, "_tok")
        .crossJoin(F.broadcast(scalars))
        .select(
            "doc_id",
            (
                F.log((F.col("_ct") + 1) / (F.col("_tt") + F.col("_v")))
                - F.log((F.col("_cc") + 1) / (F.col("_tc") + F.col("_v")))
            ).alias("_lr"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.avg("_lr"), 4).alias("logratio"),
    )


def gumbel_topk(scored: DataFrame, k: int, *, salt: str = "gumbel-v1") -> DataFrame:
    """Seeded Gumbel-top-k: select ``k`` rows with probability
    proportional to ``exp(score)`` — sampling without replacement from
    the softmax of the scores (the Gumbel-max trick; this is the
    resampling step DSIR runs on its importance scores, public
    knowledge).  Adding ``g = -ln(-ln(u))`` with u ~ Uniform(0,1) to
    each score and taking the arg-top-k IS that sample.

    Reproducible by construction: u derives from ``md5(salt|id)``
    (``(hex8 + 0.5) / 2^32`` — the +0.5 keeps u strictly inside (0,1)
    so the double log never hits infinity), the same engine-portable
    draw as :func:`stratified_sample`.  The perturbed key is ROUNDED to
    6 decimals before ranking, ties broken by id.

    Scale shape: pure projection + ordered ``limit`` — Spark plans
    TakeOrderedAndProject (per-partition top-k, no global sort);
    no shuffle beyond the final k-row gather.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    x = md5_prefix(
        F.concat_ws("|", F.lit(salt), F.col("doc_id").cast("string")), 8
    ).cast("double")
    u = (x + 0.5) / F.lit(4294967296.0)
    key = F.round(F.col("logratio") + -F.log(-F.log(u)), 6)
    return (
        scored.withColumn("gumbel_key", key)
        .orderBy(F.desc("gumbel_key"), F.asc("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Inverted index (token -> capped posting list)
# ---------------------------------------------------------------------------


def inverted_index(docs: DataFrame, *, max_postings: int = 20) -> DataFrame:
    """Token -> (document frequency, capped posting list) — the
    search-index build a corpus tool runs after tokenization (the
    retrieval twin of :func:`tfidf_top_terms`, which answers the
    per-document direction).

    Returns ``(token, df, postings)`` where ``df`` is the EXACT
    distinct-document count and ``postings`` is the first
    ``max_postings`` doc ids ascending, comma-joined (a string so the
    cross-engine value hash is byte-stable; real sinks would keep the
    array).

    Scale shape: stopword-class tokens post to millions of documents,
    so a bare ``collect_list`` per token is a hot-key OOM.  Instead:

    1. distinct (token, id) pairs — map-side combine on the exchange;
    2. ``row_number() over (partition by token order by id)`` filtered
       to ``<= max_postings``: Spark rewrites this rank-filter into a
       ``WindowGroupLimit`` physical node that drops beyond-cap rows
       PER SHUFFLE PARTITION before the window sort, so the hottest
       token contributes at most ``max_postings`` rows per map
       partition to the final exchange — never its full posting list;
    3. ``df`` aggregated from the SAME distinct-pair exchange (one
       shuffle on token serves both), joined on token.
    """
    if max_postings < 1:
        raise ValueError(f"max_postings must be >= 1, got {max_postings}")
    pairs = docs.select(
        F.explode(word_tokens(F.col("text"))).alias("token"),
        F.col("doc_id").alias("_id"),
    ).distinct()
    w = Window.partitionBy("token").orderBy("_id")
    capped = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_postings)
        .groupBy("token")
        .agg(
            F.concat_ws(
                ",", F.transform(F.array_sort(F.collect_list("_id")), lambda x: x.cast("string"))
            ).alias("postings")
        )
    )
    df_counts = pairs.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    return df_counts.join(capped, "token").select("token", "df", "postings")


# ---------------------------------------------------------------------------
# Domain blocklist filtering (crawl hygiene)
# ---------------------------------------------------------------------------


def filter_blocked_domains(docs: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Drop documents whose host IS a blocklisted domain or any
    subdomain of one — the URL-level deny-list pass every crawl
    pipeline runs before content filters (cheaper than reading text).

    Matching is on dot-suffixes: ``deep.ads.tracker.net`` is blocked
    by a ``ads.tracker.net`` entry but NOT by ``tracker.net``'s
    absence — only listed registrable domains and their subdomains
    match, never bare public suffixes unless explicitly listed.
    A NULL host matches nothing and is KEPT (the filter is a deny
    list; rows it cannot judge pass through).

    Scale shape: the suffix explode runs over a NARROW (id, host)
    projection — the corpus text never fans out — and the blocklist
    probe is a broadcast equi-join (deny lists are 10^4-10^6 rows).
    The blocked-id set that comes back is a tiny distinct table, so
    AQE plans the final anti-join as a broadcast too; no full-width
    shuffle of the corpus at any point.
    """
    from ..functions.url import domain_suffixes

    b = blocklist.select(
        F.lower(F.col("domain")).alias("_blocked_dom")
    ).distinct()
    cand = docs.select(
        F.col("doc_id").alias("_bid"),
        F.explode(domain_suffixes(F.col("host"))).alias("_suf"),
    )
    hit = (
        cand.join(F.broadcast(b), cand["_suf"] == b["_blocked_dom"])
        .select("_bid")
        .distinct()
    )
    return docs.join(
        hit, docs["doc_id"] == hit["_bid"], "left_anti"
    )


# ---------------------------------------------------------------------------
# Boilerplate stripping (jusText-lite segment classifier)
# ---------------------------------------------------------------------------


def boilerplate_strip(
    docs: DataFrame,
    *,
    block_words: int = 25,
    min_stopword_ratio: float = 0.10,
    min_words: int = 5,
) -> DataFrame:
    """Strip low-information segments from each document and return
    the cleaned text — the jusText/trafilatura-style boilerplate pass
    every web-corpus pipeline runs between HTML extraction and the
    document-level quality filters.

    Segmentation: paragraphs are newline-delimited; each paragraph is
    further cut into fixed blocks of ``block_words`` whitespace tokens
    (the fallback segmenter for single-paragraph pages, which is most
    of a crawl after text extraction).  A segment is KEPT iff it has
    at least ``min_words`` tokens AND its stopword-token ratio is at
    least ``min_stopword_ratio`` — the jusText insight that natural
    prose is dense in function words while navigation / keyword-stuffed
    boilerplate is not.

    Returns one row per input document: ``(doc_id, clean_text,
    n_segments, n_kept, boilerplate_frac)`` with kept segments joined
    in original order and ``boilerplate_frac`` NULL for empty
    documents (0 segments).

    Scale shape: shuffle-free map-only projections — paragraph split,
    block slicing, per-segment metrics, and reassembly are all native
    higher-order array expressions (no explode, no re-aggregation, no
    Python).  The expensive segment array is built in its OWN
    projection and referenced by the downstream columns; Catalyst's
    CollapseProject refuses to inline a non-cheap expression used more
    than once, so the regex/tokenize work runs once per row, not once
    per output column.
    """
    from ..functions.text import EN_STOPWORDS, _word_hit_regex

    pat = _word_hit_regex(EN_STOPWORDS)
    b = block_words

    def _blocks_of(p):
        w = tokens(p)
        n = F.size(w)
        idx = F.when(
            n > 0,
            F.sequence(F.lit(0), (F.ceil(n / F.lit(b)) - 1).cast("int")),
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.array_join(F.slice(w, i * b + 1, b), " "))

    paras = F.filter(
        F.split(F.col("text"), r"\n+"), lambda p: F.trim(p) != ""
    )
    blocks = F.flatten(F.transform(paras, _blocks_of))
    segs = F.transform(
        blocks,
        lambda s: F.struct(
            s.alias("seg"),
            F.size(F.split(s, " ")).alias("nw"),
            F.regexp_count(F.lower(s), F.lit(pat)).alias("hits"),
        ),
    )
    # staged projections: each non-cheap array is named before being
    # referenced more than once, so it is evaluated exactly once
    staged = docs.select(F.col("doc_id"), segs.alias("_segs"))
    staged = staged.select(
        "doc_id",
        F.size("_segs").cast("long").alias("n_segments"),
        F.filter(
            "_segs",
            lambda t: (t["nw"] >= F.lit(min_words))
            & ((t["hits"] / t["nw"]) >= F.lit(min_stopword_ratio)),
        ).alias("_kept"),
    )
    staged = staged.select(
        "doc_id",
        F.array_join(
            F.transform("_kept", lambda t: t["seg"]), " "
        ).alias("clean_text"),
        "n_segments",
        F.size("_kept").cast("long").alias("n_kept"),
    )
    return staged.select(
        "doc_id",
        "clean_text",
        "n_segments",
        "n_kept",
        F.when(
            F.col("n_segments") > 0,
            F.round(1 - F.col("n_kept") / F.col("n_segments"), 4),
        ).alias("boilerplate_frac"),
    )


# ---------------------------------------------------------------------------
# Approximate-quantile sketch self-check (GK / percentile_approx)
# ---------------------------------------------------------------------------


def approx_quantile_check(
    df: DataFrame,
    group_col: str,
    value_col: str,
    *,
    probs: tuple[float, ...] = (0.5, 0.9, 0.99),
    accuracy: int = 1000,
    slack: float = 2.0,
) -> DataFrame:
    """Per-group quantile SKETCH (``percentile_approx``, Greenwald-
    Khanna summary) self-checked against the exact quantile's rank-error
    guarantee — the companion to ``approx_distinct_check`` for the other
    sketch a 100 TB corpus-health report needs.

    ``percentile_approx`` keeps a fixed-size mergeable summary with a
    guaranteed rank error of ``1/accuracy``; exact ``percentile`` keeps
    a value->count map that blows up on unbounded-double columns.  The
    check brackets the sketch output between the EXACT interpolated
    quantiles at ``p ± slack/accuracy`` (slack covers the sketch
    returning a real element vs the interpolated ideal): a sketch
    outside that window breaks the value hash exactly like a wrong
    answer.  Output per group: ``n`` plus ``p<P>`` (exact, hashable)
    and ``p<P>_ok`` (bracket check, oracle pins TRUE).
    """
    v = F.col(value_col).cast("double")
    eps = slack / accuracy
    aggs = [F.count(F.lit(1)).alias("n")]
    for p in probs:
        lo, hi = max(0.0, p - eps), min(1.0, p + eps)
        name = f"p{int(round(p * 100))}"
        pa = F.percentile_approx(v, F.lit(p), F.lit(accuracy))
        aggs.append(F.round(F.percentile(v, F.lit(p)), 4).alias(name))
        aggs.append(
            (
                (pa >= F.percentile(v, F.lit(lo)))
                & (pa <= F.percentile(v, F.lit(hi)))
            ).alias(f"{name}_ok")
        )
    return df.groupBy(group_col).agg(*aggs).orderBy(group_col)


# ---------------------------------------------------------------------------
# Character-entropy quality signal
# ---------------------------------------------------------------------------


def char_entropy(docs: DataFrame) -> DataFrame:
    """Shannon entropy (bits) of each document's character
    distribution — the cheap garbled-text detector: binary junk /
    base64 blobs sit near the ceiling (log2 of alphabet size), while
    single-character spam sits near 0; natural language clusters in a
    narrow band in between, so both tails are drop rules.

    Computed as ``log2(n) - sum(c_i * log2(c_i)) / n`` from per-
    character counts, which needs only ONE aggregate over the exploded
    characters (no second pass to turn counts into probabilities).

    Returns ``(doc_id, n_chars, entropy)``; empty documents report
    ``(0, 0.0)``.

    Scale shape: explode -> two hash aggregates, the same plan family
    as ``repetition_metrics`` — the (doc, char) shuffle key spreads a
    hot document over its alphabet, the per-doc reduce carries two
    doubles, and the zero-char restore is the shared left-join idiom
    (see repetition_metrics on why not anti-join + union).
    """
    chars = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"(?s)."), 0)
        ).alias("ch"),
    )
    per = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("cnt"))
    agg = per.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_chars"),
        (
            F.log2(F.sum("cnt"))
            - F.sum(F.col("cnt") * F.log2("cnt")) / F.sum("cnt")
        ).alias("_h"),
    )
    return docs.select(F.col("doc_id")).join(agg, on="doc_id", how="left").select(
        F.col("doc_id"),
        F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
        F.coalesce(F.round(F.col("_h"), 6), F.lit(0.0)).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# PMI collocations (corpus-level bigram association)
# ---------------------------------------------------------------------------


def pmi_collocations(
    docs: DataFrame,
    *,
    min_count: int = 5,
    topk: int = 50,
) -> DataFrame:
    """Top-k word-bigram collocations by pointwise mutual information —
    the corpus-analysis query behind tokenizer-merge candidates,
    phrase-mining, and stock-phrase boilerplate discovery.

    ``pmi(a,b) = log2( p(a,b) / (p(a) p(b)) )`` with ``p(a,b)`` over
    bigram occurrences and ``p(a)`` over token occurrences; pairs with
    fewer than ``min_count`` occurrences are dropped BEFORE any join
    (rare-pair PMI is noise and the long tail is the bulk of the
    distinct-pair table).  Ordering is on the ROUNDED pmi with a
    (w1, w2) tie-break so the top-k cut is reproducible across engines
    and runs.  Returns ``(w1, w2, pair_count, pmi)``.

    Scale shape: token/bigram explodes collapse map-side into
    word-keyed counts (narrow string keys, the classic word-count
    plan); the two unigram probes are hash equi-joins against a
    (word, count) table that at web scale is ~10^8 rows — joinable,
    NOT broadcastable, which is why the min_count prune comes first.
    The bigram-total branch references the same exploded aggregate as
    the pair table, sharing its exchange via Spark's ReusedExchange.
    The final top-k is ``TakeOrderedAndProject`` (no global sort).
    """
    toks_arr = word_tokens(F.col("text"))
    n = F.size(toks_arr)
    bg = F.zip_with(
        F.slice(toks_arr, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks_arr, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    uni = (
        docs.select(F.explode(toks_arr).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    bi_all = (
        docs.select(F.explode(bg).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    n_bi = bi_all.agg(F.sum("pair_count").alias("n_bi"))
    bi = bi_all.filter(F.col("pair_count") >= min_count)
    ca = uni.select(F.col("w").alias("w1"), F.col("c").alias("_ca"))
    cb = uni.select(F.col("w").alias("w2"), F.col("c").alias("_cb"))
    pmi = F.round(
        F.log2(
            (F.col("pair_count") / F.col("n_bi"))
            / ((F.col("_ca") / F.col("n_uni")) * (F.col("_cb") / F.col("n_uni")))
        ),
        6,
    )
    return (
        bi.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n_bi))
        .crossJoin(F.broadcast(n_uni))
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(topk)
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (corpus-health report)
# ---------------------------------------------------------------------------


def equidepth_histogram(
    df: DataFrame,
    value_col: str,
    *,
    group_col: str,
    buckets: int = 10,
) -> DataFrame:
    """Per-group equi-depth histogram of ``value_col`` — the length /
    token-count / score distribution panel of a corpus-health report.

    NOT the rank formulation: ``ntile`` would need a total sort of
    every group.  Instead the exact interpolated quantile cutpoints at
    ``k/buckets`` come out of ONE aggregate (Spark's ``percentile``
    keeps a value->count map — the ``group_quantiles`` scale argument),
    broadcast back, and each row buys its bucket with a counting scan
    of the tiny cutpoint array (``bucket = #cutpoints < value``, so a
    value equal to a cutpoint falls in the LOWER bucket).  A second
    narrow aggregate yields per-bucket count/min/max.  Two map-side-
    combining aggregates + one broadcast join; no sort, no window.

    Heavy ties make bucket populations uneven (value-based cuts cannot
    split a tie) and can leave buckets EMPTY — absent from the output,
    by design.  Returns ``(group, bucket, n, lo, hi)``.
    """
    if buckets < 2:
        raise ValueError("buckets must be >= 2")
    v = F.col(value_col).cast("double")
    probs = [k / buckets for k in range(1, buckets)]
    cuts = df.groupBy(group_col).agg(
        F.percentile(v, F.array(*[F.lit(p) for p in probs])).alias("_cuts")
    )
    bucket = F.size(F.filter("_cuts", lambda c: c < v)).alias("bucket")
    return (
        df.join(F.broadcast(cuts), on=group_col)
        .select(F.col(group_col), v.alias("_v"), bucket)
        .groupBy(group_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("_v"), 4).alias("lo"),
            F.round(F.max("_v"), 4).alias("hi"),
        )
        .orderBy(group_col, "bucket")
    )


# ---------------------------------------------------------------------------
# Context-window chunking (sliding window with stride / clamped tail)
# ---------------------------------------------------------------------------


def chunk_fixed_windows(
    docs: DataFrame,
    *,
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Split each document into fixed-size token windows with
    ``overlap`` shared tokens between consecutive chunks — the
    context-window preparation step between curation and tokenization
    (the "sliding window with overflow/stride" convention of the
    public HF tokenizers API).

    Rules: a document with ``len <= chunk_tokens`` yields ONE chunk
    (its whole token list).  Otherwise chunk ``i`` starts at
    ``min(i*step, len - chunk_tokens)`` with ``step = chunk_tokens -
    overlap`` — every chunk is exactly ``chunk_tokens`` long and the
    LAST chunk is clamped to end at the document's end (its overlap
    with the previous chunk may exceed ``overlap``; no token is ever
    dropped, no start repeats).  Token-less documents yield nothing.

    Returns ``(id, chunk_id, n_tokens, text)``; chunk text is rebuilt
    from ORIGINAL-case whitespace tokens, single-space joined
    (whitespace-normalized — same contract as
    :func:`~..operators.dedup.remove_repeated_spans`).

    Scale shape (10^12 docs): entirely narrow — tokenize, a per-row
    sequence of starts, one generate; NO shuffle, NO window, NO join
    anywhere, so it pipelines inside whatever stage reads the corpus
    and parallelism is exactly the scan's.  Fan-out is bounded by
    ``len/step`` per document; the chunk text column is the only wide
    thing and it is born in its final partition.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap < chunk_tokens; got overlap={overlap}"
        )
    step = chunk_tokens - overlap
    toks = tokens(F.col("text"))
    ln = F.size("_toks")
    n_chunks = F.when(ln <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((ln - chunk_tokens) / F.lit(step)).cast("int") + 1
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        # outer greatest(0, ...): a short doc's len - chunk_tokens is
        # negative; its single chunk starts at 0
        lambda i: F.greatest(
            F.lit(0), F.least(i * step, ln - chunk_tokens)
        ),
    )
    return (
        docs.select(F.col("doc_id"), toks.alias("_toks"))
        .filter(ln > 0)
        .select(
            "doc_id",
            F.posexplode(starts).alias("chunk_id", "_start"),
            F.col("_toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(F.lit(chunk_tokens), ln - F.col("_start"))
            .cast("long")
            .alias("n_tokens"),
            F.array_join(
                F.slice("_toks", F.col("_start") + 1, chunk_tokens), " "
            ).alias("text"),
        )
    )


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (head / middle / tail)
# ---------------------------------------------------------------------------


def ccnet_buckets(docs: DataFrame, *, lam: float = 0.7) -> DataFrame:
    """CCNet's corpus split by LM perplexity tertiles (Wenzek et al.,
    LREC 2020): score every document with the corpus bigram LM
    (:func:`bigram_logprob` — the in-corpus stand-in for CCNet's
    external KenLM), cut the scoreable corpus at the 1/3 and 2/3
    quantiles, and label ``head`` (lowest nll, most fluent),
    ``middle``, ``tail`` — the bucket downstream recipes sample from
    (head-only for quality-first corpora, temperature-mixed
    otherwise).

    Returns ``(id, n_bigrams, nll, bucket)``; documents with no
    defined score (<2 tokens) keep a NULL bucket — the caller decides
    their fate, the operator does not invent a neutral one.  Boundary
    docs whose nll equals a cutpoint go to the LOWER bucket (``<=``),
    and since nll is rounded to 4 decimals while interpolation error is
    ~1 ulp, the comparison is stable across engines.

    Scale shape (10^12 docs): the scoring plan is bigram_logprob's
    (word-count-shaped aggregates + three narrow equi-joins); the two
    cutpoints come from ONE ``percentile`` aggregate over the scored
    column (value->count map, the group_quantiles argument) and ride a
    one-row broadcast back onto the stream.  No sort, no window, no
    extra shuffle beyond the scorer's own.
    """
    scored = bigram_logprob(docs, lam=lam)
    cuts = (
        scored.filter(F.col("nll").isNotNull())
        .agg(
            F.percentile(
                F.col("nll"), F.array(F.lit(1 / 3), F.lit(2 / 3))
            ).alias("_cuts")
        )
    )
    c1 = F.element_at("_cuts", 1)
    c2 = F.element_at("_cuts", 2)
    return scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_bigrams",
        "nll",
        F.when(F.col("nll").isNull(), F.lit(None).cast("string"))
        .when(F.col("nll") <= c1, F.lit("head"))
        .when(F.col("nll") <= c2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source KL and Jensen-Shannon divergence of the source's
    unigram distribution against the pooled corpus distribution — the
    data-mixture diagnostic used to decide which crawl/source slices to
    up- or down-weight before training (a source whose JS vs the pool is
    near ``ln 2`` contributes near-disjoint vocabulary; one near 0 is
    redundant with the mix).

    With ``P_s`` the source distribution, ``P_c`` the corpus
    distribution, and ``M = (P_s + P_c) / 2``::

        kl = sum_{tok in s} P_s * ln(P_s / P_c)
        js = 0.5 * sum_{tok in s} P_s * ln(P_s / M)
           + 0.5 * [ sum_{tok in s} P_c * ln(P_c / M) + (1 - cov) * ln 2 ]

    where ``cov = sum_{tok in s} P_c`` is the corpus mass covered by the
    source's vocabulary.  Key identity: a corpus token ABSENT from the
    source has ``M = P_c / 2`` and so contributes exactly ``P_c * ln 2``
    to the corpus-side term — the whole out-of-vocabulary tail collapses
    into the closed form ``(1 - cov) * ln 2``, so NO outer join over the
    corpus vocabulary is ever built; every sum rides the (source, token)
    rows that already exist.  KL needs no such correction because
    ``P_c > 0`` wherever ``P_s > 0`` (the corpus contains the source).

    Returns ``(source, n_tokens, vocab_size, coverage, kl, js)`` rounded
    to 6 decimals (cross-engine double-summation jitter is ~1e-12, far
    inside the rounding); ``0 <= js <= ln 2 ~ 0.6931``.

    Scale shape (10^12 docs): the text is tokenized ONCE; the corpus
    vocabulary is DERIVED from the per-source counts (``sum`` over
    sources), not re-aggregated from the explode.  Every exchange
    carries (token, long) or (source, double) — never text.  The
    corpus-vocabulary probe is a token-keyed shuffle join (corpus-sized
    vocab is not broadcast-able at web scale; AQE may still broadcast it
    at small SF); the per-source totals ride a source-keyed join whose
    small side is one row per source.  The grand total is a one-row
    broadcast cross join, not a ``collect``.
    """
    toks = docs.select(
        F.col("source"),
        F.explode(word_tokens(F.col("text"))).alias("_tok"),
    )
    per = toks.groupBy("source", "_tok").agg(
        F.count(F.lit(1)).alias("_s_cnt")
    )
    vocab = per.groupBy("_tok").agg(F.sum("_s_cnt").alias("_c_cnt"))
    src_tot = per.groupBy("source").agg(
        F.sum("_s_cnt").alias("_s_tot")
    )
    total = vocab.agg(F.sum("_c_cnt").cast("double").alias("_c_tot"))
    ps = F.col("_s_cnt") / F.col("_s_tot")
    pc = F.col("_c_cnt") / F.col("_c_tot")
    m = (ps + pc) / F.lit(2.0)
    ln2 = float(math.log(2.0))
    return (
        per.join(vocab, "_tok")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.sum("_s_cnt").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            F.round(F.sum(pc), 6).alias("coverage"),
            F.round(F.sum(ps * F.log(ps / pc)), 6).alias("kl"),
            F.round(
                F.lit(0.5) * F.sum(ps * F.log(ps / m))
                + F.lit(0.5)
                * (
                    F.sum(pc * F.log(pc / m))
                    + (F.lit(1.0) - F.sum(pc)) * F.lit(ln2)
                ),
                6,
            ).alias("js"),
        )
    )


def vocab_growth(docs: DataFrame, *, n_checkpoints: int = 10) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: at each of ``n_checkpoints``
    doc-id thresholds, the cumulative document count, cumulative token
    count, distinct-vocabulary size, and type-token ratio.  A corpus
    whose vocabulary keeps growing linearly is accumulating noise
    (OCR garbage, random ids); a healthy web corpus flattens as
    ``V ~ k * N^beta`` with ``beta ~ 0.5``.

    Checkpoints are ``floor(max_doc_id * k / n)`` for ``k = 1..n`` —
    integer arithmetic both engines reproduce exactly.

    Scale shape (10^12 docs): NO global sort and NO window.  Each
    token's FIRST document (``min(doc_id)`` per token — a word-count-
    shaped aggregate) and each doc's token count are the only state;
    cumulative values come from a BROADCAST non-equi join of those
    narrow tables against the ``n_checkpoints``-row threshold table
    (every row matches <= n checkpoints, so the fan-out is a small
    constant) followed by a checkpoint-keyed aggregate.  Exchanges
    carry (token, long) / (doc_id, long) — never text.  The max-doc-id
    scalar rides a one-row broadcast cross join.
    """
    spark = docs.sparkSession
    toks = docs.select(
        F.col("doc_id").alias("_doc"),
        F.explode(word_tokens(F.col("text"))).alias("_tok"),
    )
    doc_tok = toks.groupBy("_doc").agg(F.count(F.lit(1)).alias("_n_tok"))
    firsts = toks.groupBy("_tok").agg(F.min("_doc").alias("_first_doc"))
    max_doc = docs.agg(F.max(F.col("doc_id")).alias("_max_doc"))
    cps = (
        spark.range(1, n_checkpoints + 1)
        .select(F.col("id").alias("_k"))
        .crossJoin(F.broadcast(max_doc))
        .select(
            # explicit floor: Spark's double->long cast truncates but
            # DuckDB's rounds, so the oracle mirrors this as integer //
            F.floor(
                F.col("_max_doc") * F.col("_k") / F.lit(n_checkpoints)
            )
            .cast("long")
            .alias("checkpoint")
        )
        # floor(max*k/n) repeats when max_doc < n_checkpoints; duplicate
        # threshold rows would double-count through the non-equi join
        .distinct()
    )
    tok_curve = (
        doc_tok.join(
            F.broadcast(cps), F.col("_doc") <= F.col("checkpoint")
        )
        .groupBy("checkpoint")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cum_docs"),
            F.sum("_n_tok").cast("long").alias("cum_tokens"),
        )
    )
    vocab_curve = (
        firsts.join(
            F.broadcast(cps), F.col("_first_doc") <= F.col("checkpoint")
        )
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    return tok_curve.join(vocab_curve, "checkpoint").select(
        "checkpoint",
        "cum_docs",
        "cum_tokens",
        "vocab_size",
        F.round(F.col("vocab_size") / F.col("cum_tokens"), 6).alias("ttr"),
    )


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Zipf's-law fit over the top-100 vocabulary: ordinary
    least squares of ``ln(count)`` on ``ln(rank)``.  A natural-language
    corpus fits with slope near -1 and high R^2; a corpus polluted with
    machine-generated or templated text flattens (slope toward 0) or
    kinks (R^2 drops) — a one-row corpus-health statistic cheap enough
    to track per crawl snapshot.

    Returns one row ``(n_terms, slope, intercept, r2)`` (``intercept``
    is ``ln(count)`` at rank 1 under the fit; all rounded to 6 decimals —
    cross-engine double jitter is far inside the rounding).  Ranks tie-
    break by token so both engines rank identically.

    Scale shape (10^12 docs): the vocabulary count is a word-count
    aggregate (map-side combined, (token, long) exchange only); the
    ordered limit plans as TakeOrderedAndProject (per-partition top-k,
    no global sort of the vocabulary).  Ranks are assigned WITHOUT a
    window (WindowExec with no PARTITION BY is single-task at any
    cluster size): the 100 surviving rows fold into ONE sorted
    array — constant-sized by construction — and the OLS sums
    (n, Sx, Sy, Sxy, Sxx, Syy) evaluate as higher-order array
    expressions in a single projection; nothing is collected and the
    summation order is fixed, so the statistic is bit-deterministic
    across partitionings.
    """
    vocab = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("_tok"))
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .orderBy(F.desc("_cnt"), "_tok")
        .limit(100)
    )
    # array index i (0-based) == rank - 1 once sorted by (desc cnt,
    # asc token) — encoded as ascending (-cnt, token) for sort_array
    arr = vocab.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("_cnt")).alias("_neg"), F.col("_tok").alias("_t")
                )
            )
        ).alias("_a")
    ).select(
        F.expr(
            "transform(_a, (s, i) -> struct("
            "  ln(cast(i + 1 as double)) as x,"
            "  ln(cast(-s._neg as double)) as y))"
        ).alias("_p")
    )

    def _fold(expr: str, alias: str):
        return F.expr(
            f"aggregate(_p, cast(0.0 as double), (acc, s) -> acc + {expr})"
        ).alias(alias)

    agg = arr.select(
        F.size("_p").cast("long").alias("_n"),
        _fold("s.x", "_sx"),
        _fold("s.y", "_sy"),
        _fold("s.x * s.y", "_sxy"),
        _fold("s.x * s.x", "_sxx"),
        _fold("s.y * s.y", "_syy"),
    )
    n = F.col("_n").cast("double")
    cov_n = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    var_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    var_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    slope = cov_n / var_x
    return agg.select(
        F.col("_n").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("_sy") - slope * F.col("_sx")) / n, 6).alias(
            "intercept"
        ),
        F.round(cov_n * cov_n / (var_x * var_y), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Cross-source overlap / duplicate-flow diagnostics, grouped splits
# ---------------------------------------------------------------------------


def cross_source_overlap(docs: DataFrame, *, token_hash=None) -> DataFrame:
    """Pairwise source-level shingle overlap matrix — which crawls /
    source slices duplicate each other BEFORE document dedup runs.

    For every unordered source pair ``(a, b)`` (``a < b`` lexically)
    sharing at least one distinct word-3-gram shingle, returns
    ``(source_a, source_b, grams_a, grams_b, common, jaccard,
    containment)`` where ``jaccard = common / (grams_a + grams_b -
    common)`` and ``containment = common / min(grams_a, grams_b)`` (a
    near-1 containment with a small jaccard means the smaller source is
    a subset of the larger — the classic re-crawl signature).  Rounded
    to 4 decimals; sorted by pair.

    ``token_hash``: Column->Column hash family applied per shingle;
    default ``xxhash64`` (fast path), pass
    :func:`~..operators.dedup.md5_token_hash_60` for oracle-verifiable
    output (the external engine recomputes the identical digest).

    Scale shape (10^12 docs, S sources): text is shingled ONCE
    (:func:`~..operators.dedup.with_shingles`, linear-time); everything
    after the per-source distinct rides ``(source, long)`` rows — the
    corpus text never reaches a shuffle.  The pair counts come from a
    shingle-keyed self equi-join whose per-key fan-out is bounded by
    ``S^2`` (S = number of sources, dimension-sized by definition — 20
    here, dozens in a real mix, never corpus-scale); the per-source
    totals attach as two broadcast joins of an S-row table.  No window,
    no crossJoin, no collect.
    """
    from ..operators.dedup import with_shingles

    hash_fn = token_hash or F.xxhash64
    per = (
        with_shingles(docs, out_col="_sh")
        .select(
            F.col("source").alias("_src"),
            F.explode("_sh").alias("_gram"),
        )
        .select("_src", hash_fn(F.col("_gram")).alias("_h"))
        .distinct()
    )
    sizes = per.groupBy("_src").agg(F.count(F.lit(1)).alias("_n_grams"))
    a = per.select(F.col("_src").alias("source_a"), "_h")
    b = per.select(F.col("_src").alias("source_b"), "_h")
    common = (
        a.join(b, "_h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ga, gb = F.col("grams_a"), F.col("grams_b")
    c = F.col("common").cast("double")
    # each sizes copy is aliased to fresh column names and joined on
    # plain string equality: the previous dataset-column self-join
    # (sizes._src after withColumnRenamed, twice) leaned on plan-id
    # disambiguation, which has historically tripped
    # AMBIGUOUS_SELF_JOIN across Spark versions (round-5 ADVICE)
    sizes_a = sizes.select(
        F.col("_src").alias("_src_a"), F.col("_n_grams").alias("grams_a")
    )
    sizes_b = sizes.select(
        F.col("_src").alias("_src_b"), F.col("_n_grams").alias("grams_b")
    )
    return (
        common.join(
            F.broadcast(sizes_a), F.col("source_a") == F.col("_src_a")
        )
        .drop("_src_a")
        .join(F.broadcast(sizes_b), F.col("source_b") == F.col("_src_b"))
        .drop("_src_b")
        .select(
            "source_a",
            "source_b",
            ga.cast("long").alias("grams_a"),
            gb.cast("long").alias("grams_b"),
            F.col("common").cast("long").alias("common"),
            F.round(c / (ga + gb - c), 4).alias("jaccard"),
            F.round(c / F.least(ga, gb), 4).alias("containment"),
        )
        .orderBy("source_a", "source_b")
    )


def group_split(docs: DataFrame, *, group_col: str = "source") -> DataFrame:
    """Leakage-safe train/val/test split keyed on a GROUP, not the doc.

    :func:`hash_split` buckets each document independently, so two
    near-duplicate pages from the same site/domain/crawl-group can land
    on opposite sides of the split and leak.  The standard fix (grouped
    split) buckets ``md5(group)`` instead: every document of a group
    gets the same assignment, so intra-group near-dups can never
    straddle train/test.  The trade is granularity — the realized split
    fractions deviate from the targets by up to the largest group's
    share, which is why the output keeps ``group_col`` visible for
    auditing.

    Same determinism contract as :func:`hash_split`: bucket = first 4
    hex digits of ``md5(group)`` mod 100 — reproducible across runs,
    engines, partitionings, and cluster sizes; a held-out group stays
    held out forever, including across crawl snapshots that add new
    documents to it.  Pure projection: NO shuffle, no join, no state.

    NULL-group documents land in 'test': ``md5(NULL)`` is NULL, both
    ``when`` predicates evaluate NULL, and the ``otherwise`` branch
    fires — so a slice with missing group concentrates in the test
    split (documented, round-5 ADVICE; coalesce the group to a
    sentinel upstream if that is not what you want).  Unlike
    :func:`hash_split` (a ``withColumn`` that keeps every input
    column), this returns only ``(doc_id, group_col, split)`` — join
    it back on ``doc_id`` to recover full rows.
    """
    bucket = (
        md5_prefix(F.col(group_col).cast("string"), 4)
        .cast("int")
        % 100
    )
    return docs.select(
        F.col("doc_id"),
        F.col(group_col),
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def dup_flow_by_source(docs: DataFrame) -> DataFrame:
    """Cross-source exact-duplicate FLOW matrix: when exact dedup keeps
    the lowest-id copy, which sources lose documents to which keepers?

    For every duplicate document (same ``md5(text)`` digest, not the
    cluster keeper), emits one unit of flow ``(source_kept,
    source_dropped)``; returns the matrix ``(source_kept,
    source_dropped, dup_docs)`` sorted.  A heavy ``(A, B)`` cell with a
    light ``(B, A)`` cell means B is substantially a re-crawl of A —
    the per-pair directional evidence that :func:`cross_source_overlap`
    (set-level, pre-dedup) cannot give, and the audit artifact for "how
    many documents did source X actually contribute after dedup?".

    Scale shape (10^12 docs): one digest projection (text is hashed in
    place, never shuffled), one ``(digest, id, source)`` exchange shared
    by the keeper aggregate and the member join (same key -> AQE reuses
    the partitioning), keeper chosen as ``min(struct(id, source))`` —
    an aggregate, not a window.  Digest skew is physically bounded: a
    digest's fan-in is its exact-duplicate count, and the join output
    per digest is (count - 1) rows, the same rows exact dedup itself
    must touch.
    """
    d = docs.select(
        F.md5(F.col("text")).alias("_dig"),
        F.col("doc_id").alias("_id"),
        F.col("source").alias("_src"),
    )
    keeper = d.groupBy("_dig").agg(
        F.min(F.struct("_id", "_src")).alias("_k")
    )
    return (
        d.join(keeper, "_dig")
        .filter(F.col("_id") != F.col("_k._id"))
        .groupBy(
            F.col("_k._src").alias("source_kept"),
            F.col("_src").alias("source_dropped"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("dup_docs"))
        .orderBy("source_kept", "source_dropped")
    )


def score_percentile_by_source(docs: DataFrame, *, score_col: str) -> DataFrame:
    """Per-source percentile normalization of a quality score — the
    calibration step that makes ONE global keep-threshold meaningful
    across heterogeneous crawl slices.

    A raw score cut ("keep docs with score > 3.2") silently keeps 80%
    of a clean source and 5% of a noisy one; filtering on the
    WITHIN-SOURCE percentile ("keep the top 30% of every source")
    equalizes the selection pressure.  Emits ``(doc_id, source,
    score, pct_in_source)`` with ``pct_in_source`` = SQL
    ``percent_rank() OVER (PARTITION BY source ORDER BY score)`` =
    (#strictly-lower-scored docs in the source) / (n_source - 1),
    ties sharing the lower rank, 0.0 for a single-doc source; rounded
    to 6 decimals.  Rows with a NULL score are excluded (no defined rank).

    Scale shape (10^12 docs): NO window over the corpus.  The
    strictly-below counts come from a ``(source, score)`` histogram —
    bounded by sources x distinct score values, i.e. dimension-sized
    for the integer/rounded scores quality pipelines use — cumulated
    with a window over THAT histogram (partitioned by source, tiny),
    then joined back onto the documents on ``(source, score)``.  The
    join carries no broadcast hint: it is planned as a sort-merge join,
    and AQE replaces it with a broadcast-hash join at runtime once one
    side measures under the broadcast threshold (the histogram, for
    integer/rounded scores; on a small input it may be the documents).
    A corpus-sized histogram of continuous scores stays a shuffle join.
    """
    s, src = F.col(score_col), F.col("source")
    base = docs.filter(s.isNotNull()).select(
        F.col("doc_id"), src.alias("source"), s.alias("score")
    )
    hist = base.groupBy("source", "score").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "source",
        "score",
        F.coalesce(F.sum("_c").over(w), F.lit(0)).alias("_below"),
        (F.sum("_c").over(Window.partitionBy("source")) - 1).alias("_nm1"),
    )
    # no forced broadcast: for integer/rounded scores the histogram is
    # dimension-sized and the optimizer broadcasts it on its own, but a
    # continuous double score makes it corpus-sized and a F.broadcast
    # hint would bypass autoBroadcastJoinThreshold and OOM the driver
    # instead of degrading to a shuffle join (round-5 ADVICE)
    return (
        base.join(cum, ["source", "score"])
        .select(
            "doc_id",
            "source",
            "score",
            F.round(
                F.when(F.col("_nm1") > 0, F.col("_below") / F.col("_nm1"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("pct_in_source"),
        )
    )
