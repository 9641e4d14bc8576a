"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The step every large-scale pretraining pipeline runs before training
(GPT-3 appendix C / Llama-style 13-gram overlap): any document whose
text contains an n-gram that also appears in a held-out benchmark is
flagged (and usually dropped) so eval scores are not contaminated by
memorized test data.

This is the corpus-side analog of the reference's excluded-IP filter
(``_s3_log_file_reducer.py:211-214``) — a "drop rows matching a small
deny set" operator — except the deny set here is derived from text
content rather than read from a config list.

Scale shape (10^12 docs vs a benchmark of ~10^5 eval items):

- the benchmark n-gram set is SMALL (eval suites are megabytes), so it
  is broadcast — the corpus-side explode-join is map-side, no shuffle
  of corpus grams;
- the broadcast inner join filters ~everything before the per-doc
  aggregation, so the only shuffle carries (doc_id, matched_gram)
  rows for contaminated docs — a vanishing fraction of the corpus;
- the final left join restoring zero-match docs is keyed on doc_id
  against the narrow (id, count) hit table.

n-gram construction reuses :func:`~..operators.dedup.with_shingles`
(linear-time arrays_zip slices, distinct per doc), so tokenizer
semantics are shared bit-for-bit with the dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import with_shingles

#: xxhash64 seed base for the Bloom positions — fixed so the filter is
#: byte-reproducible across runs and cluster sizes.
_BLOOM_SEED = 0x5EED


def benchmark_ngrams(benchmark: DataFrame, *, n: int = 3) -> DataFrame:
    """Distinct word n-grams of the benchmark set — one ``gram`` column.

    Distinct twice: per-document inside ``with_shingles`` (array_distinct)
    and globally after the explode, so the broadcast side is minimal.
    """
    return (
        with_shingles(benchmark, n=n, out_col="_sh")
        .select(F.explode("_sh").alias("gram"))
        .distinct()
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    min_overlap: int = 1,
) -> DataFrame:
    """Per-document benchmark-overlap report.

    Returns ``(doc_id, matched_ngrams, contaminated)`` for EVERY input
    document: ``matched_ngrams`` = number of distinct n-grams the doc
    shares with the benchmark, ``contaminated`` = matched >= min_overlap.

    The benchmark side is explicitly ``F.broadcast`` — eval sets are
    dimension-sized by definition, and a shuffled join here would
    re-partition the full corpus gram explosion for no reason.
    """
    grams = benchmark_ngrams(benchmark, n=n)
    doc_grams = with_shingles(docs, n=n, out_col="_sh").select(
        F.col("doc_id"), F.explode("_sh").alias("gram")
    )
    # grams are distinct per doc already, so count(*) == count(DISTINCT)
    hits = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("matched_ngrams"), F.lit(0))
        .cast("long")
        .alias("matched_ngrams"),
        (F.coalesce(F.col("matched_ngrams"), F.lit(0)) >= min_overlap).alias(
            "contaminated"
        ),
    )


# ---------------------------------------------------------------------------
# Bloom-filter variant — for benchmark sets too large to broadcast raw
# ---------------------------------------------------------------------------


def _shl1(bit: Column) -> Column:
    """``1L << bit`` with a Column shift amount (``F.shiftleft`` only
    accepts a Python-int amount)."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), bit.cast("int")
    )


def _bloom_positions(col: Column, *, n_bits: int, k: int) -> list[Column]:
    """The ``k`` Bloom bit positions of a gram, as ``k`` long columns.

    ``xxhash64`` with ``k`` fixed seeds — all JVM-side, identical on the
    build (benchmark) and probe (corpus) sides by construction.
    """
    return [
        F.pmod(F.xxhash64(col, F.lit(_BLOOM_SEED + i)), F.lit(n_bits))
        for i in range(k)
    ]


def build_bloom(grams: DataFrame, *, n_bits: int = 1 << 20, k: int = 5) -> DataFrame:
    """Aggregate a gram table into a one-row Bloom filter DataFrame.

    Returns a single row ``(bloom_words: array<long>)`` of length
    ``n_bits/64`` — bit ``p`` lives at ``bloom_words[p div 64] & (1 <<
    (p mod 64))``.  The whole build is distributed: grams explode to
    (word-index, mask) pairs, ``bit_or`` collapses them per word index
    (map-side partial agg first), and only the final ``n_bits/64``-row
    word table converges to one row.  Nothing text-sized ever reaches
    the driver; the one-row result broadcasts at a FIXED size
    (``n_bits/8`` bytes) no matter how large the benchmark set is —
    that is the point of the variant.
    """
    assert n_bits % 64 == 0
    n_words = n_bits // 64
    pos = grams.select(
        F.explode(
            F.array(*_bloom_positions(F.col("gram"), n_bits=n_bits, k=k))
        ).alias("p")
    )
    words = pos.select(
        (F.col("p") / 64).cast("int").alias("widx"),
        _shl1(F.col("p") % 64).alias("mask"),
    ).groupBy("widx").agg(F.bit_or("mask").alias("bits"))
    return words.agg(
        F.map_from_entries(F.collect_list(F.struct("widx", "bits"))).alias("_m")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_words - 1)),
            lambda i: F.coalesce(F.element_at(F.col("_m"), i.cast("int")),
                                 F.lit(0).cast("long")),
        ).alias("bloom_words")
    )


def _bloom_contains(
    col: Column, words: Column, *, n_bits: int, k: int
) -> Column:
    """True iff all ``k`` bits for the gram are set (maybe-member)."""
    cond = F.lit(True)
    for p in _bloom_positions(col, n_bits=n_bits, k=k):
        widx = (p / 64).cast("int")
        cond = cond & (
            F.element_at(words, widx + 1).bitwiseAND(_shl1(p % 64)) != 0
        )
    return cond


def bloom_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    n_bits: int = 1 << 20,
    k: int = 5,
) -> DataFrame:
    """:func:`decontaminate` with a Bloom prefilter instead of a raw
    gram broadcast — same exact output, different scale envelope.

    The plain variant broadcasts the full distinct benchmark gram set;
    fine for megabyte eval suites, impossible when the deny side is
    itself corpus-sized (e.g. decontaminating against an entire earlier
    training run, or a billions-of-grams eval aggregate).  Here the
    broadcast is a FIXED ``n_bits/8``-byte bit array (one-row DataFrame,
    broadcast nested-loop join), the corpus-side membership probe is
    ``k`` xxhash64 calls + array indexing — whole-stage codegen, no
    Python — and only the maybe-member grams (true hits + the ~0.1%
    false-positive tail at the default 1 Mbit / k=5 sizing) proceed to
    an exact shuffle join against the true gram table for verification.
    Each corpus gram therefore crosses the wire only if the Bloom says
    maybe; the result is byte-identical to :func:`decontaminate`
    (false positives are joined away, never reported).
    """
    grams = benchmark_ngrams(benchmark, n=n)
    bloom = build_bloom(grams, n_bits=n_bits, k=k)
    doc_grams = with_shingles(docs, n=n, out_col="_sh").select(
        F.col("doc_id"), F.explode("_sh").alias("gram")
    )
    candidates = doc_grams.crossJoin(F.broadcast(bloom)).filter(
        _bloom_contains(F.col("gram"), F.col("bloom_words"), n_bits=n_bits,
                        k=k)
    ).drop("bloom_words")
    # Exact verification: a regular (shuffled) join on gram — by design
    # NOT broadcast, since the premise is that `grams` is too large to
    # broadcast; only the candidate sliver of the corpus reaches it.
    hits = (
        candidates.join(grams, "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        F.col("doc_id"),
        F.coalesce(F.col("matched_ngrams"), F.lit(0))
        .cast("long")
        .alias("matched_ngrams"),
        (F.coalesce(F.col("matched_ngrams"), F.lit(0)) >= 1).alias(
            "contaminated"
        ),
    )
