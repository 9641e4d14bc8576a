"""Byte-pair-encoding tokenizer training over the corpus.

The statistic that drives every BPE merge step (Sennrich, Haddow &
Birch, ACL 2016: "Neural Machine Translation of Rare Words with
Subword Units") is the frequency of adjacent symbol pairs; training
iterates: count pairs -> merge the most frequent pair everywhere ->
repeat.  Both halves live here, formulated for the distinct-word
table: at web scale the corpus has ~10^12 token occurrences but only
~10^8 distinct words, so every pass runs over the (word, count)
aggregate, never the corpus text — the same compression trick the
reference BPE implementations use ("vocabulary of words with counts"),
and on Spark it additionally means the iterative merge loop shuffles a
table ~10^4x smaller than the corpus exactly once (the initial word
count); every later step reuses that partitioning.

Related corpus statistics: :func:`~.curation.pmi_collocations` ranks
WORD bigrams by PMI; this module works on CHARACTER/SYMBOL pairs
within words, weighted by word frequency.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import word_tokens

__all__ = [
    "word_counts", "bpe_pair_counts", "bpe_train", "bpe_encode_counts"
]

# Sennrich's end-of-word marker: glued onto a word's LAST character so
# "low" -> [l, o, w</w>] and a merge learned at a word end never
# applies word-internally (the property the marker exists to provide)
EOW = "</w>"


def word_counts(docs: DataFrame) -> DataFrame:
    """``(word, n)`` for lowercase whitespace-delimited words — the
    distinct-word table every BPE pass runs over."""
    toks = word_tokens(F.col("text"))
    return (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """Character-split with the end-of-word marker on the last symbol."""
    # split between every char pair; Spark's split keeps trailing empty
    # strings (limit=-1), so filter them before marking the last symbol
    chars = F.filter(F.split(word, "(?!^)"), lambda c: c != "")
    last = F.size(chars)
    return F.transform(
        chars,
        lambda c, i: F.when(i == last - 1, F.concat(c, F.lit(EOW))).otherwise(c),
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """``(a, b, pair_count)`` over a ``(syms, n)`` table: adjacent
    symbol pairs within each distinct word, weighted by word count."""
    ln = F.size("syms")
    pairs = F.zip_with(
        F.slice("syms", 1, F.greatest(ln - 1, F.lit(0))),
        F.slice("syms", 2, F.greatest(ln - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return (
        words.select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.a", "p.b")
        .agg(F.sum("n").alias("pair_count"))
    )


def bpe_pair_counts(
    docs: DataFrame,
    *,
    min_count: int = 2,
    topk: int = 50,
) -> DataFrame:
    """Top-k adjacent symbol pairs at BPE initialization — the
    statistic whose argmax is the first merge.  Returns
    ``(a, b, pair_count)`` ordered by count desc with an (a, b)
    tie-break so the cut is reproducible across engines.

    Scale shape: one corpus-wide word count (map-side combining on
    narrow string keys), then the pair explode runs over DISTINCT
    words only — ~10^8 rows, not 10^12 — and collapses map-side again
    into the pair table.  The top-k is ``TakeOrderedAndProject``; no
    global sort, no join anywhere.
    """
    words = word_counts(docs).select(
        _initial_symbols(F.col("word")).alias("syms"), "n"
    )
    return (
        _pair_counts(words)
        .filter(F.col("pair_count") >= min_count)
        .orderBy(F.col("pair_count").desc(), "a", "b")
        .limit(topk)
        .select("a", "b", "pair_count")
    )


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into the single symbol a||b — one fold over the symbol array."""
    ab = a + b
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(docs: DataFrame, *, n_merges: int = 10) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    list ``[(a, b, pair_count), ...]`` in learned order — the training
    artifact a tokenizer ships (merges.txt).

    Argmax tie-break is lexicographic on (a, b), matching
    :func:`bpe_pair_counts` ordering, so training is deterministic.
    Stops early when no pair occurs twice.

    Scale shape: the corpus text is touched ONCE (the initial word
    count); each of the ``n_merges`` iterations is a pair-count
    aggregate over the distinct-word table (map-side combined), a
    1-row driver collect (k-means-style, the precedent of
    :func:`~.graph.pagerank`'s dangling-mass term), and a narrow
    per-row fold rewriting symbol arrays.  Lineage is truncated with
    ``localCheckpoint`` every 4 merges — the iterative-plan precedent of
    ``dedup_clusters`` — so the plan stays flat at merge 1000.  Nothing re-shuffles: the word table keeps its
    initial partitioning throughout.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    words = (
        word_counts(docs)
        .select(_initial_symbols(F.col("word")).alias("syms"), "n")
        .localCheckpoint()
    )
    merges: list[tuple[str, str, int]] = []
    for i in range(n_merges):
        top = (
            _pair_counts(words)
            .filter(F.col("pair_count") >= 2)
            .orderBy(F.col("pair_count").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], top[0]["pair_count"]
        merges.append((a, b, cnt))
        words = words.select(_merge_pair(F.col("syms"), a, b).alias("syms"), "n")
        if (i + 1) % 4 == 0:
            words = words.localCheckpoint()
    return merges


def bpe_encode_counts(docs: DataFrame, merges: list[tuple]) -> DataFrame:
    """Apply a TRAINED merge list (merges.txt, the artifact
    :func:`bpe_train` produces) to every document and return
    ``(doc_id, n_tokens_bpe)`` — the tokenize-with-your-tokenizer step
    of a training-data pipeline, and the serving half of the
    train/apply pair.  Accepts ``(a, b)`` or ``(a, b, count)`` tuples.

    Scale shape: the corpus text is exploded ONCE into a narrow
    ``(doc_id, word)`` table; encoding runs over DISTINCT words only
    (~10^8 rows vs ~10^12 occurrences — the same compression trick as
    training), one greedy left-to-right fold per merge, each behind its
    own projection boundary so whole-stage codegen depth stays flat
    (non-cheap aliases are not re-inlined by CollapseProject; see the
    :func:`~.dedup.with_shingles` perf note), with ``localCheckpoint``
    every 32 merges to keep the plan bounded for tokenizer-sized merge
    lists.  Per-doc totals come from one
    equi-join of the occurrence table with the per-word counts and a
    map-side-combined sum — the corpus text itself never re-shuffles.

    Documents with no words produce no output row (explode semantics),
    matching the SQL oracle's inner join.
    """
    toks = word_tokens(F.col("text"))
    words = docs.select(F.col("doc_id"), F.explode(toks).alias("word"))
    enc = (
        words.select("word")
        .distinct()
        .select("word", _initial_symbols(F.col("word")).alias("syms"))
    )
    for i, m in enumerate(merges):
        a, b = m[0], m[1]
        enc = enc.select("word", _merge_pair(F.col("syms"), a, b).alias("syms"))
        if (i + 1) % 32 == 0:
            enc = enc.localCheckpoint()
    counts = enc.select("word", F.size("syms").alias("wtoks"))
    return (
        words.join(counts, "word")
        .groupBy("doc_id")
        .agg(F.sum("wtoks").alias("n_tokens_bpe"))
    )
