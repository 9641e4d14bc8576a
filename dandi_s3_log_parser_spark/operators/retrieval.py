"""Query serving over the corpus: Okapi BM25 top-k retrieval.

Completes the retrieval triple — :func:`~..operators.curation.tfidf_top_terms`
answers "what is this document about", :func:`~..operators.curation.inverted_index`
builds the index, and :func:`bm25_topk` serves ranked queries against it.
A training-data pipeline runs this shape constantly: decontamination probes
("which training docs match this eval question"), targeted corpus audits,
and retrieval-based data selection all reduce to scoring a small query set
against the full corpus.

Public-knowledge formulation throughout (Robertson & Spärck Jones; the
``k1``/``b`` Okapi parameterization and the Lucene idf variant
``ln(1 + (N - df + 0.5)/(df + 0.5))`` are textbook).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_tokens


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents per query under Okapi BM25.

    ``score(q, d) = sum over DISTINCT terms t in q that occur in d of
    idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1 * (1 - b + b * dl(d)/avgdl))``
    with ``k1 = 1.2`` and the non-negative idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``.
    Query terms are deduplicated (set-of-words query model); ``dl`` is
    the document's total token count, ``avgdl`` the corpus mean over
    ALL documents (empty ones included).  Returns
    ``(query_id, doc_id, score, rank)``, ``rank`` dense over
    (score DESC, doc_id ASC) on the ROUNDED score so rounding can
    never reorder ties across engines.

    Determinism contract: each matched term's contribution is rounded
    to 12 decimals, cast to ``DECIMAL(28,12)``, and summed EXACTLY —
    never a partition-order double sum — then the total is rounded to
    6 decimals; bit-identical across partitionings and engines (the same
    grid trick as ``operators/graph.pagerank``).

    Scale shape (10^12 docs, 10^2-10^4 queries):

    - the corpus is tokenized ONCE into a (doc, term, tf) aggregate —
      map-side combined, term text never wider than a token;
    - the query set is tiny by contract: its distinct terms broadcast,
      and the tf-table probe ``tf JOIN qterms ON term`` is a broadcast
      hash join, so only postings of query terms survive the scan —
      the classic inverted-index probe, no corpus-sized shuffle;
    - ``df``/``idf`` are computed ONLY for query terms (the df
      aggregate is semi-join-pruned by the broadcast term set before
      it ever aggregates) and ride the same broadcast back;
    - ``avgdl``/``N`` are a one-row broadcast cross join;
    - per-query top-k is a rank-filter window — Spark rewrites it to
      ``WindowGroupLimit``, partial top-k before the exchange, so a
      hot query cannot flood the shuffle.

    Reference anchor: the reference has no retrieval surface; this is
    part of the added training-data-pipeline layer (see SURVEY.md §2
    extension table).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 <= b <= 1:
        raise ValueError(f"need 0 <= b <= 1 (BM25 with k1=1.2); got b={b}")

    toks = docs.select(
        F.col("doc_id").alias("_id"),
        F.explode(word_tokens(F.col("text"))).alias("term"),
    )
    tf = toks.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl re-aggregates the (already map-side-combined) tf table instead
    # of re-exploding the corpus: sum(tf) per doc == token count, and
    # the corpus is tokenized exactly once (one full pass saved at any
    # scale)
    dl = tf.groupBy("_id").agg(F.sum("tf").alias("dl"))

    # one-row corpus stats: N over ALL docs; avgdl = total tokens / N
    # (token-less docs count as length 0 — the explicit ratio, not an
    # avg() over a left join, keeps the formula engine-identical and
    # saves a corpus-keyed join in the plan)
    stats = (
        docs.agg(F.count(F.lit(1)).cast("double").alias("_n"))
        .crossJoin(
            dl.agg(
                F.coalesce(F.sum("dl"), F.lit(0))
                .cast("double")
                .alias("_t")
            )
        )
        .select("_n", (F.col("_t") / F.col("_n")).alias("_avgdl"))
    )

    qterms = queries.select(
        F.col("query_id"),
        F.explode(word_tokens(F.col("query"))).alias("term"),
    ).distinct()

    # df only for query terms: prune the term-keyed aggregate with the
    # broadcast query-term set BEFORE aggregating
    q_term_set = qterms.select("term").distinct()
    df_tab = (
        tf.join(F.broadcast(q_term_set), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("_df"))
    )
    q_scored_terms = (
        qterms.join(df_tab, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "term",
            F.log(
                1.0
                + (F.col("_n") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ).alias("_idf"),
        )
    )

    contrib = (
        # broadcast-prune tf to query-term postings BEFORE the
        # corpus-keyed dl join: the broadcast join costs no shuffle, so
        # only the (tiny) surviving postings meet dl's exchange instead
        # of the whole corpus-sized tf table reshuffling on _id
        tf.join(F.broadcast(q_scored_terms), "term")
        .join(dl, "_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col("_id").alias("doc_id"),
            F.round(
                F.col("_idf")
                * (F.col("tf") * 2.2)
                / (
                    F.col("tf")
                    + 1.2
                    * (1.0 - b + b * F.col("dl") / F.col("_avgdl"))
                ),
                12,
            )
            .cast("decimal(28,12)")
            .alias("_c"),
        )
    )
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(F.sum("_c").cast("double"), 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )
