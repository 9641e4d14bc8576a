"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator class from
SURVEY.md §2 (plus the training-data-pipeline operators), each runnable
on the driver-provided TPC-H-ish tables; ``oracle_sql()`` gives the
DuckDB-equivalent SQL.  Both derive from one registry: each
``q_<name>`` function is declared with ``@query(oracle=...)``, its
DuckDB SQL on the decorator.  114 of 115 queries have a DuckDB oracle;
``bpe_merges`` is checked against a pure-Python BPE.  Three oracle
flavors: direct SQL equivalents; exact recomputes where the operator is
deterministically exact at oracle scale (MinHash/SimHash dedup); and
per-emitted-row soundness recomputes through the committed
``oracle_exchange/`` side-channel for approximate ANN and for inputs
DuckDB cannot derive (the synthetic pipeline / multimodal payloads).

Column-name/type parity rules used throughout: every computed column is
aliased identically on both sides; money/double sums are computed on
integer cents (``cast(round(x*100) as bigint)``) so engine float-sum
order cannot perturb the value hash; ratios are single IEEE divisions
rounded to 4-6 dp.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dandi_s3_log_parser_spark.functions.hashing import md5_prefix  # noqa: E402
from dandi_s3_log_parser_spark.functions.text import (  # noqa: E402
    DE_STOPWORDS,
    EN_STOPWORDS,
    tokens,
)

# --- oracle exchange --------------------------------------------------------
# Deterministic side-channel for queries whose oracle needs data DuckDB
# cannot derive from the registered views alone (ANN results to
# soundness-check per emitted row; the synthetic pipeline/multimodal
# inputs).  Files are tiny, byte-deterministic, committed to the repo,
# and rewritten by the query functions at the oracle scale factor
# (sf0.01) so both run orders (spark-first or oracle-first) see the
# same content.
_EXCHANGE = Path(__file__).resolve().parent / "oracle_exchange"
_ORACLE_SF = "sf0.01"


def _publish_exchange(name: str, pdf) -> str:
    """Write a small pandas frame as one parquet file; returns the path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    _EXCHANGE.mkdir(exist_ok=True)
    path = _EXCHANGE / f"{name}.parquet"
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return str(path)


def _exchange_path(name: str) -> str:
    return str(_EXCHANGE / f"{name}.parquet")


def _is_oracle_sf(sf_dir: str) -> bool:
    return Path(sf_dir).name == _ORACLE_SF


def _publish_at_oracle_sf(sf_dir: str, name: str, df: DataFrame) -> None:
    """Publish ``df`` for its oracle when running at the oracle scale."""
    if _is_oracle_sf(sf_dir):
        _publish_exchange(name, df.toPandas())


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """_load + round-robin repartition to default parallelism.

    The sf* tables are ONE tiny parquet row group each, so a scan
    yields 1-2 tasks no matter what maxPartitionBytes says (row groups
    are the split floor); any query whose cost is per-row narrow CPU
    (shingling, tokenizing, hashing) then runs on 1-2 of 32 cores.  A
    real-scale table has thousands of row groups and parallelizes its
    own scan — this helper is the sandbox stand-in, used ONLY by
    queries measured to be narrow-CPU-bound (bench cpu_s ~= wall)."""
    return _load(spark, sf_dir, name).repartition(
        spark.sparkContext.defaultParallelism
    )


def _cents(col):
    return F.round(col * 100).cast("long")


# ---------------------------------------------------------------------------
# Flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse-enrich-route-aggregate analog on sf0.001 — events
    joined through the customer->nation->region dimension chain
    (broadcast), aggregated by day x region (SURVEY §2 A2/A3 + J1/J2)."""
    sf = "/root/testdata/sf0.001"
    events = _load(spark, sf, "events")
    customer = _load(spark, sf, "customer")
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region")
    dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("c_custkey").alias("user_id"), "r_name")
    )
    return (
        events.join(F.broadcast(dim), "user_id", "left")
        .fillna({"r_name": "unknown"})
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("date"),
            F.col("r_name").alias("region"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .orderBy("date", "region")
    )


# ---------------------------------------------------------------------------
# Queries, each declared next to its oracle
# ---------------------------------------------------------------------------

QueryFn = Callable[[SparkSession, str], DataFrame]

# query name -> (Spark implementation, DuckDB oracle SQL or None), in
# definition order.  A driver that runs out of time drops the tail, so
# the last q_ function in this file must stay a cheap one.
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def query(*, oracle: str | None) -> Callable[[QueryFn], QueryFn]:
    """Register ``q_<name>`` as query ``<name>`` with its DuckDB oracle
    (``None``: checked outside the DuckDB contract)."""

    def register(fn: QueryFn) -> QueryFn:
        name = fn.__name__.removeprefix("q_")
        if name == fn.__name__:
            raise ValueError(f"query function {fn.__name__!r} is not named q_<name>")
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = (fn, oracle)
        return fn

    return register


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}


# shared oracle SQL fragments: stopword lists and whitespace tokenizers
_EN = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
_DE = ", ".join(f"'{w}'" for w in DE_STOPWORDS)
_TOKENS = "list_filter(string_split_regex({col}, '\\s+'), x -> x <> '')"
_TOKS = _TOKENS.format(col="text")
_TOKS_LOWER = _TOKENS.format(col="lower(text)")


@query(oracle="""
            SELECT event_id,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S') AS ts_iso,
                   user_id,
                   CAST(round(value * 100) AS BIGINT) AS value_cents
            FROM events WHERE event_type = 'click'
        """)
def q_reduce_filter_project(spark, sf):
    """P4-P7/P12-P14: filter + typed projection with ISO timestamp."""
    return (
        _load(spark, sf, "events")
        .filter(F.col("event_type") == "click")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss").alias("ts_iso"),
            "user_id",
            _cents(F.col("value")).alias("value_cents"),
        )
    )


@query(oracle="""
            SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k,
                   count(*) AS n
            FROM events GROUP BY 1
        """)
def q_regex_extract(spark, sf):
    """P1: regex field extraction + groupBy count."""
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("long")
    return (
        _load(spark, sf, "events")
        .select(k.alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
            SELECT event_type,
                   count(CAST(json_extract_string(props, '$.k') AS INTEGER))
                       AS n_k,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                        AS BIGINT) AS sum_k
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q_json_extract(spark, sf):
    """Schema-on-read JSON extraction (§2.7 scalar surface): the events
    ``props`` column is a JSON string; ``from_json`` projects it into a
    typed struct JVM-side (codegen'd Jackson parse — the idiomatic
    Spark path for semi-structured log payloads, vs the regex fallback
    ``q_regex_extract`` also covers)."""
    k = F.from_json("props", "k INT").getField("k")
    return (
        _load(spark, sf, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.sum("k").cast("long").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(oracle="""
            SELECT 'zarr/' || p_brand AS object_key, count(*) AS n
            FROM part GROUP BY 1
        """)
def q_key_rewrite(spark, sf):
    """P11: zarr-style key truncation (first two path segments)."""
    from dandi_s3_log_parser_spark.operators.reduce import truncate_zarr_key

    key = F.concat_ws("/", F.lit("zarr"), F.col("p_brand"), F.col("p_type"))
    return (
        _load(spark, sf, "part")
        .select(truncate_zarr_key(key).alias("object_key"))
        .groupBy("object_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle="""
            SELECT l_returnflag,
                   CAST(sum(CASE WHEN l_returnflag = 'N' THEN 0
                            ELSE CAST(floor(l_quantity) AS BIGINT) END) AS BIGINT) AS bytes_sum
            FROM lineitem GROUP BY l_returnflag
        """)
def q_null_sentinel_cast(spark, sf):
    """P13: sentinel-aware cast then aggregate."""
    bytes_sent = F.when(F.col("l_returnflag") == "N", F.lit(0)).otherwise(
        F.floor("l_quantity").cast("long")
    )
    return (
        _load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.sum(bytes_sent).alias("bytes_sum"))
    )


@query(oracle="""
            SELECT strftime(ts, '%Y-%m-%d') AS date,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1
        """)
def q_by_day_agg(spark, sf):
    """A2/P15: daily binning + sum."""
    return (
        _load(spark, sf, "events")
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .agg(F.sum(_cents(F.col("value"))).alias("value_cents"))
    )


@query(oracle="""
            SELECT r_name,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """)
def q_by_region_agg(spark, sf):
    """A3 + J1/J2: broadcast dim chain + sum by region."""
    orders = _load(spark, sf, "orders")
    customer = _load(spark, sf, "customer")
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(_cents(F.col("o_totalprice"))).alias("price_cents"))
    )


@query(oracle="""
            SELECT b.bucket, count(*) AS n,
                   CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events e
            JOIN (VALUES (0.0, 10.0, 'low'), (10.0, 100.0, 'mid'),
                         (100.0, 1000000000.0, 'high')) AS b(lo, hi, bucket)
              ON e.value >= b.lo AND e.value < b.hi
            GROUP BY b.bucket
        """)
def q_range_join(spark, sf):
    """J3: non-equi range join against a broadcast bucket dim."""
    buckets = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 100.0, "mid"), (100.0, 1e9, "high")],
        "lo double, hi double, bucket string",
    )
    e = _load(spark, sf, "events")
    return (
        e.join(F.broadcast(buckets), (e.value >= F.col("lo")) & (e.value < F.col("hi")))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
    )


@query(oracle="""
            SELECT c_custkey FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """)
def q_anti_join(spark, sf):
    """J5: resume-style anti join (customers with no orders)."""
    customer = _load(spark, sf, "customer")
    orders = _load(spark, sf, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey")


@query(oracle="""
            SELECT p_partkey FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
        """)
def q_semi_join(spark, sf):
    """left-semi: parts that appear in lineitem."""
    part = _load(spark, sf, "part")
    li = _load(spark, sf, "lineitem")
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey"
    )


@query(oracle="""
            SELECT event_id, user_id, rn FROM (
                SELECT event_id, user_id,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ) WHERE rn <= 2
        """)
def q_window_rownumber(spark, sf):
    """§2.5: row_number per partition (first 2 events per user)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _load(spark, sf, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_id", "user_id", "rn")
    )


@query(oracle="""
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
            FROM orders
            ORDER BY price_cents DESC, o_orderkey ASC
            LIMIT 50
        """)
def q_sort_limit_topk(spark, sf):
    """O3/O4: top-50 by value desc with deterministic tie-break."""
    return (
        _load(spark, sf, "orders")
        .select("o_orderkey", _cents(F.col("o_totalprice")).alias("price_cents"))
        .orderBy(F.desc("price_cents"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(oracle="""
            SELECT DISTINCT x FROM (
                SELECT event_type AS x FROM events
                UNION ALL
                SELECT o_orderstatus AS x FROM orders
            )
        """)
def q_union_distinct(spark, sf):
    """O6/A6: union + distinct."""
    a = _load(spark, sf, "events").select(F.col("event_type").alias("x"))
    b = _load(spark, sf, "orders").select(F.col("o_orderstatus").alias("x"))
    return a.unionByName(b).distinct()


@query(oracle="""
            SELECT r_name, n_name,
                   CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """)
def q_rollup_agg(spark, sf):
    """A5: hierarchical rollup (region -> nation -> grand total)."""
    customer = _load(spark, sf, "customer")
    nation = _load(spark, sf, "nation")
    region = _load(spark, sf, "region")
    j = customer.join(
        F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return j.rollup("r_name", "n_name").agg(
        F.sum(_cents(F.col("c_acctbal"))).alias("acctbal_cents")
    )


@query(oracle="""
            SELECT c_custkey, md5(c_name || '#salt') AS ip_hash FROM customer
        """)
def q_hash_enrich(spark, sf):
    """J2: salted-hash anonymization key (md5 used for oracle parity;
    the pipeline itself uses sha1, which DuckDB lacks)."""
    return _load(spark, sf, "customer").select(
        "c_custkey", F.md5(F.concat(F.col("c_name"), F.lit("#salt"))).alias("ip_hash")
    )


@query(oracle="SELECT DISTINCT event_type FROM events")
def q_distinct_ops(spark, sf):
    """A6: distinct set."""
    return _load(spark, sf, "events").select("event_type").distinct()


@query(oracle="""
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%dT%H:%M:%S') AS hour_start,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1
        """)
def q_hourly_window(spark, sf):
    """tumbling 1-hour window aggregation (streaming-style bin)."""
    return (
        _load(spark, sf, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd'T'HH:mm:ss").alias("hour_start"),
            "n",
            "value_cents",
        )
    )


# --- training-data pipeline operators --------------------------------------


@query(oracle="""
            SELECT min(doc_id) AS doc_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """)
def q_dedup_exact(spark, sf):
    from dandi_s3_log_parser_spark.operators.dedup import exact_dedup

    return exact_dedup(_load(spark, sf, "documents"))


@query(oracle=f"""
            SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents
        """)
def q_token_count(spark, sf):
    from dandi_s3_log_parser_spark.functions.text import token_count

    d = _load(spark, sf, "documents")
    return d.select("doc_id", token_count(F.col("text")).alias("n_tokens"))


@query(oracle=f"""
            SELECT doc_id,
                   round(CASE WHEN len({_TOKS_LOWER}) > 0
                         THEN len(list_filter({_TOKS_LOWER}, x -> x IN ({_EN})))
                              / CAST(len({_TOKS_LOWER}) AS DOUBLE)
                         ELSE 0.0 END, 4) AS stop_ratio
            FROM documents
        """)
def q_stopword_ratio(spark, sf):
    from dandi_s3_log_parser_spark.functions.text import stopword_ratio

    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id", F.round(stopword_ratio(F.col("text")), 4).alias("stop_ratio")
    )


@query(oracle=f"""
            SELECT lang_guess, count(*) AS n FROM (
                SELECT CASE
                    WHEN len(list_filter({_TOKS_LOWER}, x -> x IN ({_EN}))) = 0
                     AND len(list_filter({_TOKS_LOWER}, x -> x IN ({_DE}))) = 0
                    THEN 'unknown'
                    WHEN len(list_filter({_TOKS_LOWER}, x -> x IN ({_EN})))
                      >= len(list_filter({_TOKS_LOWER}, x -> x IN ({_DE})))
                    THEN 'en' ELSE 'de' END AS lang_guess
                FROM documents
            ) GROUP BY 1
        """)
def q_lang_id(spark, sf):
    from dandi_s3_log_parser_spark.functions.text import lang_id

    d = _load_spread(spark, sf, "documents")
    return (
        d.select(lang_id(F.col("text")).alias("lang_guess"))
        .groupBy("lang_guess")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(oracle=f"""
            SELECT doc_id, round((len_score + stop_score + punct_penalty) / 3.0, 4)
                   AS quality
            FROM (
                SELECT doc_id,
                       least(length(text) / 500.0, 1.0) AS len_score,
                       least(CASE WHEN len({_TOKS_LOWER}) > 0
                             THEN len(list_filter({_TOKS_LOWER}, x -> x IN ({_EN})))
                                  / CAST(len({_TOKS_LOWER}) AS DOUBLE)
                             ELSE 0.0 END * 4.0, 1.0) AS stop_score,
                       greatest(0.0, 1.0 - CASE WHEN length(text) > 0
                           THEN (length(text) - length(regexp_replace(text,
                                '[^\\w\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                           ELSE 0.0 END * 4.0) AS punct_penalty
                FROM documents
            )
        """)
def q_quality_score(spark, sf):
    from dandi_s3_log_parser_spark.functions.text import quality_score

    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id", F.round(quality_score(F.col("text")), 4).alias("quality")
    )


# the Spark side splits on alnum/non-alnum boundaries (Java regex
# lookarounds); RE2 has no lookarounds, so the oracle counts the
# same token stream arithmetically: every alnum run is one piece,
# every non-alnum char its own piece, bare spaces dropped
@query(oracle="""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
                   + length(regexp_replace(text, '[A-Za-z0-9]', '', 'g'))
                   - (length(text) - length(replace(text, ' ', '')))
                   AS BIGINT) AS n_pieces
            FROM documents
        """)
def q_bpe_token_count(spark, sf):
    from dandi_s3_log_parser_spark.functions.text import bpe_ish_token_count

    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id", bpe_ish_token_count(F.col("text")).alias("n_pieces")
    )


@query(oracle=f"""
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents
                WHERE doc_id < 200 AND len({_TOKS_LOWER}) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.grams, b.grams))),
                         4) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.2
        """)
def q_ngram_jaccard_pairs(spark, sf):
    from dandi_s3_log_parser_spark.operators.dedup import ngram_jaccard_pairs

    d = _load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return ngram_jaccard_pairs(d, threshold=0.2, n=3, max_rows=200)


# IDENTICAL exhaustive recompute as ngram_jaccard_pairs: the
# prefix-filtered exact join must return the same pair set, so
# hash equality here certifies the pruning is lossless
@query(oracle=f"""
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents
                WHERE len({_TOKS_LOWER}) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.grams, b.grams))),
                         4) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
        """)
def q_jaccard_prefix_pairs(spark, sf):
    """Exact all-pairs Jaccard via prefix filtering (Bayardo et al.
    WWW'07) — the scale path next to the guarded brute-force baseline,
    so it runs UNCAPPED on the full documents table.  The oracle is the
    exhaustive quadratic recompute at the oracle sf: hash equality
    proves the prefix pruning is lossless, not just plausible."""
    from dandi_s3_log_parser_spark.operators.dedup import jaccard_prefix_join

    d = _load(spark, sf, "documents")
    return jaccard_prefix_join(d, threshold=0.5, n=3)


@query(oracle="""
            WITH q AS (
                SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                FROM embeddings WHERE vec_id < 3
            )
            SELECT query_id, neighbor_id, rank FROM (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(
                               list_dot_product(e.embedding::DOUBLE[], q.qv)
                               / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                        e.embedding::DOUBLE[]))
                                  * sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                               e.vec_id ASC
                       ) AS rank
                FROM embeddings e CROSS JOIN q
            ) WHERE rank <= 10
        """)
def q_cosine_topk(spark, sf):
    from dandi_s3_log_parser_spark.operators.similarity import cosine_topk

    emb = _load_spread(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk(emb, queries, k=10, query_id_col="query_id").select(
        "query_id", "neighbor_id", "rank"
    )


@query(oracle="""
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id < 150
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))) >= 0.2
        """)
def q_embedding_sim_pairs(spark, sf):
    from dandi_s3_log_parser_spark.operators.similarity import embedding_near_dup_pairs

    emb = _load(spark, sf, "embeddings").filter(F.col("vec_id") < 150)
    return embedding_near_dup_pairs(emb, threshold=0.2, max_rows=150).select(
        "id_a", "id_b"
    )


def _embedding_near_dup_corpus(spark, sf):
    """Embeddings + planted near-dups: for vec_id < 200 add a copy at
    id+100000 with v'_i = v_i + 0.03 * v_{(i mod d)+1} (a rotate-and-add
    perturbation, cosine ~0.9995) — deterministic pure arithmetic that
    DuckDB replays exactly (float->double widening then IEEE double ops
    on both engines)."""
    emb = _load_spread(spark, sf, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select("vec_id", vd.alias("v"))
    rot = F.concat(F.slice(F.col("v"), 2, dim - 1), F.slice(F.col("v"), 1, 1))
    planted = base.filter(F.col("vec_id") < 200).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.zip_with(F.col("v"), rot, lambda x, y: x + y * 0.03).alias("v"),
    )
    return base.unionByName(planted), dim


# exact all-pairs recompute over the SAME planted corpus (base
# embeddings + rotate-and-add copies at id+100000); the LSH
# family's recall is ~1-1e-7 at the planted cosine and equality
# is asserted in-query on the Spark side (loud failure)
@query(oracle="""
            WITH base AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), planted AS (
                SELECT vec_id + 100000 AS vec_id,
                       list_transform(
                           range(1, len(v) + 1),
                           i -> v[i] + v[(i % len(v)) + 1] * 0.03
                       ) AS v
                FROM base WHERE vec_id < 200
            ), corpus AS (
                SELECT * FROM base UNION ALL SELECT * FROM planted
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6)
                       AS cosine_sim
            FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.99
        """)
def q_embedding_lsh_near_dup(spark, sf):
    """Embedding near-dup pairs via multi-table hyperplane LSH + exact
    cosine verify — the 100 TB path next to the guarded all-pairs
    baseline (`embedding_sim_pairs`).  The oracle recomputes ALL exact
    pairs >= threshold over the same planted corpus; at the planted
    cosine (~0.9995) the 8-plane x 4-table family has recall
    1-(1-p^8)^4 ~ 1-1e-7 per pair, and the equality contract is
    asserted in-query at the oracle sf (any missed exact pair raises
    with the recall number, same loud-failure design as
    `minhash_lsh_dedup`)."""
    from dandi_s3_log_parser_spark.operators.similarity import (
        embedding_lsh_near_dup_pairs,
        embedding_near_dup_pairs,
    )

    corpus, dim = _embedding_near_dup_corpus(spark, sf)
    out = embedding_lsh_near_dup_pairs(
        corpus, threshold=0.99, dim=dim, n_planes=8, n_tables=4,
        id_col="vec_id", vec_col="v",
    )
    if _is_oracle_sf(sf):
        # one brute-force evaluation: the anti-join count is the check;
        # n_exact (error-message context only) is computed on the
        # failure path, not up front (the count + anti-join pair used
        # to run the all-pairs subtree twice)
        exact = embedding_near_dup_pairs(
            corpus, threshold=0.99, id_col="vec_id", vec_col="v",
            max_rows=1_000_000,
        ).select("id_a", "id_b")
        missing = exact.join(
            out.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        ).count()
        if missing:
            n_exact = exact.count()
            raise ValueError(
                f"embedding_lsh_near_dup: LSH missed {missing}/{n_exact} "
                f"exact pairs (recall {(n_exact - missing) / n_exact:.4f}) "
                "on the planted fixture — exact-recompute oracle requires "
                "recall 1; add tables/planes or weaken the oracle"
            )
    return out


# --- LSH / ANN / pipeline — oracle-verified via exact recompute -------------


# exact all-pairs recompute: LSH recall is deterministically 1
# at oracle scale (all true pairs >= .85 jaccard), so equality
# with the exhaustive answer is the correctness claim
@query(oracle=f"""
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents
                WHERE len({_TOKS_LOWER}) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.grams, b.grams))),
                         4) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
        """)
def q_minhash_lsh_dedup(spark, sf):
    """Banded MinHash-LSH candidates + exact-Jaccard verify.  The oracle
    recomputes ALL exact pairs >= threshold: at oracle scale the true
    pairs sit far above the threshold (seeded near-dups, jaccard >= .85),
    where the fixed 16-hash/4-band family has deterministic recall 1, so
    LSH output == exact output.

    That equality is a property of the fixture, not of LSH — so it is
    asserted IN-QUERY at the oracle sf: the exact pair set is recomputed
    on the Spark side and any exact pair missing from the LSH output
    raises with the recall number.  A fixture/parameter change that
    pushes true pairs into the probabilistic recall band then fails
    loudly as 'LSH recall < 1 on this fixture: pick more bands or fix
    the oracle', instead of surfacing as a baffling hash mismatch
    (VERDICT round-2 'What's wrong' #3)."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        minhash_dedup,
        ngram_jaccard_pairs,
    )

    d = _load_spread(spark, sf, "documents")
    out = minhash_dedup(d, threshold=0.5)
    if _is_oracle_sf(sf):
        exact = ngram_jaccard_pairs(
            d, threshold=0.5, max_rows=1_000_000
        ).select("id_a", "id_b")
        # anti-join count is the check; n_exact (message context) only
        # on the failure path — the eager count ran the all-pairs
        # subtree a second time
        missing = exact.join(
            out.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        ).count()
        if missing:
            n_exact = exact.count()
            raise ValueError(
                f"minhash_lsh_dedup: LSH missed {missing}/{n_exact} exact "
                f"pairs (recall {(n_exact - missing) / n_exact:.3f}) on the "
                "oracle fixture — the exact-recompute oracle is only valid "
                "at recall 1; add bands/hashes or weaken the oracle"
            )
    return out


# 60 bit-vote terms rebuilding the SimHash in SQL (one per hash bit):
# bit i of the simhash is 1 iff more token hashes have bit i set than not
_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
    for i in range(60)
)


# full simhash rebuild in SQL: md5-60bit token hashes, 60
# bit-vote aggregates, all-pairs hamming <= 3 (the Spark side's
# chunk-LSH is exact at this distance by pigeonhole)
@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id, unnest({_TOKS_LOWER}) AS t FROM documents
            ), h AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv
                FROM tok
            ), sh AS (
                SELECT doc_id, {_SIMHASH_BITS_SQL} AS s FROM h GROUP BY doc_id
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.s, b.s)) AS hamming
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.s, b.s)) <= 3
        """)
def q_simhash_near_dup(spark, sf):
    """SimHash near-dups, EXACT by construction (hamming<=3 over 4
    16-bit chunks -> pigeonhole recall 1).  Uses the md5-derived 60-bit
    token hash family so DuckDB can rebuild every simhash and verify the
    pair set end to end."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        md5_token_hash_60,
        simhash_near_dup_pairs,
    )

    d = _load(spark, sf, "documents")
    return simhash_near_dup_pairs(d, max_hamming=3, token_hash=md5_token_hash_60)


# connected components via recursive-CTE transitive closure over
# the exact near-dup pair set; min reachable id per node
@query(oracle=f"""
            WITH RECURSIVE sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents
                WHERE len({_TOKS_LOWER}) >= 3
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT DISTINCT a AS id, a AS r FROM edges
                UNION
                SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.id
            )
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        """)
def q_dedup_clusters(spark, sf):
    """Connected components over the MinHash near-dup pairs (the keep/
    drop unit of a real dedup pipeline).  Oracle: recursive-CTE
    transitive closure over the same exact-Jaccard pair set, min id per
    component."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        dedup_clusters,
        minhash_dedup,
    )

    d = _load_spread(spark, sf, "documents")
    pairs = minhash_dedup(d, threshold=0.5).select("id_a", "id_b")
    return dedup_clusters(pairs)


def _ann_inputs(spark, sf):
    emb = _load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dim = len(emb.select("embedding").first()[0])
    return emb, queries, dim


def _lsh_ann(spark, sf):
    from dandi_s3_log_parser_spark.operators.similarity import lsh_bucketed_topk

    emb, queries, dim = _ann_inputs(spark, sf)
    return emb, queries, lsh_bucketed_topk(
        emb, queries, k=10, dim=dim, n_planes=6, multiprobe=2,
        query_id_col="query_id",
    )


def _ivf_ann(spark, sf):
    from dandi_s3_log_parser_spark.operators.similarity import ivf_topk

    emb, queries, dim = _ann_inputs(spark, sf)
    return emb, queries, ivf_topk(
        emb, queries, k=10, dim=dim, n_centroids=8, nprobe=5,
        query_id_col="query_id",
    )


# per-emitted-row ANN verification: cosine and within-set rank
# recomputed from the embeddings view for exactly the pairs the Spark
# operator returned (published via the oracle exchange)
_ANN_SOUNDNESS_SQL = """
    WITH p AS (
        SELECT query_id, neighbor_id FROM read_parquet('{pairs}')
    ), scored AS (
        SELECT p.query_id, p.neighbor_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                              e.embedding::DOUBLE[]))
                        * sqrt(list_dot_product(q.embedding::DOUBLE[],
                                                q.embedding::DOUBLE[]))),
                     6) AS cosine_sim
        FROM p
        JOIN embeddings e ON e.vec_id = p.neighbor_id
        JOIN embeddings q ON q.vec_id = p.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
    FROM scored
"""


# ANN soundness oracles: the emitted (query, neighbor) pairs are
# read back from the oracle exchange and cosine + within-set
# rank are recomputed INDEPENDENTLY from the embeddings view —
# every returned row is mechanically verified
@query(oracle=_ANN_SOUNDNESS_SQL.format(pairs=_exchange_path("lsh_ann_topk")))
def q_lsh_ann_topk(spark, sf):
    """Hyperplane-LSH ANN top-k (multi-probe, hamming<=2).  ANN output
    is approximate, so this query's oracle is a per-emitted-row
    soundness check (pairs published to the oracle exchange; DuckDB
    independently recomputes cosine and within-set rank for exactly
    those pairs) — it cannot detect MISSING neighbors.  Recall is
    mechanically verified by the sibling ``lsh_ann_recall`` query."""
    _, _, out = _lsh_ann(spark, sf)
    _publish_at_oracle_sf(sf, "lsh_ann_topk", out.select("query_id", "neighbor_id"))
    return out


@query(oracle=_ANN_SOUNDNESS_SQL.format(pairs=_exchange_path("ivf_ann_topk")))
def q_ivf_ann_topk(spark, sf):
    """IVF ANN top-k; same exchange-soundness oracle as lsh_ann_topk —
    recall is mechanically verified by ``ivf_ann_recall``."""
    _, _, out = _ivf_ann(spark, sf)
    _publish_at_oracle_sf(sf, "ivf_ann_topk", out.select("query_id", "neighbor_id"))
    return out


# Documented recall@10 floors at the oracle sf.  The corpus is random
# gaussian vectors — the hardest ANN regime (true neighbors sit at
# cos~0.3, barely separable) — so the floors are regression tripwires,
# not quality claims: measured recall is LSH 0.40-0.60 (6 planes,
# multiprobe 2 -> 22/64 buckets probed) and IVF 0.70-1.00 (nprobe 5/8).
# A hash-family or centroid-assignment regression sends recall toward
# ~1/64 resp. ~0, far below the floor.
_ANN_RECALL_FLOORS = {"lsh_ann_recall": 0.3, "ivf_ann_recall": 0.5}


def _ann_recall(spark, sf, name, emb, queries, ann, k=10):
    """recall@k of an ANN result vs the exact brute-force top-k.

    CORRECTNESS-verified both ways: the ANN pairs are published to the
    oracle exchange, and DuckDB recomputes the EXACT top-k from the
    embeddings view independently — so the recall values are checked
    against an exact set this process did not produce.  The query
    raises (-> a red driver row) if recall falls below the documented
    floor, making ANN quality a gated quantity, not a pytest-only one
    (VERDICT round-2 'What's missing' #2)."""
    from dandi_s3_log_parser_spark.operators.similarity import cosine_topk

    exact = cosine_topk(emb, queries, k=k, query_id_col="query_id").select(
        "query_id", "neighbor_id"
    )
    pairs = ann.select("query_id", "neighbor_id")
    _publish_at_oracle_sf(sf, f"{name}_pairs", pairs)
    hits = (
        exact.join(pairs, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    out = (
        queries.select("query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("_n"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )
    # the floors were calibrated at the oracle sf (random gaussian
    # vectors, fixed nplanes/nprobe); at other sfs the same hash family
    # legitimately shifts (more distractors per bucket), so asserting
    # them there would fail spuriously, not catch regressions (ADVICE
    # r3) — gate the tripwire to where it was measured
    if _is_oracle_sf(sf):
        floor = _ANN_RECALL_FLOORS[name]
        min_recall = out.agg(F.min("recall_at_10")).first()[0]
        if min_recall is None or min_recall < floor:
            raise ValueError(
                f"{name}: min recall@{k} {min_recall} fell below the "
                f"documented floor {floor} — ANN quality regression"
            )
    return out


# ANN recall verification: the ANN's emitted pairs come from the oracle
# exchange, but the EXACT top-10 is recomputed here by brute force from
# the embeddings view — an exact set the Spark process did not produce —
# so the per-query recall@10 values are independently derived end to end
_ANN_RECALL_SQL = """
    WITH ann AS (
        SELECT query_id, neighbor_id FROM read_parquet('{pairs}')
    ), qv AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 3
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(
                           list_dot_product(e.embedding::DOUBLE[], q.v)
                           / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                                    e.embedding::DOUBLE[]))
                              * sqrt(list_dot_product(q.v, q.v))), 6) DESC,
                           e.vec_id ASC
                   ) AS rank
            FROM embeddings e CROSS JOIN qv q
        ) WHERE rank <= 10
    ), hits AS (
        SELECT exact.query_id, count(*) AS n
        FROM exact JOIN ann USING (query_id, neighbor_id)
        GROUP BY exact.query_id
    )
    SELECT q.query_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n, 0) / 10.0, 4) AS recall_at_10
    FROM qv q LEFT JOIN hits h USING (query_id)
    ORDER BY q.query_id
"""


@query(oracle=_ANN_RECALL_SQL.format(pairs=_exchange_path("lsh_ann_recall_pairs")))
def q_lsh_ann_recall(spark, sf):
    """recall@10 of the multi-probe LSH ANN vs exact top-k (see
    :func:`_ann_recall` for the verification contract)."""
    emb, queries, ann = _lsh_ann(spark, sf)
    return _ann_recall(spark, sf, "lsh_ann_recall", emb, queries, ann)


@query(oracle=_ANN_RECALL_SQL.format(pairs=_exchange_path("ivf_ann_recall_pairs")))
def q_ivf_ann_recall(spark, sf):
    """recall@10 of the IVF ANN vs exact top-k (see :func:`_ann_recall`
    for the verification contract)."""
    emb, queries, ann = _ivf_ann(spark, sf)
    return _ann_recall(spark, sf, "ivf_ann_recall", emb, queries, ann)


def _chunk_2tok(d):
    """Re-chunk single-line word-soup text into 2-token "lines" —
    deterministic, replicated exactly by the DuckDB oracles that share
    this convention (repetition_metrics, corpus_line_dedup).

    The token array is materialized behind a projection boundary FIRST
    (same measured pathology as ``with_shingles``: expressions
    referenced inside higher-order-function lambdas are re-evaluated
    per element, so an inlined split/filter makes the chunk builder
    O(tokens^2) per document — ~3x the whole-query wall at sf0.1)."""
    toks = tokens(F.col("text"))
    bound = d.select("doc_id", toks.alias("_toks"))
    # guard: sequence(0, -1) would DESCEND for empty docs
    chunk_lines = F.when(F.size("_toks") == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0),
                    (F.ceil(F.size("_toks") / F.lit(2.0)) - 1).cast("int"),
                ),
                lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i * 2 + 1, 2)),
            ),
            "\n",
        )
    )
    return bound.select("doc_id", chunk_lines.alias("text"))


# Gopher duplicate-line rules: explode lines, count per (doc,
# line), aggregate; docs with no non-empty lines report zeros.
# "Lines" = 2-token chunks (mirrors the query's re-chunking).
@query(oracle=f"""
            WITH t AS (
                SELECT doc_id, {_TOKS} AS toks
                FROM documents
            ), lines AS (
                SELECT doc_id,
                       unnest(list_filter(
                           list_transform(
                               range(1, CAST(ceil(len(toks) / 2.0) AS INT) + 1),
                               i -> array_to_string(
                                   toks[(i-1)*2+1 : i*2], ' ')
                           ), x -> x <> '')) AS line
                FROM t
            ), per_line AS (
                SELECT doc_id, line, count(*) AS cnt
                FROM lines GROUP BY doc_id, line
            ), agg AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS line_count,
                       count(*) AS distinct_lines,
                       sum(len(line) * cnt) AS total_chars,
                       sum(CASE WHEN cnt > 1 THEN len(line) * cnt
                                ELSE 0 END) AS dup_chars
                FROM per_line GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.line_count, 0) AS line_count,
                   round(coalesce(
                       1.0 - CAST(a.distinct_lines AS DOUBLE) / a.line_count,
                       0.0), 6) AS dup_line_frac,
                   round(coalesce(
                       CASE WHEN a.total_chars > 0
                            THEN CAST(a.dup_chars AS DOUBLE) / a.total_chars
                            ELSE 0.0 END, 0.0), 6) AS dup_line_char_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_repetition_metrics(spark, sf):
    """Gopher-style duplicate-line metrics per document.

    The synthetic corpus is single-line word soup, so to exercise the
    metric non-degenerately the query first re-chunks each text into
    2-token "lines" (deterministic, replicated exactly in the oracle);
    ~36% of documents then contain duplicated lines."""
    from dandi_s3_log_parser_spark.operators.curation import repetition_metrics

    return repetition_metrics(_chunk_2tok(_load_spread(spark, sf, "documents")))


# equidepth_histogram: identical cutpoint-counting bucket rule
# (bucket = #cutpoints strictly below the value) over the same
# exact interpolated quantiles at k/8
@query(oracle="""
            WITH cuts AS (
                SELECT lang,
                       quantile_cont(CAST(n_chars AS DOUBLE),
                           [0.125, 0.25, 0.375, 0.5,
                            0.625, 0.75, 0.875]) AS cuts
                FROM documents GROUP BY lang
            ), b AS (
                SELECT d.lang,
                       CAST(d.n_chars AS DOUBLE) AS v,
                       len(list_filter(
                           c.cuts,
                           x -> x < CAST(d.n_chars AS DOUBLE)
                       )) AS bucket
                FROM documents d JOIN cuts c USING (lang)
            )
            SELECT lang, bucket, count(*) AS n,
                   round(min(v), 4) AS lo, round(max(v), 4) AS hi
            FROM b GROUP BY lang, bucket
            ORDER BY lang, bucket
        """)
def q_equidepth_histogram(spark, sf):
    """8-bucket equi-depth length histogram per language (cutpoints at
    k/8 — exact binary fractions, so interpolation is FP-identical)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        equidepth_histogram,
    )

    return equidepth_histogram(
        _load(spark, sf, "documents"), "n_chars", group_col="lang", buckets=8
    )


# apply_cdc: latest-wins via arg_max over the same synthesized
# change stream; deletes drop the key, upserts replace-or-
# insert, untouched snapshot rows pass through
@query(oracle="""
            WITH changes AS (
                SELECT o_custkey AS c_custkey,
                       'upd-' || CAST(o_custkey AS VARCHAR) AS c_name,
                       round(o_totalprice, 2) AS c_acctbal,
                       o_orderkey AS seq,
                       CASE WHEN o_orderkey % 10 = 0 THEN 'D'
                            ELSE 'U' END AS op
                FROM orders
            ), latest AS (
                SELECT c_custkey,
                       arg_max(op, seq) AS op,
                       arg_max(c_name, seq) AS c_name,
                       arg_max(c_acctbal, seq) AS c_acctbal
                FROM changes GROUP BY c_custkey
            )
            SELECT s.c_custkey, s.c_name, s.c_acctbal
            FROM customer s LEFT JOIN latest l USING (c_custkey)
            WHERE l.c_custkey IS NULL
            UNION ALL
            SELECT c_custkey, c_name, c_acctbal
            FROM latest WHERE op = 'U'
            ORDER BY c_custkey
        """)
def q_apply_cdc(spark, sf):
    """CDC merge: orders replayed as a change stream over the customer
    snapshot (seq = o_orderkey, delete when o_orderkey % 10 == 0,
    otherwise upsert with the order's totalprice as the new balance)."""
    from dandi_s3_log_parser_spark.operators.cdc import apply_cdc

    snap = _load(spark, sf, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    o = _load(spark, sf, "orders")
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.concat(F.lit("upd-"), F.col("o_custkey").cast("string")).alias(
            "c_name"
        ),
        F.round(F.col("o_totalprice"), 2).alias("c_acctbal"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return apply_cdc(snap, changes, key_col="c_custkey").orderBy(
        "c_custkey"
    )


# corpus_shuffle: identical md5 draws (DuckDB md5 == Spark md5,
# lowercase hex; hex-prefix parsed via 0x-cast as elsewhere)
# and the identical shard-partitioned row_number
@query(oracle="""
            WITH k AS (
                SELECT doc_id,
                       md5(concat('order|shuffle-v1|',
                           CAST(doc_id AS VARCHAR))) AS ok,
                       CAST(concat('0x', substr(
                           md5(concat('shard|shuffle-v1|',
                               CAST(doc_id AS VARCHAR))), 1, 4))
                           AS INTEGER) % 8 AS shard
                FROM documents
            )
            SELECT doc_id,
                   CAST(shard AS INTEGER) AS shard,
                   CAST(row_number() OVER (
                       PARTITION BY shard ORDER BY ok ASC, doc_id ASC
                   ) AS BIGINT) AS pos
            FROM k
        """)
def q_corpus_shuffle(spark, sf):
    """Deterministic training-order shuffle: md5 order key + md5 shard
    assignment, row_number within shard — byte-identical order on any
    cluster size."""
    from dandi_s3_log_parser_spark.operators.curation import corpus_shuffle

    return corpus_shuffle(
        _load(spark, sf, "documents"), n_shards=8, salt="shuffle-v1"
    )


def _kmeans_ctes(
    k: int,
    iters: int,
    ndp: int,
    prefix: str = "",
    vec_expr: str = "embedding::DOUBLE[]",
) -> list[str]:
    """CTE chain for one unrolled Lloyd's run mirroring kmeans_assign
    exactly: same init (k smallest ids), same rounded-distance argmin
    with cluster-asc tie-break, same exact DECIMAL(25,10) centroid
    sums, same empty-cluster carry-forward (COALESCE to the prior
    centroid).  Distance uses the identical expression order
    ``(v.v - 2*v.c) + c.c`` so double arithmetic agrees bitwise.
    ``prefix`` namespaces the CTEs (several chains can share one
    WITH — the PQ oracle runs one chain per subspace); ``vec_expr``
    selects the (possibly sliced) vector.  The final assignment CTE
    is ``{prefix}afinal``."""
    p = prefix

    def assign(name: str, cents: str) -> str:
        return f"""{p}{name} AS (
            SELECT vec_id, cluster, dist FROM (
                SELECT e.vec_id, c.c AS cluster,
                       round(list_dot_product(e.v, e.v)
                             - 2 * list_dot_product(e.v, c.cv)
                             + list_dot_product(c.cv, c.cv), {ndp}) AS dist
                FROM {p}e e CROSS JOIN {cents} c)
            QUALIFY row_number() OVER (PARTITION BY vec_id
                ORDER BY dist ASC, cluster ASC) = 1
        )"""

    def update(mname: str, cname: str, aname: str, prev: str) -> str:
        return f"""{p}{mname} AS (
            SELECT a.cluster,
                   d.d - 1 AS dim,
                   CAST(sum(CAST(v[d.d] AS DECIMAL(25,10))) AS DOUBLE)
                       / count(*) AS cd
            FROM {p}{aname} a JOIN {p}e USING (vec_id),
                 unnest(range(1, len(v) + 1)) AS d(d)
            GROUP BY a.cluster, d.d
        ), {cname} AS (
            SELECT pr.c, COALESCE(lst.cv, pr.cv) AS cv
            FROM {prev} pr LEFT JOIN (
                SELECT cluster AS c, list(cd ORDER BY dim) AS cv
                FROM {p}{mname} GROUP BY cluster) lst USING (c)
        )"""

    ctes = [
        f"""{p}e AS (
            SELECT vec_id, {vec_expr} AS v FROM embeddings
        ), {p}c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                        AS BIGINT) AS c, v AS cv
            FROM (SELECT vec_id, v FROM {p}e ORDER BY vec_id LIMIT {k})
        )"""
    ]
    cents = f"{p}c0"
    for i in range(iters):
        ctes.append(assign(f"a{i}", cents))
        ctes.append(update(f"m{i}", f"{p}c{i + 1}", f"a{i}", cents))
        cents = f"{p}c{i + 1}"
    ctes.append(assign("afinal", cents))
    return ctes


def _pq_adc_oracle_sql(
    m: int = 4,
    dsub: int = 16,
    k: int = 8,
    iters: int = 2,
    topk: int = 10,
    ndp: int = 6,
    n_queries: int = 3,
) -> str:
    """PQ-ADC oracle: retrains the per-subspace codebooks (same chains
    as the pq_assign oracle), reassigns the corpus codes, rebuilds each
    query's per-subspace distance table from the FINAL codebook CTEs
    (``s{j}c{iters}``), and sums the table terms left-to-right exactly
    like the Spark projection before the shared round."""
    ctes: list[str] = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        ctes.extend(
            _kmeans_ctes(
                k, iters, ndp, prefix=f"s{j}",
                vec_expr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
            )
        )
    ctes.append(
        f"""qv AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS q
            FROM embeddings WHERE vec_id < {n_queries}
        )"""
    )
    joins = "s0afinal s0" + "".join(
        f" JOIN s{j}afinal s{j} USING (vec_id)" for j in range(1, m)
    )
    book_joins = "".join(
        f" JOIN s{j}c{iters} b{j} ON b{j}.c = s{j}.cluster"
        for j in range(m)
    )
    terms = " + ".join(
        f"""(list_dot_product(q.q[{j * dsub + 1}:{(j + 1) * dsub}],
                 q.q[{j * dsub + 1}:{(j + 1) * dsub}])
             - 2 * list_dot_product(q.q[{j * dsub + 1}:{(j + 1) * dsub}],
                                    b{j}.cv)
             + list_dot_product(b{j}.cv, b{j}.cv))"""
        for j in range(m)
    )
    return (
        "WITH " + ",\n".join(ctes)
        + f""",
        scored AS (
            SELECT q.query_id, s0.vec_id AS neighbor_id,
                   round({terms}, {ndp}) AS adc_dist
            FROM {joins}{book_joins}
            CROSS JOIN qv q
        )
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
            SELECT query_id, neighbor_id, adc_dist,
                   CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_dist ASC, neighbor_id ASC)
                       AS INTEGER) AS rank
            FROM scored)
        WHERE rank <= {topk}
        ORDER BY query_id, rank
        """
    )


def _kmeans_oracle_sql(
    k: int = 8, iters: int = 2, ndp: int = 6, tail: str | None = None
) -> str:
    """See _kmeans_ctes; single-chain wrapper kept for the kmeans /
    semdedup oracles."""
    ctes = _kmeans_ctes(k, iters, ndp)
    if tail is None:
        tail = "\nSELECT vec_id, cluster, dist FROM afinal ORDER BY vec_id"
    return "WITH " + ",\n".join(ctes) + tail


def _pq_oracle_sql(
    m: int = 4, dsub: int = 16, k: int = 8, iters: int = 2, ndp: int = 6
) -> str:
    """PQ oracle: one independent kmeans chain per subspace over the
    sliced vector (DuckDB 1-based inclusive slice == Spark
    F.slice(start, length)), joined on vec_id; qerr sums the subspace
    dists left-to-right exactly like the Spark projection."""
    ctes: list[str] = []
    for j in range(m):
        lo, hi = j * dsub + 1, (j + 1) * dsub
        ctes.extend(
            _kmeans_ctes(
                k, iters, ndp, prefix=f"s{j}",
                vec_expr=f"(embedding::DOUBLE[])[{lo}:{hi}]",
            )
        )
    joins = "s0afinal s0" + "".join(
        f" JOIN s{j}afinal s{j} USING (vec_id)" for j in range(1, m)
    )
    codes = ", ".join(f"s{j}.cluster AS code_{j}" for j in range(m))
    err = " + ".join(f"s{j}.dist" for j in range(m))
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, {codes}, round({err}, {ndp}) AS qerr"
        + f"\nFROM {joins}"
    )


# pq_assign: per-subspace retrained codebooks over sliced
# vectors; see _pq_oracle_sql
@query(oracle=_pq_oracle_sql(m=4, dsub=16, k=8, iters=2))
def q_pq_assign(spark, sf):
    """Product-quantization codes: 4 subspaces x 16 dims, 8 centroids
    each, 2 Lloyd iterations — deterministic end to end (no RNG), so
    the oracle retrains the identical codebooks."""
    from dandi_s3_log_parser_spark.operators.similarity import pq_assign

    return pq_assign(
        _load_spread(spark, sf, "embeddings"), m=4, k=8, iters=2
    )


# encode_tokens: identical tokenization, top-100 vocab cut
# (count desc, token asc), md5-derived ids, oov->0, per-doc
# order-preserving csv assembly
@query(oracle=f"""
            WITH d AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       ) AS words
                FROM documents
            ), uc AS (
                SELECT w, count(*) AS c
                FROM (SELECT unnest(words) AS w FROM d) GROUP BY w
                ORDER BY c DESC, w ASC LIMIT 100
            ), v AS (
                SELECT w,
                       CAST(concat('0x', substr(md5(w), 1, 8))
                           AS BIGINT) % 999999 + 1 AS tid
                FROM uc
            ), inst AS (
                SELECT doc_id, t.i AS pos, words[t.i] AS w
                FROM d, unnest(generate_series(1, len(words))) AS t(i)
            ), enc AS (
                SELECT inst.doc_id, inst.pos,
                       coalesce(v.tid, 0) AS tid
                FROM inst LEFT JOIN v USING (w)
            ), s AS (
                SELECT doc_id, count(*) AS cnt,
                       string_agg(CAST(tid AS VARCHAR), ','
                                  ORDER BY pos) AS csv
                FROM enc GROUP BY doc_id
            )
            SELECT doc.doc_id,
                   CAST(coalesce(s.cnt, 0) AS BIGINT) AS n_tokens,
                   coalesce(s.csv, '') AS ids_csv
            FROM documents doc LEFT JOIN s USING (doc_id)
        """)
def q_encode_tokens(spark, sf):
    """Vocab-id encoding with a corpus-trained top-100 vocabulary
    (md5-derived ids — no window needed to number the vocab); ids
    emitted as a csv string because the cross-engine hash compare
    cannot canonicalize array columns."""
    from dandi_s3_log_parser_spark.operators.curation import encode_tokens
    from dandi_s3_log_parser_spark.operators.dedup import word_tokens

    docs = _load_spread(spark, sf, "documents")
    top = (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("w"))
        .limit(100)
    )
    vocab = top.select(
        F.col("w").alias("token"),
        (
            # % 999999 + 1 (same mapping as cli.py --encode-vocab): id 0
            # stays reserved for OOV so a real token can never collide
            # with <unk> (round-4 ADVICE)
            md5_prefix(F.col("w"), 8).cast("long") % 999999 + 1
        ).alias("token_id"),
    )
    out = encode_tokens(docs, vocab, oov_id=0)
    return out.select(
        "doc_id",
        "n_tokens",
        F.concat_ws(
            ",", F.transform("ids", lambda x: x.cast("string"))
        ).alias("ids_csv"),
    )


# join_size_estimate: exact cardinality decomposition
# sum(cA*cB) + top contributors; the cum_share triangle-join
# running sum mirrors the Spark formulation (sum of ROUNDED
# shares)
@query(oracle="""
            WITH ca AS (
                SELECT CAST(o_orderkey AS VARCHAR) AS key,
                       count(*) AS ca FROM orders
                WHERE o_orderkey IS NOT NULL GROUP BY 1
            ), cb AS (
                SELECT CAST(l_orderkey AS VARCHAR) AS key,
                       count(*) AS cb FROM lineitem
                WHERE l_orderkey IS NOT NULL GROUP BY 1
            ), contrib AS (
                SELECT ca.key, ca.ca * cb.cb AS contrib
                FROM ca JOIN cb USING (key)
            ), tot AS (
                SELECT sum(contrib) AS total FROM contrib
            ), top AS (
                SELECT key,
                       CAST(contrib AS BIGINT) AS contrib,
                       round(contrib * 1.0 / tot.total, 6) AS share
                FROM contrib CROSS JOIN tot
                ORDER BY contrib DESC, key ASC LIMIT 10
            ), cum AS (
                SELECT t.key, t.contrib, t.share,
                       round(sum(o.share), 6) AS cum_share
                FROM top t JOIN top o
                  ON o.contrib > t.contrib
                  OR (o.contrib = t.contrib AND o.key <= t.key)
                GROUP BY t.key, t.contrib, t.share
            )
            SELECT CAST(NULL AS VARCHAR) AS key,
                   CAST(coalesce(tot.total, 0) AS BIGINT) AS contrib,
                   1.0 AS share, CAST(NULL AS DOUBLE) AS cum_share
            FROM tot
            UNION ALL
            SELECT key, contrib, share, cum_share FROM cum
        """)
def q_join_size_estimate(spark, sf):
    """Pre-flight join diagnostics: exact orders-joins-lineitem output
    cardinality on o_orderkey/l_orderkey + the 10 dominating keys."""
    from dandi_s3_log_parser_spark.operators.diagnostics import (
        join_size_estimate,
    )

    o = _load(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = _load(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    return join_size_estimate(o, li, "k", topn=10)


# pq_adc_topk: deterministic end to end — full independent
# recompute of codebooks, codes, tables, distances, and ranks
@query(oracle=_pq_adc_oracle_sql(m=4, dsub=16, k=8, iters=2))
def q_pq_adc_topk(spark, sf):
    """PQ asymmetric-distance top-10 for queries vec_id<3 — unlike the
    LSH/IVF ANN queries this one is deterministic end to end, so the
    oracle recomputes codes, tables, distances, and ranks exactly."""
    from dandi_s3_log_parser_spark.operators.similarity import pq_adc_topk

    emb = _load_spread(spark, sf, "embeddings")
    return pq_adc_topk(
        emb, emb.filter(F.col("vec_id") < 3).withColumnRenamed(
            "vec_id", "query_id"
        ),
        m=4, k=8, iters=2, topk=10,
    )


# cms_heavy_hitters: the sketch is md5-deterministic, so the
# oracle rebuilds the IDENTICAL depth*width table and the value
# hash covers the estimates themselves
@query(oracle="""
            WITH inst AS (
                SELECT unnest(list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       )) AS v
                FROM documents
            ), hashed AS (
                SELECT v, t.d,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(t.d AS VARCHAR), '|', v)), 1, 8))
                           AS BIGINT) % 512 AS b
                FROM inst, unnest([0, 1, 2, 3]) AS t(d)
            ), sketch AS (
                SELECT d, b, count(*) AS c FROM hashed GROUP BY d, b
            ), top AS (
                SELECT v, count(*) AS exact_count
                FROM inst GROUP BY v
                ORDER BY exact_count DESC, v ASC LIMIT 30
            ), probes AS (
                SELECT top.v, top.exact_count, t.d,
                       CAST(concat('0x', substr(md5(concat(
                           CAST(t.d AS VARCHAR), '|', top.v)), 1, 8))
                           AS BIGINT) % 512 AS b
                FROM top, unnest([0, 1, 2, 3]) AS t(d)
            )
            SELECT probes.v AS value,
                   CAST(probes.exact_count AS BIGINT) AS exact_count,
                   CAST(min(sketch.c) AS BIGINT) AS cms_estimate,
                   min(sketch.c) >= probes.exact_count AS ge_ok
            FROM probes JOIN sketch USING (d, b)
            GROUP BY probes.v, probes.exact_count
            ORDER BY exact_count DESC, value ASC
        """)
def q_cms_heavy_hitters(spark, sf):
    """Count-min sketch over document token instances, self-checked on
    the exact top-30 tokens (md5-deterministic sketch: the oracle
    recomputes the identical estimates, not just a pass flag)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        cms_frequency_check,
    )
    from dandi_s3_log_parser_spark.operators.dedup import word_tokens

    inst = _load_spread(spark, sf, "documents").select(
        F.explode(word_tokens(F.col("text"))).alias("tok")
    )
    return cms_frequency_check(inst, "tok", width=512, depth=4, topk=30)


# shared CTE chain: corpus bigram LM scoring (identical
# tokenization, bigram construction, and Jelinek-Mercer
# interpolation 0.75*c12/c1 + 0.25*c2/N, same left-to-right FP
# association); used by bigram_logprob and ccnet_buckets
_BIGRAM_NLL_CTES = """
            WITH d AS (
                SELECT doc_id,
                       list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       ) AS words
                FROM documents
            ), uc AS (
                SELECT w, count(*) AS c
                FROM (SELECT unnest(words) AS w FROM d) GROUP BY w
            ), nu AS (
                SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uc
            ), bgi AS (
                SELECT doc_id, words,
                       unnest(generate_series(1, len(words) - 1)) AS i
                FROM d
            ), inst AS (
                SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
                FROM bgi
            ), bi AS (
                SELECT w1, w2, count(*) AS c12
                FROM inst GROUP BY w1, w2
            ), s AS (
                SELECT inst.doc_id,
                       count(*) AS nb,
                       avg(-ln(
                           0.75 * bi.c12 / ca.c + 0.25 * cb.c / nu.n_uni
                       )) AS nll
                FROM inst
                JOIN bi USING (w1, w2)
                JOIN uc ca ON ca.w = inst.w1
                JOIN uc cb ON cb.w = inst.w2
                CROSS JOIN nu
                GROUP BY inst.doc_id
            )
    """


# ccnet_buckets: same scored table, tertile cutpoints via
# quantile_cont (same (n-1)*p interpolation as Spark's
# percentile - the length_quantiles precedent), <= boundary to
# the lower bucket in both engines; NULL bucket for unscored
@query(oracle=_BIGRAM_NLL_CTES + """
            , scored AS (
                SELECT doc.doc_id,
                       CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
                       round(s.nll, 4) AS nll
                FROM documents doc LEFT JOIN s USING (doc_id)
            ), cuts AS (
                SELECT quantile_cont(nll, [1.0/3.0, 2.0/3.0]) AS c
                FROM scored WHERE nll IS NOT NULL
            )
            SELECT doc_id, n_bigrams, nll,
                   CASE WHEN nll IS NULL THEN NULL
                        WHEN nll <= c[1] THEN 'head'
                        WHEN nll <= c[2] THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM scored CROSS JOIN cuts
        """)
def q_ccnet_buckets(spark, sf):
    """CCNet head/middle/tail corpus split by bigram-LM perplexity
    tertiles (Wenzek et al. 2020; the in-corpus bigram LM stands in
    for CCNet's external KenLM).  Two-row percentile aggregate + 1-row
    broadcast atop the bigram_logprob plan; no sort, no window."""
    from dandi_s3_log_parser_spark.operators.curation import ccnet_buckets

    return ccnet_buckets(_load_spread(spark, sf, "documents"), lam=0.75)


# bigram_logprob: identical tokenization, bigram construction,
# and Jelinek-Mercer interpolation (0.75*c12/c1 + 0.25*c2/N,
# same left-to-right FP association); avg rounded to 4 dp; NULL
# nll for <2-token docs in both engines
@query(oracle=_BIGRAM_NLL_CTES + """
            SELECT doc.doc_id,
                   CAST(coalesce(s.nb, 0) AS BIGINT) AS n_bigrams,
                   round(s.nll, 4) AS nll
            FROM documents doc LEFT JOIN s USING (doc_id)
        """)
def q_bigram_logprob(spark, sf):
    """Interpolated corpus bigram-LM perplexity proxy (lam=0.75 so
    1-lam is FP-exact in both engines)."""
    from dandi_s3_log_parser_spark.operators.curation import bigram_logprob

    return bigram_logprob(_load_spread(spark, sf, "documents"), lam=0.75)


# quality_classifier: identical md5 hashing trick (8-hex bucket,
# 6-hex weight draw), identical left-join-0 + mean -> sigmoid;
# the mean is rounded BEFORE the sigmoid in both engines so the
# logistic runs on the identical 4-dp double
@query(oracle=f"""
            WITH w AS (
                SELECT CAST(b AS BIGINT) AS bucket,
                       CAST(concat('0x', substr(md5(concat('w|',
                           CAST(b AS VARCHAR))), 1, 6)) AS BIGINT)
                           / 16777216.0 * 2 - 1 AS weight
                FROM range(4096) t(b)
            ), toks AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(x), 1, 8))
                           AS BIGINT) % 4096 AS bucket
                FROM documents, unnest({_TOKS_LOWER}) AS u(x)
            ), s AS (
                SELECT toks.doc_id,
                       count(*) AS n_tokens,
                       avg(coalesce(w.weight, 0.0)) AS mw
                FROM toks LEFT JOIN w USING (bucket)
                GROUP BY toks.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   round(coalesce(s.mw, 0.0), 4) + 0.0 AS mean_w,
                   round(1.0 / (1.0 + exp(
                       -round(coalesce(s.mw, 0.0), 4))), 4) AS score
            FROM documents d LEFT JOIN s USING (doc_id)
        """)
def q_quality_classifier(spark, sf):
    """Hashed-feature linear quality classifier inference (fastText
    shape): md5 hashing trick into 4096 buckets, broadcast weight
    join, per-doc mean -> sigmoid.  Weights are the deterministic
    md5-derived synthetic table (a real deployment swaps in trained
    weights with the same schema)."""
    from dandi_s3_log_parser_spark.operators.classify import (
        hash_weights,
        linear_quality_score,
    )

    return linear_quality_score(
        _load_spread(spark, sf, "documents"),
        hash_weights(spark, 4096),
        n_buckets=4096,
    )


# pmi_collocations: same probability decomposition and the
# identical arithmetic shape (ratio-of-ratios inside one log2),
# ordered on the ROUNDED pmi with (w1, w2) tie-break so the
# top-k cut is engine-stable
@query(oracle="""
            WITH d AS (
                SELECT list_filter(
                           string_split_regex(lower(text), '\\s+'),
                           x -> x <> ''
                       ) AS words
                FROM documents
            ), uc AS (
                SELECT w, count(*) AS c
                FROM (SELECT unnest(words) AS w FROM d) GROUP BY w
            ), nu AS (
                SELECT sum(c) AS n_uni FROM uc
            ), bgi AS (
                SELECT words,
                       unnest(generate_series(1, len(words) - 1)) AS i
                FROM d
            ), bi_all AS (
                SELECT words[i] AS w1, words[i + 1] AS w2,
                       count(*) AS pair_count
                FROM bgi GROUP BY 1, 2
            ), nb AS (
                SELECT sum(pair_count) AS n_bi FROM bi_all
            ), bi AS (
                SELECT * FROM bi_all WHERE pair_count >= 5
            )
            SELECT bi.w1, bi.w2, bi.pair_count,
                   round(log2(
                       (bi.pair_count * 1.0 / n_bi)
                       / ((ca.c * 1.0 / n_uni) * (cb.c * 1.0 / n_uni))
                   ), 6) AS pmi
            FROM bi
            JOIN uc ca ON ca.w = bi.w1
            JOIN uc cb ON cb.w = bi.w2
            CROSS JOIN nb CROSS JOIN nu
            ORDER BY pmi DESC, w1, w2
            LIMIT 50
        """)
def q_pmi_collocations(spark, sf):
    """Top-50 bigram collocations by PMI (pairs seen >=5 times)."""
    from dandi_s3_log_parser_spark.operators.curation import pmi_collocations

    return pmi_collocations(
        _load_spread(spark, sf, "documents"), min_count=5, topk=50
    )


# char_entropy: same one-aggregate identity
# log2(n) - sum(c*log2(c))/n over per-character counts; the
# ch <> '' guard mirrors Spark's empty-string -> empty-array
# explode (DuckDB's string_split('', '') yields [''])
@query(oracle="""
            WITH ch AS (
                SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents
            ), per AS (
                SELECT doc_id, ch, count(*) AS cnt
                FROM ch WHERE ch <> '' GROUP BY doc_id, ch
            ), agg AS (
                SELECT doc_id, sum(cnt) AS n_chars,
                       log2(sum(cnt))
                           - sum(cnt * log2(cnt)) / sum(cnt) AS h
                FROM per GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(agg.n_chars, 0) AS BIGINT) AS n_chars,
                   coalesce(round(h, 6), 0.0) AS entropy
            FROM documents d LEFT JOIN agg USING (doc_id)
            ORDER BY doc_id
        """)
def q_char_entropy(spark, sf):
    """Per-document character-distribution Shannon entropy (bits)."""
    from dandi_s3_log_parser_spark.operators.curation import char_entropy

    return char_entropy(_load_spread(spark, sf, "documents")).orderBy("doc_id")


# burst_detect: identical value-based RANGE frame over
# microsecond epochs; ties are peers in both engines so the
# trailing count is order-stable
@query(oracle="""
            WITH c AS (
                SELECT user_id, event_id, ts,
                       count(*) OVER (
                           PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 86400000000 PRECEDING
                                     AND CURRENT ROW
                       ) AS trailing_count
                FROM events
            )
            SELECT user_id, event_id, ts, trailing_count
            FROM c WHERE trailing_count >= 8
            ORDER BY user_id, event_id
        """)
def q_burst_detect(spark, sf):
    """Trailing 24h RANGE-frame rate limit on the events stream:
    events whose user hit >=8 events in the prior day (incl. self)."""
    from dandi_s3_log_parser_spark.operators.anomaly import burst_detect

    return burst_detect(
        _load(spark, sf, "events"),
        window_seconds=86400,
        threshold=8,
    ).orderBy("user_id", "event_id")


# interval_overlap_join: the oracle runs the DIRECT overlap
# theta-join (affordable at oracle scale); the Spark side must
# produce the identical pair set through the bucketized
# equi-join + emit-once formulation
@query(oracle="""
            WITH l AS (
                SELECT user_id, event_id AS l_id, ts AS s,
                       ts + INTERVAL 120 MINUTE AS e
                FROM events
                WHERE event_type = 'view'
                  AND ts < TIMESTAMP '2024-01-08 00:00:00'
            ), r AS (
                SELECT user_id, event_id AS r_id, ts AS s,
                       ts + INTERVAL 120 MINUTE AS e
                FROM events
                WHERE event_type = 'click'
                  AND ts < TIMESTAMP '2024-01-08 00:00:00'
            )
            SELECT l.user_id, l.l_id, r.r_id,
                   greatest(l.s, r.s) AS overlap_start,
                   least(l.e, r.e) AS overlap_end
            FROM l JOIN r
              ON l.user_id = r.user_id AND l.s <= r.e AND r.s <= l.e
            ORDER BY l_id, r_id
        """)
def q_interval_overlap_join(spark, sf):
    """Bucketized interval-overlap join: first week's view intervals x
    click intervals (each event padded to a 120-minute window) within
    the same user; hour buckets -> 3-bucket explode per interval."""
    from dandi_s3_log_parser_spark.operators.asof import interval_overlap_join

    ev = _load(spark, sf, "events").filter(
        F.col("ts") < F.lit("2024-01-08").cast("timestamp")
    )

    def mk(typ):
        return ev.filter(F.col("event_type") == typ).select(
            "user_id",
            F.col("event_id").alias("id"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 120 MINUTES")).alias("end"),
        )

    return interval_overlap_join(
        mk("view"), mk("click"), key_col="user_id", bucket_seconds=3600
    ).orderBy("l_id", "r_id")


# approx_quantiles: the oracle recomputes the EXACT interpolated
# quantiles (same p*(n-1) rank-linear definition) and pins every
# bracket check TRUE — a GK sketch drifting past its 1/accuracy
# rank guarantee breaks the value hash like a wrong answer
# (mirrors the approx_distinct self-check pattern)
@query(oracle="""
            SELECT lang,
                   count(*) AS n,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.5), 4)
                       AS p50,
                   TRUE AS p50_ok,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.9), 4)
                       AS p90,
                   TRUE AS p90_ok,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.99), 4)
                       AS p99,
                   TRUE AS p99_ok
            FROM documents GROUP BY lang ORDER BY lang
        """)
def q_approx_quantiles(spark, sf):
    """GK quantile sketch (accuracy=50 -> 2% guaranteed rank error, so
    the sketch is genuinely approximate even at oracle scale) bracket-
    checked against the exact interpolated quantiles at p +/- 4%."""
    from dandi_s3_log_parser_spark.operators.curation import (
        approx_quantile_check,
    )

    return approx_quantile_check(
        _load(spark, sf, "documents"), "lang", "n_chars", accuracy=50
    )


# jusText-lite boilerplate strip: independent full recompute —
# newline paragraphs -> 25-word blocks -> stopword-density keep
# rule -> ordered reassembly; mirrors
# operators/curation.boilerplate_strip (block_words=25,
# min_stopword_ratio=0.08, min_words=5)
@query(oracle=f"""
            WITH d AS (
                SELECT doc_id,
                       list_filter(string_split_regex(text, '\\n+'),
                                   p -> trim(p) <> '') AS paras
                FROM documents
            ), p AS (
                SELECT doc_id, paras,
                       unnest(generate_series(1, len(paras))) AS pi
                FROM d
            ), pw AS (
                SELECT doc_id, pi,
                       list_filter(string_split_regex(paras[pi], '\\s+'),
                                   x -> x <> '') AS words
                FROM p
            ), si AS (
                SELECT doc_id, pi, words,
                       unnest(generate_series(
                           0, CAST(ceil(len(words) / 25.0) AS BIGINT) - 1
                       )) AS s
                FROM pw
            ), m AS (
                SELECT doc_id, pi, s,
                       array_to_string(
                           list_slice(words, s*25 + 1, s*25 + 25), ' '
                       ) AS seg,
                       len(list_slice(words, s*25 + 1, s*25 + 25)) AS nw,
                       len(list_filter(
                           list_slice(words, s*25 + 1, s*25 + 25),
                           w -> lower(w) IN ({_EN})
                       )) AS hits
                FROM si
            ), agg AS (
                SELECT doc_id,
                       count(*) AS n_segments,
                       count(*) FILTER (
                           WHERE nw >= 5 AND hits * 1.0 / nw >= 0.08
                       ) AS n_kept,
                       coalesce(string_agg(seg, ' ' ORDER BY pi, s)
                           FILTER (
                               WHERE nw >= 5 AND hits * 1.0 / nw >= 0.08
                           ), '') AS clean_text
                FROM m GROUP BY doc_id
            )
            SELECT dd.doc_id,
                   coalesce(agg.clean_text, '') AS clean_text,
                   coalesce(agg.n_segments, 0) AS n_segments,
                   coalesce(agg.n_kept, 0) AS n_kept,
                   CASE WHEN coalesce(agg.n_segments, 0) > 0
                        THEN round(1 - agg.n_kept * 1.0 / agg.n_segments, 4)
                   END AS boilerplate_frac
            FROM documents dd LEFT JOIN agg USING (doc_id)
            ORDER BY doc_id
        """)
def q_boilerplate_strip(spark, sf):
    """jusText-lite boilerplate stripping: 25-word block segments, keep
    iff >=5 words and stopword ratio >=0.08 (calibrated to the synthetic
    corpus's block-ratio histogram so both classes are non-empty)."""
    from dandi_s3_log_parser_spark.operators.curation import boilerplate_strip

    return boilerplate_strip(
        _load_spread(spark, sf, "documents"),
        block_words=25,
        min_stopword_ratio=0.08,
        min_words=5,
    ).orderBy("doc_id")


# corpus-level line dedup: same 2-token chunking as
# repetition_metrics, full df + reassembly recompute — the
# compared value is the exact surviving text bytes
@query(oracle="""
            WITH t AS (
                SELECT doc_id, {toks} AS toks FROM documents
            ), chunked AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           range(1, CAST(ceil(len(toks) / 2.0) AS INT) + 1),
                           i -> array_to_string(toks[(i-1)*2+1 : i*2], ' ')
                       ), chr(10)) AS text
                FROM t
            ), lines AS (
                SELECT doc_id, i.i - 1 AS pos, l[i.i] AS line
                FROM (SELECT doc_id, string_split(text, chr(10)) AS l
                      FROM chunked),
                     unnest(range(1, len(l) + 1)) AS i(i)
            ), linedf AS (
                SELECT line, count(DISTINCT doc_id) AS d
                FROM lines WHERE line <> '' GROUP BY line
            ), common AS (
                SELECT line FROM linedf
                WHERE d > (SELECT count(*) FROM documents) * 0.035
            ), kept AS (
                SELECT * FROM lines
                WHERE line NOT IN (SELECT line FROM common)
            ), surv AS (
                SELECT doc_id, count(*) AS kept_lines,
                       string_agg(line, chr(10) ORDER BY pos) AS text
                FROM kept GROUP BY doc_id
            ), tot AS (
                SELECT doc_id,
                       len(string_split(text, chr(10))) AS total
                FROM chunked
            )
            SELECT tot.doc_id,
                   CAST(coalesce(s.kept_lines, 0) AS BIGINT) AS kept_lines,
                   CAST(tot.total - coalesce(s.kept_lines, 0) AS BIGINT)
                       AS removed_lines,
                   coalesce(s.text, '') AS text
            FROM tot LEFT JOIN surv s USING (doc_id)
            ORDER BY doc_id
        """.format(toks=_TOKS))
def q_corpus_line_dedup(spark, sf):
    """CCNet-style corpus-level boilerplate removal: lines occurring in
    more than 3.5% of documents are stripped from every document, which
    is then re-assembled from its surviving lines in original order.
    The df aggregation shuffles (digest, doc_id) only; the verified
    quantity is the exact re-assembled text bytes per document.
    (3.5% measured non-degenerate at BOTH sf0.01 — 221 boilerplate
    lines — and sf0.1 — 8 lines / 1,433 removals.)"""
    from dandi_s3_log_parser_spark.operators.curation import corpus_line_dedup

    d = _load_spread(spark, sf, "documents")
    # one metadata-sized count to fix the absolute df threshold (3.5%)
    threshold = int(d.count() * 0.035)
    return corpus_line_dedup(
        _chunk_2tok(d), max_doc_freq=threshold
    ).orderBy("doc_id")


# Gopher top-2-gram fraction: adjacent lowercase token pairs
@query(oracle=f"""
            WITH b AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}), 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                       )) AS bigram
                FROM documents
                WHERE len({_TOKS_LOWER}) >= 2
            ), per_bigram AS (
                SELECT doc_id, bigram, count(*) AS cnt
                FROM b GROUP BY doc_id, bigram
            ), agg AS (
                SELECT doc_id,
                       CAST(sum(cnt) AS BIGINT) AS bigram_count,
                       max(cnt) AS top_cnt
                FROM per_bigram GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(a.bigram_count, 0) AS bigram_count,
                   round(coalesce(
                       CAST(a.top_cnt AS DOUBLE) / a.bigram_count, 0.0),
                       6) AS top_bigram_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """)
def q_top_bigram_fraction(spark, sf):
    """Gopher top-2-gram boilerplate fraction per document."""
    from dandi_s3_log_parser_spark.operators.curation import top_bigram_fraction

    return top_bigram_fraction(_load(spark, sf, "documents"))


# md5-bucket split: identical md5 text bytes in both engines
@query(oracle="""
            SELECT CASE
                     WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                                   1, 4)) AS INTEGER) % 100 < 90
                       THEN 'train'
                     WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                                   1, 4)) AS INTEGER) % 100 < 95
                       THEN 'val'
                     ELSE 'test'
                   END AS split,
                   count(*) AS docs,
                   CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY 1
        """)
def q_hash_split(spark, sf):
    """Deterministic md5-bucket train/val/test split, verified through
    the per-split document and char totals (any per-row assignment
    flip shifts the aggregate)."""
    from dandi_s3_log_parser_spark.operators.curation import hash_split

    d = hash_split(_load(spark, sf, "documents"))
    return d.groupBy("split").agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )


_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}


# per-source mix: the identical md5-derived uniform on both
# engines makes the surviving row set bit-reproducible
@query(oracle="""
            SELECT doc_id, source FROM documents
            WHERE CAST(concat('0x',
                       substr(md5('mix-v1|' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) / 4294967296.0
                  < CASE source
                      WHEN 'src0' THEN 1.0
                      WHEN 'src1' THEN 0.5
                      WHEN 'src2' THEN 0.25
                      WHEN 'src3' THEN 0.1
                      ELSE 0.05
                    END
            ORDER BY doc_id
        """)
def q_stratified_sample(spark, sf):
    """Deterministic per-source corpus mixing: md5-uniform draw per doc
    vs a per-source keep rate.  The oracle recomputes the identical
    md5 draw, so the verified quantity is the exact surviving ROW SET,
    not just counts."""
    from dandi_s3_log_parser_spark.operators.curation import stratified_sample

    d = _load(spark, sf, "documents")
    return (
        stratified_sample(d, _MIX_RATES, default_rate=0.05)
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# curation funnel: same first-failing-rule CASE chain, same
# round-4 quality formula as the quality_score oracle; the
# cumulative window runs over the 4-row result
@query(oracle="""
            WITH v AS (
                SELECT CASE
                    WHEN n_chars < 100 THEN 'too_short'
                    WHEN lang <> 'en' THEN 'wrong_lang'
                    WHEN round((least(length(text) / 500.0, 1.0)
                        + least(CASE WHEN len({toks_lower}) > 0
                                THEN len(list_filter({toks_lower},
                                         x -> x IN ({_EN})))
                                     / CAST(len({toks_lower}) AS DOUBLE)
                                ELSE 0.0 END * 4.0, 1.0)
                        + greatest(0.0, 1.0 - CASE WHEN length(text) > 0
                            THEN (length(text) - length(regexp_replace(text,
                                 '[^\\w\\s]', '', 'g')))
                                 / CAST(length(text) AS DOUBLE)
                            ELSE 0.0 END * 4.0)) / 3.0, 4) < 0.55
                        THEN 'low_quality'
                    ELSE 'survived' END AS rule
                FROM documents
            ), c AS (
                SELECT rule, count(*) AS n FROM v GROUP BY rule
            ), dim(stage, rule) AS (
                VALUES (1, 'too_short'), (2, 'wrong_lang'),
                       (3, 'low_quality'), (4, 'survived')
            )
            SELECT stage, dim.rule,
                   CAST(coalesce(c.n, 0) AS BIGINT) AS docs,
                   CAST((SELECT count(*) FROM documents)
                        - sum(CASE WHEN dim.rule <> 'survived'
                                   THEN coalesce(c.n, 0) ELSE 0 END)
                          OVER (ORDER BY stage ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS remaining
            FROM dim LEFT JOIN c USING (rule)
            ORDER BY stage
        """.format(toks_lower=_TOKS_LOWER, _EN=_EN))
def q_curation_funnel(spark, sf):
    """C4-style curation funnel: one scan, each doc attributed to its
    first failing rule (length -> language -> quality), per-rule drop
    and remaining counts.  Quality is compared on the round-4 value —
    the quantity the quality_score parity already proves bit-equal —
    so the threshold can never flip on a cross-engine ulp."""
    from dandi_s3_log_parser_spark.functions.text import quality_score
    from dandi_s3_log_parser_spark.operators.curation import curation_funnel

    d = _load_spread(spark, sf, "documents")
    rules = [
        ("too_short", F.col("n_chars") < 100),
        ("wrong_lang", F.col("lang") != "en"),
        ("low_quality", F.round(quality_score(F.col("text")), 4) < 0.55),
    ]
    return curation_funnel(d, rules)


_UPSAMPLE_W = {"src0": 2.5, "src1": 1.0, "src2": 0.5, "src3": 3.0}


# weighted upsampling: identical md5 uniform + binary-exact
# weight fractions -> exact (doc, epoch) multiset equality
@query(oracle="""
            WITH w AS (
                SELECT doc_id, source,
                       CASE source
                         WHEN 'src0' THEN 2.5
                         WHEN 'src1' THEN 1.0
                         WHEN 'src2' THEN 0.5
                         WHEN 'src3' THEN 3.0
                         ELSE 1.0
                       END AS wt,
                       CAST(concat('0x',
                           substr(md5('upsample-v1|' || CAST(doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) / 4294967296.0 AS u
                FROM documents
            ), n AS (
                SELECT doc_id, source,
                       CAST(floor(wt) AS BIGINT)
                       + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS nc
                FROM w
            )
            SELECT doc_id, source, CAST(i.i AS BIGINT) AS epoch
            FROM n, unnest(range(0, nc)) AS i(i)
            WHERE nc > 0
            ORDER BY doc_id, epoch
        """)
def q_upsample_corpus(spark, sf):
    """Weighted corpus mixing WITH repetition (the upsampling half of
    data mixing): weight w emits floor(w) copies + one more with
    probability frac(w), from the same md5 uniform as
    stratified_sample.  All weight fractions are binary-exact (.0/.5)
    so the float compare is bit-identical across engines; the verified
    quantity is the exact emitted (doc, epoch) multiset."""
    from dandi_s3_log_parser_spark.operators.curation import upsample_corpus

    d = _load(spark, sf, "documents")
    return (
        upsample_corpus(d, _UPSAMPLE_W, default_weight=1.0)
        .select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))
        .orderBy("doc_id", "epoch")
    )


# corpus heavy-hitters: full token frequency recompute
@query(oracle="""
            SELECT t AS token,
                   CAST(count(*) AS BIGINT) AS tf,
                   CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM (SELECT doc_id, unnest({toks_lower}) AS t FROM documents)
            GROUP BY t
            ORDER BY tf DESC, token
            LIMIT 50
        """.format(toks_lower=_TOKS_LOWER))
def q_vocab_topk(spark, sf):
    """Corpus-level token frequency (tokenizer-training precursor /
    heavy-hitters): top 50 tokens by total count with document
    frequency.  Token-keyed hash aggregate with map-side combine; the
    ordered limit plans as TakeOrderedAndProject — per-partition top-k,
    no global sort of the vocabulary."""
    from dandi_s3_log_parser_spark.operators.dedup import word_tokens

    d = _load_spread(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.count_distinct("doc_id").cast("long").alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(50)
    )


# KL needs no OOV correction (corpus contains every source
# token); the JS corpus-side OOV tail is the closed form
# (1 - coverage) * ln 2 — mirrored from the operator docstring
@query(oracle=f"""
            WITH toks AS (
                SELECT source,
                       unnest({_TOKS_LOWER}) AS tok
                FROM documents
            ), per AS (
                SELECT source, tok, count(*) AS s_cnt
                FROM toks GROUP BY source, tok
            ), vocab AS (
                SELECT tok, sum(s_cnt) AS c_cnt FROM per GROUP BY tok
            ), st AS (
                SELECT source, sum(s_cnt) AS s_tot FROM per GROUP BY source
            ), tot AS (
                SELECT CAST(sum(c_cnt) AS DOUBLE) AS c_tot FROM vocab
            )
            SELECT p.source,
                   CAST(st.s_tot AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size,
                   round(sum(v.c_cnt / tt.c_tot), 6) AS coverage,
                   round(sum((p.s_cnt / st.s_tot)
                             * ln((p.s_cnt / st.s_tot)
                                  / (v.c_cnt / tt.c_tot))), 6) AS kl,
                   round(0.5 * sum((p.s_cnt / st.s_tot)
                                   * ln((p.s_cnt / st.s_tot)
                                        / (((p.s_cnt / st.s_tot)
                                            + (v.c_cnt / tt.c_tot)) / 2)))
                         + 0.5 * (sum((v.c_cnt / tt.c_tot)
                                      * ln((v.c_cnt / tt.c_tot)
                                           / (((p.s_cnt / st.s_tot)
                                               + (v.c_cnt / tt.c_tot)) / 2)))
                                  + (1 - sum(v.c_cnt / tt.c_tot)) * ln(2)),
                         6) AS js
            FROM per p
            JOIN vocab v USING (tok)
            JOIN st USING (source), tot tt
            GROUP BY p.source, st.s_tot
            ORDER BY p.source
        """)
def q_source_divergence(spark, sf):
    """Per-source KL / Jensen-Shannon divergence vs the pooled corpus
    unigram distribution (data-mixture weighting diagnostic).  Single
    tokenize; the corpus vocabulary derives from the per-source counts;
    the out-of-vocabulary tail of the corpus-side JS term collapses to
    the closed form (1-coverage)*ln2, so no outer join is built (see
    operator docstring)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        source_divergence,
    )

    return source_divergence(_load_spread(spark, sf, "documents")).orderBy(
        "source"
    )


# integer // mirrors the operator's explicit floor (Spark's
# double->long cast truncates; DuckDB's rounds)
@query(oracle=f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest({_TOKS_LOWER}) AS tok
                FROM documents
            ), doc_tok AS (
                SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
            ), firsts AS (
                SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
            ), mx AS (
                SELECT max(doc_id) AS max_doc FROM documents
            ), cps AS (
                SELECT DISTINCT CAST(mx.max_doc * k.k // 10 AS BIGINT)
                           AS checkpoint
                FROM mx, range(1, 11) AS k(k)
            ), tc AS (
                SELECT c.checkpoint,
                       CAST(count(*) AS BIGINT) AS cum_docs,
                       CAST(sum(d.n_tok) AS BIGINT) AS cum_tokens
                FROM doc_tok d JOIN cps c ON d.doc_id <= c.checkpoint
                GROUP BY c.checkpoint
            ), vc AS (
                SELECT c.checkpoint,
                       CAST(count(*) AS BIGINT) AS vocab_size
                FROM firsts f JOIN cps c ON f.first_doc <= c.checkpoint
                GROUP BY c.checkpoint
            )
            SELECT t.checkpoint, t.cum_docs, t.cum_tokens, v.vocab_size,
                   round(v.vocab_size / t.cum_tokens, 6) AS ttr
            FROM tc t JOIN vc v USING (checkpoint)
            ORDER BY t.checkpoint
        """)
def q_vocab_growth(spark, sf):
    """Heaps'-law vocabulary-growth curve at 10 doc-id checkpoints
    (corpus-health signal: vocabulary that keeps growing linearly is
    accumulating OCR garbage / random ids).  No window, no global sort:
    per-token first-doc and per-doc token counts fan out through a
    broadcast non-equi join against the 10-row threshold table."""
    from dandi_s3_log_parser_spark.operators.curation import vocab_growth

    return vocab_growth(_load_spread(spark, sf, "documents")).orderBy(
        "checkpoint"
    )


# closed-form OLS sums; ranks tie-break by token in both engines
@query(oracle=f"""
            WITH vocab AS (
                SELECT tok, count(*) AS cnt
                FROM (
                    SELECT unnest({_TOKS_LOWER}) AS tok
                    FROM documents
                )
                GROUP BY tok
                ORDER BY cnt DESC, tok
                LIMIT 100
            ), ranked AS (
                SELECT ln(CAST(row_number()
                               OVER (ORDER BY cnt DESC, tok) AS DOUBLE))
                           AS x,
                       ln(CAST(cnt AS DOUBLE)) AS y
                FROM vocab
            ), s AS (
                SELECT CAST(count(*) AS BIGINT) AS n,
                       sum(x) AS sx, sum(y) AS sy,
                       sum(x * y) AS sxy, sum(x * x) AS sxx,
                       sum(y * y) AS syy
                FROM ranked
            )
            SELECT n AS n_terms,
                   round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
                       AS slope,
                   round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                               * sx) / n, 6) AS intercept,
                   round((n * sxy - sx * sy) * (n * sxy - sx * sy)
                         / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
                       AS r2
            FROM s
        """)
def q_zipf_fit(spark, sf):
    """Zipf's-law fit (OLS of ln count on ln rank over the top-100
    vocabulary) — one-row corpus-health statistic.  Top-k plans as
    TakeOrderedAndProject; the only window runs over the 100 surviving
    rows; the fit is a single closed-form aggregate."""
    from dandi_s3_log_parser_spark.operators.curation import zipf_fit

    return zipf_fit(_load(spark, sf, "documents"))


# gram digest = md5-60 of the joined 3-gram, identical on both
# engines by construction (same formula as the simhash oracle)
@query(oracle=f"""
            WITH toks AS (
                SELECT source, {_TOKS_LOWER} AS t
                FROM documents
            ), grams AS (
                SELECT DISTINCT source,
                       CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT)
                           AS h
                FROM (
                    SELECT source,
                           unnest(list_transform(
                               range(1, greatest(len(t) - 1, 1)),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                           )) AS g
                    FROM toks
                )
            ), sizes AS (
                SELECT source, count(*) AS n FROM grams GROUP BY source
            ), common AS (
                SELECT a.source AS source_a, b.source AS source_b,
                       count(*) AS common
                FROM grams a JOIN grams b
                  ON a.h = b.h AND a.source < b.source
                GROUP BY 1, 2
            )
            SELECT c.source_a, c.source_b,
                   CAST(sa.n AS BIGINT) AS grams_a,
                   CAST(sb.n AS BIGINT) AS grams_b,
                   CAST(c.common AS BIGINT) AS common,
                   round(CAST(c.common AS DOUBLE)
                         / (sa.n + sb.n - c.common), 4) AS jaccard,
                   round(CAST(c.common AS DOUBLE)
                         / least(sa.n, sb.n), 4) AS containment
            FROM common c
            JOIN sizes sa ON c.source_a = sa.source
            JOIN sizes sb ON c.source_b = sb.source
            ORDER BY source_a, source_b
        """)
def q_cross_source_overlap(spark, sf):
    """Pairwise source-level 3-gram shingle overlap matrix (jaccard +
    containment) — the pre-dedup mixing diagnostic for which crawl
    slices duplicate each other.  One shingle pass; all exchanges carry
    (source, 60-bit digest); pair counts ride a shingle-keyed self
    equi-join whose fan-out is bounded by #sources^2 (dimension-sized).
    md5-60 token hash so the oracle recomputes the identical digest."""
    from dandi_s3_log_parser_spark.operators.curation import (
        cross_source_overlap,
    )
    from dandi_s3_log_parser_spark.operators.dedup import md5_token_hash_60

    return cross_source_overlap(
        _load(spark, sf, "documents"), token_hash=md5_token_hash_60
    )


@query(oracle="""
            SELECT doc_id, source,
                   CASE
                     WHEN CAST(concat('0x', substr(md5(source), 1, 4))
                               AS INTEGER) % 100 < 90 THEN 'train'
                     WHEN CAST(concat('0x', substr(md5(source), 1, 4))
                               AS INTEGER) % 100 < 95 THEN 'val'
                     ELSE 'test'
                   END AS split
            FROM documents ORDER BY doc_id
        """)
def q_group_split(spark, sf):
    """Leakage-safe grouped train/val/test split: every document of a
    source gets the same md5-bucket assignment, so intra-source
    near-dups can never straddle the split.  Pure projection — no
    shuffle, no join; byte-reproducible across engines and runs."""
    from dandi_s3_log_parser_spark.operators.curation import group_split

    return group_split(
        _load(spark, sf, "documents"), group_col="source"
    ).orderBy("doc_id")


# keeper = min(id) per digest; (dig, id) is unique in the
# augmented corpus (originals < 1e6, recrawls shifted by 1e6),
# so the keeper's source is a plain re-join, exactly the Spark
# min(struct(id, src)) semantics
@query(oracle="""
            WITH aug AS (
                SELECT doc_id, text, source FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text, 'recrawl_' || source
                FROM documents WHERE doc_id % 5 = 0
            ), d AS (
                SELECT md5(text) AS dig, doc_id AS id, source AS src
                FROM aug
            ), keeper AS (
                SELECT dig, min(id) AS kid FROM d GROUP BY dig
            ), kp AS (
                SELECT k.dig, k.kid, d.src AS ksrc
                FROM keeper k JOIN d ON d.dig = k.dig AND d.id = k.kid
            )
            SELECT kp.ksrc AS source_kept, d.src AS source_dropped,
                   CAST(count(*) AS BIGINT) AS dup_docs
            FROM d JOIN kp ON d.dig = kp.dig
            WHERE d.id <> kp.kid
            GROUP BY 1, 2 ORDER BY 1, 2
        """)
def q_dup_flow_by_source(spark, sf):
    """Cross-source exact-duplicate flow matrix on a corpus augmented
    with a deterministic planted re-crawl (every doc_id % 5 == 0 doc
    re-emitted under 'recrawl_<source>' with a shifted id) — which
    sources lose documents to which keepers under lowest-id-wins exact
    dedup.  One digest projection; one (digest, id, source) exchange
    shared by the keeper aggregate and the member join."""
    from dandi_s3_log_parser_spark.operators.curation import (
        dup_flow_by_source,
    )

    d = _load(spark, sf, "documents").select("doc_id", "text", "source")
    recrawl = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text",
        F.concat(F.lit("recrawl_"), F.col("source")).alias("source"),
    )
    return dup_flow_by_source(d.unionByName(recrawl))


@query(oracle="""
            SELECT doc_id, source, n_chars AS score,
                   round(percent_rank() OVER (
                       PARTITION BY source ORDER BY n_chars
                   ), 6) AS pct_in_source
            FROM documents
            WHERE n_chars IS NOT NULL
            ORDER BY doc_id
        """)
def q_score_percentile(spark, sf):
    """Per-source percentile normalization of a quality score (here
    n_chars) — the calibration that makes one global keep-threshold
    mean the same selection pressure on every crawl slice.  Exact
    percent_rank semantics WITHOUT a corpus-scale window: strictly-
    below counts ride a (source, score) histogram cumulated over the
    dimension-sized histogram only, joined back (broadcast by AQE when
    a side measures small)."""
    from dandi_s3_log_parser_spark.operators.curation import (
        score_percentile_by_source,
    )

    return score_percentile_by_source(
        _load(spark, sf, "documents"), score_col="n_chars"
    )


# TF-IDF keyword extraction: full recompute of tf, df, smooth
# idf (sklearn formulation), rounded-score ranking.  df/N over
# the whole corpus; only doc_id < 40 rows are compared.
@query(oracle="""
            WITH toks AS (
                SELECT doc_id, unnest({toks_lower}) AS term FROM documents
            ), tf AS (
                SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM toks GROUP BY doc_id, term
            ), dfl AS (
                SELECT term, CAST(count(*) AS DOUBLE) AS _df
                FROM tf GROUP BY term
            ), n AS (
                SELECT CAST(count(*) AS DOUBLE) AS _n FROM documents
            ), scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       round(tf.tf * (ln((_n + 1) / (_df + 1)) + 1), 6)
                           AS tfidf
                FROM tf JOIN dfl USING (term) CROSS JOIN n
            ), ranked AS (
                SELECT doc_id, term, tf, tfidf,
                       CAST(row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY tfidf DESC, term) AS BIGINT) AS rank
                FROM scored
            )
            SELECT * FROM ranked
            WHERE rank <= 5 AND doc_id < 40
            ORDER BY doc_id, rank
        """.format(toks_lower=_TOKS_LOWER))
def q_tfidf_top_terms(spark, sf):
    """Top-5 TF-IDF terms per document (keyword / topic-indexing
    signal).  One tokenize feeds the (doc,term) count; the df table
    derives from that aggregate (no second text pass); per-doc top-k is
    a WindowGroupLimit (map-side partial top-k before the exchange).
    Restricted to doc_id < 40 so the oracle comparison stays small —
    the df/N statistics are still computed over the FULL corpus."""
    from dandi_s3_log_parser_spark.operators.curation import tfidf_top_terms

    d = _load_spread(spark, sf, "documents")
    return tfidf_top_terms(d, k=5).filter(F.col("doc_id") < 40)


_BM25_QUERIES = [
    (0, "hash join spark"),
    (1, "window agg batch"),
    (2, "slow scan filter"),
    (3, "vector stream merge sort"),
]


# Okapi BM25 serving: full recompute — tf/dl/avgdl over the
# whole corpus, Lucene idf over query terms only, per-term
# contributions rounded to 12 dp and summed as exact decimals
# (mirrors operators/retrieval.bm25_topk's grid contract),
# rounded-score ranking with doc_id tie-break
@query(oracle="""
            WITH q(query_id, query) AS (VALUES {bm25_values}
            ), toks AS (
                SELECT doc_id, unnest({toks_lower}) AS term FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term
            ), dl AS (
                SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT _n, _t / _n AS _avgdl FROM (
                    SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE)
                               AS _n,
                           CAST((SELECT coalesce(sum(dl), 0) FROM dl)
                               AS DOUBLE) AS _t)
            ), qt AS (
                SELECT DISTINCT query_id,
                       unnest({qtoks_lower}) AS term
                FROM q
            ), dfl AS (
                SELECT term, CAST(count(*) AS DOUBLE) AS _df
                FROM tf WHERE term IN (SELECT term FROM qt)
                GROUP BY term
            ), qi AS (
                SELECT query_id, qt.term,
                       ln(1.0 + (_n - _df + 0.5) / (_df + 0.5)) AS _idf
                FROM qt JOIN dfl USING (term) CROSS JOIN stats
            ), contrib AS (
                SELECT query_id, tf.doc_id,
                       CAST(round(_idf * (tf.tf * 2.2)
                                  / (tf.tf + 1.2 * (1.0 - 0.75
                                       + 0.75 * dl.dl / _avgdl)), 12)
                            AS DECIMAL(28,12)) AS _c
                FROM tf JOIN dl USING (doc_id) JOIN qi USING (term)
                CROSS JOIN stats
            ), scored AS (
                SELECT query_id, doc_id,
                       round(CAST(sum(_c) AS DOUBLE), 6) AS score
                FROM contrib GROUP BY query_id, doc_id
            ), ranked AS (
                SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
                       score,
                       CAST(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score DESC, doc_id) AS BIGINT) AS rank
                FROM scored
            )
            SELECT query_id, doc_id, score, rank FROM ranked
            WHERE rank <= 10
            ORDER BY query_id, rank
        """.format(
    toks_lower=_TOKS_LOWER,
    qtoks_lower=_TOKENS.format(col="lower(query)"),
    bm25_values=", ".join(
        f"({i}, '{s}')" for i, s in _BM25_QUERIES
    ),
))
def q_bm25_topk(spark, sf):
    """Okapi BM25 top-10 per query (k1=1.2, b=0.75, Lucene idf) for 4
    driver-literal queries against the full documents corpus — the
    retrieval-serving shape (decontamination probes, targeted audits).
    Per-term contributions land on a 12-decimal grid and are summed as
    exact decimals, so both engines rank the identical score."""
    from dandi_s3_log_parser_spark.operators.retrieval import bm25_topk

    q = spark.createDataFrame(_BM25_QUERIES, "query_id long, query string")
    return bm25_topk(
        _load_spread(spark, sf, "documents"), q, k=10
    )


# DSIR: full recompute of both Laplace-smoothed unigram LMs
@query(oracle="""
            WITH toks AS (
                SELECT doc_id, unnest({toks_lower}) AS t FROM documents
            ), vt AS (
                SELECT t, count(*) AS ct FROM toks
                WHERE doc_id % 5 = 0 GROUP BY t
            ), vc AS (
                SELECT t, count(*) AS cc FROM toks GROUP BY t
            ), vocab AS (
                SELECT t, COALESCE(cc, 0) AS cc, COALESCE(ct, 0) AS ct
                FROM vc FULL OUTER JOIN vt USING (t)
            ), scal AS (
                SELECT CAST(sum(cc) AS DOUBLE) AS tc,
                       CAST(sum(ct) AS DOUBLE) AS tt,
                       CAST(count(*) AS DOUBLE) AS v
                FROM vocab
            )
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(ln((ct + 1) / (tt + v))
                             - ln((cc + 1) / (tc + v))), 4) AS logratio
            FROM toks JOIN vocab ON toks.t = vocab.t CROSS JOIN scal
            GROUP BY doc_id ORDER BY doc_id
        """.format(toks_lower=_TOKS_LOWER))
def q_dsir_importance(spark, sf):
    """DSIR importance scores: target-domain sample = docs with
    doc_id % 5 == 0, scored corpus = all docs.  Laplace-smoothed
    unigram LMs over the union vocabulary; mean per-token log ratio."""
    from dandi_s3_log_parser_spark.operators.curation import dsir_importance

    d = _load_spread(spark, sf, "documents")
    return dsir_importance(d, d.filter(F.col("doc_id") % 5 == 0)).orderBy(
        "doc_id"
    )


# Gumbel-top-k over the DSIR scores: same md5-seeded noise
@query(oracle="""
            WITH toks AS (
                SELECT doc_id, unnest({toks_lower}) AS t FROM documents
            ), vt AS (
                SELECT t, count(*) AS ct FROM toks
                WHERE doc_id % 5 = 0 GROUP BY t
            ), vc AS (
                SELECT t, count(*) AS cc FROM toks GROUP BY t
            ), vocab AS (
                SELECT t, COALESCE(cc, 0) AS cc, COALESCE(ct, 0) AS ct
                FROM vc FULL OUTER JOIN vt USING (t)
            ), scal AS (
                SELECT CAST(sum(cc) AS DOUBLE) AS tc,
                       CAST(sum(ct) AS DOUBLE) AS tt,
                       CAST(count(*) AS DOUBLE) AS v
                FROM vocab
            ), scored AS (
                SELECT doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       round(avg(ln((ct + 1) / (tt + v))
                                 - ln((cc + 1) / (tc + v))), 4) AS logratio
                FROM toks JOIN vocab ON toks.t = vocab.t CROSS JOIN scal
                GROUP BY doc_id
            )
            SELECT doc_id, n_tokens, logratio,
                   round(logratio + -ln(-ln(
                       (CAST(concat('0x', substr(md5('gumbel-v1|'
                             || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                        + 0.5) / 4294967296.0)), 6) AS gumbel_key
            FROM scored
            ORDER BY gumbel_key DESC, doc_id LIMIT 50
        """.format(toks_lower=_TOKS_LOWER))
def q_gumbel_select(spark, sf):
    """DSIR end-to-end: importance scores -> seeded Gumbel-top-50
    resampling (sampling w/o replacement from softmax(logratio))."""
    from dandi_s3_log_parser_spark.operators.curation import (
        dsir_importance,
        gumbel_topk,
    )

    d = _load(spark, sf, "documents")
    scored = dsir_importance(d, d.filter(F.col("doc_id") % 5 == 0))
    return gumbel_topk(scored, 50).orderBy(F.desc("gumbel_key"), "doc_id")


# full SemDeDup decision: clustering replay + pairs + recursive
# transitive closure + keep-lowest-id (WITH RECURSIVE spliced in
# because the reach CTE is self-referential)
@query(oracle=_kmeans_oracle_sql(
    k=32, iters=2, tail="""
            , pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM afinal a
                JOIN afinal b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                JOIN e ea ON ea.vec_id = a.vec_id
                JOIN e eb ON eb.vec_id = b.vec_id
                WHERE round(list_dot_product(ea.v, eb.v)
                            / (sqrt(list_dot_product(ea.v, ea.v))
                               * sqrt(list_dot_product(eb.v, eb.v))),
                            6) >= 0.3
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT DISTINCT a AS id, a AS r FROM edges
                UNION
                SELECT e2.a, reach.r FROM reach
                JOIN edges e2 ON e2.b = reach.id
            ), comp AS (
                SELECT id, min(r) AS rep FROM reach GROUP BY id
            )
            SELECT ev.vec_id,
                   COALESCE(comp.rep, ev.vec_id) AS rep_id,
                   COALESCE(comp.rep, ev.vec_id) = ev.vec_id AS keep
            FROM e ev LEFT JOIN comp ON comp.id = ev.vec_id
            ORDER BY ev.vec_id""",
).replace("WITH ", "WITH RECURSIVE ", 1))
def q_semdedup_keep(spark, sf):
    """Full SemDeDup decision: within-cell pairs -> connected
    components -> keep lowest id per semantic component.  Oracle
    replays clustering + pairs + a recursive transitive closure."""
    from dandi_s3_log_parser_spark.operators.similarity import semdedup_keep

    return semdedup_keep(_load(spark, sf, "embeddings"), 0.3, k=32, iters=2)


# snapshot delta: same synthesized snapshots, FULL OUTER JOIN
@query(oracle="""
            WITH prev AS (
                SELECT doc_id AS key, sha256(text) AS prev_digest
                FROM documents WHERE doc_id % 10 <> 9
            ), new AS (
                SELECT doc_id AS key,
                       sha256(CASE WHEN doc_id % 7 = 3
                              THEN text || 'v2' ELSE text END)
                           AS new_digest
                FROM documents WHERE doc_id % 10 <> 0
            )
            SELECT key,
                   CASE WHEN prev_digest IS NULL THEN 'added'
                        WHEN new_digest IS NULL THEN 'removed'
                        WHEN prev_digest = new_digest THEN 'unchanged'
                        ELSE 'changed' END AS status,
                   prev_digest, new_digest
            FROM prev FULL OUTER JOIN new USING (key)
            ORDER BY key
        """)
def q_snapshot_delta(spark, sf):
    """Incremental-recrawl classification between two synthesized
    crawl snapshots: prev drops ids =9 (mod 10), new drops ids =0 and
    rewrites content for ids =3 (mod 7) — exercising added / removed /
    changed / unchanged in one full outer join."""
    from dandi_s3_log_parser_spark.operators.dedup import snapshot_delta

    d = _load(spark, sf, "documents").select("doc_id", "text")
    prev = d.filter(F.col("doc_id") % 10 != 9).select(
        "doc_id", F.sha2(F.col("text"), 256).alias("digest")
    )
    new = d.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        F.sha2(
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.col("text"), F.lit("v2")),
            ).otherwise(F.col("text")),
            256,
        ).alias("digest"),
    )
    return snapshot_delta(prev, new, key_col="doc_id").orderBy("key")


# canonical URL: identical regex rules, DuckDB-side recompute
@query(oracle=r"""
            WITH u AS (
                SELECT doc_id,
                       CASE doc_id % 6
                         WHEN 0 THEN 'https://Example.COM:443/Dir'
                                     || doc_id || '/'
                         WHEN 1 THEN 'http://site.org:80/a' || doc_id
                                     || '?b=2&a=1&utm_source=x'
                         WHEN 2 THEN 'https://h.net/p' || doc_id
                                     || '#/route?x=1'
                         WHEN 3 THEN 'HTTPS://UPPER.net/x?gclid=42&id='
                                     || doc_id
                         WHEN 4 THEN 'not a url ' || doc_id
                         ELSE 'https://dup.com/same' || doc_id
                              || '?ref=zz&z=9'
                       END AS url
                FROM documents
            ), parts AS (
                SELECT doc_id, url,
                       lower(regexp_extract(url,
                           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                       lower(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))
                           AS hostport,
                       regexp_replace(regexp_extract(url,
                           '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
                           '/+$', '') AS path,
                       array_to_string(list_sort(list_filter(
                           string_split(
                               regexp_extract(url, '^[^#]*?\?([^#]*)', 1),
                               '&'),
                           x -> x <> '' AND NOT regexp_matches(x,
                             '^(utm_[a-z]+|fbclid|gclid|msclkid|ref)='))),
                           '&') AS q
                FROM u
            )
            SELECT doc_id, url,
                   CASE WHEN scheme <> '' THEN
                       scheme || '://'
                       || CASE WHEN scheme = 'http'
                               THEN regexp_replace(hostport, ':80$', '')
                               WHEN scheme = 'https'
                               THEN regexp_replace(hostport, ':443$', '')
                               ELSE hostport END
                       || path
                       || CASE WHEN q <> '' THEN '?' || q ELSE '' END
                   ELSE url END AS canon
            FROM parts ORDER BY doc_id
        """)
def q_url_canonicalize(spark, sf):
    """Canonical-URL normalization (crawl-dedup key).  The synthetic
    corpus has uniform URLs, so six messy variants — case, default
    ports, fragments, tracking params, unsorted query, trailing slash,
    plus one non-URL junk row — are synthesized per doc_id%6 on BOTH
    engines, exercising every rule."""
    from dandi_s3_log_parser_spark.functions.url import canonical_url

    d = _load(spark, sf, "documents")
    m = F.col("doc_id") % 6
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("https://Example.COM:443/Dir"), sid, F.lit("/")))
        .when(m == 1, F.concat(F.lit("http://site.org:80/a"), sid, F.lit("?b=2&a=1&utm_source=x")))
        .when(m == 2, F.concat(F.lit("https://h.net/p"), sid, F.lit("#/route?x=1")))
        .when(m == 3, F.concat(F.lit("HTTPS://UPPER.net/x?gclid=42&id="), sid))
        .when(m == 4, F.concat(F.lit("not a url "), sid))
        .otherwise(F.concat(F.lit("https://dup.com/same"), sid, F.lit("?ref=zz&z=9")))
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        canonical_url(url).alias("canon"),
    ).orderBy("doc_id")


# k-means: both Lloyd's iterations unrolled in SQL (see
# _kmeans_oracle_sql for the exact-arithmetic contract)
@query(oracle=_kmeans_oracle_sql(k=8, iters=2))
def q_kmeans_assign(spark, sf):
    """Deterministic Lloyd's k-means (k=8, 2 iterations) over the
    embeddings table — the SemDeDup clustering step.  Init = 8
    smallest-id vectors; exact decimal centroid sums; rounded-distance
    argmin.  The oracle unrolls both iterations in SQL."""
    from dandi_s3_log_parser_spark.operators.similarity import kmeans_assign

    return kmeans_assign(_load_spread(spark, sf, "embeddings"), k=8, iters=2)


# SemDeDup: replay the clustering, then every intra-cell cosine
@query(oracle=_kmeans_oracle_sql(
    k=32, iters=2, tail="""
            , pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       round(list_dot_product(ea.v, eb.v)
                             / (sqrt(list_dot_product(ea.v, ea.v))
                                * sqrt(list_dot_product(eb.v, eb.v))),
                             6) AS cos
                FROM afinal a
                JOIN afinal b
                  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
                JOIN e ea ON ea.vec_id = a.vec_id
                JOIN e eb ON eb.vec_id = b.vec_id
            )
            SELECT id_a, id_b, cos FROM pairs
            WHERE cos >= 0.3 ORDER BY id_a, id_b""",
))
def q_semdedup_pairs(spark, sf):
    """SemDeDup: cosine >= 0.3 near-dup pairs within k-means cells
    (k=32, 2 iterations; k grew 8->32 in round 5 — more, smaller
    cells is the method's own scale direction and quarters the
    within-cell quadratic).  The oracle replays the full clustering
    in SQL and recomputes every intra-cell cosine."""
    from dandi_s3_log_parser_spark.operators.similarity import semdedup_pairs

    return semdedup_pairs(_load_spread(spark, sf, "embeddings"), 0.3, k=32, iters=2)


# repeated n-gram spans: full recompute — every 5-token window
# fingerprinted the same way (substr(sha256(gram),1,16)), grams
# in >=2 distinct docs, gaps-and-islands interval merge
@query(oracle="""
            WITH t AS (
                SELECT doc_id, {toks_lower} AS toks FROM documents
            ), wins AS (
                SELECT doc_id, i.i - 1 AS pos,
                       substr(sha256(
                           array_to_string(toks[i.i : i.i + 4], ' ')),
                           1, 16) AS g
                FROM t, unnest(range(1, len(toks) - 5 + 2)) AS i(i)
                WHERE len(toks) >= 5
            ), rep AS (
                SELECT g FROM wins
                GROUP BY g HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
                SELECT doc_id, pos FROM wins
                WHERE g IN (SELECT g FROM rep)
            ), isl AS (
                SELECT doc_id, pos,
                       CASE WHEN max(pos + 5) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) IS NULL
                              OR pos > max(pos + 5) OVER (
                                PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING)
                            THEN 1 ELSE 0 END AS brk
                FROM hits
            ), grp AS (
                SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS UNBOUNDED PRECEDING) AS island
                FROM isl
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos + 5) AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM grp GROUP BY doc_id, island
            ORDER BY doc_id, span_start
        """.format(toks_lower=_TOKS_LOWER))
def q_repeated_ngram_spans(spark, sf):
    """Cross-document repeated 5-token spans (exact-substring dedup
    detection, Lee et al. 2022 shape).  Fingerprint shuffle is a 64-bit
    hex key, never gram text; interval merge windows partition per
    document."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        repeated_ngram_spans,
    )

    return repeated_ngram_spans(
        _load_spread(spark, sf, "documents"), k=5, min_docs=2
    )


# context-window chunking: 16-token windows, stride 12, last
# start clamped to len-16 (never negative); chunk text from
# ORIGINAL-case tokens — mirrors operators/curation.
# chunk_fixed_windows exactly
@query(oracle="""
            WITH orig AS (
                SELECT doc_id, {toks_orig} AS toks FROM documents
            ), n AS (
                SELECT doc_id, toks, len(toks) AS ln,
                       CASE WHEN len(toks) <= 16 THEN 1
                            ELSE CAST(ceil((len(toks) - 16) / 12.0)
                                 AS INT) + 1 END AS nc
                FROM orig WHERE len(toks) > 0
            )
            SELECT doc_id,
                   CAST(i.i AS BIGINT) AS chunk_id,
                   CAST(least(16, ln - greatest(0, least(i.i * 12,
                        ln - 16))) AS BIGINT) AS n_tokens,
                   array_to_string(
                       toks[greatest(0, least(i.i * 12, ln - 16)) + 1 :
                            greatest(0, least(i.i * 12, ln - 16)) + 16],
                       ' ') AS text
            FROM n, unnest(range(0, nc)) AS i(i)
            ORDER BY doc_id, chunk_id
        """.format(toks_orig=_TOKS))
def q_chunk_fixed_windows(spark, sf):
    """Fixed-size context-window chunking (HF sliding-window-with-
    overflow convention: every chunk full-size, last start clamped):
    16-token windows with 4-token overlap (small window so the
    synthetic ~25-45-token docs genuinely produce multi-chunk output
    with a clamped tail).  Distinct from chunk_overlap, whose grid
    starts leave a short tail chunk."""
    from dandi_s3_log_parser_spark.operators.curation import (
        chunk_fixed_windows,
    )

    return chunk_fixed_windows(
        _load_spread(spark, sf, "documents"), chunk_tokens=16, overlap=4
    ).orderBy("doc_id", "chunk_id")


# span REMOVAL: same detection chain as repeated_ngram_spans,
# then coverage = union of hit windows' positions (identical to
# merged-island coverage), original-case tokens minus covered
# indices rejoined with single spaces; untouched docs keep the
# raw text byte-identical
@query(oracle="""
            WITH t AS (
                SELECT doc_id, {toks_lower} AS toks FROM documents
            ), wins AS (
                SELECT doc_id, i.i - 1 AS pos,
                       substr(sha256(
                           array_to_string(toks[i.i : i.i + 4], ' ')),
                           1, 16) AS g
                FROM t, unnest(range(1, len(toks) - 5 + 2)) AS i(i)
                WHERE len(toks) >= 5
            ), rep AS (
                SELECT g FROM wins
                GROUP BY g HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
                SELECT doc_id, pos FROM wins
                WHERE g IN (SELECT g FROM rep)
            ), cov AS (
                SELECT doc_id, list(DISTINCT pos + j.j) AS ps
                FROM hits, unnest(range(0, 5)) AS j(j)
                GROUP BY doc_id
            ), orig AS (
                SELECT doc_id, text,
                       {toks_orig} AS otoks
                FROM documents
            )
            SELECT o.doc_id,
                   CASE WHEN c.doc_id IS NULL THEN o.text
                        -- coalesce: DuckDB's array_to_string of an
                        -- EMPTY list is NULL; Spark's array_join is ''
                        ELSE coalesce(array_to_string(list_filter(
                             o.otoks,
                             (x, i) -> NOT list_contains(c.ps, i - 1)),
                             ' '), '')
                   END AS text,
                   CAST(CASE WHEN c.doc_id IS NULL THEN 0
                             ELSE len(c.ps) END AS BIGINT) AS n_removed
            FROM orig o LEFT JOIN cov c ON c.doc_id = o.doc_id
            ORDER BY o.doc_id
        """.format(
    toks_lower=_TOKS_LOWER,
    toks_orig=_TOKS,
))
def q_remove_repeated_spans(spark, sf):
    """Apply exact-substring dedup: rebuild each document's text with
    cross-document repeated 5-token spans cut out (touched docs are
    whitespace-normalized by contract; untouched pass through
    byte-identical with n_removed = 0)."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        remove_repeated_spans,
    )

    return remove_repeated_spans(
        _load_spread(spark, sf, "documents"), k=5, min_docs=2
    ).orderBy("doc_id")


# MOSS winnowing rebuilt in SQL: same normalization (lowercase,
# whitespace collapsed, trimmed), same md5-60bit char-6-gram
# hash, window-of-5 minima via list expressions (slice bounds
# are end-inclusive and truncate at the array end, matching
# Spark's slice()), distinct minima per doc
@query(oracle=r"""
            WITH d AS (
                SELECT doc_id,
                       trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
                           AS t
                FROM documents
            ), g AS (
                SELECT doc_id,
                       list_transform(
                           range(1, length(t) - 6 + 2),
                           i -> CAST(concat('0x',
                                substr(md5(substr(t, CAST(i AS INT), 6)),
                                       1, 15)) AS BIGINT)
                       ) AS hs
                FROM d WHERE length(t) >= 6
            )
            SELECT DISTINCT doc_id, fp FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, greatest(len(hs) - 5 + 1, 1) + 1),
                           j -> list_min(hs[j : j + 4])
                       )) AS fp
                FROM g
            )
            ORDER BY doc_id, fp
        """)
def q_winnow_fingerprints(spark, sf):
    """MOSS winnowing fingerprints (Schleimer et al. 2003): min-hash of
    each sliding window of 5 consecutive char-6-gram hashes; the
    distinct minima are the position-robust fingerprint set (~1/3 the
    density of a full gram index).  Entirely narrow until the terminal
    distinct — see operator docstring."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        winnow_fingerprints,
    )

    # the per-row window math is this query's CPU, so spread the scan
    return winnow_fingerprints(
        _load_spread(spark, sf, "documents"), k=6, window=5
    ).orderBy("doc_id", "fp")


# BPE pair statistics rebuilt in SQL: distinct lowercase words
# with occurrence counts, adjacent char pairs with the </w>
# marker glued to the word-final symbol, count-weighted pair
# sums, identical (count desc, a, b) top-50 cut
@query(oracle="""
            WITH w AS (
                SELECT t AS word, count(*) AS n
                FROM (SELECT unnest({toks_lower}) AS t FROM documents)
                GROUP BY t
            ), p AS (
                SELECT substr(word, CAST(i.i AS INT), 1) AS a,
                       substr(word, CAST(i.i AS INT) + 1, 1)
                           || CASE WHEN i.i + 1 = length(word)
                                   THEN '</w>' ELSE '' END AS b,
                       n
                FROM w, unnest(range(1, length(word))) AS i(i)
            )
            SELECT a, b, CAST(sum(n) AS BIGINT) AS pair_count
            FROM p GROUP BY a, b
            HAVING sum(n) >= 2
            ORDER BY pair_count DESC, a, b
            LIMIT 50
        """.format(toks_lower=_TOKS_LOWER))
def q_bpe_top_pairs(spark, sf):
    """BPE-initialization pair statistics (Sennrich et al. 2016): top-50
    adjacent symbol pairs (chars, end-of-word marker on the last) by
    corpus frequency — the statistic whose argmax is the first merge.
    Runs over the DISTINCT-word table, never the corpus text."""
    from dandi_s3_log_parser_spark.operators.tokenizer import (
        bpe_pair_counts,
    )

    return bpe_pair_counts(
        _load(spark, sf, "documents"), min_count=2, topk=50
    )


@query(oracle=None)
def q_bpe_merges(spark, sf):
    """Full BPE training, 8 merges: iterative argmax-pair + greedy
    left-to-right merge over the distinct-word table (corpus text
    touched once).  No SQL oracle — the merge loop is iterative with a
    per-step argmax; verified instead against a pure-Python reference
    BPE in tests/test_round5_ops.py (same 8-merge depth)."""
    from dandi_s3_log_parser_spark.operators.tokenizer import bpe_train

    merges = bpe_train(_load(spark, sf, "documents"), n_merges=8)
    return spark.createDataFrame(
        [(i, a, b, int(n)) for i, (a, b, n) in enumerate(merges)],
        "rank int, a string, b string, pair_count long",
    )


# fixed "shipped merges.txt" list for the encode query: realistic
# English merges in a legal order ('th' exists from merge 0 on).  The
# oracle replays the IDENTICAL list via chained replace() on a
# wrapper-delimited symbol string ('‹a›‹b›' -> '‹ab›'), whose global
# leftmost non-overlapping semantics equal the greedy fold — valid on
# the fixture because its text contains no '‹'/'›' characters.
_BPE_ENCODE_MERGES = [
    ("t", "h"), ("e", "r</w>"), ("i", "n"), ("a", "n"),
    ("th", "e</w>"), ("o", "u"), ("r", "e"), ("a", "t"),
]


def _bpe_encode_oracle_expr() -> str:
    s = ("'‹' || array_to_string(string_split(word, ''), '›‹')"
         " || '</w>' || '›'")
    for a, b in _BPE_ENCODE_MERGES:
        s = f"replace({s}, '‹{a}›‹{b}›', '‹{a}{b}›')"
    return s


# BPE encode: every merge replayed in order via chained
# replace() on wrapper-delimited symbols ('‹a›‹b›' -> '‹ab›');
# global leftmost non-overlapping replace == greedy fold, and
# wrappers make symbol boundaries unambiguous.  Token count =
# number of '‹' wrappers remaining.
@query(oracle="""
            WITH w AS (
                SELECT doc_id, unnest({toks_lower}) AS word
                FROM documents
            ), enc AS (
                SELECT word,
                       length({expr}) - length(replace({expr}, '‹', ''))
                           AS wtoks
                FROM (SELECT DISTINCT word FROM w)
            )
            SELECT w.doc_id, CAST(sum(enc.wtoks) AS BIGINT) AS n_tokens_bpe
            FROM w JOIN enc USING (word)
            GROUP BY w.doc_id
        """.format(toks_lower=_TOKS_LOWER, expr=_bpe_encode_oracle_expr()))
def q_bpe_encode(spark, sf):
    """BPE ENCODE with a shipped merge list — the serving half of the
    train/apply pair: per-document token counts after applying the
    fixed `_BPE_ENCODE_MERGES` in order.  Encoding runs over distinct
    words only; the oracle replays every merge with chained replace()
    on wrapper-delimited symbols and counts the wrappers."""
    from dandi_s3_log_parser_spark.operators.tokenizer import (
        bpe_encode_counts,
    )

    return bpe_encode_counts(
        _load(spark, sf, "documents"), _BPE_ENCODE_MERGES
    )


# temperature mixing: full recompute of n_i^alpha normalization
@query(oracle=f"""
            WITH per AS (
                SELECT source,
                       CAST(sum(len({_TOKS})) AS DOUBLE) AS _n
                FROM documents GROUP BY source
            ), tot AS (
                SELECT sum(_n) AS _tot, sum(pow(_n, 0.3)) AS _tot_a
                FROM per
            )
            SELECT source,
                   CAST(_n AS BIGINT) AS n,
                   round(_n / _tot, 6) AS p_natural,
                   round(pow(_n, 0.3) / _tot_a, 6) AS p_temp,
                   round((pow(_n, 0.3) / _tot_a) / (_n / _tot), 6)
                       AS weight
            FROM per CROSS JOIN tot
            ORDER BY source
        """)
def q_temperature_weights(spark, sf):
    """Temperature-based source mixing: p_i ~ n_i^0.3 over per-source
    token sums (XLM-R scheme).  One map-side-combined aggregate to a
    sources-sized table; normalizers ride a one-row broadcast."""
    from dandi_s3_log_parser_spark.functions.text import token_count
    from dandi_s3_log_parser_spark.operators.curation import (
        temperature_weights,
    )

    d = _load(spark, sf, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    return temperature_weights(d, 0.3, token_col="n_tokens")


# token-budget selection: the oracle IS the naive global ordered
# cumsum the Spark side deliberately avoids — keep iff the
# inclusive running token sum fits in the 12k budget
@query(oracle=f"""
            WITH scored AS (
                SELECT doc_id,
                       round((least(length(text) / 500.0, 1.0)
                         + least(CASE WHEN len({_TOKS_LOWER}) > 0
                               THEN len(list_filter({_TOKS_LOWER},
                                        x -> x IN ({_EN})))
                                    / CAST(len({_TOKS_LOWER}) AS DOUBLE)
                               ELSE 0.0 END * 4.0, 1.0)
                         + greatest(0.0, 1.0 - CASE WHEN length(text) > 0
                             THEN (length(text) - length(regexp_replace(text,
                                  '[^\\w\\s]', '', 'g')))
                                  / CAST(length(text) AS DOUBLE)
                             ELSE 0.0 END * 4.0)) / 3.0, 4) AS score,
                       CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents
            ), walked AS (
                SELECT doc_id, score, n_tokens,
                       sum(n_tokens) OVER (
                           ORDER BY score DESC, doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM scored
            )
            SELECT doc_id, score, n_tokens FROM walked
            WHERE cum <= 12000
            ORDER BY score DESC, doc_id
        """)
def q_select_budget(spark, sf):
    """Token-budget corpus selection: keep the best-quality documents
    (greedy prefix over score DESC, doc_id ASC) until a 12k-token
    budget is spent.  Scale shape: score-bin histogram -> tiny-table
    cumsum -> whole-bin keep/drop via broadcast join; only the single
    budget-straddling bin runs an exact ordered walk.  No fact-sized
    window anywhere."""
    from dandi_s3_log_parser_spark.functions.text import (
        quality_score,
        token_count,
    )
    from dandi_s3_log_parser_spark.operators.curation import (
        select_by_token_budget,
    )

    d = _load_spread(spark, sf, "documents")
    # materialize the regex-heavy scoring behind its own exchange: the
    # histogram pass, the fact join, both keep branches, and the final
    # sort's range-sampling pass all consume ONE scored exchange
    # (ReuseExchange) instead of re-running quality_score per consumer
    scored = d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 4).alias("score"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    ).localCheckpoint()
    return select_by_token_budget(scored, 12000).orderBy(
        F.desc("score"), "doc_id"
    )


# per-source stats minus blocklist (excluded-IP filter analog)
@query(oracle=f"""
            SELECT source,
                   count(*) AS docs,
                   CAST(sum(len({{toks}})) AS BIGINT) AS total_tokens,
                   round(avg(len(text)), 4) AS avg_chars
            FROM documents
            WHERE source NOT IN ('src13', 'src7')
            GROUP BY source ORDER BY source
        """.format(toks=_TOKS))
def q_source_stats(spark, sf):
    """Per-source corpus stats with a blocklist filter (the curation
    analog of the reference's excluded-IP reducer filter,
    _s3_log_file_reducer.py:211-214)."""
    from dandi_s3_log_parser_spark.operators.curation import source_stats

    return source_stats(
        _load(spark, sf, "documents"), blocklist=("src13", "src7")
    )


_NORM_MARKERS = (
    "Cafe\u0301 DECOMPOSED",   # e + combining acute -> must fold to \u00e9
    "CAF\u00c9 COMPOSED",      # precomposed \u00c9
    "na\u00efve\tmixed   WS",  # \u00ef + tab + run of spaces
    "wei\u00df \u00dcmlaut",   # \u00df (lower-stable) + \u00dc
)


# text_normalize: utf8proc nfc_normalize vs the pandas kernel —
# independent Unicode normalization implementations; markers
# are injected as raw UTF-8 into the literal so both engines
# see identical codepoints
@query(oracle=f"""
            WITH m AS (
                SELECT doc_id,
                       text || '  ' || CASE CAST(doc_id % 4 AS INT)
                           WHEN 0 THEN '{_NORM_MARKERS[0]}'
                           WHEN 1 THEN '{_NORM_MARKERS[1]}'
                           WHEN 2 THEN '{_NORM_MARKERS[2]}'
                           ELSE '{_NORM_MARKERS[3]}' END AS x
                FROM documents
            ), n AS (
                SELECT doc_id,
                       nfc_normalize(trim(regexp_replace(lower(x),
                           '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' '))
                           AS norm_text
                FROM m
            )
            SELECT doc_id, norm_text,
                   CAST(length(norm_text) AS BIGINT) AS n_norm_chars
            FROM n ORDER BY doc_id
        """)
def q_text_normalize(spark, sf):
    """Unicode canonicalization (NFC + lowercase + ASCII-whitespace
    collapse) — the pre-dedup normalize pass.  The synthetic corpus is
    ASCII, so a marker from _NORM_MARKERS (composed/decomposed accents,
    mixed whitespace) is appended per doc_id%4 on BOTH sides; Spark
    runs the Arrow/pandas kernel (functions/normalize.py), DuckDB runs
    utf8proc nfc_normalize — two independent normalization
    implementations hashing identically."""
    from dandi_s3_log_parser_spark.functions.normalize import normalize_text

    d = _load(spark, sf, "documents")
    combined = F.concat(
        F.col("text"),
        F.lit("  "),
        F.element_at(
            F.array(*[F.lit(m) for m in _NORM_MARKERS]),
            (F.col("doc_id") % 4).cast("int") + 1,
        ),
    )
    return d.select(
        "doc_id",
        normalize_text(combined).alias("norm_text"),
    ).withColumn(
        "n_norm_chars", F.length("norm_text").cast("long")
    ).orderBy("doc_id")


# chunk_overlap: same tokenizer, same last-start arithmetic,
# DuckDB's 1-based-inclusive list slice vs Spark's
# (start, length) slice — independent formulations of the
# window geometry
@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id, {_TOKS_LOWER} AS w FROM documents
            ), st AS (
                SELECT doc_id, w,
                       unnest(range(0,
                           CAST(ceil(greatest(len(w) - 32, 0) / 16.0)
                                AS BIGINT) * 16 + 1, 16)) AS s
                FROM tok
            )
            SELECT doc_id,
                   s // 16 AS chunk_id,
                   CAST(len(w[s+1:s+32]) AS BIGINT) AS n_tokens,
                   array_to_string(w[s+1:s+32], ' ') AS chunk
            FROM st ORDER BY doc_id, chunk_id
        """)
def q_chunk_overlap(spark, sf):
    """Sliding-window token chunking (window=32, stride=16): the
    context-window prep step between curated text and a fixed-context
    trainer.  Shuffle-free fan-out — see operator docstring."""
    from dandi_s3_log_parser_spark.operators.curation import chunk_documents

    out = chunk_documents(
        _load(spark, sf, "documents"), window=32, stride=16
    )
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


# length_quantiles: quantile_cont is DuckDB's independent
# implementation of the same p*(n-1) linear interpolation
@query(oracle="""
            SELECT lang, count(*) AS n,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.25), 4) AS p25,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.50), 4) AS p50,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.75), 4) AS p75,
                   round(quantile_cont(CAST(n_chars AS DOUBLE), 0.95), 4) AS p95
            FROM documents GROUP BY lang ORDER BY lang
        """)
def q_length_quantiles(spark, sf):
    """Per-language EXACT length quantiles (the corpus-health report of
    every curation run).  Spark's exact `percentile` aggregate vs
    DuckDB's `quantile_cont` — independent implementations of the same
    p*(n-1) rank-linear interpolation; see operator docstring for the
    value→count-map memory argument at 10^12 rows."""
    from dandi_s3_log_parser_spark.operators.curation import group_quantiles

    return group_quantiles(_load(spark, sf, "documents"), "lang", "n_chars")


# approx_distinct: the oracle pins approx_ok TRUE — Spark's HLL
# drifting past the 20% tolerance breaks the hash
@query(oracle="""
            SELECT event_type,
                   count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS approx_ok
            FROM events GROUP BY event_type ORDER BY event_type
        """)
def q_approx_distinct(spark, sf):
    """Per-event-type HLL++ distinct users, self-checked: emits the
    exact count plus approx_ok = |HLL − exact| ≤ 20%·exact (4σ at
    rsd=5%); the oracle recomputes the exact count and pins approx_ok
    TRUE, so sketch drift breaks the hash like a wrong answer."""
    from dandi_s3_log_parser_spark.operators.curation import (
        approx_distinct_check,
    )

    return approx_distinct_check(
        _load(spark, sf, "events"), "event_type", "user_id"
    )


# benchmark decontamination: full independent 3-gram + overlap
# recompute (tokenizer shared with the dedup family via the
# same lower/split-\s+ semantics)
@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id, {_TOKS_LOWER} AS w FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i.i:i.i+2], ' ') AS gram
                FROM tok, unnest(range(1, len(w) - 1)) AS i(i)
            ), bench AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
            ), hits AS (
                SELECT g.doc_id, count(DISTINCT g.gram) AS matched
                FROM grams g JOIN bench USING (gram)
                WHERE g.doc_id % 97 <> 0 GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.matched, 0) AS BIGINT) AS matched_ngrams,
                   coalesce(h.matched, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 97 <> 0
            ORDER BY doc_id
        """)
def q_decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3/Llama-style n-gram overlap):
    docs with doc_id % 97 == 0 act as the held-out eval set; every
    remaining doc reports how many distinct 3-grams it shares with
    that set.  The eval-gram side is broadcast, so the corpus-side
    explode-join is map-side — the only shuffle carries contaminated
    (doc_id, count) rows.  Oracle: full independent n-gram + overlap
    recompute in DuckDB."""
    from dandi_s3_log_parser_spark.operators.decontaminate import decontaminate

    d = _load_spread(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=3).orderBy("doc_id")


# bloom_decontaminate: the oracle is the EXACT overlap — no
# Bloom filter anywhere in DuckDB — because the operator's
# contract is that the exact-verify join makes its output
# byte-identical to plain decontamination; any unabsorbed false
# positive (or a false negative, impossible by construction)
# breaks the hash
@query(oracle=f"""
            WITH tok AS (
                SELECT doc_id, {_TOKS_LOWER} AS w FROM documents
            ), grams AS (
                SELECT DISTINCT doc_id,
                       array_to_string(w[i.i:i.i+2], ' ') AS gram
                FROM tok, unnest(range(1, len(w) - 1)) AS i(i)
            ), bench AS (
                SELECT DISTINCT gram FROM grams WHERE doc_id % 89 = 0
            ), hits AS (
                SELECT g.doc_id, count(DISTINCT g.gram) AS matched
                FROM grams g JOIN bench USING (gram)
                WHERE g.doc_id % 89 <> 0 GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(coalesce(h.matched, 0) AS BIGINT) AS matched_ngrams,
                   coalesce(h.matched, 0) >= 1 AS contaminated
            FROM documents d LEFT JOIN hits h USING (doc_id)
            WHERE d.doc_id % 89 <> 0
            ORDER BY doc_id
        """)
def q_bloom_decontaminate(spark, sf):
    """Bloom-prefiltered decontamination: same exact output as
    `decontaminate` (false positives are verified away by the exact
    join) but the broadcast is a FIXED-size bit array — the scale path
    when the deny-side gram set is itself too large to broadcast raw.
    A deliberately small 2^16-bit filter at this sf forces real false
    positives through the verify join, so the oracle (a full exact
    n-gram overlap recompute in DuckDB, no Bloom anywhere) genuinely
    checks that the verification absorbs them.  Eval set: doc_id % 89
    (vs 97 for the broadcast variant) so the two queries cannot share a
    cached result."""
    from dandi_s3_log_parser_spark.operators.decontaminate import (
        bloom_decontaminate,
    )

    d = _load(spark, sf, "documents")
    bench = d.filter(F.col("doc_id") % 89 == 0)
    train = d.filter(F.col("doc_id") % 89 != 0)
    return bloom_decontaminate(train, bench, n=3, n_bits=1 << 16, k=4).orderBy(
        "doc_id"
    )


# PII plant + detect + redact: both engines append the same
# doc_id-derived spans, count with the same RE2-safe regexes,
# and hash the redacted bytes
@query(oracle="""
            WITH planted AS (
                SELECT doc_id,
                       text ||
                       CASE WHEN doc_id % 5 = 0
                            THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                 || '@example.com'
                            ELSE '' END ||
                       CASE WHEN doc_id % 11 = 0
                            THEN ' call 555-867-53'
                                 || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                            ELSE '' END AS t
                FROM documents
            ), m AS (
                SELECT doc_id,
                       len(regexp_extract_all(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                           AS ec,
                       len(regexp_extract_all(t, '\\d{3}-\\d{3}-\\d{4}')) AS pc,
                       regexp_replace(regexp_replace(t,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                           '<EMAIL>', 'g'),
                           '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS red
                FROM planted
            )
            SELECT doc_id,
                   CAST(ec AS BIGINT) AS email_count,
                   CAST(pc AS BIGINT) AS phone_count,
                   CAST(concat('0x', substr(md5(red), 1, 4)) AS INTEGER)
                       AS redacted_h16
            FROM m WHERE ec > 0 OR pc > 0 ORDER BY doc_id
        """)
def q_pii_redact(spark, sf):
    """PII detection + redaction over a deterministically planted
    fixture: the synthetic corpus has no PII, so both engines append
    the same doc_id-derived email / phone spans (pure string
    arithmetic — replayed exactly by the oracle), then count matches
    and hash the redacted text.  All native regexp_count /
    regexp_replace — zero UDFs, streams at scan speed."""
    from dandi_s3_log_parser_spark.functions.text import (
        pii_email_count,
        pii_phone_count,
        pii_redact,
    )

    d = _load_spread(spark, sf, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" call 555-867-53"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = pii_redact(planted)
    return (
        d.select(
            "doc_id",
            pii_email_count(planted).cast("long").alias("email_count"),
            pii_phone_count(planted).cast("long").alias("phone_count"),
            md5_prefix(redacted, 4)
            .cast("int")
            .alias("redacted_h16"),
        )
        .filter((F.col("email_count") > 0) | (F.col("phone_count") > 0))
        .orderBy("doc_id")
    )


# token-budget packing: same md5 bucket, same cumulative-sum
# binning, one row per (bucket, seq_id) pack
@query(oracle="""
            WITH t AS (
                SELECT doc_id,
                       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                                1, 4)) AS INTEGER) % 8 AS bucket,
                       len({toks}) AS n_tokens
                FROM documents
            ), c AS (
                SELECT bucket, n_tokens,
                       sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) AS cum
                FROM t
            )
            SELECT bucket,
                   CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS seq_id,
                   count(*) AS docs,
                   CAST(sum(n_tokens) AS BIGINT) AS tokens
            FROM c GROUP BY bucket, seq_id ORDER BY bucket, seq_id
        """.format(toks=_TOKS))
def q_pack_sequences(spark, sf):
    """Token-budget sequence packing (md5 bucketing so the DuckDB
    oracle reproduces the identical pack assignment)."""
    from dandi_s3_log_parser_spark.operators.curation import pack_sequences

    return pack_sequences(
        _load(spark, sf, "documents"), budget=512, buckets=8, bucket_fn="md5"
    )


# dedup keep policy: transitive closure (as dedup_clusters) +
# quality recompute + per-cluster argmax (quality desc, id asc)
@query(oracle=f"""
            WITH RECURSIVE sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents
                WHERE len({_TOKS_LOWER}) >= 3
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION SELECT id_b, id_a FROM pairs
            ), reach AS (
                SELECT DISTINCT a AS id, a AS r FROM edges
                UNION
                SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.id
            ), comp AS (
                SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
            ), q AS (
                SELECT doc_id,
                       round((least(length(text) / 500.0, 1.0)
                         + least(CASE WHEN len({_TOKS_LOWER}) > 0
                               THEN len(list_filter({_TOKS_LOWER},
                                        x -> x IN ({_EN})))
                                    / CAST(len({_TOKS_LOWER}) AS DOUBLE)
                               ELSE 0.0 END * 4.0, 1.0)
                         + greatest(0.0, 1.0 - CASE WHEN length(text) > 0
                             THEN (length(text) - length(regexp_replace(text,
                                  '[^\\w\\s]', '', 'g')))
                                  / CAST(length(text) AS DOUBLE)
                             ELSE 0.0 END * 4.0)) / 3.0, 4) AS q
                FROM documents
            ), ranked AS (
                SELECT comp.cluster_id, comp.doc_id, q.q,
                       row_number() OVER (PARTITION BY comp.cluster_id
                           ORDER BY q.q DESC, comp.doc_id ASC) AS rk
                FROM comp JOIN q USING (doc_id)
            )
            SELECT cluster_id,
                   count(*) AS cluster_size,
                   max(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id
            FROM ranked GROUP BY cluster_id
        """)
def q_dedup_keep_policy(spark, sf):
    """End-to-end dedup keep decision: MinHash pairs -> connected
    components -> keep the highest-quality doc per cluster (ties to the
    lowest id).  One row per near-dup cluster with the kept doc."""
    from dandi_s3_log_parser_spark.functions.text import quality_score
    from dandi_s3_log_parser_spark.operators.dedup import (
        dedup_clusters,
        minhash_dedup,
    )

    from pyspark.sql import Window

    d = _load(spark, sf, "documents")
    pairs = minhash_dedup(d, threshold=0.5).select("id_a", "id_b")
    clusters = dedup_clusters(pairs)
    q = d.select("doc_id", F.round(quality_score(F.col("text")), 4).alias("q"))
    j = clusters.join(q, on="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).alias(
                "kept_doc_id"
            ),
        )
    )


# rolling anomaly: same strictly-before 7-day frame, population
# stddev from running sums, identical NULL gating
@query(oracle="""
            WITH daily AS (
                SELECT event_type AS key, strftime(ts, '%Y-%m-%d') AS day,
                       COUNT(*) AS n_events
                FROM events GROUP BY 1, 2
            ), w AS (
                SELECT key, day, n_events,
                       avg(CAST(n_events AS DOUBLE)) OVER win AS m,
                       avg(CAST(n_events AS DOUBLE)
                           * CAST(n_events AS DOUBLE)) OVER win AS m2,
                       count(n_events) OVER win AS hist
                FROM daily
                WINDOW win AS (PARTITION BY key ORDER BY day
                               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
            ), s AS (
                SELECT key, day, CAST(n_events AS BIGINT) AS n_events,
                       m, hist,
                       sqrt(greatest(m2 - m * m, 0.0)) AS sd
                FROM w
            )
            SELECT key, day, n_events,
                   CASE WHEN hist >= 3 THEN round(m, 4)
                        END AS baseline_mean,
                   CASE WHEN hist >= 3 THEN round(sd, 4)
                        END AS baseline_std,
                   CASE WHEN hist >= 3 AND sd > 0
                        THEN round((n_events - m) / sd, 4) END AS z,
                   COALESCE(CASE WHEN hist >= 3 AND sd > 0
                                 THEN abs((n_events - m) / sd) > 3.0 END,
                            FALSE) AS is_anomaly
            FROM s ORDER BY key, day
        """)
def q_rolling_anomaly(spark, sf):
    """Rolling z-score anomaly detection on per-(event_type, day)
    request counts — 7-day trailing baseline, strictly-before frame,
    population stddev, flag at |z| > 3."""
    from dandi_s3_log_parser_spark.operators.anomaly import rolling_anomaly

    return rolling_anomaly(
        _load(spark, sf, "events"), key_col="event_type", ts_col="ts"
    ).orderBy("key", "day")


# inverted index: distinct (token, doc) pairs, exact df, first-20
# ascending posting list comma-joined
@query(oracle="""
            WITH pairs AS (
                SELECT DISTINCT t AS token, doc_id
                FROM (SELECT doc_id, unnest({toks_lower}) AS t
                      FROM documents)
            )
            SELECT token, CAST(count(*) AS BIGINT) AS df,
                   array_to_string(list_sort(list(doc_id))[1:20], ',')
                       AS postings
            FROM pairs GROUP BY token ORDER BY token
        """.format(toks_lower=_TOKS_LOWER))
def q_inverted_index(spark, sf):
    """Inverted index over the documents corpus: token -> exact df +
    first-20 posting list (WindowGroupLimit-capped per token)."""
    from dandi_s3_log_parser_spark.operators.curation import inverted_index

    return inverted_index(
        _load_spread(spark, sf, "documents"), max_postings=20
    ).orderBy("token")


# first-touch ordered funnel: each step's reach = keys with an
# event of that type strictly after their earliest qualifying
# previous-step time; mirrors operators/sessionize.event_funnel
# (same 2-day slice, same strict > chaining, same round-4
# conversion vs the step-1 denominator)
@query(oracle="""
            WITH ev AS (
                SELECT user_id AS k, ts AS t, event_type AS typ
                FROM events
                WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
            ), s1 AS (
                SELECT k, min(t) AS t FROM ev
                WHERE typ = 'view' GROUP BY k
            ), s2 AS (
                SELECT e.k, min(e.t) AS t
                FROM ev e JOIN s1 ON e.k = s1.k
                WHERE e.typ = 'click' AND e.t > s1.t
                GROUP BY e.k
            ), s3 AS (
                SELECT e.k, min(e.t) AS t
                FROM ev e JOIN s2 ON e.k = s2.k
                WHERE e.typ = 'purchase' AND e.t > s2.t
                GROUP BY e.k
            ), counts AS (
                SELECT CAST(1 AS INT) AS step_index, 'view' AS step,
                       CAST((SELECT count(*) FROM s1) AS BIGINT) AS keys
                UNION ALL
                SELECT CAST(2 AS INT), 'click',
                       CAST((SELECT count(*) FROM s2) AS BIGINT)
                UNION ALL
                SELECT CAST(3 AS INT), 'purchase',
                       CAST((SELECT count(*) FROM s3) AS BIGINT)
            ), base AS (
                SELECT keys AS first FROM counts WHERE step_index = 1
            )
            SELECT step_index, step, keys,
                   CASE WHEN first > 0
                        THEN round(CAST(keys AS DOUBLE) / first, 4)
                   END AS conversion
            FROM counts CROSS JOIN base
            ORDER BY step_index
        """)
def q_event_funnel(spark, sf):
    """Ordered view -> click -> purchase funnel over the first two days
    of events (the full month saturates every user through every step;
    the slice leaves real drop-off to measure)."""
    from dandi_s3_log_parser_spark.operators.sessionize import event_funnel

    ev = _load(spark, sf, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    return event_funnel(ev, ["view", "click", "purchase"])


def _pagerank_oracle_sql(iters: int = 4, ndp: int = 8) -> str:
    """Unrolled PageRank iterations mirroring operators/graph.pagerank
    exactly: same edge synthesis (self-loops dropped, distinct), same
    per-edge share pre-rounded to 12 decimals then summed as exact
    DECIMAL(28,12), same dangling-mass decimal sum, same
    ``base + d*(s + dm/n)`` double expression order, same per-iteration
    round to ``ndp``."""
    ctes = [
        """raw AS (
            SELECT DISTINCT CAST(doc_id % 47 AS BIGINT) AS src,
                   CAST((doc_id * 7 + 3) % 50 AS BIGINT) AS dst
            FROM documents
            WHERE doc_id % 47 <> (doc_id * 7 + 3) % 50
        ), nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM raw
                UNION ALL SELECT dst FROM raw)
        ), cnt AS (
            SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
        ), outdeg AS (
            SELECT src, count(*) AS deg FROM raw GROUP BY src
        ), r0 AS (
            SELECT node, round(1.0 / n, NDP) AS rank
            FROM nodes CROSS JOIN cnt
        )""".replace("NDP", str(ndp))
    ]
    for k in range(1, iters + 1):
        p = f"r{k - 1}"
        ctes.append(f"""d{k} AS (
            SELECT COALESCE(CAST(sum(CAST(r.rank AS DECIMAL(20,8)))
                                 AS DOUBLE), 0.0) AS dm
            FROM {p} r LEFT JOIN outdeg o ON o.src = r.node
            WHERE o.src IS NULL
        ), s{k} AS (
            SELECT e.dst AS node,
                   sum(CAST(round(r.rank / o.deg, 12)
                            AS DECIMAL(28,12))) AS s
            FROM raw e JOIN {p} r ON e.src = r.node
                       JOIN outdeg o ON o.src = e.src
            GROUP BY e.dst
        ), r{k} AS (
            SELECT n.node,
                   round((1 - 0.85) / cnt.n
                         + 0.85 * (COALESCE(CAST(s.s AS DOUBLE), 0.0)
                                   + d.dm / cnt.n), {ndp}) AS rank
            FROM nodes n CROSS JOIN cnt CROSS JOIN d{k} d
            LEFT JOIN s{k} s ON s.node = n.node
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, rank FROM r{iters} ORDER BY node"
    )


# PageRank: full unrolled recompute (see _pagerank_oracle_sql)
@query(oracle=_pagerank_oracle_sql(4))
def q_pagerank(spark, sf):
    """4-iteration PageRank (d=0.85, dangling redistribution) over a
    host graph synthesized per-doc on BOTH engines: src = doc_id % 47,
    dst = (doc_id*7 + 3) % 50 — hosts 47-49 never appear as src, so
    the dangling-mass path is exercised."""
    from dandi_s3_log_parser_spark.operators.graph import pagerank

    d = _load(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 47).cast("long").alias("src"),
        ((F.col("doc_id") * 7 + 3) % 50).cast("long").alias("dst"),
    )
    return pagerank(edges, iters=4).orderBy("node")


def _hits_oracle_sql(iters: int = 4, ndp: int = 8) -> str:
    """Unrolled HITS iterations mirroring operators/graph.hits exactly:
    same edge synthesis (self-loops dropped, distinct), scores summed
    as exact DECIMAL(20,8), each normalization = coalesce-to-0 double
    division by the exact-decimal total cast to double, then round to
    ``ndp``.  hub0 = 1.0 (unnormalized, as in the operator).

    Every CTE is MATERIALIZED: DuckDB inlines CTEs by default, and
    each iteration references the previous one several times (the
    propagate join + the normalization's scalar-subquery total), so
    inlining re-evaluates the chain combinatorially — the unrolled
    4-iteration query never finishes without materialization."""
    ctes = [
        """e AS MATERIALIZED (
            SELECT DISTINCT CAST(doc_id % 29 AS BIGINT) AS src,
                   CAST((doc_id * 5 + 2) % 31 AS BIGINT) AS dst
            FROM documents
            WHERE doc_id % 29 <> (doc_id * 5 + 2) % 31
        ), nodes AS MATERIALIZED (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e
                UNION ALL SELECT dst FROM e)
        ), h0 AS MATERIALIZED (
            SELECT node, 1.0 AS score FROM nodes
        )"""
    ]
    for k in range(1, iters + 1):
        ctes.append(f"""ar{k} AS MATERIALIZED (
            SELECT e.dst AS node,
                   sum(CAST(h.score AS DECIMAL(20,8))) AS s
            FROM e JOIN h{k - 1} h ON h.node = e.src
            GROUP BY e.dst
        ), a{k} AS MATERIALIZED (
            SELECT n.node,
                   round(COALESCE(CAST(r.s AS DOUBLE), 0.0)
                         / (SELECT CAST(sum(s) AS DOUBLE) FROM ar{k}),
                         {ndp}) AS score
            FROM nodes n LEFT JOIN ar{k} r ON r.node = n.node
        ), hr{k} AS MATERIALIZED (
            SELECT e.src AS node,
                   sum(CAST(a.score AS DECIMAL(20,8))) AS s
            FROM e JOIN a{k} a ON a.node = e.dst
            GROUP BY e.src
        ), h{k} AS MATERIALIZED (
            SELECT n.node,
                   round(COALESCE(CAST(r.s AS DOUBLE), 0.0)
                         / (SELECT CAST(sum(s) AS DOUBLE) FROM hr{k}),
                         {ndp}) AS score
            FROM nodes n LEFT JOIN hr{k} r ON r.node = n.node
        )""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT h.node, h.score AS hub, a.score AS auth
        FROM h{iters} h JOIN a{iters} a ON a.node = h.node
        ORDER BY h.node"""
    )


@query(oracle=_hits_oracle_sql(4))
def q_hits(spark, sf):
    """4-iteration HITS hubs/authorities over a host graph synthesized
    per-doc on BOTH engines: src = doc_id % 29, dst = (doc_id*5 + 2)
    % 31 — the ranges differ so some nodes are dst-only (hub 0) and
    the two score vectors genuinely diverge."""
    from dandi_s3_log_parser_spark.operators.graph import hits

    d = _load(spark, sf, "documents")
    edges = d.select(
        (F.col("doc_id") % 29).cast("long").alias("src"),
        ((F.col("doc_id") * 5 + 2) % 31).cast("long").alias("dst"),
    )
    return hits(edges, iters=4).orderBy("node")


# exact containment over ALL pairs of the doc+excerpt corpus:
# equality with the operator's candidate-join output holds
# because no shingle's df approaches df_cap at oracle sf, so
# candidate recall is exactly 1 (any pair sharing >= 1 gram is
# generated; pairs sharing none have containment 0 < 0.8)
@query(oracle=f"""
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000,
                       array_to_string(
                           ({_TOKS})[1:5], ' ')
                FROM documents WHERE doc_id % 5 = 0
            ), toks AS (
                SELECT doc_id, {_TOKS_LOWER} AS t
                FROM base
            ), sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len(t) - 1, 1)),
                           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                       )) AS grams
                FROM toks WHERE len(t) >= 3
            )
            SELECT id_a, id_b, containment FROM (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(CAST(len(list_intersect(a.grams, b.grams))
                                  AS DOUBLE) / len(a.grams), 4)
                           AS containment
                FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
            ) WHERE containment >= 0.8
            ORDER BY id_a, id_b
        """)
def q_containment_dedup(spark, sf):
    """Asymmetric containment near-dup over the documents table plus
    synthesized excerpts: every doc_id % 5 == 0 doc contributes a
    derived doc (id + 1,000,000) whose text is its first 5 whitespace
    tokens — a quote/snippet whose shingles are fully contained in the
    parent (containment 1.0 one way, low the other), the case
    symmetric Jaccard misses.  The oracle recomputes exact containment
    over ALL pairs; candidate recall is exactly 1 here because no
    shingle's document frequency approaches the df_cap at oracle sf."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        containment_near_dup,
    )

    d = _load(spark, sf, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))
    excerpts = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.array_join(F.slice(toks, 1, 5), " ").alias("text"),
    )
    # the sf* documents table is ONE tiny parquet row group -> a 1-2
    # task scan; the shingle/posting stage is the CPU of this query, so
    # spread it (at real scale the scan's own parallelism does this)
    corpus = d.unionByName(excerpts).repartition(
        spark.sparkContext.defaultParallelism
    )
    return containment_near_dup(corpus, threshold=0.8, n=3).orderBy(
        "id_a", "id_b"
    )


# incremental crawl dedup: exact recompute of ALL cross-side
# 3-gram Jaccard pairs (odd = new, even = corpus); the in-query
# recall-1 guard makes LSH output == exact output on the fixture
@query(oracle=f"""
            WITH sh AS (
                SELECT doc_id,
                       list_distinct(list_transform(
                           range(1, greatest(len({_TOKS_LOWER}) - 1, 1)),
                           i -> {_TOKS_LOWER}[i] || ' ' || {_TOKS_LOWER}[i+1]
                                || ' ' || {_TOKS_LOWER}[i+2]
                       )) AS grams
                FROM documents WHERE len({_TOKS_LOWER}) >= 3
            ), pairs AS (
                SELECT n.doc_id AS nid, o.doc_id AS oid,
                       round(CAST(len(list_intersect(n.grams, o.grams))
                                  AS DOUBLE)
                             / len(list_distinct(
                                   list_concat(n.grams, o.grams))),
                             4) AS jac
                FROM sh n JOIN sh o
                  ON n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
            ), best AS (
                SELECT nid, min(oid) AS dup_of
                FROM pairs WHERE jac >= 0.5 GROUP BY nid
            )
            SELECT d.doc_id,
                   best.dup_of,
                   p.jac AS jaccard,
                   best.dup_of IS NOT NULL AS is_dup
            FROM documents d
            LEFT JOIN best ON best.nid = d.doc_id
            LEFT JOIN pairs p
              ON p.nid = d.doc_id AND p.oid = best.dup_of
            WHERE d.doc_id % 2 = 1
            ORDER BY d.doc_id
        """)
def q_incremental_dedup(spark, sf):
    """Incremental crawl dedup: odd-id docs are the NEW snapshot,
    even-id docs the EXISTING corpus; each new doc gets its lowest
    near-dup corpus id (3-gram Jaccard >= 0.5 via cross-side
    MinHash-LSH + exact verify).  The oracle recomputes ALL exact
    cross-side pairs; as with minhash_lsh_dedup, that equality needs
    LSH recall 1 on the fixture, so it is asserted IN-QUERY at the
    oracle sf and raises loudly if a fixture change breaks it."""
    from dandi_s3_log_parser_spark.operators.dedup import (
        incremental_minhash_dedup,
        with_shingles,
    )

    d = _load_spread(spark, sf, "documents")
    new = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    out = incremental_minhash_dedup(new, corpus, threshold=0.5)
    if _is_oracle_sf(sf):
        sh_n = with_shingles(new).select(
            F.col("doc_id").alias("nid"), F.col("sh").alias("sh_n")
        ).filter(F.size("sh_n") > 0)
        sh_o = with_shingles(corpus).select(
            F.col("doc_id").alias("oid"), F.col("sh").alias("sh_o")
        ).filter(F.size("sh_o") > 0)
        exact = (
            sh_n.crossJoin(sh_o)
            .withColumn(
                "jac",
                F.round(
                    F.size(F.array_intersect("sh_n", "sh_o"))
                    / F.size(F.array_union("sh_n", "sh_o")),
                    4,
                ),
            )
            .filter(F.col("jac") >= 0.5)
            .select("nid", "oid")
        )
        # pair-precise: LSH missing the MINIMUM-id pair while catching
        # another would flag the doc but report the wrong dup_of, so
        # compare the exact argmin itself, not mere dup membership
        exact_best = exact.groupBy("nid").agg(F.min("oid").alias("oid"))
        n_exact = exact_best.count()
        missing = exact_best.join(
            out.select(F.col("doc_id").alias("nid"), F.col("dup_of").alias("oid")),
            ["nid", "oid"],
            "left_anti",
        ).count()
        if missing:
            raise ValueError(
                f"incremental_dedup: LSH disagreed with the exact argmin "
                f"on {missing}/{n_exact} new docs on the oracle fixture — "
                "the exact-recompute oracle is only valid at recall 1; "
                "add bands/hashes or weaken the oracle"
            )
    # unsorted: the driver canon-sorts rows before hashing, and a
    # terminal global sort would re-execute the LSH+verify plan for
    # the range-partitioner sampling pass (measured ~2x)
    return out


# domain blocklist: identical host synthesis; blocked iff any
# dot-suffix of the (lowercased) host is a blocklisted domain
@query(oracle="""
            WITH hosts AS (
                SELECT doc_id,
                       CASE CAST(doc_id % 5 AS INT)
                         WHEN 0 THEN 'www.spam' || CAST(doc_id AS VARCHAR)
                                     || '.bad.com'
                         WHEN 1 THEN 'ads.tracker.net'
                         WHEN 2 THEN 'sub' || CAST(doc_id AS VARCHAR)
                                     || '.ok.org'
                         WHEN 3 THEN 'tracker.net'
                         ELSE 'deep.ads.tracker.net'
                       END AS host
                FROM documents
            )
            SELECT doc_id, host FROM hosts
            WHERE NOT list_has_any(
                list_transform(
                    generate_series(1, len(string_split(lower(host), '.'))),
                    i -> array_to_string(
                        list_slice(string_split(lower(host), '.'), i,
                                   len(string_split(lower(host), '.'))),
                        '.')),
                ['bad.com', 'ads.tracker.net'])
            ORDER BY doc_id
        """)
def q_domain_blocklist(spark, sf):
    """Domain deny-list filtering on suffix match: hosts synthesized
    per doc_id%5 on BOTH engines; blocklist = {bad.com,
    ads.tracker.net}.  Covers exact match, subdomain match, a host
    whose PARENT is not listed (tracker.net survives), and clean
    hosts."""
    from dandi_s3_log_parser_spark.operators.curation import (
        filter_blocked_domains,
    )

    d = _load(spark, sf, "documents")
    m = F.col("doc_id") % 5
    sid = F.col("doc_id").cast("string")
    host = (
        F.when(m == 0, F.concat(F.lit("www.spam"), sid, F.lit(".bad.com")))
        .when(m == 1, F.lit("ads.tracker.net"))
        .when(m == 2, F.concat(F.lit("sub"), sid, F.lit(".ok.org")))
        .when(m == 3, F.lit("tracker.net"))
        .otherwise(F.lit("deep.ads.tracker.net"))
    )
    hosts = d.select("doc_id", host.alias("host"))
    block = spark.createDataFrame(
        [("BAD.com",), ("ads.tracker.net",)], "domain string"
    )
    return filter_blocked_domains(hosts, block).orderBy("doc_id")


# gap sessionization: lag -> flag -> running-sum ordinal ->
# per-session aggregate; interval arithmetic is exact
# microseconds in both engines
@query(oracle="""
            WITH s AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts > lag(ts) OVER w
                                         + INTERVAL 720 MINUTE
                            THEN 1 ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s2 AS (
                SELECT user_id, ts,
                       CAST(sum(new_sess) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1
                           AS session_id
                FROM s
            )
            SELECT user_id, session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%dT%H:%M:%S.%f')
                       AS session_start,
                   strftime(max(ts), '%Y-%m-%dT%H:%M:%S.%f')
                       AS session_end
            FROM s2 GROUP BY user_id, session_id
        """)
def q_sessionize(spark, sf):
    """Gap-based sessionization over the events stream (720-min gap:
    the corpus' median per-user gap is ~440 min, so sessions mix
    multi-event runs and singletons)."""
    from dandi_s3_log_parser_spark.operators.sessionize import session_stats

    return session_stats(
        _load_spread(spark, sf, "events"), key_col="user_id", ts_col="ts",
        gap_minutes=720,
    )


# one pipeline warehouse per driver process, removed at interpreter exit
# (the returned DataFrame lazily reads from it, so it cannot be deleted
# inside the query function; repeated queries() runs reuse it — the
# pipeline's lineage resume makes the second run a cheap no-op — and
# /tmp is left clean afterwards instead of accumulating one warehouse
# per correctness run)
_PIPELINE_WAREHOUSE = None


def _pipeline_warehouse() -> str:
    global _PIPELINE_WAREHOUSE
    if _PIPELINE_WAREHOUSE is None:
        import tempfile

        _PIPELINE_WAREHOUSE = tempfile.TemporaryDirectory(prefix="entry_pipeline_")
    return _PIPELINE_WAREHOUSE.name


def _publish_pipeline_inputs(tables) -> None:
    """Dump the deterministic synthetic pipeline inputs for the SQL
    oracle: pages + dimension tables, plus (ip, sha1-hash) computed with
    PYTHON hashlib (not Spark) because DuckDB has no sha1()."""
    import pandas as pd

    from dandi_s3_log_parser_spark.datagen import sha1_ip_hash

    _publish_exchange("pp_pages", tables.pages)
    _publish_exchange("pp_assets", tables.assets)
    _publish_exchange("pp_cidr", tables.cidr_ranges)
    _publish_exchange("pp_cache", tables.ip_region_cache)
    _publish_exchange("pp_geo", tables.geo_fallback)
    _publish_exchange("pp_excluded", tables.excluded_ips)
    ips = tables.expected["ips"]
    _publish_exchange(
        "pp_iphash",
        pd.DataFrame(
            {"ip_address": ips, "ip_hash": [sha1_ip_hash(ip) for ip in ips]}
        ),
    )


# the full pipeline re-derived in SQL over the dumped raw inputs.
# Header tokens by position (space-split; the quoted request segment is
# exactly 3 tokens in the synthetic corpus): 5=ip, 8=operation, 9=key,
# 13=status, 15=bytes
_PAGES_PIPELINE_SQL = """
    WITH parsed AS (
        SELECT string_split(split_part(decode(html), chr(10), 1), ' ') AS t
        FROM read_parquet('{pages}')
    ), fields AS (
        SELECT t[5] AS ip, t[8] AS op, t[9] AS key,
               t[13] AS status, t[15] AS bytes_raw
        FROM parsed
    ), kept AS (
        SELECT ip,
               CASE WHEN key LIKE 'zarr/%' THEN
                    split_part(key, '/', 1) || '/' || split_part(key, '/', 2)
               ELSE key END AS object_key,
               CASE WHEN bytes_raw = '-' THEN 0
                    ELSE CAST(bytes_raw AS BIGINT) END AS bytes_sent
        FROM fields
        WHERE op = 'REST.GET.OBJECT'
          AND split_part(key, '/', 1) IN ('blobs', 'zarr')
          AND status LIKE '2%'
          AND ip NOT IN (SELECT ip_address FROM read_parquet('{excluded}'))
    ), ips AS (
        SELECT DISTINCT ip,
               TRY_CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
               + TRY_CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
               + TRY_CAST(split_part(ip, '.', 3) AS BIGINT) * 256
               + TRY_CAST(split_part(ip, '.', 4) AS BIGINT) AS ip_long
        FROM kept
    ), cidr_first AS (
        SELECT ip, region FROM (
            SELECT i.ip,
                   CASE WHEN c.subregion IS NOT NULL
                        THEN c.service || '/' || c.subregion
                        ELSE c.service END AS region,
                   row_number() OVER (PARTITION BY i.ip
                                      ORDER BY c.precedence) AS rn
            FROM ips i
            JOIN read_parquet('{cidr}') c
              ON i.ip_long BETWEEN c.net_start AND c.net_end
        ) WHERE rn = 1
    ), region_map AS (
        SELECT i.ip,
               COALESCE(CASE WHEN i.ip = 'unknown' THEN 'unknown' END,
                        ca.region, cf.region, g.region, 'unknown') AS region
        FROM ips i
        LEFT JOIN read_parquet('{iphash}') ih ON ih.ip_address = i.ip
        LEFT JOIN read_parquet('{cache}') ca ON ca.ip_hash = ih.ip_hash
        LEFT JOIN cidr_first cf ON cf.ip = i.ip
        LEFT JOIN read_parquet('{geo}') g ON g.ip_hash = ih.ip_hash
    ), blob_dim AS (
        SELECT DISTINCT dandiset_id, blob_key FROM read_parquet('{assets}')
    )
    SELECT d.dandiset_id, r.region,
           CAST(sum(k.bytes_sent) AS BIGINT) AS bytes_sent
    FROM kept k
    JOIN blob_dim d ON k.object_key = d.blob_key
    JOIN region_map r ON r.ip = k.ip
    GROUP BY 1, 2
"""


@query(oracle=_PAGES_PIPELINE_SQL.format(**{
    t: _exchange_path(f"pp_{t}")
    for t in ("pages", "excluded", "cidr", "cache", "geo", "iphash", "assets")
}))
def q_pages_pipeline(spark, sf):
    """Full graft pipeline on deterministic synthetic pages: parse ->
    enrich -> route -> aggregate, returning the dandiset by-REGION
    summary (exercises the whole enrich precedence chain).  The oracle
    re-derives the summary in pure SQL from the dumped raw inputs:
    header split, op/key/status filters, zarr truncation, excluded-ip
    anti join, cache>CIDR-first-match>geo>unknown region resolution,
    distinct-blob dandiset join, groupBy sum."""
    from dandi_s3_log_parser_spark.datagen import generate, to_spark
    from dandi_s3_log_parser_spark.plans.pipeline import PipelineConfig, run_pipeline
    from dandi_s3_log_parser_spark.sources.tables import Catalog

    tables = generate(600, seed=21)
    pages, dims = to_spark(spark, tables)
    cat = Catalog(spark, _pipeline_warehouse())
    run_pipeline(spark, cat, pages, dims, PipelineConfig(), "entry")
    if _is_oracle_sf(sf):
        _publish_pipeline_inputs(tables)
    return cat.read("dandiset_summary_by_region").select(
        "dandiset_id", "region", F.col("bytes_sent").cast("long").alias("bytes_sent")
    )


@query(oracle=f"""
            SELECT media_id, kind,
                   octet_length(payload) AS byte_len,
                   sha256(decode(payload)) AS payload_sha256,
                   64 + CAST(concat('0x', substr(sha256(decode(payload)), 1, 2)) AS INT) * 4 AS width,
                   64 + CAST(concat('0x', substr(sha256(decode(payload)), 3, 2)) AS INT) * 4 AS height,
                   CAST(0 AS BIGINT) AS duration_ms,
                   1 AS n_frames
            FROM read_parquet('{_exchange_path("multimodal_media")}')
        """)
def q_multimodal_decode(spark, sf):
    """Binary media plumbing: synthetic html bytes -> mapInPandas
    decode-stub -> per-row decoded features.  The fake decode derives
    dimensions from sha256(payload), which DuckDB can recompute from
    the dumped payloads — every emitted row is verified."""
    from dandi_s3_log_parser_spark.datagen import generate, to_spark
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_media,
        media_from_pages,
    )

    tables = generate(300, seed=13)
    pages, _ = to_spark(spark, tables)
    media = media_from_pages(pages)
    _publish_at_oracle_sf(
        sf, "multimodal_media", media.select("media_id", "kind", "payload")
    )
    decoded = decode_media(media)
    return decoded.select(
        "media_id",
        "kind",
        "byte_len",
        F.col("sha256").alias("payload_sha256"),
        "width",
        "height",
        "duration_ms",
        "n_frames",
    )


# per-domain cap: Spark's WindowGroupLimit-rewritten plan must
# equal this naive single-window formulation (total order:
# n_chars desc, id asc)
@query(oracle="""
            SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
            FROM (
                SELECT doc_id, source, n_chars,
                       row_number() OVER (PARTITION BY source
                                          ORDER BY n_chars DESC, doc_id ASC)
                           AS rn
                FROM documents
            ) WHERE rn <= 10
            ORDER BY source, doc_id
        """)
def q_per_source_cap(spark, sf):
    """Per-domain document cap (keep the 10 longest docs per source,
    ties to the lowest id).  Spark side is the naive row_number()<=k
    shape that the optimizer rewrites with WindowGroupLimit (map-side
    partial per-key top-k before the exchange — hot-key-proof without
    hand-salting; see per_key_cap's docstring and the plan-pin test);
    oracle is the same naive window in DuckDB."""
    from dandi_s3_log_parser_spark.operators.curation import per_key_cap

    d = _load(spark, sf, "documents")
    return per_key_cap(
        d,
        "source",
        k=10,
        order_by=[F.desc("n_chars"), F.asc("doc_id")],
    ).select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    ).orderBy("source", "doc_id")


# OOV rate: vocabulary = top-100 tokens by (count desc, token
# asc); per-doc share of token occurrences outside it
@query(oracle=f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest({_TOKS_LOWER}) AS tok
                FROM documents
            ), vocab AS (
                SELECT tok FROM (
                    SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
                    ORDER BY cnt DESC, tok ASC LIMIT 100
                )
            ), inv AS (
                SELECT doc_id, count(*) AS in_cnt
                FROM toks JOIN vocab USING (tok) GROUP BY doc_id
            ), tot AS (
                SELECT doc_id,
                       len({_TOKS_LOWER}) AS n_tokens
                FROM documents
            )
            SELECT t.doc_id,
                   CAST(t.n_tokens AS BIGINT) AS n_tokens,
                   round(1.0 - coalesce(i.in_cnt, 0)
                         / greatest(t.n_tokens, 1), 6) AS oov_rate
            FROM tot t LEFT JOIN inv i ON i.doc_id = t.doc_id
            ORDER BY t.doc_id
        """)
def q_oov_rate(spark, sf):
    """Per-doc out-of-vocabulary occurrence rate vs the corpus top-100
    vocabulary (broadcast-derived dimension; see operator docstring)."""
    from dandi_s3_log_parser_spark.operators.curation import oov_rate

    return oov_rate(_load_spread(spark, sf, "documents"), vocab_k=100).orderBy(
        "doc_id"
    )


# unigram-LM perplexity proxy: full vocabulary recompute, per-doc
# avg(-ln(cnt/total)) rounded to 4 (summation-order jitter is
# ~1e-12, far inside the rounding)
@query(oracle=f"""
            WITH toks AS (
                SELECT doc_id,
                       unnest({_TOKS_LOWER}) AS tok
                FROM documents
            ), vocab AS (
                SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
            ), tot AS (
                SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM vocab
            )
            SELECT t.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   round(avg(-ln(v.cnt / tt.total)), 4) AS nll
            FROM toks t JOIN vocab v USING (tok), tot tt
            GROUP BY t.doc_id
            ORDER BY t.doc_id
        """)
def q_unigram_logprob(spark, sf):
    """Per-doc mean negative log-likelihood under the corpus' own
    unigram LM (CCNet-style perplexity-proxy quality signal; see
    operator docstring for the single-tokenize / narrow-shuffle plan)."""
    from dandi_s3_log_parser_spark.operators.curation import unigram_logprob

    return unigram_logprob(_load_spread(spark, sf, "documents")).orderBy("doc_id")


# as-of join: DuckDB's NATIVE ASOF LEFT JOIN vs the Spark
# union+running-window composition — two independent
# implementations of the same semantics; the snapshot dim is
# planted closed-form so both engines construct it exactly
@query(oracle="""
            WITH snaps AS (
                SELECT u.user_id, t.k AS snap_k,
                       TIMESTAMP '2024-01-01 00:00:00'
                           + INTERVAL 1 DAY * (3 * t.k) AS snap_ts,
                       (u.user_id * 7 + t.k) % 5 AS plan
                FROM (SELECT DISTINCT user_id FROM events) u,
                     range(0, 10) t(k)
            )
            SELECT e.event_id, e.user_id, s.snap_k, s.plan
            FROM events e ASOF LEFT JOIN snaps s
              ON e.user_id = s.user_id AND e.ts >= s.snap_ts
            ORDER BY e.event_id
        """)
def q_asof_join(spark, sf):
    """As-of join (most recent snapshot at-or-before each event, per
    user) — Spark lacks the operator, so this is the union + keyed
    running-window composition (``operators/asof.py``: one exchange,
    no join node); the oracle is DuckDB's NATIVE ``ASOF LEFT JOIN``, a
    genuinely independent implementation of the semantics.  The
    snapshot dimension is planted closed-form (per distinct user, one
    snapshot every 3 days from 2024-01-01, ``plan = (user_id*7 +
    snap_k) % 5``) so both engines construct it exactly."""
    events = _load(spark, sf, "events")
    snaps = (
        events.select("user_id").distinct()
        .crossJoin(spark.range(10).select(F.col("id").alias("snap_k")))
        .select(
            "user_id",
            "snap_k",
            F.expr(
                "timestampadd(DAY, CAST(3 * snap_k AS INT), "
                "timestamp'2024-01-01 00:00:00')"
            ).alias("snap_ts"),
            ((F.col("user_id") * 7 + F.col("snap_k")) % 5).alias("plan"),
        )
    )
    from dandi_s3_log_parser_spark.operators.asof import asof_join

    return (
        asof_join(
            events, snaps, key="user_id", left_ts="ts", right_ts="snap_ts",
            value_cols=["snap_k", "plan"],
        )
        .select("event_id", "user_id", "snap_k", "plan")
        .orderBy("event_id")
    )


# real PNG decode verified arithmetically: width/height/content
# are planted as pure functions of media_id (multimodal.CODECS
# table), so DuckDB recomputes the decoded stats WITHOUT a
# PNG parser; byte_len comes from the exchanged payload bytes
@query(oracle=f"""
            SELECT media_id,
                   CAST(octet_length(payload) AS BIGINT) AS byte_len,
                   CAST(8 + media_id % 13 AS INT) AS width,
                   CAST(8 + media_id % 11 AS INT) AS height,
                   CAST((8 + media_id % 11) * (8 + media_id % 13 + 1)
                        AS BIGINT) AS inflated_len,
                   CAST((8 + media_id % 11) * (8 + media_id % 13)
                        * ((media_id * 37) % 256) AS BIGINT) AS idat_byte_sum
            FROM read_parquet('{_exchange_path("png_media")}')
            ORDER BY media_id
        """)
def q_png_decode(spark, sf):
    """Real (pure-stdlib) PNG codec path: synthetic standards-valid
    PNGs -> chunk-walk + zlib-inflated-IDAT decode -> per-payload
    stats.  The oracle recomputes every statistic in closed form from
    the planted media_id arithmetic (and byte_len from the exchanged
    payload bytes), so a decoder bug cannot self-confirm."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, 300, "png")
    _publish_at_oracle_sf(sf, "png_media", media.select("media_id", "payload"))
    return decode_stats(media, "png").orderBy("media_id")


# real BMP decode verified arithmetically (multimodal.CODECS
# table): width/height/color are planted pure functions of
# media_id; row padding is zeros, so the padding-excluded pixel
# sum is width*height*(b+g+r) in closed form
@query(oracle=f"""
            SELECT media_id,
                   CAST(octet_length(payload) AS BIGINT) AS byte_len,
                   CAST(4 + media_id % 9 AS INT) AS width,
                   CAST(3 + media_id % 7 AS INT) AS height,
                   CAST((3 * (4 + media_id % 9) + 3) // 4 * 4 AS INT)
                       AS row_stride,
                   CAST(((3 * (4 + media_id % 9) + 3) // 4 * 4)
                        * (3 + media_id % 7) AS BIGINT) AS pixel_bytes,
                   CAST((4 + media_id % 9) * (3 + media_id % 7)
                        * ((media_id % 256) + ((media_id * 11) % 256)
                           + ((media_id * 29) % 256)) AS BIGINT)
                       AS pixel_byte_sum
            FROM read_parquet('{_exchange_path("bmp_media")}')
            ORDER BY media_id
        """)
def q_bmp_decode(spark, sf):
    """Real (pure-stdlib) BMP codec path: synthetic standards-valid
    24-bit BMPs -> header + padded-pixel-array decode -> per-payload
    stats, verified by closed-form media_id arithmetic exactly like
    png_decode (the oracle never parses BMP, so a decoder bug cannot
    self-confirm)."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, 300, "bmp")
    _publish_at_oracle_sf(sf, "bmp_media", media.select("media_id", "payload"))
    return decode_stats(media, "bmp").orderBy("media_id")


# real GIF decode verified arithmetically (multimodal.CODECS
# table): width/height/base index are planted pure
# functions of media_id; the first-frame palette-index sum is
# the double range sum over the (x, y) grid — the oracle never
# parses GIF or LZW
@query(oracle=f"""
            SELECT media_id,
                   CAST(octet_length(payload) AS BIGINT) AS byte_len,
                   CAST(5 + media_id % 11 AS INT) AS width,
                   CAST(4 + media_id % 7 AS INT) AS height,
                   CAST(4 AS INT) AS n_colors,
                   CAST((5 + media_id % 11) * (4 + media_id % 7)
                        AS BIGINT) AS n_pixels,
                   CAST(list_aggregate(flatten(list_transform(
                            range(0, 5 + media_id % 11),
                            x -> list_transform(
                                range(0, 4 + media_id % 7),
                                y -> ((media_id % 4) + x + y) % 4))),
                        'sum') AS BIGINT) AS index_sum
            FROM read_parquet('{_exchange_path("gif_media")}')
            ORDER BY media_id
        """)
def q_gif_decode(spark, sf):
    """Real (pure-stdlib) GIF codec path: synthetic standards-valid
    LZW-compressed GIF89a payloads -> block-walk + variable-width LZW
    decompression -> per-payload stats.  The oracle recomputes the
    planted index sum as a double range sum over the pixel grid (never
    parsing GIF), so an LZW bug cannot self-confirm."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, 300, "gif")
    _publish_at_oracle_sf(sf, "gif_media", media.select("media_id", "payload"))
    return decode_stats(media, "gif").orderBy("media_id")


# real WAV decode verified arithmetically (multimodal.CODECS
# table): rate/channels/samples/amplitude are planted pure
# functions of media_id; the low-byte sum of constant-amplitude
# (<128) PCM-16 LE frames is n_samples * channels * amplitude
@query(oracle=f"""
            SELECT media_id,
                   CAST(octet_length(payload) AS BIGINT) AS byte_len,
                   CAST(8000 * (1 + media_id % 3) AS INT) AS sample_rate,
                   CAST(1 + media_id % 2 AS INT) AS channels,
                   CAST(100 + media_id % 50 AS BIGINT) AS n_samples,
                   CAST((100 + media_id % 50) * 1000
                        // (8000 * (1 + media_id % 3)) AS BIGINT)
                       AS duration_ms,
                   CAST((100 + media_id % 50) * (1 + media_id % 2)
                        * (media_id % 128) AS BIGINT) AS data_byte_sum
            FROM read_parquet('{_exchange_path("wav_media")}')
            ORDER BY media_id
        """)
def q_wav_decode(spark, sf):
    """Real (pure-stdlib) WAV codec path: synthetic standards-valid
    PCM-16 RIFF/WAVE payloads -> chunk-walk decode -> per-payload
    format + content stats, verified by closed-form media_id arithmetic
    exactly like png_decode."""
    from dandi_s3_log_parser_spark.operators.multimodal import (
        decode_stats,
        synthetic_media,
    )

    media = synthetic_media(spark, 300, "wav")
    _publish_at_oracle_sf(sf, "wav_media", media.select("media_id", "payload"))
    return decode_stats(media, "wav").orderBy("media_id")


# last on purpose: a sub-second query at the tail (see REGISTRY)
@query(oracle="SELECT doc_id, md5(text) AS fp FROM documents")
def q_doc_fingerprint(spark, sf):
    d = _load(spark, sf, "documents")
    return d.select("doc_id", F.md5("text").alias("fp"))
