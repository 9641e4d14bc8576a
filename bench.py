#!/usr/bin/env python
"""Headline benchmark: prints ONE JSON line.

Measures (a) the end-to-end parse -> enrich -> route -> aggregate
pipeline on a deterministic synthetic pages table (the BASELINE.json
north-star metric, reported as docs/sec), and (b) per-query seconds for
the headline operator queries on $SPARK_GRAFT_SF_DIR.

Protocol (round 4): min-of-K trials per measurement with per-trial
executor-CPU seconds from the REST status API.  This box carries a
documented 5-15-core external background load, so a single trial
cannot distinguish a regression from noise: wall clock inflates under
load, executor CPU does not (±JIT) — `queries` reports the min trial,
`trials`/`cpu_s` report every trial so a drift can be adjudicated from
the recorded data instead of re-run folklore.

Env:
  SPARK_GRAFT_SF_DIR   default /root/testdata/sf0.1
  SPARK_GRAFT_CPUS     default 32
  BENCH_PAGES          synthetic pages row count (default 200000)
  BENCH_TRIALS         trials per query / steady pipeline pass (default 3)

Scaling evidence (N vs 4N parallelism) lives in bench_scaling.py and
BENCH.md; this script is the driver-facing single-line benchmark.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

REPO = Path(__file__).resolve().parent
WORK = REPO / "_work"


def _ensure_bench_pages(spark, n_pages: int, seed: int = 42):
    """Generate-once cache of the synthetic pages table (parquet).

    Pages come from the distributed chunk-seeded generator (parallel,
    deterministic in (n_pages, seed)); the dimension tables depend only
    on the seed and come from the driver-side oracle generator."""
    from dandi_s3_log_parser_spark.datagen import generate, generate_pages_spark, to_spark

    # v2: chunk-seeded distributed generator + TIMESTAMP_MICROS parquet
    # (footer-stat day discovery) — versioned key so stale v1 caches
    # (driver-side generator, INT96 timestamps) are never served
    path = WORK / f"bench_pages_v2_n{n_pages}_s{seed}"
    dims_path = WORK / f"bench_dims_v2_n{n_pages}_s{seed}"
    dim_names = (
        "assets", "cidr_ranges", "ip_region_cache", "geo_fallback",
        "excluded_ips",
    )
    if not (path / "_SUCCESS").exists():
        pages = generate_pages_spark(spark, n_pages, seed)
        pages.write.mode("overwrite").parquet(str(path))
    # dims cache checked independently of pages: they depend only on the
    # seed and regenerate in seconds, and a pages cache surviving a dims
    # cleanup used to crash the read below with a missing-path error
    if not all(
        (dims_path / name / "_SUCCESS").exists() for name in dim_names
    ):
        _, dims = to_spark(spark, generate(0, seed))
        for name, df in dims.items():
            df.write.mode("overwrite").parquet(str(dims_path / name))
    dims = {
        name: spark.read.parquet(str(dims_path / name))
        for name in dim_names
    }
    return spark.read.parquet(str(path)), dims


def _executor_totals(spark) -> tuple[float, float]:
    """(executor CPU s, executor run s) summed over completed stages (REST
    status API).  Requires spark.ui.enabled=true and a raised
    spark.ui.retainedStages (stage eviction shrinks the sums); returns
    (-1.0, -1.0) if the API is unreachable so a UI hiccup never kills the
    benchmark line."""
    import urllib.request

    try:
        base = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as resp:
            stages = json.load(resp)
    except Exception:
        return -1.0, -1.0
    cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
    run_ms = sum(s.get("executorRunTime", 0) for s in stages)
    return cpu_ns / 1e9, run_ms / 1e3


def _delta(before: float, after: float) -> float:
    """Growth of a cumulative executor sum; -1.0 when either read failed
    or the sum shrank (stage eviction) — unusable, not zero-cost."""
    return round(after - before, 3) if 0 <= before <= after else -1.0


def _between_query_cleanup(spark) -> None:
    """Drop leftover cached/localCheckpoint blocks between bench queries.

    Round-4 adjudication: `dedup_clusters` (iterative, localCheckpoint per
    round) ran 2-3x slower in the driver's 60-query session than in an
    isolated run with identical code — consistent with block-manager
    pressure from ~55 prior queries' leaked localCheckpoint RDDs (Python
    GC keeps JVM-side RDD refs alive until collected).  Clearing the
    cache and nudging both collectors between queries makes each query's
    trials start from the same storage state an isolated run sees."""
    import gc

    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    gc.collect()  # release py4j refs -> JVM ContextCleaner can drop RDD blocks
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass


def bench_pipeline(spark, n_pages: int, trials: int):
    """(cold_sec, steady_secs[], steady_cpu_s[]): the first pass pays
    JIT/codegen/Python-worker startup; the steady passes are the regime
    a long-lived cluster runs in, measured `trials` times."""
    import shutil

    from dandi_s3_log_parser_spark.plans.pipeline import PipelineConfig, run_pipeline
    from dandi_s3_log_parser_spark.sources.tables import Catalog

    pages, dims = _ensure_bench_pages(spark, n_pages)

    def one_pass(tag):
        wh = WORK / "bench_warehouse"
        shutil.rmtree(wh, ignore_errors=True)
        catalog = Catalog(spark, wh)
        cpu0, _ = _executor_totals(spark)
        t0 = time.perf_counter()
        run_pipeline(
            spark, catalog, pages, dims, PipelineConfig(), f"bench-{tag}", resume=False
        )
        wall = time.perf_counter() - t0
        cpu1, _ = _executor_totals(spark)
        return round(wall, 3), _delta(cpu0, cpu1)

    cold_sec, _ = one_pass("cold")
    steady = [one_pass(f"steady{i}") for i in range(trials)]
    return cold_sec, [s for s, _ in steady], [c for _, c in steady]


HEADLINE_QUERIES = (
    "reduce_filter_project",
    "regex_extract",
    "by_day_agg",
    "by_region_agg",
    "range_join",
    "window_rownumber",
    "sort_limit_topk",
    "rollup_agg",
    "dedup_exact",
    "token_count",
    "lang_id",
    "minhash_lsh_dedup",
    "cosine_topk",
    "lsh_ann_topk",
    "embedding_lsh_near_dup",
    "hourly_window",
    "sessionize",
    "repetition_metrics",
    "pack_sequences",
    "chunk_fixed_windows",
    "winnow_fingerprints",
    "bpe_top_pairs",
    "dedup_clusters",
    "decontaminate",
    "pii_redact",
    "corpus_line_dedup",
    "upsample_corpus",
    "vocab_topk",
    "tfidf_top_terms",
    "bm25_topk",
    "select_budget",
    "repeated_ngram_spans",
    "kmeans_assign",
    "semdedup_pairs",
    "curation_funnel",
    "per_source_cap",
    "oov_rate",
    "unigram_logprob",
    "png_decode",
    "gif_decode",
    "asof_join",
    "dsir_importance",
    "rolling_anomaly",
    "inverted_index",
    "domain_blocklist",
    "incremental_dedup",
    "pagerank",
    "hits",
    "containment_dedup",
    "event_funnel",
    "boilerplate_strip",
    "interval_overlap_join",
    "burst_detect",
    "apply_cdc",
    "approx_quantiles",
    "char_entropy",
    "pmi_collocations",
    "equidepth_histogram",
    "corpus_shuffle",
    "quality_classifier",
    "bigram_logprob",
    "ccnet_buckets",
    "cms_heavy_hitters",
    "pq_assign",
    "pq_adc_topk",
    "join_size_estimate",
    "encode_tokens",
    "source_divergence",
    "vocab_growth",
    "zipf_fit",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("BENCH_PAGES", "200000"))
    n_trials = int(os.environ.get("BENCH_TRIALS", "3"))

    from dandi_s3_log_parser_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(
        "bench", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "true",
            # the CPU accounting sums executorCpuTime over COMPLETED
            # stages; at the default retainedStages=1000 the UI evicts
            # old stages mid-benchmark and the cumulative sum shrinks,
            # yielding negative per-trial deltas
            "spark.ui.retainedStages": "100000",
        },
    )

    queries: dict[str, float] = {}
    trials: dict[str, list[float]] = {}
    cpu_s: dict[str, list[float]] = {}

    cold_sec, steady_secs, steady_cpu = bench_pipeline(spark, n_pages, n_trials)
    queries["pipeline_e2e"] = cold_sec
    queries["pipeline_e2e_steady"] = min(steady_secs)
    trials["pipeline_e2e_steady"] = steady_secs
    cpu_s["pipeline_e2e_steady"] = steady_cpu

    registry = entrymod.queries()
    for name in HEADLINE_QUERIES:
        fn = registry[name]
        # time construction + execution: iterative operators (e.g.
        # dedup_clusters' label-propagation loop) do their real work at
        # construction, so timing only the final action would underreport
        # them; for pure-lazy plans construction adds only milliseconds
        ts, cs = [], []
        for _ in range(n_trials):
            # cleanup per TRIAL, not per query: round-4 driver trials for
            # dedup_clusters got slower across its own trials
            # (8.9 -> 11.1 s) — each trial leaks that trial's
            # localCheckpoint blocks into the next, so only the first
            # trial ran from the storage state an isolated run sees
            _between_query_cleanup(spark)
            cpu0, _ = _executor_totals(spark)
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            ts.append(round(time.perf_counter() - t0, 3))
            cpu1, _ = _executor_totals(spark)
            cs.append(_delta(cpu0, cpu1))
        queries[name] = min(ts)
        trials[name] = ts
        cpu_s[name] = cs

    total = round(sum(queries.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    summary = {
        "metric": f"e2e parse->enrich->route->aggregate on {n_pages} synthetic docs + headline operator queries (min of {n_trials} trials)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "docs_per_sec": round(n_pages / min(steady_secs), 1),
        "docs_per_sec_median": round(n_pages / statistics.median(steady_secs), 1),
        "pipeline_docs": n_pages,
        "cpus": cpus,
        "n_trials": n_trials,
    }

    # Full per-trial payload (trials + executor-CPU per trial) goes to a
    # file: in round 4 it rode the stdout line and outgrew the driver's
    # tail capture, making the official BENCH_r04.json unparseable
    # ("parsed": null).  The LAST stdout line must stay compact.
    bench_dir = REPO / "bench_results"
    bench_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    full_path = bench_dir / f"bench_full_{stamp}_sf{sf}.json"
    full_payload = dict(summary, trials=trials, cpu_s=cpu_s)
    full_path.write_text(json.dumps(full_payload, indent=1))
    (bench_dir / "bench_full_latest.json").write_text(json.dumps(full_payload, indent=1))
    summary["full_results"] = str(full_path.relative_to(REPO))

    print(json.dumps(summary))


if __name__ == "__main__":
    main()
