"""Command-line entry points for the pipeline, shippable via spark-submit.

The reference exposes three console scripts (``pyproject.toml:39-42``):
``reduce_all_dandi_raw_s3_logs`` / ``bin_all_reduced_s3_logs_by_object_key``
/ ``map_binned_s3_logs_to_dandisets``.  This CLI exposes the same three
stages plus ``all`` and a ``datagen`` helper, as one argparse command
that runs identically under ``python -m dandi_s3_log_parser_spark`` (local
dev) and ``spark-submit --py-files dandi_s3_log_parser_spark.zip
jobs/pipeline_job.py`` (cluster; the north rule's packaging requirement).

Under spark-submit the session is created WITHOUT a hard-coded master so
``--master``/cluster deploy settings win; ``--local-cores`` forces
``local[k]`` for dev runs.
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark.sql import SparkSession


def _build_session(args) -> SparkSession:
    from .session import get_spark

    master = f"local[{args.local_cores}]" if args.local_cores else None
    return get_spark("dandi-s3-log-parser-spark", master=master)


def _load_dims(spark: SparkSession, dims_dir: str) -> dict:
    names = ("assets", "cidr_ranges", "ip_region_cache", "geo_fallback", "excluded_ips")
    return {n: spark.read.parquet(f"{dims_dir}/{n}") for n in names}


def cmd_datagen(args) -> int:
    from .datagen import generate, to_spark

    spark = _build_session(args)
    tables = generate(args.pages, seed=args.seed)
    pages, dims = to_spark(spark, tables)
    pages.repartition(max(spark.sparkContext.defaultParallelism, 1)).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/pages")
    for name, df in dims.items():
        df.write.mode("overwrite").parquet(f"{args.out}/dims/{name}")
    print(f"datagen: wrote {args.pages} pages + dims under {args.out}")
    return 0


def cmd_pipeline(args) -> int:
    from .plans.lineage import LineageLog
    from .plans.pipeline import (
        PipelineConfig,
        run_bin_stage,
        run_map_stage,
        run_pipeline,
        run_reduce_stage,
    )
    from .sources.tables import Catalog

    spark = _build_session(args)
    catalog = Catalog(spark, args.warehouse, iceberg_catalog=args.iceberg_catalog)
    cfg = PipelineConfig(
        salt_buckets=args.salt_buckets,
        excluded_years=tuple(args.excluded_years or ()),
        file_limit=args.file_limit,
        dandiset_limit=args.dandiset_limit,
    )
    run_id = args.run_id or f"run-{int(time.time())}"
    pages = spark.read.parquet(args.pages) if args.pages else None
    dims = _load_dims(spark, args.dims)

    t0 = time.perf_counter()
    if args.stage == "all":
        run_pipeline(spark, catalog, pages, dims, cfg, run_id, resume=not args.no_resume)
    else:
        lineage = LineageLog(catalog)
        if args.stage == "reduce":
            run_reduce_stage(
                spark, catalog, pages, cfg, lineage, run_id,
                excluded_ips=dims.get("excluded_ips"), resume=not args.no_resume,
            )
        elif args.stage == "bin":
            run_bin_stage(spark, catalog, cfg, lineage, run_id, resume=not args.no_resume)
        elif args.stage == "map":
            run_map_stage(
                spark, catalog, cfg, lineage, run_id,
                assets=dims["assets"], ip_region_cache=dims["ip_region_cache"],
                cidr_ranges=dims["cidr_ranges"], geo_fallback=dims["geo_fallback"],
            )
    dt = time.perf_counter() - t0
    print(f"pipeline stage={args.stage} run_id={run_id} completed in {dt:.1f}s")
    return 0


def cmd_stream_reduce(args) -> int:
    """Streaming twin of ``pipeline --stage reduce``: drain (or follow)
    a continuously-landing pages directory with checkpointed
    exactly-once microbatches (SURVEY §2.8)."""
    from .plans.pipeline import PipelineConfig
    from .sources.tables import Catalog
    from .streaming.stream_reduce import stream_reduce

    spark = _build_session(args)
    catalog = Catalog(spark, args.warehouse, iceberg_catalog=args.iceberg_catalog)
    excluded = (
        spark.read.parquet(f"{args.dims}/excluded_ips") if args.dims else None
    )
    q = stream_reduce(
        spark,
        args.pages,
        catalog,
        args.checkpoint,
        PipelineConfig(),
        excluded_ips=excluded,
        available_now=not args.follow,
    )
    if args.follow:
        q.awaitTermination()
    else:
        q.awaitTermination(args.timeout)
        print("stream-reduce: drained available input "
              f"(checkpoint {args.checkpoint})")
    return 0


def cmd_stream_curate(args) -> int:
    """Streaming ingest -> curate: drain (or follow) a landing documents
    directory through lang/quality filters + cross-batch first-seen
    dedup into a parquet kept-set, exactly-once across restarts (see
    streaming/stream_curate.py module docs)."""
    from .streaming.stream_curate import stream_curate

    spark = _build_session(args)
    q = stream_curate(
        spark,
        args.docs,
        args.out,
        args.checkpoint,
        min_score=args.min_score,
        langs=tuple(args.langs.split(",")),
        available_now=not args.follow,
        max_files_per_trigger=args.max_files_per_trigger,
    )
    if args.follow:
        q.awaitTermination()
    else:
        q.awaitTermination(args.timeout)
        n = spark.read.parquet(args.out).count()
        print(
            f"stream-curate: drained available input; kept-set now {n} "
            f"rows (checkpoint {args.checkpoint})"
        )
    return 0


def cmd_curate(args) -> int:
    """Document-corpus curation job: funnel filters -> optional
    benchmark decontamination -> exact dedup -> optional per-source cap
    -> optional corpus-level line dedup -> curated parquet + funnel
    report.  The documents-side twin of ``pipeline``: same session
    conventions, drivable under spark-submit with --py-files."""
    from pyspark.sql import functions as F

    from .functions.hashing import md5_prefix
    from .functions.text import quality_score
    from .operators.curation import corpus_line_dedup, curation_funnel
    from .operators.dedup import exact_dedup

    spark = _build_session(args)
    docs = spark.read.parquet(args.documents)
    # every condition is coalesced to FALSE so a NULL input (NULL text
    # / NULL lang) means "rule does not fail" in BOTH places this list
    # is consumed: curation_funnel's first-failing CASE chain (where
    # WHEN NULL already falls through to 'survived') and the keep
    # filter below (where a bare `~(c1|c2|...)` would turn NULL rows
    # into NULL -> silently dropped while the funnel counted them as
    # surviving — the report and the written output must agree)
    def _rule(name, cond):
        return (name, F.coalesce(cond, F.lit(False)))

    rules = [_rule("too_short", F.length("text") < args.min_chars)]
    if args.lang and "lang" in docs.columns:
        rules.append(_rule("wrong_lang", F.col("lang") != args.lang))
    if args.min_quality > 0:
        rules.append(
            _rule("low_quality",
                  F.round(quality_score(F.col("text")), 4) < args.min_quality)
        )
    survived = 0
    for row in curation_funnel(docs, rules).collect():  # rules+1 rows
        print(f"curate: stage={row['stage']} rule={row['rule']} "
              f"docs={row['docs']} remaining={row['remaining']}")
        if row["rule"] == "survived":
            survived = row["remaining"]
    n_stages = len(rules) + 1

    fail = F.lit(False)
    for _, cond in rules:
        fail = fail | cond
    kept = docs.filter(~fail)

    if args.benchmark:
        from .operators.decontaminate import decontaminate

        bench = spark.read.parquet(args.benchmark)
        bad_ids = (
            decontaminate(kept, bench, n=args.decontam_ngram)
            .filter("contaminated")
            .select("doc_id")
        )
        n_bad = bad_ids.count()
        kept = kept.join(bad_ids, "doc_id", "left_anti")
        survived -= n_bad
        n_stages += 1
        print(f"curate: stage={n_stages} rule=benchmark_contaminated "
              f"docs={n_bad} remaining={survived}")

    keep_ids = exact_dedup(kept, "text", "doc_id").select("doc_id")
    kept = kept.join(keep_ids, "doc_id", "left_semi")

    if args.max_per_source is not None and "source" in kept.columns:
        from .operators.curation import per_key_cap

        before = kept.count()
        kept = per_key_cap(
            kept,
            "source",
            k=args.max_per_source,
            order_by=[F.desc(F.length("text")), F.asc("doc_id")],
        )
        capped = before - kept.count()
        n_stages += 1
        print(f"curate: stage={n_stages} rule=over_source_cap "
              f"docs={capped} remaining={before - capped}")

    if args.line_df_limit is not None:
        lines = corpus_line_dedup(kept, max_doc_freq=args.line_df_limit)
        kept = kept.drop("text").join(
            lines.select("doc_id", "text"), "doc_id"
        )
    if args.encode_vocab:
        from .operators.curation import encode_tokens
        from .operators.dedup import word_tokens

        vocab = (
            kept.select(F.explode(word_tokens(F.col("text"))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("_c"))
            .orderBy(F.desc("_c"), F.asc("token"))
            .limit(args.encode_vocab)
            .select(
                "token",
                # shuffle-free md5 hash ids in [1, 999999] (0 stays the
                # oov/<unk> id); rare in-vocab collisions are the
                # hashing-trick trade, same as the quality classifier
                (
                    md5_prefix(F.col("token"), 8).cast("long") % 999999 + 1
                ).alias("token_id"),
            )
        )
        # drop any pre-existing n_tokens/ids columns first: the encode
        # output carries those names, and a duplicate-named join output
        # fails the parquet write (round-4 ADVICE); .drop of an absent
        # column is a no-op
        kept = kept.drop("n_tokens", "ids").join(
            encode_tokens(kept, vocab, oov_id=0), "doc_id"
        )
        print(f"curate: encoded with top-{args.encode_vocab} vocab "
              "(oov id 0)")

    if args.shards:
        from .operators.curation import corpus_shuffle

        order = corpus_shuffle(
            kept, n_shards=args.shards, salt=args.shuffle_salt
        )
        # one task per shard (repartition ON the shard value), rows
        # sorted into training order within it -> each shard=N/ dir
        # holds one file whose row order IS the training order
        (
            kept.join(order, "doc_id")
            .repartition(args.shards, F.col("shard"))
            .sortWithinPartitions("shard", "pos")
            .write.mode("overwrite")
            .partitionBy("shard")
            .parquet(args.out)
        )
    else:
        kept.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    shard_note = f" in {args.shards} shards" if args.shards else ""
    print(f"curate: wrote {n} curated docs to {args.out}{shard_note}")
    return 0


def cmd_report(args) -> int:
    """Corpus-health report: per-source stats, per-language exact
    length quantiles, an equi-depth length histogram, and the
    character-entropy band (whose tails are the garbled-text /
    single-char-spam drop candidates).  Read-only — the panel a
    curation run prints before anyone commits to filter thresholds."""
    from pyspark.sql import functions as F

    from .operators.curation import (
        char_entropy,
        equidepth_histogram,
        group_quantiles,
        source_stats,
    )

    spark = _build_session(args)
    docs = spark.read.parquet(args.documents)
    docs = docs.withColumn("_len", F.length("text"))
    group = "lang" if "lang" in docs.columns else None
    if group is None:
        docs = docs.withColumn("lang", F.lit("all"))
        group = "lang"

    if "source" in docs.columns:
        for r in source_stats(docs).collect():
            print(
                f"report: source={r['source']} docs={r['docs']} "
                f"tokens={r['total_tokens']} avg_chars={r['avg_chars']}"
            )
    for r in group_quantiles(docs, group, "_len").collect():
        qs = " ".join(
            f"{c}={r[c]}" for c in r.asDict() if c.startswith("p")
        )
        print(f"report: len-quantiles {group}={r[group]} n={r['n']} {qs}")
    for r in equidepth_histogram(
        docs, "_len", group_col=group, buckets=args.buckets
    ).collect():
        print(
            f"report: len-hist {group}={r[group]} bucket={r['bucket']} "
            f"n={r['n']} lo={r['lo']} hi={r['hi']}"
        )
    ent = char_entropy(docs).join(docs.select("doc_id", group), "doc_id")
    for r in group_quantiles(ent, group, "entropy").collect():
        qs = " ".join(
            f"{c}={r[c]}" for c in r.asDict() if c.startswith("p")
        )
        print(f"report: char-entropy {group}={r[group]} n={r['n']} {qs}")
    return 0


def cmd_lineage(args) -> int:
    from .plans.lineage import LineageLog
    from .sources.tables import Catalog

    spark = _build_session(args)
    catalog = Catalog(spark, args.warehouse, iceberg_catalog=args.iceberg_catalog)
    LineageLog(catalog).read().orderBy("stage", "input_partition").show(
        200, truncate=False
    )
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dandi_s3_log_parser_spark")
    p.add_argument("--local-cores", type=int, default=None,
                   help="force local[k] master (omit under spark-submit)")
    sub = p.add_subparsers(dest="command", required=True)

    g = sub.add_parser("datagen", help="write synthetic pages + dimension tables")
    g.add_argument("--out", required=True)
    g.add_argument("--pages", type=int, default=10_000)
    g.add_argument("--seed", type=int, default=42)
    g.set_defaults(fn=cmd_datagen)

    r = sub.add_parser("pipeline", help="run reduce/bin/map stages")
    r.add_argument("--stage", choices=("all", "reduce", "bin", "map"), default="all")
    r.add_argument("--pages", help="pages table path (required for reduce/all)")
    r.add_argument("--dims", required=True, help="directory of dimension tables")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--iceberg-catalog", default=None)
    r.add_argument("--salt-buckets", type=int, default=8)
    r.add_argument("--run-id", default=None)
    r.add_argument("--no-resume", action="store_true")
    # reference work-limiting knobs (_dandi_s3_log_file_reducer.py:70,
    # _bin_all_reduced_s3_logs_by_object_key.py:56,
    # _map_binned_s3_logs_to_dandisets.py:76)
    r.add_argument("--excluded-years", type=int, nargs="*", default=None,
                   help="skip these calendar years in the reduce work list")
    r.add_argument("--file-limit", type=int, default=None,
                   help="max day partitions one bin run consumes")
    r.add_argument("--dandiset-limit", type=int, default=None,
                   help="map only the first N dandisets (sorted)")
    r.set_defaults(fn=cmd_pipeline)

    s = sub.add_parser(
        "stream-reduce",
        help="streaming reduce over a landing pages dir (drain or follow)",
    )
    s.add_argument("--pages", required=True, help="pages directory to stream from")
    s.add_argument("--dims", default=None,
                   help="dimension dir (for excluded_ips); optional")
    s.add_argument("--warehouse", required=True,
                   help="warehouse root; must be NEW (with a new "
                        "--checkpoint) when upgrading across the "
                        "reduced_stream rclass-layout change — see "
                        "streaming/stream_reduce.py module docs")
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--iceberg-catalog", default=None)
    s.add_argument("--follow", action="store_true",
                   help="keep running on new files instead of drain-and-stop")
    s.add_argument("--timeout", type=int, default=600,
                   help="drain-mode wait seconds")
    s.set_defaults(fn=cmd_stream_reduce)

    sc = sub.add_parser(
        "stream-curate",
        help="streaming ingest->curate over a landing documents dir "
             "(lang/quality filter + first-seen dedup, exactly-once)",
    )
    sc.add_argument("--docs", required=True,
                    help="documents parquet directory to stream from")
    sc.add_argument("--out", required=True, help="kept-set parquet sink dir")
    sc.add_argument("--checkpoint", required=True)
    sc.add_argument("--min-score", type=float, default=0.2)
    sc.add_argument("--langs", default="en",
                    help="comma-separated language allowlist")
    sc.add_argument("--follow", action="store_true",
                    help="keep running on new files instead of drain-and-stop")
    sc.add_argument("--timeout", type=int, default=600,
                    help="drain-mode wait seconds")
    sc.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="bound each microbatch's input file count")
    sc.set_defaults(fn=cmd_stream_curate)

    c = sub.add_parser(
        "curate",
        help="document-corpus curation: funnel -> decontaminate -> "
             "dedup -> line dedup",
    )
    c.add_argument("--documents", required=True, help="documents parquet path")
    c.add_argument("--out", required=True, help="curated parquet output dir")
    c.add_argument("--min-chars", type=int, default=100)
    c.add_argument("--lang", default=None,
                   help="keep only this language (needs a lang column)")
    c.add_argument("--min-quality", type=float, default=0.0,
                   help="drop docs whose round-4 quality score is below this")
    c.add_argument("--benchmark", default=None,
                   help="benchmark/eval parquet (text column); docs sharing "
                        "word n-grams with it are dropped (decontamination)")
    c.add_argument("--decontam-ngram", type=int, default=3,
                   help="n-gram size for --benchmark overlap (GPT-3-style "
                        "pipelines use ~13 on real prose)")
    c.add_argument("--max-per-source", type=int, default=None,
                   help="keep at most this many docs per source/domain "
                        "(longest first, ties to lowest id)")
    c.add_argument("--line-df-limit", type=int, default=None,
                   help="strip lines occurring in more than this many docs")
    c.add_argument("--encode-vocab", type=int, default=None,
                   help="also encode text to token-id arrays using the "
                        "curated corpus' top-N vocabulary (md5-derived "
                        "ids, 0 = oov)")
    c.add_argument("--shards", type=int, default=None,
                   help="write the output as this many deterministic "
                        "training shards (shard=N/ dirs, rows in shuffled "
                        "training order) instead of flat parquet")
    c.add_argument("--shuffle-salt", default="shuffle-v1",
                   help="salt for the deterministic shard shuffle; change "
                        "it to reshuffle (e.g. per epoch)")
    c.set_defaults(fn=cmd_curate)

    rp = sub.add_parser(
        "report",
        help="corpus-health report: source stats, length quantiles, "
             "equi-depth histogram, char-entropy band (read-only)",
    )
    rp.add_argument("--documents", required=True, help="documents parquet path")
    rp.add_argument("--buckets", type=int, default=8,
                    help="equi-depth histogram buckets")
    rp.set_defaults(fn=cmd_report)

    li = sub.add_parser("lineage", help="show the lineage/checkpoint table")
    li.add_argument("--warehouse", required=True)
    li.add_argument("--iceberg-catalog", default=None)
    li.set_defaults(fn=cmd_lineage)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
