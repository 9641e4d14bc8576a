"""SparkSession factory tuned for this engine.

Local mode is the test/bench environment; the same builder settings are
what we would ship to a multi-executor cluster (AQE on, Arrow on,
shuffle partitions sized to cores, UTC).  ``spark.sql.shuffle.partitions``
is the starting width of a shuffle, not its size: AQE coalesces the
small partitions of every exchange that has no fixed count, including
those inside a persisted plan, so a daily-sized batch runs in a few
tasks and a backfill keeps the full width.  Iceberg is the intended table
format at scale (see ``sources/tables.py``); when the Iceberg runtime
jar is absent (this sandbox) the catalog transparently falls back to
Hive-partitioned Parquet with identical partitioning semantics.

Local filesystem writes set permissions inside the JVM.  Without the
native ``libhadoop`` (absent from the stock Spark distribution),
Hadoop's ``RawLocalFileSystem.setPermission`` forks a ``chmod`` process
for every file, ``.crc`` sidecar and directory a write creates: 340
forks per warm ``pipeline_full`` pass at 10k pages (reduce 33, bin 216,
map 91), about 0.4 s of reaped-child CPU.  ``jvm/NioLocalFileSystem``
overrides only ``setPermission`` with the ``chmod`` syscall through
``java.nio``; Hadoop still computes each mode (defaults with the umask
applied) and writes the ``.crc`` files, so the warehouse is
byte-for-byte and mode-for-mode the one the stock filesystem writes.
Streaming checkpoints and sink logs would go through ``FileContext``
(``LocalFs``, which forks as well); the same settings point Spark's
checkpoint file manager at ``FileSystem``, and so at this class.

Session start is a fixed cost of every one-shot CLI run.  By
default a new ``SparkSession`` applies every session extension that a
``ServiceLoader`` finds on the classpath; the only one in the Spark
distribution is spark-mllib's ``InternalFunctionRegistration``, which
registers ML vector SQL functions the engine never calls.  ``get_spark``
turns that scan off (``spark.sql.extensions.test.loadFromCp``);
extensions named in ``spark.sql.extensions`` are applied as before.  On
4 cores the ``SparkSession`` constructor went from 2.0-2.6 s to 0.2 s
and ``get_spark`` from 5.0-6.3 s to 3.4-4.3 s.  About 0.6 s of class
loading moves into the session's first action, so start plus a first
one-row aggregate is about 1.4 s shorter (median of 4 runs, 8.2 -> 6.9
s).  The setting reaches the session under ``spark-submit`` too,
because PySpark's builder creates the ``SparkContext`` from its own
settings.
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import SparkSession

NIO_FS_JAR = Path(__file__).resolve().parent / "jvm" / "nio-local-fs.jar"
NIO_FS_CLASS = "dandi_s3_log_parser_spark.jvm.NioLocalFileSystem"
CHECKPOINT_FS_CLASS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def local_fs_conf(
    gateway_live: bool,
    env: Mapping[str, str],
    jar: Path,
    extra_conf: Mapping[str, str],
) -> dict[str, str]:
    """The settings that swap in ``NioLocalFileSystem``, or none.

    Only a call that launches the driver JVM itself can put the jar on
    its classpath: a live gateway (an earlier session in this process)
    or ``PYSPARK_GATEWAY_PORT`` (``spark-submit`` started the JVM) means
    the classpath is fixed, and ``fs.file.impl`` naming a class missing
    from it would break every file access.  Classpath entries the caller
    passes in ``extra_conf`` are kept after the jar."""
    if gateway_live or "PYSPARK_GATEWAY_PORT" in env or not jar.is_file():
        return {}
    conf = {
        "spark.hadoop.fs.file.impl": NIO_FS_CLASS,
        # streaming checkpoints and sink logs write through FileContext
        # (LocalFs, which still forks) unless told to use FileSystem;
        # both commit a file by rename, but FileSystem overwrites an
        # existing one (a retried batch's state file) as delete + rename
        "spark.sql.streaming.checkpointFileManagerClass": CHECKPOINT_FS_CLASS,
    }
    for key in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
        conf[key] = os.pathsep.join(filter(None, (str(jar), extra_conf.get(key))))
    return conf


def get_spark(
    app_name: str = "dandi_s3_log_parser_spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "48g",
    extra_conf: dict[str, str] | None = None,
    master: str | None = "auto",
) -> SparkSession:
    """``master='auto'`` (default) runs ``local[$SPARK_GRAFT_CPUS]``;
    ``master=None`` leaves the master unset so ``spark-submit --master``
    / cluster deploy config wins (the --py-files shipping path)."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = SparkSession.builder
    if master == "auto":
        builder = builder.master(f"local[{cpus}]")
    elif master:
        builder = builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # InferFiltersFromGenerate adds `size(e)>0 AND isnotnull(e)`
        # above every explode; predicate pushdown then substitutes the
        # generator's WHOLE expression tree (tokenize/shingle chains
        # here) through the projections into the parquet scan's
        # DataFilters, where it is re-evaluated once per consumer on
        # the scan tasks (observed in the sf1.0 decontaminate plan: a
        # 3-line gram-building tree inside the scan Filter, costing
        # ~5 s per branch).  The inferred filters are purely an
        # optimization — explode of an empty/null array already emits
        # nothing — and every generator in this engine explodes a
        # DERIVED array, so the inference only ever duplicates work.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        )
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        # extensions.test.loadFromCp: skip the classpath scan for
        # session extensions, whose only find is spark-mllib's ML
        # vector functions (unused here, pinned by tests/test_session.py):
        # 2-2.5 s of every session start on 4 cores (module docstring).
        # spark.sql.extensions (Iceberg's) still applies; a Spark
        # without this internal conf ignores it.
        .config("spark.sql.extensions.test.loadFromCp", "false")
        # codegen.cache.maxEntries: Spark's generated-code cache is an
        # LRU keyed by source text.  One pipeline pass compiles about
        # 150 distinct sources (141-152 Janino compiles per pass at 10k
        # pages, about 2.3 s of compile time); the default of 100 entries
        # keeps none of them for the next pass.  2000 entries hold a
        # pass many times over, so a session that runs the same plans
        # again (a second pipeline run, repeated corpus queries)
        # compiles almost nothing the second time.  A session that runs
        # the pipeline once, as each CLI invocation does, compiles the
        # same ~140 sources either way and gains nothing measurable.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # canChangeCachedPlanOutputPartitioning: by default AQE leaves a
        # persisted plan's shuffles at spark.sql.shuffle.partitions, so
        # the map stage's cached `enriched` fact kept every task it had
        # whatever the batch size.  With this on, AQE coalesces (and
        # skew-splits) inside a cached plan like any other.  No consumer
        # of that fact reads its ip_address hash partitioning, so no
        # exchange is added downstream.  At 10k pages on 4 cores (8
        # shuffle partitions, one traced pass) this alone takes the map
        # stage from 109 to 53 tasks; with bin's coalesced repartition
        # too, the stage's CPU goes 4.45 -> 3.18 s.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # ReservedCodeCacheSize: every query plan generates fresh
        # wholestage-codegen classes; a long session (the 70-query
        # bench runs ~200 plans) fills HotSpot's default 240 MB code
        # cache, after which the JIT stops compiling and stages run in
        # bytecode interpretation (measured as 10-25x executor-CPU
        # inflation on late-session queries).  1 GiB of reserved
        # (virtual) code cache removes the cliff at any scale.
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.timezone=UTC -XX:ReservedCodeCacheSize=1g",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-Duser.timezone=UTC -XX:ReservedCodeCacheSize=1g",
        )
    )
    extra_conf = extra_conf or {}
    # fs.file.impl: no `chmod` process per file, .crc and directory a
    # write creates (340 per 10k-page pipeline pass); the modes are
    # unchanged because Hadoop still computes them, only the syscall
    # that applies them moves into the JVM (module docstring)
    fs_conf = local_fs_conf(
        SparkContext._gateway is not None, os.environ, NIO_FS_JAR, extra_conf
    )
    for k, v in {**extra_conf, **fs_conf}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
