"""The session's local filesystem: permissions are set inside the JVM.

``session.get_spark`` swaps in ``jvm/NioLocalFileSystem`` (a stock
``LocalFileSystem`` whose ``setPermission`` is a ``java.nio`` call, not
a forked ``chmod``) when it launches the driver JVM itself.  These tests
pin that the committed jar is built from the committed source, that the
swap happens only when the jar can be on the classpath, that a write
leaves the modes the stock filesystem would, and that a pipeline run
forks no process.  They also pin that a session skips Spark ML's
classpath session extension, and that the engine calls nothing it
registers.
"""

from __future__ import annotations

import ast
import hashlib
import os
import re
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest

from dandi_s3_log_parser_spark.datagen import generate, to_spark
from dandi_s3_log_parser_spark.plans.pipeline import PipelineConfig, run_pipeline
from dandi_s3_log_parser_spark.session import NIO_FS_CLASS, NIO_FS_JAR, local_fs_conf
from dandi_s3_log_parser_spark.sources.tables import Catalog

CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")
ROOT = Path(__file__).resolve().parents[1]
# the SQL functions spark-mllib's InternalFunctionRegistration provides
ML_FUNCTIONS = {"vector_to_array", "array_to_vector"}


def _manifest(jar: Path) -> dict[str, str]:
    with zipfile.ZipFile(jar) as z:
        text = z.read("META-INF/MANIFEST.MF").decode()
    # manifest lines wrap at 72 bytes; a continuation starts with a space
    attrs = {}
    for line in text.replace("\r\n", "\n").replace("\n ", "").splitlines():
        if ": " in line:
            k, v = line.split(": ", 1)
            attrs[k] = v
    return attrs


def test_jar_is_built_from_committed_source():
    source = NIO_FS_JAR.with_name("NioLocalFileSystem.java")
    assert _manifest(NIO_FS_JAR)["Source-SHA-256"] == hashlib.sha256(
        source.read_bytes()
    ).hexdigest()
    with zipfile.ZipFile(NIO_FS_JAR) as z:
        assert NIO_FS_CLASS.replace(".", "/") + ".class" in z.namelist()


def test_local_fs_conf_only_when_launching_the_jvm(tmp_path):
    conf = local_fs_conf(False, {}, NIO_FS_JAR, {})
    assert conf["spark.hadoop.fs.file.impl"] == NIO_FS_CLASS
    assert conf["spark.sql.streaming.checkpointFileManagerClass"].endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    for key in CLASSPATH_KEYS:
        assert conf[key] == str(NIO_FS_JAR)
    # spark-submit launched the JVM, or an earlier session did
    assert local_fs_conf(False, {"PYSPARK_GATEWAY_PORT": "12345"}, NIO_FS_JAR, {}) == {}
    assert local_fs_conf(True, {}, NIO_FS_JAR, {}) == {}
    assert local_fs_conf(False, {}, tmp_path / "absent.jar", {}) == {}


def test_local_fs_conf_keeps_callers_classpath():
    extra = {key: f"other-{i}.jar" for i, key in enumerate(CLASSPATH_KEYS)}
    conf = local_fs_conf(False, {}, NIO_FS_JAR, extra)
    for key in CLASSPATH_KEYS:
        assert conf[key] == os.pathsep.join((str(NIO_FS_JAR), extra[key]))


def test_partitioned_overwrite_keeps_stock_modes(spark, tmp_path):
    """Every directory, data file and ``.crc`` sidecar of a dynamic
    partition overwrite has the stock filesystem's mode: Hadoop's dir /
    file default with the session umask applied."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hconf)
    assert local.getClass().getName() == NIO_FS_CLASS

    perm = jvm.org.apache.hadoop.fs.permission.FsPermission
    umask = perm.getUMask(hconf)
    want_dir = perm.getDirDefault().applyUMask(umask).toShort()
    want_file = perm.getFileDefault().applyUMask(umask).toShort()

    catalog = Catalog(spark, tmp_path / "warehouse")
    df = spark.range(40).selectExpr("id", "id % 4 AS part")
    catalog.write(df, "t", partition_by=("part",))
    catalog.write(df.where("part < 2"), "t", partition_by=("part",))

    kinds = {"dir": 0, "data": 0, "crc": 0}
    for root, dirs, files in os.walk(catalog.path("t")):
        for name in dirs:
            assert os.stat(os.path.join(root, name)).st_mode & 0o7777 == want_dir, name
            kinds["dir"] += 1
        for name in files:
            assert os.stat(os.path.join(root, name)).st_mode & 0o7777 == want_file, name
            kinds["crc" if name.endswith(".crc") else "data"] += 1
    assert os.stat(catalog.path("t")).st_mode & 0o7777 == want_dir
    assert kinds["dir"] == 4 and kinds["data"] >= 5 and kinds["crc"] > 0, kinds


def _reaped_cpu_ticks(pid: int) -> int:
    """cutime + cstime (fields 16-17 of /proc/<pid>/stat): the CPU of
    every child the process has waited for."""
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    fields = raw[raw.rindex(")") + 2 :].split()  # fields 3.. after comm
    return int(fields[13]) + int(fields[14])


@pytest.fixture
def jvm_pid(spark):
    """The gateway JVM's pid, with Spark's one fork per JVM lifetime
    already behind it.  The executor's first heartbeat (10-20 s after
    the session starts) builds ``ProcfsMetricsGetter``, whose
    constructor runs ``getconf PAGESIZE``: 1-3 ticks of reaped-child CPU
    that land inside a test's window when the session is young.  Build
    it here, before any window opens."""
    from pyspark import SparkContext

    spark._jvm.org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo()
    return SparkContext._gateway.proc.pid


def test_pipeline_run_forks_no_process(spark, jvm_pid, tmp_path):
    """Without libhadoop, the stock local filesystem forks a ``chmod``
    for every file, ``.crc`` and directory a write creates (40-60 ticks
    of reaped-child CPU for this run); a run now reaps none."""
    pages, dims = to_spark(spark, generate(1500, 7))
    catalog = Catalog(spark, tmp_path / "warehouse")
    before = _reaped_cpu_ticks(jvm_pid)
    run_pipeline(spark, catalog, pages, dims, PipelineConfig(), "run-no-fork")
    assert _reaped_cpu_ticks(jvm_pid) == before


def test_streaming_checkpoint_forks_no_process(spark, jvm_pid, tmp_path):
    """A streaming query's checkpoint and sink metadata logs are written
    through the session's checkpoint file manager; with the stock
    ``FileContext`` one they fork a ``chmod`` per file (13 ticks of
    reaped-child CPU for this query); now they fork none."""
    src = tmp_path / "src"
    spark.range(100).selectExpr("id", "id % 7 AS k").write.parquet(str(src))
    stream = spark.readStream.schema("id long, k long").parquet(str(src))
    before = _reaped_cpu_ticks(jvm_pid)
    query = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "sink"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    assert _reaped_cpu_ticks(jvm_pid) == before
    assert spark.read.parquet(str(tmp_path / "sink")).count() == 100


def test_cached_plans_coalesce(spark):
    """``get_spark`` lets AQE resize the shuffles inside a persisted
    plan: a cached aggregate of three groups reads back in fewer
    partitions than ``spark.sql.shuffle.partitions`` (at Spark's default
    it keeps all of them)."""
    from pyspark.sql import functions as F

    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    ) == "true"
    df = spark.range(1000).groupBy((F.col("id") % 3).alias("k")).count().persist()
    try:
        assert df.count() == 3
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert df.rdd.getNumPartitions() < width
    finally:
        df.unpersist()


def test_session_skips_ml_session_extension(tmp_path):
    """A session does not load spark-mllib's ``InternalFunctionRegistration``,
    the one ``SparkSessionExtensionsProvider`` on the classpath (2-2.5 s
    of every session start).  Spark's own class-load log of a
    fresh driver JVM that starts ``get_spark`` and runs one action
    names none of its classes (at Spark's default it loads 11)."""
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, (env.get("JAVA_TOOL_OPTIONS"),
                      f"-Xlog:class+load=info:file={tmp_path}/classes-%p.log"))
    )
    script = (
        "from dandi_s3_log_parser_spark.session import get_spark\n"
        "spark = get_spark('ml-probe', cpus=2, shuffle_partitions=2,"
        " driver_memory='1g')\n"
        "assert spark.range(10).count() == 10\n"
        "spark.stop()\n"
    )
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-2000:]
    loaded = "".join(p.read_text() for p in tmp_path.glob("classes-*.log"))
    assert "] org.apache.spark.sql.SparkSessionExtensions " in loaded
    assert "org.apache.spark.sql.ml.InternalFunctionRegistration" not in loaded


def _ml_references(path: Path) -> list[str]:
    """``pyspark.ml`` imports and attribute chains, and uses of the ML
    SQL functions as Python names or inside strings (``F.expr``)."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = [f"{node.module}.{a.name}" for a in node.names]
        elif isinstance(node, (ast.Name, ast.Attribute)):
            names = [ast.unparse(node)]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names = re.findall(r"\w+", node.value)
        else:
            continue
        found += [
            n for n in names
            if n.startswith("pyspark.ml") or n.rsplit(".", 1)[-1] in ML_FUNCTIONS
        ]
    return found


def test_engine_calls_no_ml_session_function(tmp_path):
    """What the skipped ML registration provides is unused: no engine
    module (the CLI included) nor ``__spark_entry__.py`` imports
    ``pyspark.ml`` or names one of its SQL functions."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from pyspark.ml.functions import vector_to_array\n"
        "import pyspark\n"
        "pyspark.ml.linalg\n"
        "F.expr('array_to_vector(v)')\n"
    )
    assert set(_ml_references(probe)) == {
        "pyspark.ml.functions.vector_to_array",
        "pyspark.ml.linalg",
        "pyspark.ml",
        "array_to_vector",
    }
    sources = [*sorted((ROOT / "dandi_s3_log_parser_spark").rglob("*.py")),
               ROOT / "__spark_entry__.py"]
    assert ROOT / "dandi_s3_log_parser_spark" / "cli.py" in sources
    assert {str(p.relative_to(ROOT)): refs for p in sources
            if (refs := _ml_references(p))} == {}
