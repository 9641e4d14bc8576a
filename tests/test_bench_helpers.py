"""``bench.py``'s measurement helpers on the suite's session (Spark UI
off): a registered query leaf and a pipeline pass each come back as
spans carrying wall time, the process tree's JIT-free CPU and the
executor CPU read from Spark's own event log."""

from __future__ import annotations

import bench
import __spark_entry__ as entrymod
from dandi_s3_log_parser_spark.datagen import generate, to_spark


def test_leaf_and_pass_spans_carry_wall_and_cpu(spark, tmp_path):
    assert spark.conf.get("spark.ui.enabled") == "false"
    # a tiny stand-in for the sf tables reduce_filter_project reads
    spark.range(2000).selectExpr(
        "id AS event_id",
        "timestamp_seconds(1700000000 + id * 61) AS ts",
        "id % 13 AS user_id",
        "IF(id % 3 = 0, 'click', 'view') AS event_type",
        "id / 7.0 AS value",
    ).write.parquet(str(tmp_path / "sf" / "events.parquet"))
    query = entrymod.queries()["reduce_filter_project"]
    pages, dims = to_spark(spark, generate(1500, 7))

    with bench.measurement(spark) as tracer:
        leaf = bench.time_leaf(
            spark, tracer, "reduce_filter_project", query, str(tmp_path / "sf"), 2
        )
        passes = bench.time_pipeline(spark, tracer, pages, dims, tmp_path / "wh", 0)

    assert len(leaf) == 2 and len(passes) == 1
    for span in (*leaf, *passes):
        assert span["wall_s"] > 0
        assert span["executor_cpu_s"] > 0
        assert span["cpu_s"] >= 0
    # a pipeline pass does far more executor work than the tiny leaf
    assert passes[0]["executor_cpu_s"] > leaf[0]["executor_cpu_s"]
    assert not (tmp_path / "wh").exists()
