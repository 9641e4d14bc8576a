"""Sessionization (batch and streaming ``session_window``) and
watermarked streaming windowed totals."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from dandi_s3_log_parser_spark.operators.sessionize import session_stats
from dandi_s3_log_parser_spark.streaming.stream_aggregate import (
    stream_session_stats,
    stream_windowed_totals,
)


def _ts(h, m=0, s=0):
    return dt.datetime(2024, 1, 1, h, m, s)


def _iso(t):
    return t.isoformat(timespec="microseconds")


def gap_sessions(rows, gap_minutes):
    """Pure-Python gap sessions of ``(key, ts)`` rows: the
    ``(key, session_id, n_events, session_start, session_end)`` rows
    ``session_stats`` must return, sorted."""
    by_key = {}
    for k, t in rows:
        by_key.setdefault(k, []).append(t)
    gap = dt.timedelta(minutes=gap_minutes)
    out = []
    for k, ts in by_key.items():
        ts.sort()
        sessions = [[ts[0]]]
        for prev, t in zip(ts, ts[1:]):
            if t - prev > gap:
                sessions.append([])
            sessions[-1].append(t)
        out += [(k, i, len(s), _iso(s[0]), _iso(s[-1]))
                for i, s in enumerate(sessions)]
    return sorted(out)


@pytest.fixture(scope="module")
def events(spark):
    rows = [
        # user 1: two sessions — (09:00, 09:10, 09:25) then gap >30min
        # -> (11:00, 11:05)
        (1, _ts(9, 0)), (1, _ts(9, 10)), (1, _ts(9, 25)),
        (1, _ts(11, 0)), (1, _ts(11, 5)),
        # user 2: one singleton
        (2, _ts(9, 30)),
    ]
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def test_sessionize_assigns_gap_sessions(events):
    got = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"])
        for r in session_stats(events, gap_minutes=30).collect()
    }
    assert got == {
        (1, 0): (3, _iso(_ts(9, 0))),
        (1, 1): (2, _iso(_ts(11, 0))),
        (2, 0): (1, _iso(_ts(9, 30))),
    }


def test_session_stats_boundary_is_strict(spark):
    # gap EXACTLY 30min does not open a new session (> not >=)
    rows = [(1, _ts(9, 0)), (1, _ts(9, 30)), (1, _ts(10, 1))]
    d = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = session_stats(d, gap_minutes=30).collect()
    assert sorted((r["session_id"], r["n_events"]) for r in out) == [
        (0, 2), (1, 1),
    ]


def test_session_stats_drops_null_timestamps(spark):
    # session_window filters NULL event times: such an event belongs to
    # no session and leaves its key's other sessions untouched
    rows = [(1, _ts(9, 0)), (1, None), (1, _ts(9, 10)), (2, None)]
    d = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(map(tuple, session_stats(d, gap_minutes=30).collect()))
    assert got == [(1, 0, 2, _iso(_ts(9, 0)), _iso(_ts(9, 10)))]


def test_session_stats_plan_shuffles_key_and_day_first(events):
    """The skew bound: the first shuffle is keyed (key, day bucket), so
    a hot key's events spread over its days, and every Window runs
    above an aggregate, over sessions, not events."""
    import re

    plan = session_stats(events, gap_minutes=30)._jdf.queryExecution()
    lines = plan.executedPlan().toString().splitlines()
    # (depth, node) per line; a node's subtree is the lines after it
    # down to the next one at its depth or shallower
    nodes = [(len(x) - len(x.lstrip(" :+-")), x.lstrip(" :+-")) for x in lines]

    def below(i):
        for depth, node in nodes[i + 1:]:
            if depth <= nodes[i][0]:
                return
            yield node

    def is_exchange(node):
        return node.startswith("Exchange ")

    first = [n for i, (_, n) in enumerate(nodes)
             if is_exchange(n) and not any(map(is_exchange, below(i)))]
    assert first, lines
    for node in first:
        m = re.match(r"Exchange hashpartitioning\(user_id#\d+L, (\w+#\d+), \d+\)", node)
        assert m, node
        day = re.escape(m.group(1))
        assert any(re.search(rf"date_trunc\(day, ts#\d+.*\) AS {day}\b", x)
                   for x in lines), lines
    windows = [i for i, (_, n) in enumerate(nodes) if n.startswith("Window ")]
    assert windows, lines
    for i in windows:
        assert any(n.startswith("HashAggregate") for n in below(i)), lines


def test_sessionize_deterministic_under_repartition(events):
    a = sorted(map(tuple, session_stats(events, gap_minutes=30).collect()))
    b = sorted(
        map(tuple, session_stats(events.repartition(5), gap_minutes=30).collect())
    )
    assert a == b


def test_stream_windowed_totals_matches_batch(spark, tmp_path):
    # batch-equivalence of the streaming windowed agg: availableNow
    # drains a static parquet dir; watermarked append-mode emits every
    # window once the stream is exhausted
    src = str(tmp_path / "events_src")
    events = spark.range(200).select(
        (F.col("id") % 7).alias("user_id"),
        (
            F.lit(dt.datetime(2024, 1, 1))
            + F.make_interval(mins=F.col("id") * 11)
        ).alias("ts"),
        (F.col("id") % 13).cast("double").alias("value"),
    )
    events.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(src)
    out = stream_windowed_totals(
        stream, key_col="user_id", value_col="value", window="1 hour"
    )
    sink = str(tmp_path / "sink")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n", "value_sum")
    )
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))
    want = sorted(map(tuple, batch.collect()))
    # append-mode only emits windows the watermark has CLOSED; the
    # final windows (inside the 2h watermark of max ts) stay in state
    assert len(got) > 0
    assert set(got).issubset(set(want))
    max_ts = events.agg(F.max("ts")).first()[0]
    horizon = max_ts - dt.timedelta(hours=3)  # watermark 2h + window 1h
    closed = [w for w in want if w[0] < horizon]
    assert set(closed).issubset(set(got))
    shutil.rmtree(sink, ignore_errors=True)


def test_stream_session_window_matches_batch_sessionize(spark, tmp_path):
    # session_window on a drained stream == batch session_stats on the
    # same rows (same gap), for every session the watermark closed
    src = str(tmp_path / "sess_src")
    rows = [
        (1, _ts(9, 0)), (1, _ts(9, 10)), (1, _ts(9, 25)),
        (1, _ts(11, 0)), (1, _ts(11, 5)),
        (2, _ts(9, 30)),
        # a session across midnight, then one 31 min later
        (3, _ts(23, 50)), (3, dt.datetime(2024, 1, 2, 0, 10)),
        (3, dt.datetime(2024, 1, 2, 0, 41)),
        # a late sentinel far ahead so the watermark passes the others
        (99, dt.datetime(2024, 1, 2, 23, 0)),
    ]
    batch_src = spark.createDataFrame(rows, "user_id long, ts timestamp")
    batch_src.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = stream_session_stats(stream, gap="30 minutes", watermark="1 hour")
    sink = str(tmp_path / "sess_sink")
    q = (
        out.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    iso = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    # a streaming session ends one gap after its last event
    got = {
        tuple(r)
        for r in spark.read.parquet(sink).select(
            "user_id",
            F.date_format("session_start", iso),
            F.date_format(
                F.col("session_end") - F.expr("INTERVAL 30 MINUTES"), iso
            ),
            "n_events",
        ).collect()
    }
    # closed: last event + gap lies before the final watermark
    # (max ts - 1 hour)
    horizon = max(t for _, t in rows) - dt.timedelta(hours=1, minutes=30)
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_stats(batch_src, gap_minutes=30).collect()
        if dt.datetime.fromisoformat(r["session_end"]) < horizon
    }
    assert len(want) == 5
    assert got == want


def test_session_stats_matches_gap_reference(spark):
    """session_stats equals a pure-Python gap-session reference on a
    hot key's long history (sessions across midnight, multi-day
    silences) and at a midnight boundary."""
    import random

    rng = random.Random(7)
    rows = []
    # hot user: 400 events across 10 days with random gaps straddling
    # the 30-min threshold and several >1-day silences
    t = dt.datetime(2024, 1, 1)
    for i in range(400):
        step = rng.choice([dt.timedelta(minutes=rng.randint(1, 90)),
                           dt.timedelta(hours=rng.randint(1, 30))])
        t = t + step
        rows.append((1, t))
    # a user whose sessions cross midnight exactly
    rows += [(2, dt.datetime(2024, 1, 1, 23, 50)),
             (2, dt.datetime(2024, 1, 2, 0, 10)),
             (2, dt.datetime(2024, 1, 2, 0, 41))]
    d = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(map(tuple, session_stats(d, gap_minutes=30).collect()))
    assert got == gap_sessions(rows, 30)
    # midnight-crossing pair stays one session; 0:41 (31min gap) splits
    user2 = [r[1:] for r in got if r[0] == 2]
    assert user2 == [
        (0, 2, "2024-01-01T23:50:00.000000", "2024-01-02T00:10:00.000000"),
        (1, 1, "2024-01-02T00:41:00.000000", "2024-01-02T00:41:00.000000"),
    ]


# ---------------------------------------------------------------------------
# event_funnel — ordered first-touch conversion
# ---------------------------------------------------------------------------


def _fev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )


def test_event_funnel_strict_ordering(spark):
    from dandi_s3_log_parser_spark.operators.sessionize import event_funnel

    rows = [
        # u1 converts fully in order
        (1, _ts(9, 0), "view"), (1, _ts(9, 5), "click"),
        (1, _ts(9, 9), "buy"),
        # u2 clicked BEFORE its first view -> stops at step 1
        (2, _ts(8, 0), "click"), (2, _ts(9, 0), "view"),
        # u3 view -> click, no buy
        (3, _ts(9, 0), "view"), (3, _ts(9, 30), "click"),
        # u4 never viewed -> counted nowhere
        (4, _ts(9, 0), "buy"),
    ]
    out = {r["step"]: r for r in
           event_funnel(_fev(spark, rows), ["view", "click", "buy"])
           .collect()}
    assert out["view"]["keys"] == 3
    assert out["click"]["keys"] == 2
    assert out["buy"]["keys"] == 1
    assert out["view"]["conversion"] == 1.0
    assert out["click"]["conversion"] == pytest.approx(0.6667)
    assert out["buy"]["conversion"] == pytest.approx(0.3333)
    assert [r["step_index"] for r in sorted(
        out.values(), key=lambda r: r["step_index"])] == [1, 2, 3]


def test_event_funnel_same_timestamp_not_counted(spark):
    """Strictly-after semantics: a click at the exact view time does
    not convert (first-touch funnels require progression in time)."""
    from dandi_s3_log_parser_spark.operators.sessionize import event_funnel

    rows = [(1, _ts(9, 0), "view"), (1, _ts(9, 0), "click"),
            (1, _ts(9, 1), "click")]
    out = {r["step"]: r["keys"] for r in
           event_funnel(_fev(spark, rows), ["view", "click"]).collect()}
    assert out == {"view": 1, "click": 1}

    rows2 = [(1, _ts(9, 0), "view"), (1, _ts(9, 0), "click")]
    out2 = {r["step"]: r["keys"] for r in
            event_funnel(_fev(spark, rows2), ["view", "click"]).collect()}
    assert out2 == {"view": 1, "click": 0}


def test_event_funnel_empty_first_step_null_conversion(spark):
    from dandi_s3_log_parser_spark.operators.sessionize import event_funnel

    rows = [(1, _ts(9, 0), "click")]
    got = event_funnel(_fev(spark, rows), ["view", "click"]).collect()
    assert [(r["keys"], r["conversion"]) for r in got] == [
        (0, None), (0, None)]
