"""Custom stateful streaming operator: per-key running z-score anomaly.

The streaming twin of ``operators.anomaly.rolling_anomaly``: score each
arriving value against the key's OWN history and flag outliers, with
the history carried across microbatches in the streaming state store
(``applyInPandasWithState``, RocksDB-backed on a real cluster).

Semantics — per-batch granularity, strictly-prior baseline:

* every row in a microbatch is scored against the state as of the END
  OF THE PREVIOUS batch (the batch analog of the batch operator's
  strictly-before window frame: a value never contaminates its own
  baseline, and scoring is fully vectorized — no per-row Python);
* after scoring, the batch folds into the state via the parallel
  Welford merge (count, mean, M2) — numerically stable, O(1) state per
  key, exact under any batch partitioning of the same value sequence;
* z is NULL until the baseline holds ``min_history`` values or while
  its variance is zero (same gating as the batch operator).

Scale: state is three doubles + a count per key; the only exchange is
the groupBy on ``key_col``.  A hot key sees its whole batch in one
kernel call, but the kernel is a handful of pandas reductions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: F401  (callers compose)
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)


def stream_anomaly(events: DataFrame, *, min_history: int = 3) -> DataFrame:
    """Running z-score per key over a streaming DataFrame (module doc).

    Output schema: input columns + ``z`` (double, NULL while ungated)
    + ``is_anomaly`` (boolean, never NULL).
    """
    cols = [f.name for f in events.schema.fields]
    out_schema = StructType(
        list(events.schema.fields)
        + [
            StructField("z", DoubleType()),
            StructField("is_anomaly", BooleanType(), False),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("mean", DoubleType()),
            StructField("m2", DoubleType()),
        ]
    )

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        for pdf in pdfs:
            x = pdf["value"].astype("float64")
            var = m2 / n if n > 0 else 0.0
            std = float(np.sqrt(var))
            if n >= min_history and std > 0.0:
                z = ((x - mean) / std).round(4)
                flag = z.abs() > 3.0
            else:
                z = pd.Series([np.nan] * len(x), index=x.index)
                flag = pd.Series([False] * len(x), index=x.index)
            out = pdf[cols].copy()
            out["z"] = z
            out["is_anomaly"] = flag
            yield out
            # parallel Welford merge of the batch into the state
            bn = int(len(x))
            if bn:
                bmean = float(x.mean())
                bm2 = float(x.var(ddof=0) * bn)
                delta = bmean - mean
                tot = n + bn
                mean = mean + delta * bn / tot
                m2 = m2 + bm2 + delta * delta * n * bn / tot
                n = tot
        state.update((n, mean, m2))

    return events.groupBy("event_type").applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
