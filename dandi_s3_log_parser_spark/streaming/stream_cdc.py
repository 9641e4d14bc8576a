"""Custom stateful streaming operator: latest-wins CDC changelog.

The streaming twin of ``operators.cdc.apply_cdc`` — incremental
materialized-view maintenance.  The input stream carries full-payload
change rows (``op`` 'U'/'D', monotone ``seq`` per key); the operator
keeps each key's highest-seq change in streaming state and EMITS a row
only when a key's winner changes, so the output is a compact changelog:
replaying "last emission per key" (then dropping final 'D's) rebuilds
the same next-snapshot ``apply_cdc`` computes in batch — pinned by the
equivalence test.

Out-of-order delivery is handled by the seq comparison, not arrival
order: a late change with a stale ``seq`` updates nothing and emits
nothing, no matter which microbatch it lands in.

Scale design:

* state is ONE row per key (seq + op + payload), shuffled on
  ``key_col`` — the same exchange a batch ``max_by`` collapse pays,
  held in the state store (RocksDB-backed on a real cluster);
* per batch and key the kernel does a single vectorized ``idxmax`` —
  no per-row Python;
* emissions are deltas only, so downstream sinks see change volume,
  not key cardinality, per microbatch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def stream_cdc_latest(changes: DataFrame) -> DataFrame:
    """Latest-wins changelog on a streaming change feed (module doc).

    Returns the transformed stream; the caller attaches the sink and
    checkpoint.  Exactly-once with a checkpoint: replayed microbatches
    re-derive the same state and re-emit the same deltas.
    """
    if "op" not in changes.columns or "seq" not in changes.columns:
        raise ValueError("changes must carry 'seq' and 'op'")
    out_schema = changes.schema
    cols = [f.name for f in changes.schema.fields]
    state_fields = [f for f in changes.schema.fields if f.name != "id"]
    state_names = [f.name for f in state_fields]
    state_schema = StructType(state_fields)

    def fn(key, pdfs, state):
        best = (
            dict(zip(state_names, state.get)) if state.exists else None
        )
        changed = False
        for pdf in pdfs:
            if not len(pdf):
                continue
            row = pdf.loc[pdf["seq"].idxmax()]
            if best is None or row["seq"] > best["seq"]:
                best = {c: row[c] for c in state_names}
                changed = True
        if changed:
            state.update(tuple(best[c] for c in state_names))
            yield pd.DataFrame([{"id": key[0], **best}])[cols]

    return changes.groupBy("id").applyInPandasWithState(
        fn, out_schema, state_schema, "append", "NoTimeout"
    )
