"""The ``corpus_ops`` workload: a fixed mix of heavy ``queries()`` leaves
over a corpus generated from the seed, each pass checked against the
leaf's DuckDB ``oracle_sql()`` result.

The corpus has the schema and sizes of the repository's sf0.01 test
tables (documents, embeddings, events) and the rates measured on the
sf0.01 and sf0.1 tables:

* tokens i.i.d. over a 30-word vocabulary (each word 3.1-3.6% of the
  tokens in sf0.01, within sampling noise of uniform), 10-99 tokens per
  document;
* near duplicates: 5% of documents are another document with the token
  ``dup`` appended (25 of 500 in sf0.01, 250 of 5000 in sf0.1; a copy of
  such a document ends in ``dup dup``); this is the only place ``dup``
  occurs (0.1% of tokens);
* exact duplicates: 0.16% of documents copy another one verbatim (8 of
  5000 in sf0.1; none of 500 in sf0.01);
* languages en 41%, zh/es/fr 15%, de 14% (sf0.1); ``source`` is
  ``src{doc_id % 20}``;
* 64-d uniform random unit embeddings with ten uniform labels; 10,000
  events over 30 days from 150 users, uniform event types, values
  ~ Exp(mean 50).

Leaves whose DuckDB oracle compares all pairs of documents are too slow
to run at every set-up; they are checked once per run against the
oracle on a corpus a tenth the size, and every pass must then reproduce
the first pass's row count and value hash.

Comparison follows ``scripts/check_parity.py``: columns sorted by name,
rows sorted, floats rounded to 6 digits, then a value hash.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# module -> leaves, in pass order: three of the leaves behind the open
# perf items (n-gram spans, containment dedup, the window family).  The
# fourth, bm25_topk, would add about 5 s to every pass.
LEAVES = {
    "dedup": ["repeated_ngram_spans", "containment_dedup"],
    "sessionize": ["sessionize"],
}
# all-pairs oracles (~12 s for containment_dedup at 500 documents)
ONCE_CHECKED = {"containment_dedup"}
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
NEAR_DUP_RATE, EXACT_DUP_RATE = 0.05, 0.0016
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14]


def write_corpus(out: Path, seed: int, scale: float = 1.0) -> int:
    """Write documents/embeddings/events parquet under ``out``; returns
    the document count."""
    rng = np.random.default_rng([seed, 4242])
    out.mkdir(parents=True, exist_ok=True)
    n_docs, n_vecs = max(50, int(500 * scale)), max(50, int(500 * scale))
    n_events, n_users = max(200, int(10_000 * scale)), max(10, int(150 * scale))

    lens = rng.integers(10, 100, n_docs)
    words = np.array(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    offsets = np.concatenate(([0], np.cumsum(lens)))
    docs = [list(words[offsets[i] : offsets[i + 1]]) for i in range(n_docs)]
    n_near, n_exact = round(NEAR_DUP_RATE * n_docs), round(EXACT_DUP_RATE * n_docs)
    targets = rng.choice(n_docs, n_near + n_exact, replace=False)
    for k, t in enumerate(targets):
        src = int(rng.choice(np.delete(np.arange(n_docs), t)))
        docs[t] = docs[src] + (["dup"] if k < n_near else [])
    texts = [" ".join(d) for d in docs]
    _write(out / "documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out / "embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out / "events.parquet", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n_events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], pa.string()),
    })
    return n_docs


def _write(path: Path, cols: dict) -> None:
    pq.write_table(pa.table(cols), path, row_group_size=100_000_000, compression="snappy")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            col = col.round(6)
        h.update(col.astype(str).str.cat(sep="\x1f").encode())
    return h.hexdigest()[:16]


def fingerprint(df: pd.DataFrame) -> tuple:
    df = canon(df)
    return len(df), tuple(df.columns), value_hash(df)


class CorpusWorkload:
    """Inputs, oracle and passes of ``corpus_ops``."""

    name = "corpus_ops"

    def __init__(self, spark, work: Path, scale: float, seed: int, tracer) -> None:
        self.spark, self.scale, self.seed, self.tracer = spark, scale, seed, tracer
        # any name but the oracle scale's "sf0.01": there the leaves also
        # rewrite the repository's oracle_exchange files
        self.sf_dir = work / f"corpus_seed{seed}"
        self.small_dir = work / f"corpus_seed{seed}_small"
        self.first_pass: dict[str, tuple] = {}  # once-checked leaf -> fingerprint

    def make_inputs(self) -> None:
        self.n_docs = write_corpus(self.sf_dir, self.seed, self.scale)

    def make_oracle(self) -> None:
        leaves = [leaf for ls in LEAVES.values() for leaf in ls if leaf not in ONCE_CHECKED]
        self.expected = _oracle(self.sf_dir, leaves)

    def check_once(self) -> bool:
        """Each once-checked leaf against its oracle on a corpus a tenth
        the size."""
        from __spark_entry__ import queries

        write_corpus(self.small_dir, self.seed, self.scale / 10)
        expected = _oracle(self.small_dir, sorted(ONCE_CHECKED))
        qs = queries()
        return all(
            fingerprint(qs[leaf](self.spark, str(self.small_dir)).toPandas()) == expected[leaf]
            for leaf in sorted(ONCE_CHECKED)
        )

    def prepare_pass(self) -> None:
        pass

    def run_pass(self, run_id: str) -> bool:
        from __spark_entry__ import queries

        qs, ok = queries(), True
        with self.tracer.span(self.name):
            for module, leaves in LEAVES.items():
                for leaf in leaves:
                    with self.tracer.span(f"{module}.{leaf}"):
                        got = fingerprint(qs[leaf](self.spark, str(self.sf_dir)).toPandas())
                    if leaf in ONCE_CHECKED:
                        ok &= got == self.first_pass.setdefault(leaf, got)
                    else:
                        ok &= got == self.expected[leaf]
        return ok


def _oracle(sf_dir: Path, leaves: list[str]) -> dict[str, tuple]:
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {leaf: fingerprint(con.execute(sql[leaf]).df()) for leaf in leaves}
    finally:
        con.close()
