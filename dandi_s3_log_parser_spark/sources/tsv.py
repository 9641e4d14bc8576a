"""Reference-compatible TSV readers/writers (SURVEY §2.1 S3-S6).

The engine's native storage is partitioned parquet/Iceberg; these
adapters reproduce the reference's exact TSV file layouts for interop
and golden-parity testing:

* reduced logs  — ``timestamp\tip_address\tobject_key\tbytes_sent``,
  ISO-8601 zone-free timestamps, header only when non-empty
  (reference ``_s3_log_file_reducer.py:150-153``);
* binned tree   — one file per object key at
  ``blobs/<id[:3]>/<id[3:6]>/<id>.tsv`` / ``zarr/<id>.tsv`` with columns
  ``timestamp\tbytes_sent\tip_address``
  (reference ``_bin_all_reduced_s3_logs_by_object_key.py:94-113``).

Export writers are driver-side (guarded by ``max_rows``): they exist for
small result sets and fixtures — at scale the partitioned table IS the
product; a one-file-per-key tree of 10^8 keys is the small-file
pathology the Spark design removes (reference README.md:65 hit 253,676
files).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import REDUCED_SCHEMA

_EXPORT_GUARD = 2_000_000


def read_reduced_tsv(spark: SparkSession, path: str | Path) -> DataFrame:
    """Read reference-format reduced TSVs (recursive glob like S2/S3)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .schema("timestamp string, ip_address string, object_key string, bytes_sent long")
        .csv(str(path))
    )
    return df.select(
        F.to_timestamp("timestamp").alias("timestamp"),
        "ip_address",
        "object_key",
        "bytes_sent",
    )


def _iso(col: str = "timestamp") -> F.Column:
    return F.date_format(col, "yyyy-MM-dd'T'HH:mm:ss")


def write_reduced_tsv(reduced: DataFrame, path: str | Path, *, max_rows: int = _EXPORT_GUARD) -> None:
    """One reduced TSV file, reference column order and formatting."""
    pdf = (
        reduced.select(
            _iso().alias("timestamp"), "ip_address", "object_key", "bytes_sent"
        )
        .orderBy("timestamp", "ip_address", "object_key")
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise ValueError(f"export exceeds max_rows={max_rows}; use the parquet table")
    Path(path).parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as io:
        if len(pdf):
            io.write("timestamp\tip_address\tobject_key\tbytes_sent\n")
            for r in pdf.itertuples(index=False):
                io.write(f"{r.timestamp}\t{r.ip_address}\t{r.object_key}\t{r.bytes_sent}\n")


def binned_tsv_relpath(object_key: str) -> Path:
    """Reference shard layout for one key's file
    (``_map_binned_s3_logs_to_dandisets.py:156-164``)."""
    parent, blob_id = object_key.split("/", 1)
    if parent == "zarr":
        return Path("zarr") / f"{blob_id}.tsv"
    blob_id = blob_id.split("/")[-1]
    return Path("blobs") / blob_id[:3] / blob_id[3:6] / f"{blob_id}.tsv"


def export_binned_tsv_tree(
    binned: DataFrame, out_dir: str | Path, *, max_rows: int = _EXPORT_GUARD
) -> list[Path]:
    """Fan the binned rows out to the reference's one-file-per-key tree."""
    pdf = (
        binned.select(
            "object_key", _iso().alias("timestamp"), "bytes_sent", "ip_address"
        )
        .orderBy("object_key", "timestamp")
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise ValueError(f"export exceeds max_rows={max_rows}; use the parquet table")
    out_dir = Path(out_dir)
    written: list[Path] = []
    for key, grp in pdf.groupby("object_key", sort=True):
        rel = binned_tsv_relpath(key)
        target = out_dir / rel
        target.parent.mkdir(parents=True, exist_ok=True)
        grp_out = grp[["timestamp", "bytes_sent", "ip_address"]]
        grp_out.to_csv(target, sep="\t", index=False)
        written.append(rel)
    return written
