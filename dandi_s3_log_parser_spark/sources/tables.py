"""Table catalog: partitioned, atomically-committed tables.

Scale design: the production format is **Apache Iceberg** — the
reference's directory-tree bookkeeping (`raw_logs/YYYY/MM/DD.log`,
started/completed two-phase text files,
``_bin_all_reduced_s3_logs_by_object_key.py:30-54``) maps to Iceberg
partition specs + atomic snapshot commits.  The Iceberg runtime jar is
not available in this sandbox, so the catalog transparently falls back
to Hive-partitioned Parquet with **dynamic partition overwrite**, which
preserves the two properties the pipeline relies on:

* partition pruning on read (day / key-prefix filters hit the file
  listing, not the data);
* idempotent per-partition re-commit for checkpointed resume (a re-run
  of a partition replaces exactly that partition).

On a real cluster, set ``iceberg_catalog`` to a configured catalog name
and the same API writes `catalog.db.table` identifiers instead.

Real-Iceberg status (attempted 2026-08-17, re-attempted 2026-08-17
round 4 and 2026-08-18 round 5: pyspark jar dir still has no iceberg
artifact, ``/opt/spark/jars`` has none, a filesystem-wide
``*iceberg*jar*`` search finds nothing, and DNS resolution still fails
for repo1.maven.org — no route to vendor the jar): no
``iceberg-spark-runtime`` jar ships with this sandbox's Spark
(``/opt/spark/jars`` and the pyspark wheel both lack it) and the box has
no network route (DNS resolution fails for both the pip index and
repo1.maven.org), so the jar cannot be vendored in.  The Iceberg branch is therefore verified by recorder-mock
call-sequence tests (``tests/test_catalog.py``,
``tests/test_iceberg_merge_retry.py``) plus a gated integration
test (``tests/test_iceberg_integration.py``, ``@pytest.mark.iceberg``) that
executes the full catalog round-trip — create partitioned, dynamic
overwrite one day, other days survive, cache MERGE INTO — whenever a
runtime jar is supplied via ``SPARK_ICEBERG_JAR``.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class Catalog:
    def __init__(
        self,
        spark: SparkSession,
        root: str | Path,
        iceberg_catalog: str | None = None,
    ) -> None:
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.iceberg_catalog = iceberg_catalog
        if iceberg_catalog is None:
            # dynamic overwrite: INSERT OVERWRITE replaces only touched partitions
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    # -- paths / existence ---------------------------------------------------

    def path(self, name: str) -> str:
        return str(self.root / name)

    def exists(self, name: str) -> bool:
        if self.iceberg_catalog:
            return self.spark.catalog.tableExists(self._ident(name))
        p = Path(self.path(name))
        return p.exists() and any(p.rglob("*.parquet"))

    def _ident(self, name: str) -> str:
        return f"{self.iceberg_catalog}.db.{name}"

    def sql_with_commit_retry(
        self,
        stmt: str,
        *,
        retries: int = 3,
        retry_unknown_state: bool = False,
    ):
        """Run a statement with optimistic-concurrency commit retry —
        the client contract every long-lived Iceberg deployment needs
        around row-level operations (MERGE/DELETE/UPDATE):

        * ``CommitFailedException``: another writer won the snapshot
          race and the commit definitively did NOT land.  Iceberg
          auto-retries only metadata-level races internally; a
          row-level operation whose validation window was invalidated
          by a concurrent commit must be RE-PLANNED from the new
          snapshot — which re-issuing ``spark.sql`` does.  Always safe
          to retry.
        * ``CommitStateUnknownException``: the commit may or may not
          have landed (e.g. a timeout talking to the catalog).  A
          blind retry is only safe when the caller declares the
          statement idempotent (``retry_unknown_state=True`` — e.g. an
          insert-only MERGE, where a replay finds the rows matched and
          inserts nothing).  Non-idempotent statements propagate the
          error for the operator to reconcile.

        Exceptions surface through py4j with the JVM class name in the
        message, so matching is by name — same detection a JVM-side
        handler would do by class.
        """
        last: Exception | None = None
        for attempt in range(retries + 1):
            try:
                return self.spark.sql(stmt)
            except Exception as exc:  # noqa: BLE001 — py4j wraps JVM errors
                msg = str(exc)
                conflict = "CommitFailedException" in msg
                unknown = "CommitStateUnknownException" in msg
                if attempt < retries and (
                    conflict or (unknown and retry_unknown_state)
                ):
                    last = exc
                    continue
                raise
        raise last  # pragma: no cover — loop always returns or raises

    # -- read / write ---------------------------------------------------------

    def read(self, name: str) -> DataFrame:
        if self.iceberg_catalog:
            return self.spark.read.table(self._ident(name))
        return self.spark.read.parquet(self.path(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        *,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> None:
        """``mode='overwrite'`` with partition columns does a *dynamic*
        overwrite (only the partitions present in ``df`` are replaced) —
        the parquet analog of an Iceberg ``overwritePartitions`` commit.

        Iceberg path semantics mirror the parquet fallback exactly:
        first write creates the table with the partition spec; appends
        append; overwrites replace only the partitions present in ``df``
        (``overwritePartitions``), never the whole table — a full
        ``createOrReplace`` would break the resume contract (a re-run of
        one day would erase every other committed day).
        """
        if self.iceberg_catalog:
            from pyspark.sql import functions as F

            writer = df.writeTo(self._ident(name))
            if not self.exists(name):
                writer = writer.using("iceberg")
                if partition_by:
                    cols = [F.col(c) for c in partition_by]
                    writer = writer.partitionedBy(cols[0], *cols[1:])
                writer.create()
            else:
                self._evolve_schema(df, name)
                if mode == "append":
                    writer.append()
                else:
                    writer.overwritePartitions()
            return
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self.path(name))

    def _evolve_schema(self, df: DataFrame, name: str) -> None:
        """Iceberg schema evolution: ``ADD COLUMNS`` for fields present
        in the incoming frame but missing from the table — the first
        migration a long-lived deployment hits (a new lineage metric
        column).  Iceberg's add-column is a metadata-only commit, and
        rows from earlier snapshots read the new column as NULL.
        Drops/renames are deliberately NOT automated (destructive —
        run them as explicit ALTERs).  The parquet fallback does not
        need this call for writes (parquet files are self-describing),
        but mixed-schema fallback tables should be read with
        ``mergeSchema`` if an old partition must expose new columns.
        """
        ident = self._ident(name)
        existing = {f.name for f in self.spark.read.table(ident).schema.fields}
        new = [f for f in df.schema.fields if f.name not in existing]
        if new:
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in new
            )
            self.spark.sql(f"ALTER TABLE {ident} ADD COLUMNS ({cols})")

    def drop(self, name: str) -> None:
        if self.iceberg_catalog:
            self.spark.sql(f"DROP TABLE IF EXISTS {self._ident(name)}")
            return
        shutil.rmtree(self.path(name), ignore_errors=True)
