"""The Iceberg stand-in shared by the catalog tests.

No Iceberg runtime jar ships with this environment (see
``sources/tables.py``), so the Iceberg branch of ``Catalog`` is pinned
with one recorder standing in for the SparkSession.  It records every
SQL statement, every ``writeTo`` call chain and every dropped temp
view, and can raise scripted commit errors.  The jar-gated suite
(``tests/test_iceberg_integration.py``) runs the real statements when a
runtime jar is supplied.
"""

from pathlib import Path
from types import SimpleNamespace

from pyspark.sql.types import StructType

from dandi_s3_log_parser_spark.sources.tables import Catalog


class _Writer:
    """``DataFrameWriterV2`` stand-in: appends each call to ``calls``."""

    def __init__(self, calls):
        self.calls = calls

    def using(self, fmt):
        self.calls.append(("using", fmt))
        return self

    def partitionedBy(self, *cols):
        self.calls.append(("partitionedBy", len(cols)))
        return self

    def create(self):
        self.calls.append(("create",))

    def append(self):
        self.calls.append(("append",))

    def overwritePartitions(self):
        self.calls.append(("overwritePartitions",))

    def createOrReplace(self):
        self.calls.append(("createOrReplace",))


class IcebergRecorder:
    """SparkSession stand-in on the Iceberg branch.

    ``sql`` records each statement and raises the next scripted entry of
    ``errors`` (``None`` succeeds; an empty script always succeeds).
    ``read.table`` answers with ``table_schema``, ``catalog.dropTempView``
    records the view name, and ``frame(schema)`` is a DataFrame stand-in
    whose ``writeTo`` chain is recorded in ``writes``."""

    def __init__(self, errors=(), table_schema=StructType()):
        self.errors = list(errors)
        self.statements = []
        self.dropped = []
        self.writes = []
        self.catalog = SimpleNamespace(dropTempView=self.dropped.append)
        self.read = SimpleNamespace(
            table=lambda ident: SimpleNamespace(schema=table_schema)
        )

    def sql(self, stmt):
        self.statements.append(stmt)
        exc = self.errors.pop(0) if self.errors else None
        if exc is not None:
            raise exc

    def frame(self, schema=StructType()):
        return SimpleNamespace(schema=schema, writeTo=self._write_to)

    def _write_to(self, ident):
        self.writes.append(("writeTo", ident))
        return _Writer(self.writes)


def iceberg_catalog(session, *, exists=True):
    """A catalog on the Iceberg branch (catalog ``ice``) over ``session``;
    ``exists`` answers every table-existence probe."""
    cat = Catalog.__new__(Catalog)
    cat.spark = session
    cat.root = Path("/nonexistent")
    cat.iceberg_catalog = "ice"
    cat.exists = lambda name: exists
    return cat
