"""Engine-portable hashing: the md5 hex-prefix integer.

Spark's own ``hash``/``xxhash64`` have no SQL equivalent elsewhere; the
leading hex digits of ``md5`` do (``CAST(concat('0x', substr(md5(x), 1,
n)) AS BIGINT)`` in DuckDB), so bucketings and draws built on this
helper can be recomputed by an external oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_prefix(col: Column, n: int) -> Column:
    """The first ``n`` hex digits of ``md5(col)`` as a decimal string
    (cast it to the integer or double type the caller needs).  Up to 15
    digits fit a signed 64-bit long."""
    return F.conv(F.substring(F.md5(col), 1, n), 16, 10)
