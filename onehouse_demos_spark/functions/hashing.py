"""The portable 60-bit hash: the first 15 hex digits of a string's md5
as an integer. The JVM form, the Python form and DuckDB's
`('0x' || substr(md5(x), 1, 15))::BIGINT` agree bit for bit, so bucket
ids, record-index buckets and RLI shards computed on the driver, on
executors or in an oracle all match. 60 bits keep the value positive
in a signed 64-bit long."""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_60(col) -> Column:
    """The 60-bit md5-prefix hash of a string column, as a long."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_60_py(value: str) -> int:
    """`md5_60` of one Python string (UTF-8, as Spark hashes it)."""
    return int(hashlib.md5(value.encode("utf-8")).hexdigest()[:15], 16)
