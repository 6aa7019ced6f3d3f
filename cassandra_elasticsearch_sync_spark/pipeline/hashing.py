"""Cross-engine deterministic hashing.

The MinHash/SimHash pipelines need a 64-bit-ish integer hash that BOTH
Spark and the DuckDB oracle can compute identically. Neither engine's
native fast hash exists in the other (Spark xxhash64 vs DuckDB hash),
so the verified surface derives a 60-bit integer from md5:

    Spark : CAST(CONV(SUBSTR(MD5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST(('0x' || SUBSTR(MD5(s), 1, 15)) AS BIGINT)

15 hex chars = 60 bits, always positive, fits BIGINT in both engines.
md5 is ~10x slower than xxhash64; at 100 TB you would flip
USE_PORTABLE_HASH off and re-verify with rows-only checks - the
pipeline shape is hash-agnostic.

Seeded family: hash_i(s) = H(i || '|' || s) - seeds are literals, so
every run of every engine agrees (SURVEY.md 5.3 determinism rule).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash60(c: Column) -> Column:
    """60-bit integer hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# SQL-string fragment versions for use inside F.expr lambdas.
PORTABLE_HASH60_SPARK_SQL = "CAST(CONV(SUBSTR(MD5({expr}), 1, 15), 16, 10) AS BIGINT)"
