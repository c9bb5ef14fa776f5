"""Hashing functions: document ids, spider ids, portable 32-bit hashes.

Reference parity:
- sha256 URL doc id — elasticsearch/i14y_helper.py:170-173 → native F.sha2.
- shake_256 5-byte spider id — helpers/domain_spider.py:170-180 → the
  pure-Python ``spider_id`` (no JVM builtin).
- md5 file keys — sitemaps/sitemap_monitor.py:134 → native F.md5.

``portable_hash32`` is this engine's oracle-portable hash: the first 8 hex
chars of md5 as a signed-safe int. Both Spark (conv/substring of F.md5) and
DuckDB (('0x' || substr(md5(x),1,8))::bigint) compute the identical value,
which lets MinHash / SimHash / fingerprint queries be verified by an ANSI-SQL
oracle. It is NOT the frontier identity hash (that is xxhash64, see urls.py).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def spider_id(*args) -> str:
    """5-byte shake_256 hex id of the concatenated string args."""
    if not args:
        raise ValueError("One or more arguments must be passed to generate a spider_id.")
    joined = "".join(str(a) for a in args)
    return hashlib.shake_256(joined.encode()).hexdigest(5)


def portable_hash32(value: str) -> int:
    """Pure-Python twin of ``portable_hash32_col`` (used in tests/generators)."""
    return int(hashlib.md5(value.encode()).hexdigest()[:8], 16)


def portable_hash32_col(col: Column | str) -> Column:
    """First 8 hex chars of md5 as a long in [0, 2^32) — JVM-side, codegen'd,
    reproducible in DuckDB for oracle checks."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def portable_hash32_sql(expr: str) -> str:
    """DuckDB SQL fragment computing the identical value."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def seeded_hash32_col(col: Column | str, seed: int) -> Column:
    """Seeded member of the md5 hash family (for MinHash signatures)."""
    c = F.col(col) if isinstance(col, str) else col
    return portable_hash32_col(F.concat(F.lit(f"{seed}|"), c))
