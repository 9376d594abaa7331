"""Portable deterministic hashing shared by Spark and SQL oracles.

The portable hash is a 60-bit integer from the leading 15 hex chars
of md5. md5 is computable bit-identically by any engine (DuckDB, Trino,
Postgres), which turns approximate sketches into fully oracle-checkable
pipelines — the sketch itself becomes deterministic cross-engine, not
just the exact verification step. It is the only hash of the MinHash
sketch; SimHash, winnowing and sign-LSH default to the JVM's
``xxhash64`` and take ``hash_fn="md5"`` (or a portable twin) for this
form.

Spark:   conv(substring(md5(s), 1, 15), 16, 10)::bigint
DuckDB:  ('0x' || substr(md5(s), 1, 15))::BIGINT

15 hex digits = 60 bits, always positive, no BIGINT overflow.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hash60(col: Column) -> Column:
    """60-bit non-negative BIGINT hash of a string column (portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_hash60_spark_sql(expr: str) -> str:
    """Spark SQL text of ``md5_hash60`` over a Spark SQL expression, for
    builders that render a whole expression as one SQL string."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def md5_hash60_sql(expr: str) -> str:
    """DuckDB twin of ``md5_hash60`` over an SQL string expression."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def md5_hash60_py(s: str) -> int:
    """Driver-side twin (for tests / literal generation)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def rademacher_planes(dim: int, n_planes: int, seed: int) -> list[list[int]]:
    """±1 hyperplanes derived from md5 — deterministic with no RNG state,
    so the same literal planes can be embedded in an SQL oracle.

    Rademacher entries are a standard choice for sign-LSH (Achlioptas-
    style database-friendly random projections): E[sign agreement] obeys
    the same collision-probability bound as Gaussian planes.
    """
    return [
        [1 if md5_hash60_py(f"{seed}:{p}:{d}") & 1 else -1 for d in range(dim)]
        for p in range(n_planes)
    ]
