"""Declared query set (SURVEY §2 Part B) with DuckDB oracle twins.

Every operator the engine claims is registered here as a
``(spark_query, oracle_sql)`` pair; the driver harness runs both at
sf0.01 and hash-compares canonicalized results (CORRECTNESS gate).
Registration happens at import via the ``@query`` decorator in each
group module:

- ``x_ops``  — charter extensions X1–X27 (+ multimodal)
- ``e_ops``  — scale-path extensions X28–X40 + C18b + C17g
- ``r_ops``  — reference-surface operators R1–R17
- ``c_ops``  — relational core C1–C18

``tools/check_oracle.py`` runs every registered query against its twin.

Conventions (FIXTURES.md determinism rules):
- every aggregate/computed column is aliased IDENTICALLY in Spark and
  SQL; the harness sorts columns by name before hashing;
- DOUBLE outputs are ``round(x, 6)`` (or 2 for money) on BOTH sides;
- timestamps are emitted as formatted strings, never raw;
- int-ish outputs are cast to BIGINT on both sides (Spark ``year()``
  is INT, DuckDB's is BIGINT — never leave that to chance);
- approximate operators register with ``oracle=None`` → the driver
  records a weaker rows-only check (SURVEY §2 X6 rule).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a declared query (and its DuckDB twin when exact)."""

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import all group modules (idempotent); the registry keeps their
    import order."""
    from rehiver_spark.queries import x_ops  # noqa: F401  (isort: skip)
    from rehiver_spark.queries import e_ops  # noqa: F401  (X28-X57 + c18b + c17g)
    from rehiver_spark.queries import r_ops  # noqa: F401
    from rehiver_spark.queries import c_ops  # noqa: F401


def scratch_dir(name: str, sf_dir: str) -> str:
    """Deterministic per-(query, sf_dir) scratch directory, CLEARED and
    recreated on each call. Queries that stage data on disk (streaming
    file sources, z-order layouts, snapshot stores) previously leaked a
    fresh ``mkdtemp`` per invocation — at sf1 that is hundreds of MB
    per bench run. One reused dir bounds scratch disk at a single copy
    per query, and clearing it keeps streaming checkpoints fresh (a
    reused checkpoint would make an AvailableNow re-run emit nothing).
    """
    import hashlib
    import os
    import shutil
    import tempfile

    # Layout: <tmp>/rehiver_scratch/<pid>/<query>_<sftag>. The PID
    # level keeps two concurrent processes benching the same
    # query+sf_dir from rmtree'ing each other's live streaming
    # checkpoints; the dead-PID sweep below keeps repeated runs from
    # accumulating orphaned scratch (each run is a fresh PID, so
    # without the sweep every bench/pytest invocation would leave its
    # z-order layouts and stream-source copies in /tmp forever).
    # per-UID base: a shared /tmp/rehiver_scratch owned by another OS
    # user would make our makedirs fail with PermissionError (sticky
    # /tmp lets anyone create toplevel dirs, not write into others')
    base = os.path.join(
        tempfile.gettempdir(), f"rehiver_scratch_u{os.getuid()}"
    )
    os.makedirs(base, exist_ok=True)
    for entry in os.listdir(base):
        if not entry.isdigit():
            continue
        try:
            os.kill(int(entry), 0)  # signal 0: existence probe only
        except ProcessLookupError:
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        except PermissionError:
            pass  # alive, owned by someone else
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    d = os.path.join(base, str(os.getpid()), f"{name}_{tag}")
    if os.path.isdir(d):
        shutil.rmtree(d)
    os.makedirs(d)
    return d


def tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load testdata views with a pinned UTC session timezone so
    date rendering matches DuckDB's naive timestamps regardless of how
    the caller's session was configured."""
    from rehiver_spark.session import load_tables

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_tables(spark, sf_dir, names)
