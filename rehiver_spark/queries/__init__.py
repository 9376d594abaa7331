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

Registry ORDER (which decides the driver's 50-query correctness
window) is set explicitly by :func:`load_all` after all imports —
see the ``_DRIVER_WINDOW`` note.

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


# The driver's correctness harness records only the FIRST 50 entries
# of the registry. Rule for this window: a query touched by a change
# (operator code or query body changed) enters it; the names with the
# oldest driver evidence fill the rest. Every query outside it is
# re-verified locally by tools/check_oracle.py (the identical gate).
_DRIVER_WINDOW = (
    "c17d2_stream_join_linear", "x22b_semdedup_scaled",
    "x32_corpus_report", "x33_quality_select", "x36_vocab_topk",
    "x37_chunk_reassembly", "x38_corpus_drift", "x39_hybrid_search",
    "x41_count_min", "x42_hll_distinct", "x43_bloom_dedup",
    "x44_stream_hll", "x45_bpe_pairs", "x47_hdr_quantiles",
    "x48_weighted_sample", "x49_dsir_scores", "x50_jl_project",
    "x51_kmeans", "x52_stream_cm", "x53_ann_recall",
    "x54_pipeline_yield", "x55_sketch_filter", "x56_stream_hdr",
    "x57_substring_dedup", "x6c_portable_sample", "x8_simhash_pairs",
    "x8p_simhash",
    "x9_lsh_cosine_neardup", "x9p_lsh_cosine",
    "x14_winnow_fingerprints", "x21_winnow_contamination",
    "x21f_winnow_fast", "r10_detect_changes", "r11_changes_filter",
    "r12_snapshot_commit", "x28_incremental_dedup", "x22_semdedup",
    "c18b_python_udtf", "x34_incremental_neardup",
    "c17c_streaming_exec", "c17d_stream_join", "c17f_stream_dedup",
    "mm_decode", "mm_features", "mm_frame_plan", "mm_resize",
    "c17_tumbling_window", "c17_session_window",
    "c17e_stream_static_join", "c17g_sliding_window",
)


def load_all() -> None:
    """Import all group modules (idempotent), then order the registry:
    the 50 ``_DRIVER_WINDOW`` names first, everything else after in
    import order (tests/test_engine.py pins the window)."""
    from rehiver_spark.queries import x_ops  # noqa: F401  (isort: skip)
    from rehiver_spark.queries import e_ops  # noqa: F401  (X28-X57 + c18b + c17g)
    from rehiver_spark.queries import r_ops  # noqa: F401
    from rehiver_spark.queries import c_ops  # noqa: F401

    missing = [n for n in _DRIVER_WINDOW if n not in QUERIES]
    if missing:  # fail loudly: a silent miss shrinks the driver window
        raise RuntimeError(f"driver window names not registered: {missing}")
    rest = [n for n in QUERIES if n not in set(_DRIVER_WINDOW)]
    reordered = {n: QUERIES[n] for n in [*_DRIVER_WINDOW, *rest]}
    QUERIES.clear()
    QUERIES.update(reordered)


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
