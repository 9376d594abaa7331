"""R1–R17: reference-surface operators as declared queries (SURVEY §2).

Inputs are object catalogs derived DETERMINISTICALLY from the TPC-H-ish
testdata (same derivation written twice: Spark Columns and DuckDB SQL),
so the oracle sees byte-identical inputs without any fixture files.

Glob oracles embed the SAME compiled regex the engine runs (the
compiler output is Java+RE2-safe by construction for ``dot=True``;
``dot=False`` emits a lookahead Java-only guard, so declared queries
use ``dot=True`` — the dotfile path is unit-tested instead).
"""

from __future__ import annotations


from pyspark.sql import functions as F

from rehiver_spark.functions.globs import (
    capture_to_regex,
    glob_match,
    glob_to_regex,
    path_capture,
    split_patterns,
)
from rehiver_spark.operators.changes import (
    ChangeDetector,
    SnapshotStore,
    detect_changes,
    filter_changes,
)
from rehiver_spark.operators.partitions import date_schema
from rehiver_spark.operators.timeparts import TimePartitioner
from rehiver_spark.queries import query, tables
from rehiver_spark.sources.catalog import (
    content_type_col,
    decode_s3_key_col,
    dedup_catalog,
    encode_s3_key_col,
    is_text_col,
    valid_bucket_name_col,
)

# ---------------------------------------------------------------------------
# shared derivations (Spark + SQL twins)
# ---------------------------------------------------------------------------

_EXTS = [".json", ".csv", ".png", ".parquet", ".gz", ""]


def _objects(spark, sf_dir):
    """Catalog keys derived from lineitem: hive-dated path + typed ext."""
    li = tables(spark, sf_dir, ["lineitem"])["lineitem"]
    ext = F.lit(None).cast("string")
    sel = (F.col("l_orderkey") + F.col("l_linenumber")) % 6
    for i, e in enumerate(_EXTS):
        ext = F.when(sel == i, F.lit(e)).otherwise(ext)
    key = F.concat(
        F.lit("data/year="),
        F.date_format("l_shipdate", "yyyy"),
        F.lit("/month="),
        F.date_format("l_shipdate", "MM"),
        F.lit("/day="),
        F.date_format("l_shipdate", "dd"),
        F.lit("/"),
        F.col("l_orderkey").cast("string"),
        F.lit("-"),
        F.col("l_linenumber").cast("string"),
        ext,
    )
    size = ((F.col("l_orderkey") % 1000) * 100 + F.col("l_linenumber")).cast("bigint")
    return li.select(key.alias("key"), size.alias("size"))


_OBJECTS_SQL = """
SELECT 'data/year=' || strftime(l_shipdate, '%Y')
    || '/month=' || strftime(l_shipdate, '%m')
    || '/day=' || strftime(l_shipdate, '%d')
    || '/' || l_orderkey || '-' || l_linenumber
    || CASE (l_orderkey + l_linenumber) % 6
         WHEN 0 THEN '.json' WHEN 1 THEN '.csv' WHEN 2 THEN '.png'
         WHEN 3 THEN '.parquet' WHEN 4 THEN '.gz' ELSE '' END AS key,
  CAST((l_orderkey % 1000) * 100 + l_linenumber AS BIGINT) AS size
FROM lineitem
"""


def glob_sql(patterns: str | list[str], col: str = "key", dot: bool = True) -> str:
    """SQL boolean expression equivalent to ``glob_match`` — the same
    compiled regexes, micromatch list semantics spelled as AND/OR."""
    pos, neg = split_patterns(patterns)
    parts = [f"regexp_matches({col}, '{glob_to_regex(p, dot=dot)}')" for p in pos]
    expr = "(" + " OR ".join(parts) + ")" if parts else ("TRUE" if neg else "FALSE")
    for p in neg:
        expr += f" AND NOT regexp_matches({col}, '{glob_to_regex(p, dot=dot)}')"
    return expr


def _ev_keys(spark, sf_dir):
    """Hive-dated keys from events, with controlled corruption for the
    partition-validation queries (day=32 / month=ab on fixed ids)."""
    ev = tables(spark, sf_dir, ["events"])["events"]
    day = F.when(F.col("event_id") % 97 == 0, F.lit("32")).otherwise(
        F.date_format("ts", "dd")
    )
    month = F.when(F.col("event_id") % 89 == 0, F.lit("ab")).otherwise(
        F.date_format("ts", "MM")
    )
    key = F.concat(
        F.lit("ev/year="),
        F.date_format("ts", "yyyy"),
        F.lit("/month="),
        month,
        F.lit("/day="),
        day,
    )
    return ev.select("event_id", "event_type", "value", key.alias("key"))


_EV_KEYS_SQL = """
SELECT event_id, event_type, value,
  'ev/year=' || strftime(ts, '%Y')
    || '/month=' || CASE WHEN event_id % 89 = 0 THEN 'ab' ELSE strftime(ts, '%m') END
    || '/day='   || CASE WHEN event_id % 97 = 0 THEN '32' ELSE strftime(ts, '%d') END AS key
FROM events
"""

_SNAP_SQL = """
prev AS (
  SELECT 'obj/' || l_orderkey || '/' || l_linenumber AS key,
    CAST((l_orderkey % 997) * 10 + l_linenumber AS BIGINT) AS size,
    CAST(l_orderkey * 7 + l_linenumber AS VARCHAR) AS etag,
    l_shipdate AS last_modified
  FROM lineitem WHERE l_orderkey % 11 <> 0
),
cur AS (
  SELECT 'obj/' || l_orderkey || '/' || l_linenumber AS key,
    CAST((l_orderkey % 997) * 10 + l_linenumber
         + CASE WHEN l_linenumber % 4 = 0 THEN 5 ELSE 0 END AS BIGINT) AS size,
    CAST(l_orderkey * 7 + l_linenumber AS VARCHAR)
         || CASE WHEN l_orderkey % 29 = 0 THEN 'x' ELSE '' END AS etag,
    l_shipdate + CASE WHEN l_orderkey % 31 = 0
                      THEN INTERVAL 1 HOUR ELSE INTERVAL 0 HOUR END AS last_modified
  FROM lineitem WHERE l_orderkey % 13 <> 0
)
"""

_DIFF_SQL = """
SELECT COALESCE(c.key, p.key) AS key,
  CASE WHEN p.key IS NULL THEN 'added'
       WHEN c.key IS NULL THEN 'deleted'
       WHEN (c.size IS DISTINCT FROM p.size)
         OR (c.etag IS DISTINCT FROM p.etag)
         OR (c.last_modified IS DISTINCT FROM p.last_modified) THEN 'modified'
       ELSE 'unchanged' END AS change_type,
  COALESCE(c.size, p.size) AS size, p.size AS prev_size,
  COALESCE(c.etag, p.etag) AS etag, p.etag AS prev_etag
FROM cur c FULL OUTER JOIN prev p ON c.key = p.key
"""


#: one bucketed previous-snapshot store per (app, sf_dir) — r10/r11
#: share it, so the state is committed ONCE and every detect reads it
#: exchange-free (the production cadence: commit once, detect per run)
_PREV_STATE: dict[tuple, SnapshotStore] = {}


def _prev_bucketed(spark, sf_dir):
    """The previous snapshot through the r13 bucketed SnapshotStore.

    The full-outer diff join in :func:`detect_changes` is then planned
    with ZERO Exchange on the state side (the bucketed scan already
    satisfies ``HashPartitioning(key)``) — only the fresh listing
    shuffles. At sf10 the state-side exchange dominated every
    change-detection query (BASELINE.md r12: 16-22 s/query on an
    80M-row catalog); plan-tested in tests/test_catalog_changes.py.
    """
    memo_key = (spark.sparkContext.applicationId, sf_dir)
    store = _PREV_STATE.get(memo_key)
    if store is None:
        from rehiver_spark.queries import scratch_dir

        _, prev = _snapshots(spark, sf_dir)
        store = SnapshotStore(
            spark, scratch_dir("r10state", sf_dir), n_buckets=32
        )
        store.save(prev)
        _PREV_STATE[memo_key] = store
    return store.load()


def _snapshots(spark, sf_dir):
    li = tables(spark, sf_dir, ["lineitem"])["lineitem"]
    key = F.concat(
        F.lit("obj/"),
        F.col("l_orderkey").cast("string"),
        F.lit("/"),
        F.col("l_linenumber").cast("string"),
    )
    base_size = (F.col("l_orderkey") % 997) * 10 + F.col("l_linenumber")
    etag = (F.col("l_orderkey") * 7 + F.col("l_linenumber")).cast("string")
    prev = li.filter(F.col("l_orderkey") % 11 != 0).select(
        key.alias("key"),
        base_size.cast("bigint").alias("size"),
        etag.alias("etag"),
        F.col("l_shipdate").alias("last_modified"),
    )
    cur = li.filter(F.col("l_orderkey") % 13 != 0).select(
        key.alias("key"),
        (base_size + F.when(F.col("l_linenumber") % 4 == 0, 5).otherwise(0))
        .cast("bigint")
        .alias("size"),
        F.concat(
            etag, F.when(F.col("l_orderkey") % 29 == 0, "x").otherwise("")
        ).alias("etag"),
        F.when(
            F.col("l_orderkey") % 31 == 0,
            F.col("l_shipdate") + F.expr("INTERVAL 1 HOUR"),
        )
        .otherwise(F.col("l_shipdate"))
        .alias("last_modified"),
    )
    return cur, prev


# ---------------------------------------------------------------------------
# R1–R3: glob match / filter / capture
# ---------------------------------------------------------------------------

_R1_PAT = "data/**/*.json"


@query(
    "r1_glob_match",
    f"SELECT key, {glob_sql(_R1_PAT)} AS matched FROM ({_OBJECTS_SQL})",
)
def r1_glob_match(spark, sf_dir):
    """R1 (reference PathMatcher.isMatch, src/index.ts:629-635)."""
    return _objects(spark, sf_dir).select(
        "key", glob_match("key", _R1_PAT, dot=True).alias("matched")
    )


_R2_PATS = ["data/year=199?/**/*.{json,csv}", "!**/day=1*/**"]


@query(
    "r2_glob_filter",
    f"SELECT key FROM ({_OBJECTS_SQL}) WHERE {glob_sql(_R2_PATS)}",
)
def r2_glob_filter(spark, sf_dir):
    """R2: filter + negation-list subtract (src/index.ts:644-650, 703-709)."""
    return (
        _objects(spark, sf_dir)
        .filter(glob_match("key", _R2_PATS, dot=True))
        .select("key")
    )


_R3_PAT = "users/:uid/posts/:pid.txt"
_R3_RE = capture_to_regex(_R3_PAT)[0]


@query(
    "r3_path_capture",
    f"""
    SELECT o_orderkey,
      regexp_extract(key, '{_R3_RE}', 1) AS uid,
      regexp_extract(key, '{_R3_RE}', 2) AS pid
    FROM (SELECT o_orderkey,
            'users/' || o_custkey || '/posts/' || o_orderkey || '.txt' AS key
          FROM orders)
    """,
)
def r3_path_capture(spark, sf_dir):
    """R3 (reference PathMatcher.capture, src/index.ts:733-765)."""
    o = tables(spark, sf_dir, ["orders"])["orders"]
    key = F.concat(
        F.lit("users/"),
        F.col("o_custkey").cast("string"),
        F.lit("/posts/"),
        F.col("o_orderkey").cast("string"),
        F.lit(".txt"),
    )
    cap = path_capture(key, _R3_PAT)
    return o.select(
        "o_orderkey",
        F.element_at(cap, 1).alias("uid"),
        F.element_at(cap, 2).alias("pid"),
    )


# ---------------------------------------------------------------------------
# R4–R7: hive partition parse / format / prune / missing keys
# ---------------------------------------------------------------------------


@query(
    "r4_partition_parse",
    f"""
    SELECT event_id,
      CAST(TRY_CAST(regexp_extract(key, '(?:^|/)year=([^/]*)', 1) AS INTEGER) AS BIGINT) AS year,
      CAST(TRY_CAST(regexp_extract(key, '(?:^|/)month=([^/]*)', 1) AS INTEGER) AS BIGINT) AS month,
      CAST(TRY_CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INTEGER) AS BIGINT) AS day,
      (TRY_CAST(regexp_extract(key, '(?:^|/)year=([^/]*)', 1) AS INTEGER) BETWEEN 2000 AND 2100
       AND TRY_CAST(regexp_extract(key, '(?:^|/)month=([^/]*)', 1) AS INTEGER) BETWEEN 1 AND 12
       AND TRY_CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INTEGER) BETWEEN 1 AND 31
      ) IS TRUE AS valid
    FROM ({_EV_KEYS_SQL})
    """,
)
def r4_partition_parse(spark, sf_dir):
    """R4: extract + cast + validate (src/index.ts:1579-1618)."""
    df = date_schema().apply(_ev_keys(spark, sf_dir), "key")
    return df.select(
        "event_id",
        F.col("year").cast("bigint").alias("year"),
        F.col("month").cast("bigint").alias("month"),
        F.col("day").cast("bigint").alias("day"),
        F.col("_valid").alias("valid"),
    )


@query(
    "r5_partition_format",
    """
    SELECT o_orderkey,
      'year=' || year(o_orderdate) || '/month=' || month(o_orderdate)
        || '/day=' || day(o_orderdate) AS path
    FROM orders
    """,
)
def r5_partition_format(spark, sf_dir):
    """R5: typed cols → k=v path, schema-key order (src/index.ts:1625-1637)."""
    o = tables(spark, sf_dir, ["orders"])["orders"]
    sch = date_schema()
    return o.select(
        "o_orderkey",
        sch.format_col(
            {
                "year": F.year("o_orderdate"),
                "month": F.month("o_orderdate"),
                "day": F.dayofmonth("o_orderdate"),
            }
        ).alias("path"),
    )


@query(
    "r6_partition_prune",
    f"""
    SELECT event_type, count(*) AS n,
      round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
    FROM ({_EV_KEYS_SQL})
    WHERE TRY_CAST(regexp_extract(key, '(?:^|/)year=([^/]*)', 1) AS INTEGER) = 2024
      AND TRY_CAST(regexp_extract(key, '(?:^|/)day=([^/]*)', 1) AS INTEGER) = 15
    GROUP BY event_type
    """,
)
def r6_partition_prune(spark, sf_dir):
    """R6: partial spec → partition-column filter (src/index.ts:1644-1657).
    On a hive-layout scan this same predicate becomes Catalyst
    PartitionFilters (asserted in tests/test_timeparts.py)."""
    sch = date_schema()
    df = sch.apply(_ev_keys(spark, sf_dir), "key")
    return (
        df.filter(sch.prune_filter({"year": 2024, "day": 15}))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value").cast("double"), 2).alias("sum_value"),
        )
    )


@query(
    "r7_missing_keys",
    """
    SELECT event_id, concat_ws(',',
      CASE WHEN NOT regexp_matches(key, '(?:^|/)year=')  THEN 'year'  END,
      CASE WHEN NOT regexp_matches(key, '(?:^|/)month=') THEN 'month' END,
      CASE WHEN NOT regexp_matches(key, '(?:^|/)day=')   THEN 'day'   END) AS missing
    FROM (
      SELECT event_id, concat_ws('/', 'ev',
        'year=' || strftime(ts, '%Y'),
        CASE WHEN event_id % 5 <> 0 THEN 'month=' || strftime(ts, '%m') END,
        CASE WHEN event_id % 3 <> 0 THEN 'day=' || strftime(ts, '%d') END) AS key
      FROM events)
    """,
)
def r7_missing_keys(spark, sf_dir):
    """R7: schema keys absent from path (src/index.ts:1689-1703)."""
    ev = tables(spark, sf_dir, ["events"])["events"]
    key = F.concat_ws(
        "/",
        F.lit("ev"),
        F.concat(F.lit("year="), F.date_format("ts", "yyyy")),
        F.when(
            F.col("event_id") % 5 != 0,
            F.concat(F.lit("month="), F.date_format("ts", "MM")),
        ),
        F.when(
            F.col("event_id") % 3 != 0,
            F.concat(F.lit("day="), F.date_format("ts", "dd")),
        ),
    )
    df = ev.select("event_id", key.alias("key"))
    return df.select(
        "event_id",
        F.array_join(date_schema().missing_keys_col("key"), ",").alias("missing"),
    )


# ---------------------------------------------------------------------------
# R8–R9: time partition paths
# ---------------------------------------------------------------------------


@query(
    "r8_time_partition_path",
    """
    SELECT event_id,
      'data/' || strftime(ts, 'year=%Y/month=%m/day=%d/hour=%H') AS path
    FROM events
    """,
)
def r8_time_partition_path(spark, sf_dir):
    """R8 (reference generatePath, src/index.ts:1869-1936)."""
    ev = tables(spark, sf_dir, ["events"])["events"]
    tp = TimePartitioner(granularity="hourly", fmt="hive", prefix="data")
    return ev.select("event_id", tp.path_col("ts").alias("path"))


@query(
    "r9_time_range_paths",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
      'logs/' || strftime(ts, 'year=%Y/month=%m/day=%d') AS path
    FROM (SELECT unnest(generate_series(TIMESTAMP '2023-11-25',
                 TIMESTAMP '2024-02-03', INTERVAL 1 DAY)) AS ts)
    """,
)
def r9_time_range_paths(spark, sf_dir):
    """R9 (reference generatePathsForRange, src/index.ts:1944-1971):
    sequence()+explode, never a driver loop."""
    from datetime import datetime

    spark.conf.set("spark.sql.session.timeZone", "UTC")  # no tables() call here
    tp = TimePartitioner(granularity="daily", fmt="hive", prefix="logs")
    df = tp.paths_df(spark, datetime(2023, 11, 25), datetime(2024, 2, 3))
    return df.select(F.date_format("ts", "yyyy-MM-dd").alias("day"), "path")


@query(
    "r8b_time_path_tz",
    """
    SELECT event_id,
      strftime((ts::TIMESTAMP AT TIME ZONE 'UTC') AT TIME ZONE 'America/New_York',
               'year=%Y/month=%m/day=%d/hour=%H') AS path
    FROM events
    """,
)
def r8b_time_path_tz(spark, sf_dir):
    """R8 with a non-UTC timezone — regression oracle for the round-1
    from_utc/to_utc direction bug (ADVICE.md): the Column path must
    agree with wall-clock conversion, not shift the opposite way."""
    ev = tables(spark, sf_dir, ["events"])["events"]
    tp = TimePartitioner(granularity="hourly", fmt="hive", timezone="America/New_York")
    return ev.select("event_id", tp.path_col("ts").alias("path"))


# ---------------------------------------------------------------------------
# R10–R12: change detection
# ---------------------------------------------------------------------------


@query("r10_detect_changes", f"WITH {_SNAP_SQL} {_DIFF_SQL}")
def r10_detect_changes(spark, sf_dir):
    """R10: full-outer snapshot diff, mode=full (src/index.ts:499-571).
    Previous side reads from the bucketed state store (r13) — zero
    Exchange on the state side of the join."""
    cur, _ = _snapshots(spark, sf_dir)
    return detect_changes(cur, _prev_bucketed(spark, sf_dir), mode="full").select(
        "key", "change_type", "size", "prev_size", "etag", "prev_etag"
    )


@query(
    "r11_changes_filter",
    f"WITH {_SNAP_SQL}, d AS ({_DIFF_SQL}) "
    "SELECT * FROM d WHERE change_type IN ('added', 'deleted')",
)
def r11_changes_filter(spark, sf_dir):
    """R11 (reference filterChangesByType, src/index.ts:579-584).
    Shares r10's bucketed previous-snapshot store."""
    cur, _ = _snapshots(spark, sf_dir)
    ch = detect_changes(cur, _prev_bucketed(spark, sf_dir), mode="full").select(
        "key", "change_type", "size", "prev_size", "etag", "prev_etag"
    )
    return filter_changes(ch, ["added", "deleted"])


@query(
    "r12_snapshot_commit",
    f"""
    WITH {_SNAP_SQL},
    dup AS (
      SELECT * FROM cur
      UNION ALL
      SELECT key, size + 1 AS size, etag || 'v2' AS etag,
             last_modified + INTERVAL 2 HOUR AS last_modified
      FROM cur WHERE TRY_CAST(regexp_extract(key, 'obj/(\\d+)/', 1) AS BIGINT) % 5 = 0
    ),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY key
        ORDER BY last_modified DESC NULLS LAST, etag DESC NULLS LAST) AS rn
      FROM dup
    )
    SELECT count(*) AS n, CAST(sum(size) AS BIGINT) AS total_size
    FROM kept WHERE rn = 1
    """,
)
def r12_snapshot_commit(spark, sf_dir):
    """R12: commit current→previous through the REAL versioned Parquet
    SnapshotStore (src/index.ts:589-591, 444-459) and read it back —
    the oracle checks the dedup'd aggregate survives the round-trip."""
    cur, _ = _snapshots(spark, sf_dir)
    okey = F.regexp_extract("key", r"obj/(\d+)/", 1).cast("bigint")
    dup = cur.filter(okey % 5 == 0).select(
        "key",
        (F.col("size") + 1).alias("size"),
        F.concat("etag", F.lit("v2")).alias("etag"),
        (F.col("last_modified") + F.expr("INTERVAL 2 HOUR")).alias("last_modified"),
    )
    from rehiver_spark.queries import scratch_dir

    det = ChangeDetector(spark, scratch_dir("r12", sf_dir), n_buckets=32)
    det.add_objects(cur.unionByName(dup))
    det.commit()
    loaded = det.store.load()
    return loaded.agg(F.count("*").alias("n"), F.sum("size").alias("total_size"))


# ---------------------------------------------------------------------------
# R13–R16: key codec, bucket validation, MIME, catalog dedup
# ---------------------------------------------------------------------------


@query(
    "r13_s3key_codec",
    """
    SELECT p_partkey, replace(key, ' ', '%20') AS encoded, TRUE AS roundtrip_ok
    FROM (SELECT p_partkey, 'files/' || p_name || '/' || p_partkey || '.txt' AS key
          FROM part)
    """,
)
def r13_s3key_codec(spark, sf_dir):
    """R13: per-segment URL encode/decode preserving '/'
    (src/index.ts:315-335). roundtrip_ok asserts decode∘encode = id."""
    p = tables(spark, sf_dir, ["part"])["part"]
    key = F.concat(
        F.lit("files/"),
        F.col("p_name"),
        F.lit("/"),
        F.col("p_partkey").cast("string"),
        F.lit(".txt"),
    )
    df = p.select("p_partkey", key.alias("key"))
    enc = encode_s3_key_col("key")
    return df.select(
        "p_partkey",
        enc.alias("encoded"),
        (decode_s3_key_col(enc) == F.col("key")).alias("roundtrip_ok"),
    )


@query(
    "r14_valid_bucket_name",
    r"""
    SELECT name,
      (length(name) BETWEEN 3 AND 63
       AND regexp_matches(name, '^[a-z0-9][a-z0-9.-]{1,61}[a-z0-9]$')
       AND name NOT LIKE '%..%' AND name NOT LIKE '%.-%' AND name NOT LIKE '%-.%'
       AND NOT regexp_matches(name, '^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$')
       AND name NOT LIKE 'xn--%' AND name NOT LIKE 'sthree-%'
       AND name NOT LIKE '%-s3alias' AND name NOT LIKE '%--ol-s3') AS valid
    FROM (
      SELECT CASE
        WHEN c_custkey % 13 = 0 THEN 'ab'
        WHEN c_custkey % 11 = 0 THEN 'BKT-' || c_custkey
        WHEN c_custkey % 7 = 0 THEN 'xn--bkt-' || c_custkey
        WHEN c_custkey % 5 = 0 THEN 'bkt..' || c_custkey
        ELSE 'bkt-' || c_custkey END AS name
      FROM customer)
    """,
)
def r14_valid_bucket_name(spark, sf_dir):
    """R14 (reference isValidBucketName, src/index.ts:35-75)."""
    c = tables(spark, sf_dir, ["customer"])["customer"]
    ck = F.col("c_custkey")
    s = ck.cast("string")
    name = (
        F.when(ck % 13 == 0, F.lit("ab"))
        .when(ck % 11 == 0, F.concat(F.lit("BKT-"), s))
        .when(ck % 7 == 0, F.concat(F.lit("xn--bkt-"), s))
        .when(ck % 5 == 0, F.concat(F.lit("bkt.."), s))
        .otherwise(F.concat(F.lit("bkt-"), s))
    )
    df = c.select(name.alias("name"))
    return df.select("name", valid_bucket_name_col("name").alias("valid"))


@query(
    "r15_content_type",
    f"""
    WITH typed AS (
      SELECT key,
        CASE WHEN key LIKE '%.json' THEN 'application/json'
             WHEN key LIKE '%.csv' THEN 'text/csv'
             WHEN key LIKE '%.png' THEN 'image/png'
             WHEN key LIKE '%.parquet' THEN 'application/vnd.apache.parquet'
             WHEN key LIKE '%.gz' THEN 'application/gzip'
             ELSE 'application/octet-stream' END AS mime
      FROM ({_OBJECTS_SQL})
    )
    SELECT key, mime,
      (mime LIKE 'text/%' OR mime IN ('application/json')) AS is_text,
      COALESCE(CASE WHEN mime LIKE 'text/%' OR mime = 'application/json'
                    THEN 'UTF-8' END, '') AS charset,
      COALESCE(CASE WHEN mime = 'application/json' THEN 'json'
                    WHEN mime = 'text/csv' THEN 'csv'
                    WHEN mime = 'image/png' THEN 'png'
                    WHEN mime = 'application/vnd.apache.parquet' THEN 'parquet'
                    WHEN mime = 'application/gzip' THEN 'gz' END, '') AS ext
    FROM typed
    """,
)
def r15_content_type(spark, sf_dir):
    """R15 (reference ContentType.detect/isText/charset/extension,
    src/index.ts:103-155): forward extension→MIME plus the reverse
    charset/extension lookups, all single-eval map lookups."""
    from rehiver_spark.sources.catalog import charset_col, extension_col

    df = _objects(spark, sf_dir)
    mime = content_type_col("key")
    # NULL-free outputs: the harness sorts rows on the (name-sorted)
    # columns, and charset would be the first sort key — coalesce to ''
    # on BOTH sides so nullable columns cannot break the canonical sort
    return df.select(
        "key",
        mime.alias("mime"),
        is_text_col(mime).alias("is_text"),
        F.coalesce(charset_col(mime), F.lit("")).alias("charset"),
        F.coalesce(extension_col(mime), F.lit("")).alias("ext"),
    )


@query(
    "r16_object_catalog",
    f"""
    WITH base AS (
      SELECT key, size, CAST(size AS VARCHAR) AS etag,
             TIMESTAMP '2024-03-01 00:00:00' AS last_modified
      FROM ({_OBJECTS_SQL})
    ),
    dup AS (
      SELECT * FROM base
      UNION ALL
      SELECT key, size + 1 AS size, 'b' || etag AS etag,
             last_modified + INTERVAL 1 HOUR AS last_modified
      FROM base WHERE size % 3 = 0
    ),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY key
        ORDER BY last_modified DESC NULLS LAST, etag DESC NULLS LAST) AS rn
      FROM dup
    )
    SELECT key, size, etag,
      strftime(last_modified, '%Y-%m-%d %H:%M:%S') AS lm
    FROM kept WHERE rn = 1
    """,
)
def r16_object_catalog(spark, sf_dir):
    """R16: listing → catalog with last-writer-wins dedup
    (src/index.ts:465-477, 1054, 1134-1137)."""
    base = _objects(spark, sf_dir).select(
        "key",
        "size",
        F.col("size").cast("string").alias("etag"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("last_modified"),
    )  # NOT persisted: both union sides re-derive it, but the projection
    # is cheap codegen over a cached scan — materializing 600k rows to
    # the block store measured slower (3.0 s → 4.8 s) than recompute,
    # and the decision HOLDS at the 10× catalog (5.5M keys: 24.4 s
    # recompute vs 31.3 s persisted, tools/scale_catalog.py round 5;
    # RE-MEASURED r12 on the current tree at real sf10, 60M lineitem →
    # 80M catalog entries: 26.3 s recompute vs 30.3 s persisted,
    # min-of-3) — block-store write+read of the wide rows costs more
    # than the second codegen pass at every scale measured. A max_by
    # hash-agg replacement for dedup_catalog's window was also A/B'd
    # r12 (21.3 vs 22.7 s at sf10, ~6%) and declined: the row is
    # shuffle-bound on the 80M wide entries either way, and the window
    # form mirrors the oracle's row_number exactly
    dup = base.filter(F.col("size") % 3 == 0).select(
        "key",
        (F.col("size") + 1).alias("size"),
        F.concat(F.lit("b"), F.col("etag")).alias("etag"),
        (F.col("last_modified") + F.expr("INTERVAL 1 HOUR")).alias("last_modified"),
    )
    return dedup_catalog(base.unionByName(dup)).select(
        "key",
        "size",
        "etag",
        F.date_format("last_modified", "yyyy-MM-dd HH:mm:ss").alias("lm"),
    )


# ---------------------------------------------------------------------------
# R17: stream_process stats
# ---------------------------------------------------------------------------

_R17_PATS = ["data/**/*.json", "!**/month=0[1-3]/**"]


def _r17_processor(key: str) -> str:
    """Deterministic per-key processor: fails iff the key ends '1.json'
    (SQL-expressible so the stats have an exact oracle)."""
    if key.endswith("1.json"):
        raise ValueError(f"synthetic failure for {key}")
    return f"ok:{len(key)}"


@query(
    "r17_stream_process",
    f"""
    WITH matched AS (
      SELECT key FROM ({_OBJECTS_SQL}) WHERE {glob_sql(_R17_PATS)}
    )
    SELECT count(*) AS matched,
      count(*) FILTER (WHERE NOT key LIKE '%3.json' AND NOT key LIKE '%1.json') AS processed,
      count(*) FILTER (WHERE NOT key LIKE '%3.json' AND key LIKE '%1.json') AS skipped,
      count(*) FILTER (WHERE key LIKE '%3.json') AS skipped_existing
    FROM matched
    """,
)
def r17_stream_process(spark, sf_dir):
    """R17: find → process with error tolerance + skip_existing; stats
    as one aggregation (src/index.ts:1376-1544, counters 1426-1431)."""
    from rehiver_spark.session import track_persist

    objects = track_persist(_objects(spark, sf_dir))  # feeds done AND matched
    done = objects.filter(F.col("key").endswith("3.json")).select("key")
    matched = objects.filter(glob_match("key", _R17_PATS, dot=True))
    from rehiver_spark.operators.pipeline import process_matching, pipeline_stats_df

    log = process_matching(matched, _r17_processor, skip_existing=done, batch_partitions=32)
    return pipeline_stats_df(log)


__all__ = ["glob_sql"]
