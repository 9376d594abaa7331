"""Catalog source + change-detection tests — mirror reference
tests/index.test.ts:128-499 (ChangeDetectionEngine) and the MIME/bucket
utility surfaces."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from rehiver_spark.operators.changes import (
    ChangeDetector,
    detect_changes,
    filter_changes,
    normalize_s3_object,
)
from rehiver_spark.sources.catalog import (
    OBJECTS_SCHEMA,
    content_type_of,
    decode_s3_key,
    dedup_catalog,
    encode_s3_key,
    from_file_scan,
    is_text_type,
    is_valid_bucket_name,
    list_local,
    valid_bucket_name_col,
)


def _obj(key, size, etag, ts):
    return (key, size, etag, datetime.fromisoformat(ts), "application/json")


def _df(spark, rows):
    return spark.createDataFrame(rows, OBJECTS_SCHEMA)


def test_detect_changes_all_types(spark):
    prev = _df(
        spark,
        [
            _obj("a.json", 10, "e1", "2024-01-01T00:00:00"),
            _obj("b.json", 20, "e2", "2024-01-01T00:00:00"),
            _obj("gone.json", 5, "e0", "2024-01-01T00:00:00"),
        ],
    )
    cur = _df(
        spark,
        [
            _obj("a.json", 10, "e1", "2024-01-01T00:00:00"),  # unchanged
            _obj("b.json", 25, "e2b", "2024-01-02T00:00:00"),  # modified
            _obj("new.json", 7, "e3", "2024-01-02T00:00:00"),  # added
        ],
    )
    got = {r["key"]: r["change_type"] for r in detect_changes(cur, prev).collect()}
    assert got == {
        "a.json": "unchanged",
        "b.json": "modified",
        "gone.json": "deleted",
        "new.json": "added",
    }


def test_modes_quick_vs_full(spark):
    # same size+mtime, different etag: full → modified, quick → unchanged
    # (reference tests/index.test.ts:368-438)
    prev = _df(spark, [_obj("x.json", 10, "e1", "2024-01-01T00:00:00")])
    cur = _df(spark, [_obj("x.json", 10, "e2", "2024-01-01T00:00:00")])
    assert detect_changes(cur, prev, "full").first()["change_type"] == "modified"
    assert detect_changes(cur, prev, "quick").first()["change_type"] == "unchanged"
    assert (
        detect_changes(cur, prev, "ignore_etag_on_size").first()["change_type"] == "unchanged"
    )


def test_track_deleted_off(spark):
    prev = _df(spark, [_obj("gone.json", 5, "e0", "2024-01-01T00:00:00")])
    cur = _df(spark, [_obj("new.json", 7, "e3", "2024-01-02T00:00:00")])
    got = detect_changes(cur, prev, track_deleted=False).collect()
    assert [r["change_type"] for r in got] == ["added"]


def test_deleted_surfaces_previous_version(spark):
    prev = _df(spark, [_obj("gone.json", 5, "e0", "2024-01-01T00:00:00")])
    cur = _df(spark, []) if False else spark.createDataFrame([], OBJECTS_SCHEMA)
    r = detect_changes(cur, prev).first()
    assert r["change_type"] == "deleted" and r["size"] == 5 and r["etag"] == "e0"


def test_filter_changes(spark):
    prev = _df(spark, [_obj("a", 1, "e", "2024-01-01T00:00:00")])
    cur = _df(spark, [_obj("b", 1, "e", "2024-01-01T00:00:00")])
    ch = detect_changes(cur, prev)
    assert filter_changes(ch, ["added"]).count() == 1
    assert filter_changes(ch, ["added", "deleted"]).count() == 2


def test_normalize_s3_object(spark):
    df = spark.createDataFrame(
        [("k", None, '"abc123"', None)],
        "key string, size bigint, etag string, last_modified timestamp",
    )
    r = normalize_s3_object(df).first()
    assert r["size"] == 0 and r["etag"] == "abc123" and r["last_modified"] is not None


def test_dedup_catalog_last_wins(spark):
    df = _df(
        spark,
        [
            _obj("k", 1, "old", "2024-01-01T00:00:00"),
            _obj("k", 2, "new", "2024-01-02T00:00:00"),
        ],
    )
    got = dedup_catalog(df).collect()
    assert len(got) == 1 and got[0]["etag"] == "new"


def test_change_detector_lifecycle(spark, tmp_path):
    det = ChangeDetector(spark, str(tmp_path / "state"))
    det.add_objects(_df(spark, [_obj("a", 1, "e1", "2024-01-01T00:00:00")]))
    ch1 = det.detect()
    assert {r["change_type"] for r in ch1.collect()} == {"added"}  # empty prev state
    det.commit()
    det.reset_current()
    det.add_objects(_df(spark, [_obj("a", 2, "e2", "2024-01-02T00:00:00")]))
    ch2 = {r["key"]: r["change_type"] for r in det.detect().collect()}
    assert ch2 == {"a": "modified"}
    v = det.commit()
    assert v == 2


def test_list_local_and_file_scan(spark, tmp_path):
    base = tmp_path / "data"
    (base / "year=2024/month=01").mkdir(parents=True)
    (base / "year=2024/month=01/f.json").write_text('{"a":1}')
    (base / "top.csv").write_text("a,b\n1,2\n")
    df = list_local(spark, str(base))
    rows = {r["key"]: r for r in df.collect()}
    assert set(rows) == {"year=2024/month=01/f.json", "top.csv"}
    assert rows["top.csv"]["content_type"] == "text/csv"
    assert rows["year=2024/month=01/f.json"]["size"] == 7

    # _metadata-based catalog from a real scan
    ev = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    cat = from_file_scan(spark.read.parquet("/root/testdata/sf0.001/region.parquet"))
    r = cat.first()
    assert r["key"].endswith("region.parquet") and r["size"] > 0
    assert r["content_type"] == "application/vnd.apache.parquet"


def test_s3_key_codec():
    assert encode_s3_key("a b/c#d") == "a%20b/c%23d"
    assert decode_s3_key("a%20b/c%23d") == "a b/c#d"
    assert decode_s3_key(encode_s3_key("year=2024/file name+x.json")) == "year=2024/file name+x.json"


def test_s3_key_codec_cols(spark):
    from rehiver_spark.sources.catalog import decode_s3_key_col, encode_s3_key_col

    keys = ["a b/c#d", "plain/key.json", "year=2024/file name+x.json"]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    got = df.select(
        "key",
        encode_s3_key_col("key").alias("enc"),
        decode_s3_key_col(encode_s3_key_col("key")).alias("roundtrip"),
    ).collect()
    for r in got:
        assert r["enc"] == encode_s3_key(r["key"]), r
        assert r["roundtrip"] == r["key"]


def test_bucket_names(spark):
    valid = ["my-bucket", "data.lake.prod", "abc"]
    invalid = [
        "ab",  # too short
        "A-Bucket",  # uppercase
        "my..bucket",  # double dot
        "192.168.1.1",  # IP
        "xn--punycode",  # forbidden prefix
        "bucket-s3alias",  # forbidden suffix
        "-leading",  # bad first char
        "trailing-",  # bad last char
        "a" * 64,  # too long
        "abc\n",  # trailing line terminators: "$" would accept these
        "my-bucket\n",
        "abc\r",
        "abc\u2028",
    ]
    for n in valid:
        assert is_valid_bucket_name(n), n
    for n in invalid:
        assert not is_valid_bucket_name(n), n
    df = spark.createDataFrame([(n,) for n in valid + invalid], ["name"])
    got = {r["name"]: r["ok"] for r in df.select("name", valid_bucket_name_col("name").alias("ok")).collect()}
    for n in valid:
        assert got[n] is True, n
    for n in invalid:
        assert got[n] is False, n


def test_content_type():
    assert content_type_of("a/b.json") == "application/json"
    assert content_type_of("a/b.JSON") == "application/json"
    assert content_type_of("noext") == "application/octet-stream"
    assert content_type_of("a.tar.gz") == "application/gzip"
    assert is_text_type("text/csv") and is_text_type("application/json")
    assert not is_text_type("image/png")


def test_is_binary_negates_is_text_exactly(spark):
    """Reference ContentType.isBinary (src/index.ts:152-154) is defined
    as !isText — the Python and Column twins must agree on every MIME
    in our universe, and the exact-list must match the reference's
    four application types (typescript in, svg out)."""
    from pyspark.sql import functions as F

    from rehiver_spark.sources.catalog import (
        MIME_MAP,
        is_binary_col,
        is_binary_type,
        is_text_type,
    )

    mimes = sorted(set(MIME_MAP.values()) | {"application/octet-stream", "application/typescript"})
    for m in mimes:
        assert is_binary_type(m) == (not is_text_type(m)), m
    assert not is_binary_type("application/typescript")  # ref includes it
    assert is_binary_type("image/svg+xml")  # ref classifies svg binary
    df = spark.createDataFrame([(m,) for m in mimes], ["mime"])
    got = {
        r["mime"]: r["b"]
        for r in df.select("mime", is_binary_col("mime").alias("b")).collect()
    }
    for m in mimes:
        assert got[m] == is_binary_type(m), m


def test_content_type_col(spark):
    from rehiver_spark.sources.catalog import content_type_col

    keys = ["a/b.json", "x.PNG", "noext", "dir.with.dot/file", "a.tar.gz"]
    df = spark.createDataFrame([(k,) for k in keys], ["key"])
    got = {r["key"]: r["ct"] for r in df.select("key", content_type_col("key").alias("ct")).collect()}
    assert got["a/b.json"] == "application/json"
    assert got["x.PNG"] == "image/png"
    assert got["noext"] == "application/octet-stream"
    assert got["dir.with.dot/file"] == "application/octet-stream"
    assert got["a.tar.gz"] == "application/gzip"


def test_detect_changes_all_null_metadata_presence(spark):
    # round-1 audit fix: presence comes from the join side, not from
    # all-NULL metadata (etag is always NULL via from_file_scan)
    from rehiver_spark.operators.changes import detect_changes

    schema = "key string, size bigint, etag string, last_modified timestamp"
    prev = spark.createDataFrame([("a", None, None, None), ("b", None, None, None)], schema)
    cur = spark.createDataFrame([("a", None, None, None), ("c", None, None, None)], schema)
    got = {r["key"]: r["change_type"] for r in detect_changes(cur, prev).collect()}
    assert got == {"a": "unchanged", "b": "deleted", "c": "added"}


def test_charset_and_extension_reverse_lookup(spark):
    """ContentType.charset/extension parity (reference src/index.ts:
    115-133, npm mime-types semantics): UTF-8 for text/* + JSON/JS,
    canonical extension without dot, None when unknown."""
    from rehiver_spark.sources.catalog import (
        charset_col,
        charset_of,
        extension_col,
        extension_of,
    )

    assert charset_of("text/plain") == "UTF-8"
    assert charset_of("text/csv") == "UTF-8"
    assert charset_of("application/json") == "UTF-8"
    assert charset_of("application/javascript") == "UTF-8"
    assert charset_of("image/png") is None
    assert charset_of("application/octet-stream") is None

    assert extension_of("text/html") == "html"
    assert extension_of("image/jpeg") == "jpeg"  # mime-db first-listed, not 'jpg'
    assert extension_of("application/json") == "json"
    assert extension_of("application/gzip") == "gz"
    assert extension_of("application/octet-stream") is None
    assert extension_of("application/unknown") is None

    mimes = [
        ("text/plain",), ("application/json",), ("image/jpeg",),
        ("application/octet-stream",),
    ]
    df = spark.createDataFrame(mimes, "mime string")
    got = {
        r["mime"]: (r["cs"], r["ext"])
        for r in df.select(
            "mime",
            charset_col("mime").alias("cs"),
            extension_col("mime").alias("ext"),
        ).collect()
    }
    assert got == {
        "text/plain": ("UTF-8", "txt"),
        "application/json": ("UTF-8", "json"),
        "image/jpeg": (None, "jpeg"),
        "application/octet-stream": (None, None),
    }


def test_mime_maps_roundtrip():
    """Every forward ext->MIME entry has a reverse extension whose own
    forward lookup returns the same MIME (canonical-extension closure),
    and charset is UTF-8 exactly for text/* plus the db-listed
    application types."""
    from rehiver_spark.sources.catalog import (
        MIME_MAP,
        charset_of,
        extension_of,
        is_text_type,
    )

    for ext, mime in MIME_MAP.items():
        back = extension_of(mime)
        assert back is not None and MIME_MAP[back] == mime, (ext, mime, back)
    for mime in set(MIME_MAP.values()):
        cs = charset_of(mime)
        if mime.startswith("text/") or mime in (
            "application/json",
            "application/javascript",
        ):
            assert cs == "UTF-8", mime
        else:
            assert cs is None, mime
        # charset implies textiness for everything in our universe
        if cs == "UTF-8":
            assert is_text_type(mime) or mime == "application/javascript"


def test_bucketed_snapshot_store_zero_exchange_on_state_side(spark, tmp_path):
    """r13 (r12 verdict task 3): a SnapshotStore with n_buckets writes
    versions as bucketed-by-key tables, and detect_changes against the
    loaded state plans its full-outer join with ZERO Exchange on the
    previous-snapshot side — the ONLY exchange is the fresh listing's.
    Also: the bucketed round-trip is value-identical to the plain one,
    and a fresh catalog (table dropped, new-session simulation)
    re-registers from pointer metadata with bucketing intact."""
    from pyspark.sql import functions as F

    from rehiver_spark.operators.changes import SnapshotStore, detect_changes

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    snap = li.filter(F.col("l_orderkey") % 3 == 0).select(
        F.concat(
            F.lit("obj/"),
            F.col("l_orderkey").cast("string"),
            F.lit("/"),
            F.col("l_linenumber").cast("string"),
        ).alias("key"),
        F.col("l_quantity").cast("bigint").alias("size"),
        F.col("l_orderkey").cast("string").alias("etag"),
        F.col("l_shipdate").alias("last_modified"),
    )
    cur = snap.withColumn(
        "size", F.col("size") + F.when(F.col("size") % 3 == 0, 1).otherwise(0)
    )

    store = SnapshotStore(spark, str(tmp_path / "bstate"), n_buckets=8)
    assert store.save(snap) == 1
    prev = store.load()
    ch = detect_changes(cur, prev, mode="full")
    plan = ch._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # exactly one exchange — the current/listing side; none above the
    # bucketed state scan
    assert plan.count("Exchange") == 1
    state_scan = plan[plan.index("rehiver_snap_"):]
    assert "Exchange" not in state_scan

    # values identical to the plain (unbucketed) store
    plain = SnapshotStore(spark, str(tmp_path / "pstate"))
    plain.save(snap)
    ch_plain = detect_changes(cur, plain.load(), mode="full")
    assert ch.exceptAll(ch_plain).count() == 0
    assert ch_plain.exceptAll(ch).count() == 0

    # new-session simulation: drop the catalog entry; load must
    # re-register from pointer metadata and STILL scan bucketed
    meta_table = plan.split("rehiver_snap_")[1].split("[")[0]
    spark.sql(f"DROP TABLE IF EXISTS rehiver_snap_{meta_table}")
    prev2 = store.load()
    p2 = detect_changes(cur, prev2, mode="full")._jdf.queryExecution()
    assert "Bucketed: true" in p2.executedPlan().toString()
    assert prev2.count() == snap.count() > 0
