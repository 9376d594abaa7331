"""PartitionSchema tests — assertions mirror the reference suite
(tests/index.test.ts:730-1046)."""

import pytest

from rehiver_spark.operators.partitions import (
    PartitionParseError,
    analytics_schema,
    date_schema,
    log_schema,
)

DS = date_schema()


def test_parse_valid():
    assert DS.parse("data/year=2023/month=12/day=25") == {"year": 2023, "month": 12, "day": 25}


def test_parse_leading_zero():
    assert DS.parse("year=2023/month=01/day=05") == {"year": 2023, "month": 1, "day": 5}


def test_parse_extra_segments():
    got = DS.parse("/warehouse/mydb/table/year=2024/month=3/day=9/file.parquet")
    assert got == {"year": 2024, "month": 3, "day": 9}


def test_parse_invalid_values():
    with pytest.raises(PartitionParseError):
        DS.parse("year=2023/month=13/day=01")
    with pytest.raises(PartitionParseError):
        DS.parse("year=1999/month=01/day=01")
    with pytest.raises(PartitionParseError):
        DS.parse("year=2023/month=02/day=32")


def test_parse_missing_key():
    with pytest.raises(PartitionParseError):
        DS.parse("year=2023/month=02")


def test_safe_parse():
    ok, data = DS.safe_parse("year=2023/month=2/day=2")
    assert ok and data == {"year": 2023, "month": 2, "day": 2}
    ok, errs = DS.safe_parse("year=2023/month=13/day=2")
    assert not ok and "month" in errs[0]


def test_format_roundtrip():
    assert DS.format({"year": 2023, "month": 12, "day": 25}) == "year=2023/month=12/day=25"
    p = "year=2024/month=6/day=30"
    assert DS.format(DS.parse(p)) == p


def test_format_validates():
    with pytest.raises(PartitionParseError):
        DS.format({"year": 2023, "month": 13, "day": 1})


def test_glob_pattern():
    assert DS.glob_pattern({"year": 2024, "month": 3}) == "year=2024/month=3/day=*"
    assert DS.glob_pattern({}) == "year=*/month=*/day=*"


def test_missing_keys():
    assert DS.missing_keys("year=2023/month=02") == ["day"]
    assert DS.missing_keys("foo/bar") == ["year", "month", "day"]


def test_extract_keys():
    got = DS.extract_keys("year=2023/month=12/day=25", ["year", "day"])
    assert got == {"year": 2023, "day": 25}


def test_transform():
    got = DS.transform("year=2023/month=12/day=25", lambda d: {"month": 1, "year": d["year"] + 1})
    assert got == "year=2024/month=1/day=25"


def test_matches_glob():
    assert DS.matches_glob("year=2023/month=12/day=25", "year=2023/month=*/day=*")
    assert not DS.matches_glob("year=2024/month=12/day=25", "year=2023/month=*/day=*")
    assert not DS.matches_glob("year=2023/month=12", "year=2023/month=*/day=*")


def test_analytics_enum_schema():
    AS = analytics_schema()
    p = "region=us-east/service=api/year=2024/month=5/eventType=click"
    got = AS.parse(p)
    assert got["region"] == "us-east" and got["eventType"] == "click" and got["year"] == 2024
    with pytest.raises(PartitionParseError):
        AS.parse("region=invalid/service=api/year=2024/month=5/eventType=click")
    with pytest.raises(PartitionParseError):
        AS.parse("region=us-east/service=api/year=2024/month=5/eventType=hover")


def test_log_schema_optional_nullable():
    LS = log_schema()
    base = "app=web/environment=prod/date=2023-04-01"
    got = LS.parse(base)  # level+instance optional
    assert got == {"app": "web", "environment": "prod", "date": "2023-04-01"}
    got = LS.parse(base + "/level=WARN/instance=null")
    assert got["level"] == "WARN" and got["instance"] is None
    with pytest.raises(PartitionParseError):
        LS.parse("app=web/environment=prod/date=2023/04/01")


def test_value_with_equals_kept_whole():
    # divergence from reference split('=',2) truncation — we keep full value
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    s = PartitionSchema([PartitionField("q")])
    assert s.parse("q=a=b") == {"q": "a=b"}


def test_url_decoded_values():
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    s = PartitionSchema([PartitionField("name")])
    assert s.parse("name=a%20b") == {"name": "a b"}


# ---------------- Column-level (needs Spark) ----------------


def test_parse_cols_and_validity(spark):
    from pyspark.sql import functions as F

    paths = [
        "data/year=2023/month=12/day=25",
        "year=2023/month=01/day=05",
        "year=2023/month=13/day=01",  # invalid month
        "year=1999/month=01/day=01",  # invalid year
        "year=2023/month=02",  # missing day
        "plain/path/no/partitions",
    ]
    df = spark.createDataFrame([(p,) for p in paths], ["key"])
    out = DS.apply(df, "key").orderBy("key").collect()
    by_key = {r["key"]: r for r in out}
    r = by_key["data/year=2023/month=12/day=25"]
    assert (r["year"], r["month"], r["day"], r["_valid"]) == (2023, 12, 25, True)
    r = by_key["year=2023/month=01/day=05"]
    assert (r["month"], r["day"], r["_valid"]) == (1, 5, True)
    assert by_key["year=2023/month=13/day=01"]["_valid"] is False
    assert by_key["year=1999/month=01/day=01"]["_valid"] is False
    assert by_key["year=2023/month=02"]["_valid"] is False
    assert by_key["plain/path/no/partitions"]["_valid"] is False

    miss = df.select("key", DS.missing_keys_col("key").alias("m")).collect()
    mm = {r["key"]: r["m"] for r in miss}
    assert mm["year=2023/month=02"] == ["day"]
    assert mm["plain/path/no/partitions"] == ["year", "month", "day"]


def test_format_col(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(2023, 12, 25)], ["year", "month", "day"])
    got = df.select(DS.format_col().alias("p")).first()["p"]
    assert got == "year=2023/month=12/day=25"


def test_extract_col_malformed_percent_and_plus(spark):
    # round-1 audit fix: malformed % must not abort the job; '+' stays
    # literal (urllib.parse.unquote parity), valid %hh decodes
    from pyspark.sql import functions as F

    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    f = PartitionField("app")
    df = spark.createDataFrame(
        [("app=50%off/x",), ("app=a+b/x",), ("app=sp%20ace/x",)], "key string"
    )
    got = [r[0] for r in df.select(f.extract_col(F.col("key"))).collect()]
    assert got == ["50%off", "a+b", "sp ace"]
    # and apply classifies rather than throws
    out = PartitionSchema([f]).apply(df).collect()
    assert [(r["app"], r["_valid"]) for r in out] == [
        ("50%off", True), ("a+b", True), ("sp ace", True)
    ]


def test_typed_col_ansi_safe_invalid_int(spark):
    # Spark 4 ANSI mode: plain cast throws on malformed input — validity
    # must classify, not abort (try_cast)
    from rehiver_spark.operators.partitions import date_schema

    ks = spark.createDataFrame(
        [("year=2024/month=01/day=15",), ("year=oops/month=1/day=1",)], "key string"
    )
    rows = {r["key"]: (r["_valid"], r["year"]) for r in date_schema().apply(ks).collect()}
    assert rows["year=2024/month=01/day=15"] == (True, 2024)
    assert rows["year=oops/month=1/day=1"] == (False, None)


def test_driver_and_column_rails_agree_at_the_boundary(spark):
    """``is_valid`` and ``apply(df)._valid`` agree on the keys where the
    driver rail used to be laxer or stricter: int values take only a
    sign and ASCII digits within 32/64 bits (Python ``int()`` also takes
    ``1_000`` and ``٣``), whitespace around them is trimmed as Spark's
    try_cast trims it; a pattern's ``\\d`` is ASCII-only and its end
    anchor does not skip a trailing newline; a value with a malformed
    ``%`` is kept undecoded; a nullable field's literal ``null`` skips
    its ``values`` check; double, date and timestamp values take only
    the spellings Python and Spark's try_cast both parse, and a NaN
    fails a double's ``max`` (Spark orders NaN above every double)."""
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    ints = PartitionSchema(
        [PartitionField("i", "int"), PartitionField("l", "long", required=False)]
    )
    dates = PartitionSchema([PartitionField("d", pattern=r"\d{4}-\d{2}-\d{2}")])
    text = PartitionSchema([PartitionField("s")])
    levels = PartitionSchema(
        [PartitionField("lvl", values=["INFO", "WARN"], nullable=True)]
    )
    dbl = PartitionSchema([PartitionField("x", "double")])
    capped = PartitionSchema([PartitionField("x", "double", max=10.0)])
    day = PartitionSchema([PartitionField("dt", "date")])
    ts = PartitionSchema([PartitionField("ts", "timestamp")])
    cases = [
        (ints, "i=1_000", False),
        (ints, "i=٣", False),
        (ints, "i=５", False),
        (ints, "i=1.5", False),
        (ints, "i=2147483648", False),
        (ints, "i=-2147483648", True),
        (ints, "i=%20%2B7%09", True),
        (ints, "i=1/l=9223372036854775807", True),
        (ints, "i=1/l=9223372036854775808", False),
        (dates, "d=2024-03-05", True),
        (dates, "d=٢٠٢٤-٠٣-٠٥", False),
        (dates, "d=2024-03-05%0A", False),
        (text, "s=%33%", True),
        (levels, "lvl=null", True),
        (levels, "lvl=WARN", True),
        (levels, "lvl=DEBUG", False),
        (dbl, "x=1.5", True),
        (dbl, "x=-Infinity", True),
        (dbl, "x=1.5d", False),
        (dbl, "x=0x1p3", False),
        (capped, "x=NaN", False),
        (day, "dt=2024-03-05", True),
        (day, "dt=2024-3-5", False),
        (day, "dt=2024", False),
        (day, "dt=2024-03-05T00:00", False),
        (day, "dt=20240305", False),
        (day, "dt=2024-W10-2", False),
        (ts, "ts=2024-03-05T01:02:03%2B01:00", True),
        (ts, "ts=2024-03-05", True),
        (ts, "ts=20240305T010203", False),
        (ts, "ts=2024-03-05T01:02:03%2B19:00", False),
    ]
    for sch in (ints, dates, text, levels, dbl, capped, day, ts):
        keys = {key: want for s_, key, want in cases if s_ is sch}
        df = spark.createDataFrame([(k,) for k in keys], "key string")
        for row in sch.apply(df).collect():
            key, want = row["key"], keys[row["key"]]
            assert (sch.is_valid(key), row["_valid"]) == (want, want), key
            if want:
                assert {k: row[k] for k in sch.keys} == {
                    k: sch.parse(key).get(k) for k in sch.keys
                }, key
    assert text.parse("s=%33%") == {"s": "%33%"}


def test_duplicate_key_driver_column_agree_on_last(spark):
    """'year=2023/backup/year=2024': both parity surfaces must resolve
    the duplicated key the same way (LAST occurrence, dict semantics)."""
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    sch = PartitionSchema([PartitionField("year", "int")])
    path = "year=2023/backup/year=2024"
    assert sch.parse(path) == {"year": 2024}
    got = sch.apply(spark.createDataFrame([(path,)], "key string")).first()
    assert (got["year"], got["_valid"]) == (2024, True)


def test_date_field_driver_column_validity_agree(spark):
    """Malformed date values must be invalid on BOTH rails — the driver
    used to pass them through as strings while try_cast nulled them."""
    import pytest

    from rehiver_spark.operators.partitions import (
        PartitionField,
        PartitionParseError,
        PartitionSchema,
    )

    sch = PartitionSchema([PartitionField("d", "date")])
    from datetime import date

    assert sch.parse("d=2024-03-05") == {"d": date(2024, 3, 5)}
    with pytest.raises(PartitionParseError):
        sch.parse("d=not-a-date")
    assert not sch.is_valid("d=not-a-date")
    df = spark.createDataFrame([("d=2024-03-05",), ("d=not-a-date",)], "key string")
    rows = sch.apply(df).orderBy("key").collect()
    assert [(r["d"], r["_valid"]) for r in rows] == [
        (date(2024, 3, 5), True), (None, False)
    ]


def test_date_bounds_enforced_both_rails(spark):
    """min/max on a date field used to be silently skipped (the numeric
    guard in _check); now ISO-string bounds are coerced in __post_init__
    and enforced on the driver AND Column rails."""
    import pytest
    from pyspark.sql import functions as F

    from rehiver_spark.operators.partitions import (
        PartitionField,
        PartitionParseError,
        PartitionSchema,
    )

    sch = PartitionSchema(
        [PartitionField("d", "date", min="2024-01-01", max="2024-12-31")]
    )
    from datetime import date

    assert sch.parse("d=2024-06-15") == {"d": date(2024, 6, 15)}
    with pytest.raises(PartitionParseError):
        sch.parse("d=2023-12-31")
    with pytest.raises(PartitionParseError):
        sch.parse("d=2025-01-01")
    f = sch.fields[0]
    df = spark.createDataFrame(
        [("d=2024-06-15",), ("d=2023-12-31",)], "key string"
    )
    raw = f.extract_col(F.col("key"))
    typed = f.typed_from_raw(raw)
    ok = [
        r["ok"]
        for r in df.select(f.valid_from_raw(raw, typed).alias("ok")).collect()
    ]
    assert ok == [True, False]


def test_apply_is_the_only_column_parse():
    """The Column-level wrappers that rebuilt what ``apply`` stages are
    gone, and the removed ``validate=`` switch fails at the call."""
    from rehiver_spark.operators.partitions import PartitionField, PartitionSchema

    for cls, name in [
        (PartitionSchema, "parse_cols"),
        (PartitionSchema, "valid_col"),
        (PartitionField, "typed_col"),
        (PartitionField, "valid_col"),
    ]:
        assert not hasattr(cls, name), name
    with pytest.raises(TypeError, match="validate"):
        DS.apply(None, "key", validate=False)


def test_string_bounds_are_config_error():
    from rehiver_spark.operators.partitions import PartitionField

    with pytest.raises(ValueError, match="min/max not supported"):
        PartitionField("s", "string", min="a")
    with pytest.raises(ValueError, match="bounds must be numeric"):
        PartitionField("n", "int", min="5")


def test_temporal_bounds_aware_values_and_bad_bound_types():
    """Regression: an offset-aware partition value against a naive
    bound must yield a PartitionParseError verdict (not TypeError),
    aware bounds are normalized to UTC, and a mis-typed bound on a
    temporal dtype is rejected at schema construction."""
    import pytest

    from rehiver_spark.operators.partitions import (
        PartitionField,
        PartitionParseError,
    )

    f = PartitionField("ts", "timestamp", min="2024-01-01T00:00:00")
    # aware value inside the bound: normalized to naive UTC, passes
    assert f.coerce("2024-06-01T12:00:00+00:00").year == 2024
    # aware value below the bound after UTC normalization: clean error
    with pytest.raises(PartitionParseError):
        f.coerce("2024-01-01T00:30:00+02:00")  # = 2023-12-31T22:30 UTC
    # mis-typed bounds rejected at construction, not at compare time
    with pytest.raises(ValueError, match="bounds"):
        PartitionField("d", "date", min=5)
    with pytest.raises(ValueError, match="bounds"):
        PartitionField("ts", "timestamp", max=1700000000)
    # datetime bound on a date dtype: compares unlike a date, rejected
    from datetime import datetime

    with pytest.raises(ValueError, match="bounds"):
        PartitionField("d", "date", min=datetime(2024, 1, 1))
