"""Write path: partitioned-lake sink + raw object put.

The reference's ``putObject`` (src/index.ts:1171-1228) uploads one
object with MIME auto-detect and retries. The engine's write surface is
two-level:

- ``write_partitioned`` — the real sink: a DataFrame written
  hive-partitioned, sized for object stores (the reference has no bulk
  write at all; a catalog its change detector can diff is exactly what
  this produces).
- ``put_object`` / ``put_objects_df`` — raw single/bulk object writes
  (boto3-gated, local-fs fallback) for parity with the reference's
  byte-level API; content-type auto-detected from the key like
  src/index.ts:1193-1199.

Scale notes (100 TB): ``write_partitioned`` repartitions by the
partition columns plus an optional within-partition bucket hash so each
hive directory receives ``files_per_partition`` writer tasks — without
this, every one of the N shuffle partitions can open a file in every
directory (N×P small files, the classic object-store write failure);
with it, file count = P×files_per_partition regardless of cluster size.
``maxRecordsPerFile`` bounds the other direction (one giant file).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rehiver_spark.sources.catalog import content_type_of


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
    fmt: str = "parquet",
    files_per_partition: int = 1,
    max_records_per_file: int | None = None,
) -> None:
    """Hive-partitioned write with controlled files-per-directory."""
    out = df
    if files_per_partition <= 1:
        out = out.repartition(*partition_cols)
    else:
        bucket = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns if c not in partition_cols]),
            F.lit(files_per_partition),
        )
        out = out.withColumn("_b", bucket).repartition(
            *partition_cols, "_b"
        ).drop("_b")
    w = out.write.mode(mode).partitionBy(*partition_cols)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Bucketed managed-table write — the co-located-join primitive.

    Two tables bucketed on the same keys with the same bucket count
    join WITHOUT a shuffle: each task reads matching bucket files from
    both sides, so the exchange that dominates a large fact-fact join
    disappears (and with ``sort_cols`` the sort does too). This is the
    100 TB answer for a join that repeats every run — pay one bucketed
    write, then every downstream join of these tables is exchange-free
    (verified by plan test: no Exchange above either scan).

    Bucketing requires the session catalog (``saveAsTable``); plain
    ``.save(path)`` silently drops bucket specs — that is a Spark
    constraint, not a choice.

    The input is repartitioned on the bucket columns first, so every
    bucket is exactly ONE file: otherwise each write task emits its
    own file per bucket, and Spark reports a bucketed scan's sortBy
    ordering only for single-file buckets (without it the join keeps
    a Sort on each side).
    """
    w = (
        df.repartition(n_buckets, *bucket_cols)
        .write.mode(mode)
        .format(fmt)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def put_object(
    bucket_or_dir: str,
    key: str,
    body: bytes,
    content_type: str | None = None,
    s3: bool = False,
    client=None,
) -> str:
    """Single raw object write (reference putObject,
    src/index.ts:1171-1228). Local-dir by default; ``s3=True`` uses
    boto3 (gated — absent in this container) or an injected
    put_object-shaped ``client``. Returns an etag stand-in.
    """
    ct = content_type or content_type_of(key)
    if s3 or client is not None:
        if client is None:
            try:
                import boto3  # noqa: PLC0415
            except ImportError as e:  # pragma: no cover
                raise NotImplementedError("boto3 not available in this environment") from e

            client = boto3.client("s3")
        resp = client.put_object(
            Bucket=bucket_or_dir, Key=key, Body=body, ContentType=ct
        )
        return resp["ETag"].strip('"')
    import hashlib

    dest = os.path.join(bucket_or_dir, key)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "wb") as f:
        f.write(body)
    return hashlib.md5(body).hexdigest()


def create_bucket_if_not_exists(
    bucket: str, region: str | None = None, s3: bool = True, client=None
) -> bool:
    """Head-then-create (reference createBucketIfNotExists,
    src/index.ts:2042-2157): True if created, False if it existed.
    boto3-gated (or an injected head_bucket/create_bucket-shaped
    ``client``); retries delegate to boto3's retry config (the
    reference's retryWithBackoff is not re-implemented — SURVEY §4)."""
    if not s3 and client is None:
        # honor the contract in local mode too: True only when the
        # directory was actually created (the S3 path's second call
        # returns False; local tests must see the same branch behavior)
        existed = os.path.isdir(bucket)
        os.makedirs(bucket, exist_ok=True)
        return not existed
    if client is None:
        try:
            import boto3  # noqa: PLC0415
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError("boto3 not available in this environment") from e

        client = boto3.client("s3")
    try:
        client.head_bucket(Bucket=bucket)
        return False
    except Exception as e:
        # ClientError duck-typed via .response (no botocore import for
        # injected clients); anything non-404 propagates
        resp = getattr(e, "response", None)
        if not resp or resp.get("ResponseMetadata", {}).get("HTTPStatusCode") != 404:
            raise
    kwargs = (
        {"CreateBucketConfiguration": {"LocationConstraint": region}} if region else {}
    )
    client.create_bucket(Bucket=bucket, **kwargs)  # pragma: no cover
    return True  # pragma: no cover


def put_objects_df(
    df: DataFrame,
    bucket_or_dir: str,
    key_col: str = "key",
    body_col: str = "body",
    s3: bool = False,
) -> DataFrame:
    """Bulk raw-object write from a (key, body BINARY) DataFrame, on
    executors via mapInPandas — the distributed form of putObject.
    Returns a write log (key, etag, error) with per-key tolerance."""
    from rehiver_spark.session import ship_package

    ship_package(df.sparkSession)

    def run(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for key, body in zip(pdf[key_col], pdf[body_col]):
                try:
                    etag = put_object(bucket_or_dir, key, bytes(body), s3=s3)
                    rows.append((key, etag, None))
                except Exception as e:
                    rows.append((key, None, f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(rows, columns=["key", "etag", "error"])

    return df.select(key_col, body_col).mapInPandas(
        run, "key string, etag string, error string"
    )


def zorder_value(
    df: DataFrame, cols: list[str], bits: int = 8
) -> "F.Column":
    """Z-order (Morton) key over ``cols`` as a Column.

    Each column is mapped to a ``2**bits``-bucket rank via
    quantile-derived boundaries (``approxQuantile`` — the driver holds
    ``2**bits - 1`` scalars per column, never data), then the bucket
    indices' bits are interleaved.  Quantile buckets — not min/max
    linear scaling — so skewed columns still spread across the curve.

    The bucket lookup compiles to ``size(filter(<literal array>, b ->
    b <= col))`` — pure codegen, no UDF, no shuffle; the only job is
    the quantile sketch (one pass, mergeable sketches).
    """
    casted = {c: F.col(c).cast("double") for c in cols}
    probe = df.select(*[casted[c].alias(c) for c in cols])
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    all_bnds = probe.approxQuantile(cols, probs, 0.001)
    z = F.lit(0).cast("long")
    ncols = len(cols)
    for j, c in enumerate(cols):
        bnds = sorted(set(all_bnds[j]))
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        bucket = F.when(casted[c].isNull(), F.lit(0)).otherwise(
            F.size(F.filter(arr, lambda b: b <= casted[c]))  # noqa: B023
        )
        for i in range(bits):
            bit = F.shiftrightunsigned(bucket.cast("long"), i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * ncols + j)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 8,
    n_files: int = 8,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Multi-dimensional data layout: write ``df`` clustered along a
    Z-order curve over ``cols`` so parquet min/max (and file-level)
    pruning works for predicates on ANY of the columns, not just a
    single sort key — the lakehouse "optimized data-fetching" device
    (Delta/Iceberg ``OPTIMIZE ZORDER BY``) the reference's README
    claims via prefix listing only.

    A linear sort on (a, b) prunes well on ``a`` and not at all on
    ``b``; the Z-curve keeps points close in BOTH dimensions in the
    same files, so a box predicate touches a bounded neighborhood.
    Plan: one range shuffle on the z-key (sampled range partitioner →
    equal-sized files regardless of skew) + in-task sort; scale-wise
    identical to any ordered write.  Verified by the per-file min/max
    skip-fraction test (tests/test_zorder.py).
    """
    z = zorder_value(df, cols, bits)
    out = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    out.write.mode(mode).format(fmt).save(path)


def write_epoch_shards(
    df: DataFrame,
    path: str,
    seed: int = 0,
    id_col: str = "doc_id",
    num_shards: int = 64,
    num_files: int | None = None,
    split_weights: list[tuple[str, float]] | None = None,
    mode: str = "overwrite",
    fmt: str = "json",
) -> None:
    """Materialize the training layout (X35): one ``split=.../part-*``
    tree where, within each split, reading the files in filename order
    replays the seeded epoch order exactly.

    Two DISTINCT sharding axes come out of this, on purpose:

    - **files** are contiguous slices of the epoch order (``num_files``
      range partitions across all splits, so a 98/1/1 split puts ~98%
      of the files in train and ~1 file in each small split —
      proportional, which is what a sequential reader wants);
    - the written ``shard`` column is X35's ``shuffle_key %
      num_shards`` — an INTERLEAVED worker-assignment key for loaders
      that hash-shard across workers. It deliberately does NOT
      correspond to file boundaries; a loader picks ONE axis: read
      files in order (sequential replay) or filter on ``shard``
      (parallel workers), never both.

    Plan: the X35 key assignment is map-side; ONE range shuffle on
    (split, shuffle_key, id) + in-task sort gives every writer task a
    contiguous slice of its split's epoch order. The in-task sort
    already satisfies the dynamic-partition writer's required ordering
    on ``split``, so Spark inserts no second (stability-unspecified)
    sort that could scramble the order inside a file. New ``seed`` →
    new epoch layout; the split membership itself never moves (X35's
    seed-free split hash).
    """
    from rehiver_spark.operators.textops import epoch_shuffle

    ann = epoch_shuffle(
        df,
        seed=seed,
        id_col=id_col,
        num_shards=num_shards,
        split_weights=split_weights,
    )
    out = (
        ann.repartitionByRange(num_files or num_shards, "split", "shuffle_key", id_col)
        .sortWithinPartitions("split", "shuffle_key", id_col)
    )
    out.write.partitionBy("split").mode(mode).format(fmt).save(path)


def file_skip_stats(spark, path: str, cols: list[str]) -> DataFrame:
    """Per-file min/max of ``cols`` for a parquet dir — the same stats
    a scan's file-pruning consults, surfaced as a DataFrame via the
    ``_metadata.file_path`` hidden column (no footer parsing)."""
    df = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file"), *cols
    )
    aggs = []
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy("file").agg(*aggs)


def skip_fraction(stats: DataFrame, predicates: dict[str, tuple]) -> float:
    """Fraction of files a box predicate ``{col: (lo, hi)}`` can skip
    from min/max alone: a file is skippable when any column's
    [min, max] misses [lo, hi]."""
    cond = F.lit(False)
    for c, (lo, hi) in predicates.items():
        cond = cond | (F.col(f"max_{c}") < F.lit(lo)) | (F.col(f"min_{c}") > F.lit(hi))
    row = stats.agg(
        F.count("*").alias("n"),
        F.sum(cond.cast("int")).alias("skippable"),
    ).collect()[0]
    return (row["skippable"] or 0) / row["n"] if row["n"] else 0.0
