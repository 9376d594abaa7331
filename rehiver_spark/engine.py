"""Engine facade: the reference ``Rehiver`` class surface
(src/index.ts:2209-2620 — facade methods + static factories) as a thin
session wrapper. Every method delegates to the operator modules; the
facade exists for API parity and discoverability, not logic.

    eng = Engine(spark)
    eng.find_matching_objects(objects_df, ["data/**/*.json", "!**/tmp/**"])
    eng.stream_matching_objects(objects_df, patterns, processor)
    eng.partition_parser(date_schema()).apply(df, "key")
    eng.time_partitioner("hourly").path_col("ts")
    eng.change_detector("/state/dir").detect()
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from rehiver_spark.functions.globs import PathMatcher
from rehiver_spark.operators.changes import ChangeDetector
from rehiver_spark.operators.partitions import PartitionSchema
from rehiver_spark.operators.pipeline import find_matching, stream_process
from rehiver_spark.operators.timeparts import TimePartitioner


class Engine:
    """Session-scoped facade (reference Rehiver, src/index.ts:2209+)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- factories (reference partitionParser/timePartitioner/
    # changeDetector, src/index.ts:1987-2033, 2249-2267) --------------
    def partition_parser(self, schema: PartitionSchema) -> PartitionSchema:
        return schema

    def time_partitioner(self, granularity: str = "daily", **kw) -> TimePartitioner:
        return TimePartitioner(granularity=granularity, **kw)

    def change_detector(self, state_dir: str, mode: str = "full") -> ChangeDetector:
        return ChangeDetector(self.spark, state_dir, mode=mode)

    def path_matcher(self, dot: bool = False, nocase: bool = False) -> PathMatcher:
        return PathMatcher(dot=dot, nocase=nocase)

    # -- object workflows (facade findMatchingObjects /
    # streamMatchingObjects, src/index.ts:2343-2517) -------------------
    def find_matching_objects(
        self, objects: DataFrame, patterns: str | list[str], prefix: str = "", **kw
    ) -> DataFrame:
        return find_matching(objects, patterns, prefix=prefix, **kw)

    def stream_matching_objects(
        self,
        objects: DataFrame,
        patterns: str | list[str],
        processor: Callable[[str], object],
        **kw,
    ):
        return stream_process(objects, patterns, processor, **kw)

    # -- catalog sources ----------------------------------------------
    def objects_from_local(self, base: str, prefix: str = "") -> DataFrame:
        from rehiver_spark.sources.catalog import list_local

        return list_local(self.spark, base, prefix)

    def objects_from_scan(self, df: DataFrame) -> DataFrame:
        from rehiver_spark.sources.catalog import from_file_scan

        return from_file_scan(df)

    def objects_distributed(self, prefixes: list[str], lister_factory) -> DataFrame:
        from rehiver_spark.sources.catalog import list_distributed

        return list_distributed(self.spark, prefixes, lister_factory)

    # -- write path ---------------------------------------------------
    def write_partitioned(self, df: DataFrame, path: str, partition_cols: list[str], **kw):
        from rehiver_spark.sources.writer import write_partitioned

        return write_partitioned(df, path, partition_cols, **kw)

    # -- per-key metadata (facade getObjectMetadata with the LRU-TTL
    # cache, src/index.ts:877-1005) ------------------------------------
    def metadata_cache(self, **kw):
        """Lazily-created session cache; pass MetadataCache kwargs
        (max_size/ttl/refresh_threshold/fetcher) on FIRST use —
        reference MetadataCacheConfig (src/index.ts:845-848).

        Reconfiguring an existing cache is an error: silently returning
        the old instance would make callers believe their config
        applied. Call ``reset_metadata_cache()`` first to reconfigure.
        """
        if not hasattr(self, "_metadata_cache"):
            from rehiver_spark.sources.metacache import MetadataCache

            self._metadata_cache = MetadataCache(**kw)
        elif kw:
            raise ValueError(
                "metadata_cache is already configured for this Engine; "
                f"kwargs {sorted(kw)} would be silently ignored. Use "
                "reset_metadata_cache() to drop it, then reconfigure."
            )
        return self._metadata_cache

    def reset_metadata_cache(self) -> None:
        """Drop the session cache so the next metadata_cache(**kw) call
        builds a fresh one with new config."""
        if hasattr(self, "_metadata_cache"):
            del self._metadata_cache

    def get_object_metadata(self, bucket: str, key: str):
        try:
            cache = self._metadata_cache
        except AttributeError:  # first use builds the default cache
            cache = self.metadata_cache()
        return cache.get(bucket, key)

    def put_object(self, bucket: str, key: str, body, **kw):
        """Write-through with cache invalidation (reference putObject →
        invalidateCache, src/index.ts:1012-1027, 1171-1228)."""
        from rehiver_spark.sources import writer

        r = writer.put_object(bucket, key, body, **kw)
        if hasattr(self, "_metadata_cache"):
            self._metadata_cache.invalidate(bucket, key)
        return r
