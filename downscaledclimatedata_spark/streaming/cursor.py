"""Pipeline-state management: cursor table + processed-run log.

Reference semantics (SURVEY §2.9 T1-T7):
- cursor = last processed "model/scenario" string per stream, compared
  lexicographically, committed AFTER the work is emitted
  (loca2_sensor.py:161-163);
- run-key idempotency absorbs replays if a run dies between emit and
  cursor commit (two-layer safety, SURVEY §7.5.5).

Storage is a tiny Parquet-backed key-value relation; at scale this is a
metadata table (or a streaming checkpoint — see stream.py), never a
bottleneck.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CURSOR_SCHEMA = T.StructType([
    T.StructField("stream", T.StringType(), False),
    T.StructField("cursor", T.StringType(), True),
])

PROCESSED_SCHEMA = T.StructType([
    T.StructField("run_key", T.StringType(), False),
    T.StructField("processed_at", T.TimestampType(), True),
])


class CursorStore:
    """One row per stream, e.g. ("tasmax_daily", "ACCESS-CM2/historical").

    Commit ordering is the caller's contract: write the work manifest
    first, then ``commit`` — reproducing the reference's yield-then-
    update_cursor ordering (loca2_sensor.py:161-163).
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], CURSOR_SCHEMA)
        return self.spark.read.parquet(self.path)

    def get(self, stream: str) -> str | None:
        rows = self._read().filter(F.col("stream") == stream).limit(1).collect()
        return rows[0]["cursor"] if rows else None

    def commit(self, stream: str, cursor: str) -> None:
        current = self._read().filter(F.col("stream") != stream)
        updated = current.unionByName(
            self.spark.createDataFrame([(stream, cursor)], CURSOR_SCHEMA))
        # two-phase: write to a staging dir then swap, so a failed write
        # can't destroy existing state
        staging = self.path + ".staging"
        updated.coalesce(1).write.mode("overwrite").parquet(staging)
        final = self.spark.read.parquet(staging)
        final.coalesce(1).write.mode("overwrite").parquet(self.path)


class ProcessedLog:
    """Append-only run-key log backing the idempotency anti-join (J3)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self.spark.createDataFrame([], PROCESSED_SCHEMA)
        return self.spark.read.parquet(self.path)

    def append(self, run_keys: DataFrame, key_col: str = "s3_key") -> None:
        (run_keys.select(F.col(key_col).alias("run_key"),
                         F.current_timestamp().alias("processed_at"))
         .write.mode("append").parquet(self.path))

    def filter_new(self, manifest: DataFrame, key_col: str = "s3_key") -> DataFrame:
        # local import: importing discovery registers its specs
        from downscaledclimatedata_spark.operators.discovery import new_work
        return new_work(manifest, self.read(), key_col)
