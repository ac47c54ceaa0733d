"""Table IO abstraction: a parquet directory mirror of the Iceberg table
layout.

The production design (SURVEY.md §2.9) targets Iceberg tables partitioned by
``days(ts), bucket(64, conv_id)`` so Catalyst gets partition pruning on both
time predicates and conv lookups.  This sandbox has no Iceberg runtime jar,
so the fallback mirrors the same layout with explicit partition columns
(``dt`` + ``bucket``) in a parquet directory tree — the engine code is
identical either way because everything goes through this class.

Snapshot identity (for checkpoint/resume, SURVEY.md §2.9): with Iceberg this
is the real snapshot id; the parquet fallback fingerprints the input file
listing (path, size, mtime) — stable for an immutable input directory.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F


@dataclass
class TableIO:
    """Read/write tables under a warehouse root, Iceberg-or-parquet."""

    spark: SparkSession
    warehouse: str
    n_buckets: int = 64

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def write_transcripts(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        """Partition by (dt, bucket) — the parquet mirror of Iceberg's
        ``days(ts), bucket(n, conv_id)`` hidden partitioning."""
        out = df.withColumn("dt", F.to_date("ts")).withColumn(
            "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(self.n_buckets)).cast("int")
        )
        (
            out.repartition("dt", "bucket")
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.mode(mode)
            .partitionBy("dt", "bucket")
            .parquet(self._path(table))
        )

    def write(self, df: DataFrame, table: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))

    def exists(self, table: str) -> bool:
        p = self._path(table)
        return os.path.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" or f.startswith("dt=") or f.startswith("sink=")
            for f in os.listdir(p)
        )

    def list_data_files(self, table_or_path: str) -> list[str]:
        """Absolute paths of the current data files — the parquet stand-in
        for an Iceberg snapshot's manifest file list."""
        p = table_or_path if os.path.isabs(table_or_path) else self._path(table_or_path)
        out = []
        for root, _dirs, files in os.walk(p):
            for f in sorted(files):
                if f.startswith(("_", ".")) or not f.endswith(".parquet"):
                    continue
                out.append(os.path.join(root, f))
        return sorted(out)

    def snapshot_id(self, table_or_path: str) -> str:
        """Fingerprint of the current file set — the parquet stand-in for an
        Iceberg snapshot id."""
        p = table_or_path if os.path.isabs(table_or_path) else self._path(table_or_path)
        entries = []
        for root, _dirs, files in os.walk(p):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                st = os.stat(os.path.join(root, f))
                # (path, size, mtime): mtime catches same-name same-size
                # overwrites with different content — without it a resume
                # would silently skip reprocessing the changed input
                entries.append(
                    (os.path.relpath(os.path.join(root, f), p), st.st_size, st.st_mtime_ns)
                )
        digest = hashlib.sha256(json.dumps(sorted(entries)).encode()).hexdigest()
        return digest[:16]


def table_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Version regression diff between two snapshots of the same table:
    one row per key that was ADDED, REMOVED, or CHANGED (content hash of
    ``compare_cols`` differs) — the check a pipeline runs between
    yesterday's and today's published table before promoting it.
    Unchanged keys are filtered out BEFORE anything widens.

    Plan: each side reduces to (keys, 16-byte md5 of the compare columns)
    — content never shuffles, same trick as exact dedup; then ONE
    full-outer merge join on the keys.  The digest is UNAMBIGUOUS: each
    column hashes separately first (fixed-width 32-hex md5, NULL → the
    literal '<null>' which no md5 can equal), then the per-column digests
    concatenate — so values containing separators can never realign
    across column boundaries (('a<sep>b','c') vs ('a','b<sep>c') collide
    under naive separator-joined concat; review r5) and NULL→value
    transitions always count as changes.  At 100 TB both sides shuffle
    short keyed digests only."""
    def digest(df: DataFrame, alias: str) -> DataFrame:
        parts = [
            F.coalesce(F.md5(F.col(c).cast("string")), F.lit("<null>"))
            for c in compare_cols
        ]
        return df.select(
            *[F.col(k) for k in key_cols],
            F.md5(F.concat_ws("", *parts)).alias(alias),
        )

    o = digest(old, "_h_old")
    n = digest(new, "_h_new")
    joined = o.join(n, key_cols, "full_outer")
    status = (
        F.when(F.col("_h_old").isNull(), F.lit("added"))
        .when(F.col("_h_new").isNull(), F.lit("removed"))
        .when(F.col("_h_old") != F.col("_h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("status", status)
        .where(F.col("status").isNotNull())
        .select(*key_cols, "status")
    )
