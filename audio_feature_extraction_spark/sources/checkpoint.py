"""Snapshot checkpoints + per-partition lineage manifests + anti-join resume.

Iceberg-style semantics on a plain-Parquet layout (SURVEY.md §7.4 risk 4: the
iceberg-spark runtime jar is not in this sandbox, so the table format is
emulated with an identical API — swapping the IO layer for
``df.writeTo(tbl).append()`` + snapshot metadata is a drop-in).

Layout under ``base_path``:

    data/snapshot_id=N/*.parquet       -- the rows of snapshot N
    manifest/snapshot_id=N/*.parquet   -- per-partition lineage rows

A snapshot is **committed** iff its manifest directory exists — the manifest
is always written *after* the data (write-ordering commit protocol, the
generalization of the reference's flush-every-10-pairs checkpointing,
`05_dtw_alignment_experiment/dtw_alignment.py:1323-1328`).

Manifest row = (partition_id, rows, payload, checksum, watermark_ts):
- ``checksum`` is an order-independent sum of per-row xxhash64 over the key
  columns, so it is invariant to partitioning/shuffle order;
- ``watermark_ts`` is the max event time in the partition — at cluster scale
  the resume planner prunes whole snapshots by watermark before anti-joining.

Resume = anti-join the input's keys against committed keys
(:meth:`CheckpointTable.remaining`); a killed run recommits only missing keys
and the final table is byte-identical (tested in tests/test_checkpoint.py).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _row_checksum(key_cols: list[str]) -> Column:
    """Order-independent content checksum: SUM of per-row xxhash64, widened to
    DECIMAL(38,0) so the sum is exact and ANSI-safe (a raw BIGINT sum of 64-bit
    hashes overflows, which ANSI mode — the Spark 4 default — turns into an
    ARITHMETIC_OVERFLOW error instead of wraparound)."""
    return F.sum(F.xxhash64(*key_cols).cast("decimal(38,0)"))


class CheckpointTable:
    """Layout v2: manifest ``checksum`` is DECIMAL(38,0) (exact sum of
    per-row 60-bit hashes). v1 tables (wrapping BIGINT checksums) are not
    readable by ``verify()``/``read_manifest()`` — recompute manifests (or
    re-snapshot) when upgrading; snapshots written by different layout
    versions must not be mixed under one ``base_path``."""

    def __init__(self, base_path: str):
        self.base = base_path
        self.data_dir = os.path.join(base_path, "data")
        self.manifest_dir = os.path.join(base_path, "manifest")

    # ------------------------------------------------------------- metadata

    def _ids(self, root: str) -> list[int]:
        if not os.path.isdir(root):
            return []
        out = []
        for d in os.listdir(root):
            if d.startswith("snapshot_id="):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def committed_snapshots(self) -> list[int]:
        return self._ids(self.manifest_dir)

    def next_snapshot_id(self) -> int:
        # consider uncommitted (partially written) data dirs too, so a crashed
        # write never collides with the next attempt
        seen = set(self._ids(self.manifest_dir)) | set(self._ids(self.data_dir))
        return (max(seen) + 1) if seen else 0

    def _snap_path(self, root: str, sid: int) -> str:
        return os.path.join(root, f"snapshot_id={sid}")

    # ------------------------------------------------------------- write

    def write_snapshot(
        self,
        df: DataFrame,
        key_cols: list[str],
        payload_col: str | None = None,
        watermark_col: str | None = None,
    ) -> int:
        """Append one snapshot; returns its id. Data first, manifest last."""
        spark = df.sparkSession
        sid = self.next_snapshot_id()
        data_path = self._snap_path(self.data_dir, sid)
        df.write.mode("overwrite").parquet(data_path)

        # lineage from the files as committed (re-read, not the input plan)
        written = spark.read.parquet(data_path)
        payload = (
            F.sum(F.col(payload_col).cast("long"))
            if payload_col
            else F.lit(None).cast("long")
        )
        watermark = (
            F.max(F.col(watermark_col)).cast("string")
            if watermark_col
            else F.lit(None).cast("string")
        )
        manifest = written.groupBy(
            F.spark_partition_id().alias("partition_id")
        ).agg(
            F.count(F.lit(1)).alias("rows"),
            payload.alias("payload"),
            _row_checksum(key_cols).alias("checksum"),
            watermark.alias("watermark_ts"),
        )
        manifest.coalesce(1).write.mode("overwrite").parquet(
            self._snap_path(self.manifest_dir, sid)
        )
        return sid

    def abort_uncommitted(self) -> list[int]:
        """Drop data dirs that have no manifest (crash leftovers)."""
        committed = set(self._ids(self.manifest_dir))
        dropped = []
        for sid in self._ids(self.data_dir):
            if sid not in committed:
                shutil.rmtree(self._snap_path(self.data_dir, sid))
                dropped.append(sid)
        return dropped

    # ------------------------------------------------------------- read

    def _committed_as_of(self, as_of_snapshot: int | None) -> list[int]:
        ids = self.committed_snapshots()
        if as_of_snapshot is not None:
            ids = [i for i in ids if i <= as_of_snapshot]
        if not ids:
            raise FileNotFoundError(
                f"no committed snapshots under {self.base}"
                + (f" at or before snapshot {as_of_snapshot}"
                   if as_of_snapshot is not None else "")
            )
        return ids

    def read(
        self, spark: SparkSession, as_of_snapshot: int | None = None
    ) -> DataFrame:
        """Union of committed snapshots (uncommitted data is invisible).
        ``as_of_snapshot`` is the Iceberg ``VERSION AS OF`` analog: read the
        table exactly as it stood after that snapshot committed — time travel
        is free because snapshots are append-only immutable dirs."""
        ids = self._committed_as_of(as_of_snapshot)
        paths = [self._snap_path(self.data_dir, i) for i in ids]
        return spark.read.option("basePath", self.data_dir).parquet(*paths)

    def read_manifest(
        self, spark: SparkSession, as_of_snapshot: int | None = None
    ) -> DataFrame:
        ids = self._committed_as_of(as_of_snapshot)
        paths = [self._snap_path(self.manifest_dir, i) for i in ids]
        return spark.read.option("basePath", self.manifest_dir).parquet(*paths)

    # ------------------------------------------------------------- resume

    def remaining(
        self,
        input_df: DataFrame,
        key_cols: list[str],
        input_min_ts: str | None = None,
    ) -> DataFrame:
        """Input rows whose keys are not yet in any committed snapshot.

        ``input_min_ts`` (an ISO timestamp string — ``YYYY-MM-DD HH:MM:SS``
        with optional ``T`` separator and fractional seconds; both sides
        are PARSED to datetimes before comparing, because raw string order
        breaks on separator bytes AND fractional-second width — a wm
        without ``.000000`` would sort below the same instant written with
        it and wrongly prune) enables the manifest
        watermark prune the module docstring promises: snapshots whose
        recorded max event time (manifest ``watermark_ts``) is strictly
        below the input's min event time are skipped ENTIRELY — their
        data files are never opened, so a resume that appends a new day
        anti-joins against the recent snapshots only, not the whole
        table. Valid ONLY under the append-in-event-time-order contract
        (keys of older event time were committed in older snapshots) —
        the caller asserts that contract by passing the argument; without
        it, every committed snapshot is read, which is always correct."""
        spark = input_df.sparkSession
        try:
            ids = self._committed_as_of(None)
        except FileNotFoundError:
            return input_df
        if input_min_ts is not None:
            # parse BOTH sides to datetimes: a raw string compare breaks on
            # separator ('T' vs ' ') AND on fractional-second width (a wm
            # without '.000000' sorts BELOW the same instant written with
            # it, wrongly pruning). Unparseable values fall back to keeping
            # the snapshot — pruning is an optimization, never allowed to
            # drop a relevant snapshot.
            from datetime import datetime

            def _ts(s: str):
                try:
                    return datetime.fromisoformat(s.replace("T", " "))
                except ValueError:
                    return None

            min_dt = _ts(input_min_ts)
            if min_dt is None:
                raise ValueError(
                    f"input_min_ts {input_min_ts!r} is not an ISO "
                    "timestamp (YYYY-MM-DD HH:MM:SS[.ffffff])"
                )
            m = self.read_manifest(spark)
            keep = set()
            for r in m.groupBy("snapshot_id").agg(
                F.max("watermark_ts").alias("wm")
            ).collect():
                wm = _ts(r["wm"]) if r["wm"] is not None else None
                if r["wm"] is None or wm is None or wm >= min_dt:
                    keep.add(r["snapshot_id"])
            ids = [i for i in ids if i in keep]
            if not ids:
                return input_df
        paths = [self._snap_path(self.data_dir, i) for i in ids]
        done = (
            spark.read.option("basePath", self.data_dir)
            .parquet(*paths)
            .select(*key_cols)
            .distinct()
        )
        return input_df.join(done, on=key_cols, how="left_anti")

    def verify(self, spark: SparkSession, key_cols: list[str]) -> DataFrame:
        """Recompute lineage from the data and diff against the manifest —
        returns snapshots that disagree on rows or checksum (empty = intact).
        The checksum is an order-independent sum, so this is partitioning-
        invariant."""
        data = self.read(spark)
        manifest = self.read_manifest(spark)
        recomputed = data.groupBy("snapshot_id").agg(
            F.count(F.lit(1)).alias("rows_actual"),
            _row_checksum(key_cols).alias("checksum_actual"),
        )
        recorded = manifest.groupBy("snapshot_id").agg(
            F.sum("rows").alias("rows_recorded"),
            F.sum("checksum").alias("checksum_recorded"),
        )
        return recomputed.join(recorded, "snapshot_id").where(
            (F.col("rows_actual") != F.col("rows_recorded"))
            | (F.col("checksum_actual") != F.col("checksum_recorded"))
        )
