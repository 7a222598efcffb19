"""Snapshot tables: versioned parquet tables with MERGE-style upsert.

The production design is Iceberg (HadoopCatalog + Spark extensions):
``MERGE INTO frontier ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
INSERT``, per-round snapshots, time-travel for resume. This sandbox has
no Iceberg runtime jar, so this module provides the same contract over
plain parquet:

    {root}/{name}/v{NNNNN}/  — one immutable snapshot per version
    {root}/{name}/_meta.json — committed version list (atomic rename)

Every write is write-new-dir-then-commit-manifest, so a killed job never
corrupts the latest committed snapshot — the property the north rule
needs for deterministic resume. Swapping this class for Iceberg is a
one-file change (the CrawlEngine only calls read/write/merge_upsert).

One storage mode, MERGE-ON-READ (Iceberg's merge-on-read write
strategy): ``write_snapshot`` writes a full base; ``merge_upsert``
appends the batch as a delta (O(batch) write, not O(table));
``read()`` resolves last-writer-wins per key with one window over the
last base and the deltas after it; a full base snapshot is compacted
every ``compact_every`` deltas to bound read cost. The round commit
cost therefore does not grow with table size, the property that makes
crawl rounds O(batch) at a 10^10-row frontier.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F


class SnapshotTable:
    # deltas appended between full base snapshots
    compact_every = 10

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        key: str,
        order_col: str | None = None,
        read_schema: str | None = None,
    ):
        self.spark = spark
        self.key = key
        # tie-break among a key's rows inside ONE version
        self.order_col = order_col
        # explicit read-side schema for resolution: versions may be
        # SCHEMA-HETEROGENEOUS (a delta can carry payload columns beyond
        # the table's logical state — the crawl engine's unified round
        # commit writes record payloads into the frontier delta);
        # pinning the schema makes every resolve a projection of these
        # columns (parquet prunes the rest: payload bytes are never read
        # by frontier resolution) and makes bases/deltas union-safe.
        self.read_schema = read_schema
        self.last_delta_version: int | None = None
        self.dir = os.path.join(root, name)
        self.meta_path = os.path.join(self.dir, "_meta.json")
        os.makedirs(self.dir, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _meta(self) -> dict:
        if not os.path.exists(self.meta_path):
            return {"versions": [], "bases": []}
        with open(self.meta_path) as f:
            m = json.load(f)
        m.setdefault("bases", list(m["versions"]))
        return m

    def _versions(self) -> list[int]:
        return self._meta()["versions"]

    def _commit(self, versions: list[int], bases: list[int]) -> None:
        tmp = self.meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": versions, "bases": bases}, f)
        os.replace(tmp, self.meta_path)  # atomic on POSIX

    def latest_version(self) -> int | None:
        v = self._versions()
        return v[-1] if v else None

    def exists(self) -> bool:
        return self.latest_version() is not None

    def rollback(self, version: int) -> bool:
        """Drop committed versions newer than ``version`` (and their
        files). ``version=0`` empties the table. The reconcile step of
        atomic round commit: a round whose lineage line was never
        written is rolled back here before the round is replayed.
        Returns True iff any version was dropped."""
        m = self._meta()
        keep = [v for v in m["versions"] if v <= version]
        drop = [v for v in m["versions"] if v > version]
        if not drop:
            return False
        self._commit(keep, [b for b in m["bases"] if b <= version])
        for v in drop:
            shutil.rmtree(self._vdir(v), ignore_errors=True)
        return True

    # -- read/write -------------------------------------------------------
    def _vdir(self, version: int) -> str:
        return os.path.join(self.dir, f"v{version:05d}")

    def read(self, version: int | None = None) -> DataFrame:
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"snapshot table {self.dir} has no snapshots")
        return self._resolve(v)

    def _resolve(self, v: int) -> DataFrame:
        """Merge-on-read state at version ``v``: union the last base
        (≤ v) with the deltas after it; last writer wins per key (one
        window shuffle on the key — no table rewrite ever happened).

        All versions are read in ONE multi-path scan (one plan, one
        stage) with the version recovered from the file path — 10+
        per-version scans planned separately measured ~2x slower on the
        crawl loop at sandbox scale.

        Cost ceiling (stated for the record): this window is O(rows in
        base + pending deltas) per call — real Iceberg MOR avoids the
        key-window via positional delete files. Callers that read every
        round must NOT pay it every round: CrawlEngine maintains a
        resolved-frontier cache incrementally (apply-delta on the cached
        state) and only comes back here on resume and right after
        compaction, when a single base version makes this a plain scan
        (the len(vs)==1 fast path below)."""
        m = self._meta()
        bases = [b for b in m["bases"] if b <= v]
        base = bases[-1] if bases else None
        vs = [x for x in m["versions"] if x <= v and (base is None or x >= base)]
        reader = self.spark.read
        if self.read_schema is not None:
            reader = reader.schema(self.read_schema)
        if len(vs) == 1:
            return reader.parquet(self._vdir(vs[0]))
        allrows = reader.parquet(*[self._vdir(x) for x in vs]).withColumn(
            "_v",
            F.regexp_extract(F.input_file_name(), r"/v(\d+)/", 1).cast("int"),
        )
        order = [F.col("_v").desc()]
        if self.order_col is not None:
            order.append(F.col(self.order_col))
        w = Window.partitionBy(self.key).orderBy(*order)
        return (
            allrows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_v")
        )

    def write_snapshot(self, df: DataFrame, base: bool = True) -> int:
        """Write a new immutable version; returns it. ``base=False``
        marks a delta (not a full state)."""
        m = self._meta()
        versions = m["versions"]
        v = (versions[-1] + 1) if versions else 1
        df.write.mode("overwrite").parquet(self._vdir(v))
        self._commit(versions + [v], m["bases"] + ([v] if base else []))
        return v

    def merge_upsert(self, batch: DataFrame) -> int:
        """MERGE INTO semantics: batch rows win on key collision.

        Appends the batch as a delta — O(batch) write, written with the
        batch's own partitioning (callers read per-file footer rows of
        ``last_delta_version`` as the write's partition balance);
        collisions resolve at read time (last version wins). Every
        ``compact_every`` deltas a base snapshot is compacted so reads
        stay bounded; the returned version is then that base."""
        if not self.exists():
            raise FileNotFoundError(f"snapshot table {self.dir} has no snapshots")
        v = self.write_snapshot(batch, base=False)
        self.last_delta_version = v
        m = self._meta()
        n_deltas = len([x for x in m["versions"] if x > m["bases"][-1]])
        if n_deltas >= self.compact_every:
            v = self.write_snapshot(self._resolve(v))
        return v

    def version_file_rows(self, version: int) -> list[int]:
        """Per-file row counts of one version from parquet footers —
        driver-side metadata only, NO Spark job. One file = one write
        partition, so this doubles as the partition-balance metric."""
        import glob as _glob

        import pyarrow.parquet as pq

        return [
            pq.ParquetFile(f).metadata.num_rows
            for f in sorted(
                _glob.glob(os.path.join(self._vdir(version), "*.parquet"))
            )
        ]

    def read_version_only(self, version: int) -> DataFrame:
        """Scan exactly one version's files (no last-wins resolve) —
        e.g. one round's delta rows."""
        return self.spark.read.parquet(self._vdir(version))

    def read_delta_log(self, schema: str) -> DataFrame:
        """Union of every committed NON-BASE version, one multi-path
        scan with an explicit schema (versions may be heterogeneous —
        columns absent from a file read as null). This is the append-
        log VIEW of the table: compaction bases are last-wins
        RESOLUTIONS of the log and are excluded, so rows appended by a
        delta are visible here forever and are never rewritten."""
        m = self._meta()
        bases = set(m["bases"])
        dirs = [self._vdir(v) for v in m["versions"] if v not in bases]
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs)
