"""Snapshot/manifest table layer — Iceberg-style atomic commits over parquet.

The sandbox has no Iceberg runtime jar, so the engine ships an equivalent
minimal snapshot layer (as anticipated in SURVEY §7): every crawl wave writes
its new parquet directories first, then atomically renames a JSON manifest
into ``_snapshots/``. Readers resolve the latest manifest and read ONLY the
files it lists, so a crash mid-wave leaves the previous snapshot intact and
resume is exact (the role of the reference's WAL, PersistentQueue.java:95-142).

On a real cluster the same API maps 1:1 onto Iceberg ``MERGE INTO``/``APPEND``
with snapshot ids; manifests also carry per-wave lineage/metrics (north_rule:
"per-partition lineage + metrics").
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: int
    tables: dict[str, list[str]]  # table -> list of parquet dirs (relative)
    state: dict[str, Any] = field(default_factory=dict)


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)
        # rel dir -> schema of the frame staged there BY THIS PROCESS: lets
        # read() skip parquet footer inference (~0.1 s of driver latency per
        # table per wave). Dirs from other processes (resume) still infer, so
        # snapshot-level schema evolution is unaffected.
        self._staged_schemas: dict[str, Any] = {}

    def latest(self) -> Snapshot | None:
        snaps = sorted(f for f in os.listdir(self.snap_dir) if f.startswith("snap-"))
        if not snaps:
            return None
        with open(os.path.join(self.snap_dir, snaps[-1])) as fh:
            doc = json.load(fh)
        return Snapshot(doc["snapshot_id"], doc["tables"], doc.get("state", {}))

    def stage_write(self, df: DataFrame, table: str, wave: int) -> str:
        """Write a parquet dir for `table`; invisible until commit()."""
        rel = f"{table}/wave-{wave:05d}-{uuid.uuid4().hex[:8]}"
        target = os.path.join(self.root, rel)
        df.write.mode("overwrite").parquet(target)
        # A ZERO-partition frame (AQE collapses empty results) writes no part
        # files, leaving a dir Spark cannot re-read. Re-write such results as
        # one empty schema-bearing file.
        if not any(f.endswith(".parquet") for f in os.listdir(target)):
            df.sparkSession.createDataFrame([], df.schema).repartition(1).write.mode(
                "overwrite"
            ).parquet(target)
        self._staged_schemas[rel] = df.schema
        return rel

    def commit(
        self,
        appends: dict[str, list[str]] | None = None,
        replaces: dict[str, list[str]] | None = None,
        state: dict[str, Any] | None = None,
    ) -> Snapshot:
        """Atomically publish a new snapshot.

        ``appends``: table -> staged dirs added to the table's file list.
        ``replaces``: table -> staged dirs that REPLACE the list (MERGE/compact).
        """
        prev = self.latest()
        tables = {k: list(v) for k, v in (prev.tables if prev else {}).items()}
        for t, dirs in (replaces or {}).items():
            tables[t] = list(dirs)
        for t, dirs in (appends or {}).items():
            tables.setdefault(t, []).extend(dirs)
        snap = Snapshot(
            (prev.snapshot_id + 1) if prev else 1,
            tables,
            state if state is not None else (prev.state if prev else {}),
        )
        doc = {
            "snapshot_id": snap.snapshot_id,
            "committed_at": time.time(),
            "tables": snap.tables,
            "state": snap.state,
        }
        tmp = os.path.join(self.snap_dir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(self.snap_dir, f"snap-{snap.snapshot_id:06d}.json"))
        return snap

    def read(self, spark: SparkSession, table: str, snap: Snapshot | None = None) -> DataFrame | None:
        snap = snap or self.latest()
        if snap is None or not snap.tables.get(table):
            return None
        # One scan per staged dir, unioned by name: multi-path reads of
        # hive-partitioned dirs (older state dirs' salted `seen`) conflict,
        # and allowMissingColumns gives snapshot-level schema evolution
        # (Iceberg semantics) for free.
        out = None
        for rel in snap.tables[table]:
            p = os.path.join(self.root, rel)
            reader = spark.read
            schema = self._staged_schemas.get(rel)
            if schema is not None:
                # known staged schema: skip footer inference
                reader = reader.schema(schema)
            df = reader.parquet(p)
            out = df if out is None else out.unionByName(df, allowMissingColumns=True)
        return out
