"""Checkpoint + lineage: per-stage, per-partition row/byte metrics keyed by
snapshot id, and the ingest watermark that makes re-runs idempotent.

North_rule: "every stage emits per-partition lineage + row/byte metrics into
a checkpoint table so the job resumes idempotently from the last committed
Iceberg snapshot". Reference analogue: the update-mode restart that reconciles
previous state with new data (/root/reference/kfts.py:252-330 and
``restart_from_file``, kf/KF_class.py:70-116).

Stored as JSON-lines next to the tables (append-only; the commit point for
resume is the snapshot CURRENT pointer, not this file — metrics are
observability, the watermark lives in snapshot properties).
"""

from __future__ import annotations

import json
import os
import threading

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


class CheckpointLog:
    def __init__(self, path: str):
        self.path = path
        # pipeline stages commit (and log) from concurrent threads
        self._lock = threading.Lock()
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)

    def record(
        self, stage: str, snapshot_id: int, watermark_es: int, files: list[dict]
    ) -> None:
        """Log one commit: ``files`` are the entries that commit wrote (not
        the table's), so the record stays commit-sized as history grows."""
        by_part: dict[str, dict] = {}
        for e in files:
            key = json.dumps(e["partition"], sort_keys=True)
            agg = by_part.setdefault(key, {"n_files": 0, "bytes": 0})
            agg["n_files"] += 1
            agg["bytes"] += e["bytes"]
        rec = {
            "stage": stage,
            "snapshot_id": snapshot_id,
            "watermark_es": watermark_es,
            "n_rows": sum(e["rows"] for e in files),
            "total_bytes": sum(e["bytes"] for e in files),
            "partitions": [
                {"partition": json.loads(k), **v} for k, v in sorted(by_part.items())
            ],
        }
        with self._lock, open(self.path, "a") as f:
            f.write(json.dumps(rec) + "\n")

    def entries(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def as_df(self, spark: SparkSession) -> DataFrame | None:
        rows = self.entries()
        if not rows:
            return None
        flat = [
            {
                "stage": r["stage"],
                "snapshot_id": r["snapshot_id"],
                "watermark_es": r["watermark_es"],
                "n_rows": r["n_rows"],
                "total_bytes": r["total_bytes"],
                "n_partitions": len(r["partitions"]),
            }
            for r in rows
        ]
        return spark.createDataFrame(pd.DataFrame(flat))
