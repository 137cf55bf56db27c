"""Exactly-once streaming commits into SnapshotTable via foreachBatch.

Structured Streaming's foreachBatch gives at-least-once delivery: after a
crash between the sink write and the checkpoint advance, the SAME micro-batch
(same ``batch_id``) is re-delivered. An idempotent sink must therefore
deduplicate on the batch id — exactly the role the snapshot watermark plays
for the batch TierPipeline (pipeline.py), and the Spark recast of the
reference's update-mode contract that re-running an interrupted update must
not double-append epochs (/root/reference/kfts.py:252-330).

``SnapshotBatchSink`` commits each micro-batch as one snapshot whose
properties carry ``stream_batch_id``; a re-delivered batch id ≤ the committed
one is skipped, so replays are no-ops and the table sees each micro-batch
exactly once. Commit atomicity comes from SnapshotTable's manifest swap —
a crash mid-write leaves orphan data files but no visible partial batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.snapshot import SnapshotTable


class SnapshotBatchSink:
    """``df.writeStream.foreachBatch(SnapshotBatchSink(table))``: each new
    micro-batch appends as one unpartitioned snapshot of ``table``."""

    def __init__(self, table: SnapshotTable):
        self.table = table

    def committed_batch_id(self) -> int:
        return int(self.table.property("stream_batch_id", -1))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self.committed_batch_id():
            return  # re-delivered batch after a sink/checkpoint race: no-op
        self.table.append(batch_df, properties={"stream_batch_id": int(batch_id)})
