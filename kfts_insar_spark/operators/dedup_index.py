"""Incremental exact-dedup index — the STANDING form of dedup a daily
training-data ingest runs.

`doc_exact_dedup` (plans/text_queries.py) answers "dedup this corpus" in
one batch job. A production pipeline instead maintains a fingerprint
INDEX across ingest batches: each new batch is checked against the
committed index, duplicates are flagged, and the index advances in the
same snapshot-commit discipline as the tier tables (idempotent replays,
crash-safe resume). The reference has no dedup machinery; this extends
the engine's snapshot layer to the curation side of the brief.

Design for 10^12 documents:

- the index table holds one row per distinct fingerprint
  ``(fp, canonical_id, n_dups)``, hash-partitioned by the fp's leading
  byte (``pb``, 256 partitions);
- a batch ingest aggregates the batch to per-fp ``(min doc_id, count)``
  (ONE shuffle on the digest — duplicate groups are tiny, no skew), then
  joins ONLY the index partitions the batch's fingerprints touch
  (manifest-level pruning on ``pb`` — ≤ 256 values collected, metadata
  scale) and upserts the merged rows copy-on-write;
- the merge is associative and order-insensitive
  (canonical = least(min…), n = sum) → ANY batch split converges to the
  same index as the one-shot batch job, which is what the oracle query
  checks value-exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.snapshot import SnapshotTable


class DedupIndex:
    def __init__(self, path: str):
        self.tbl = SnapshotTable(path)

    def ingest(
        self, spark: SparkSession, docs: DataFrame, batch_id: int | None = None
    ) -> dict:
        """Fold a batch of ``(doc_id, text)`` documents into the index.

        ``batch_id`` (monotonic) makes replays no-ops — the merge sums
        counts, so an unguarded re-delivery would double n_dups; with the
        id the index commits carry ``dedup_batch_id`` and a re-delivered
        batch ≤ the committed id is skipped (same idempotence contract as
        streaming/sink.py under at-least-once delivery).

        Returns {"batch_fps", "index_fps"} (from the aggregated batch and
        commit metadata — no extra index scans)."""
        if batch_id is not None and batch_id <= int(
            self.tbl.property("dedup_batch_id", -1)
        ):
            return {"batch_fps": 0, "index_fps": None, "skipped": True}
        batch = (
            docs.select(F.md5("text").alias("fp"), F.col("doc_id"))
            .groupBy("fp")
            .agg(
                F.min("doc_id").cast("long").alias("bmin"),
                F.count(F.lit(1)).cast("long").alias("bn"),
            )
            .persist()
        )
        try:
            # index partitions touched by this batch — ≤ 256 values
            pbs = {
                r.pb
                for r in batch.select(
                    F.substring("fp", 1, 2).alias("pb")
                ).distinct().collect()
            }
            cur = self.tbl.read(spark, where=lambda p: p.get("pb") in pbs)
            if cur is None:
                merged = batch.select(
                    "fp",
                    F.col("bmin").alias("canonical_id"),
                    F.col("bn").alias("n_dups"),
                )
            else:
                merged = (
                    batch.join(
                        cur.select("fp", "canonical_id", "n_dups"), "fp", "left"
                    )
                    .select(
                        "fp",
                        F.least(
                            F.coalesce("canonical_id", "bmin"), F.col("bmin")
                        ).alias("canonical_id"),
                        (F.coalesce("n_dups", F.lit(0)) + F.col("bn")).alias(
                            "n_dups"
                        ),
                    )
                )
            merged = merged.withColumn("pb", F.substring("fp", 1, 2))
            props = (
                {"dedup_batch_id": int(batch_id)} if batch_id is not None else None
            )
            self.tbl.upsert(
                spark,
                merged,
                key_cols=["fp"],
                partition_by=["pb"],
                properties=props,
            )
            return {
                "batch_fps": batch.count(),
                "index_fps": sum(
                    e.get("rows", 0) for e in self.tbl.manifest()["files"]
                ),
            }
        finally:
            batch.unpersist()

    def duplicates(self, spark: SparkSession, docs: DataFrame) -> DataFrame:
        """Flag each doc against the CURRENT index: is_dup iff its text's
        fingerprint is indexed with a different canonical doc. The probe
        batch's touched pb set (≤ 256 values, computed exactly as
        ``ingest`` does) prunes the index read at the manifest, so a
        narrow probe opens only its own partitions' files (left join on
        fp; unindexed docs are not duplicates)."""
        d = docs.select("doc_id", F.md5("text").alias("fp"))
        pbs = {
            r.pb
            for r in d.select(
                F.substring("fp", 1, 2).alias("pb")
            ).distinct().collect()
        }
        idx = self.tbl.read(spark, where=lambda p: p.get("pb") in pbs)
        if idx is None:
            return d.select("doc_id", F.lit(False).alias("is_dup"))
        j = d.join(idx.select("fp", "canonical_id"), "fp", "left")
        return j.select(
            "doc_id",
            (
                F.col("canonical_id").isNotNull()
                & (F.col("doc_id") != F.col("canonical_id"))
            ).alias("is_dup"),
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        df = self.tbl.read(spark)
        return None if df is None else df.select("fp", "canonical_id", "n_dups")
