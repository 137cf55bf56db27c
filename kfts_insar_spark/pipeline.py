"""The end-to-end incremental job: ingest → raw tier → 1h → 1d → compressed,
snapshot-committed, watermark-resumable.

Spark recast of the reference's two entry points (SURVEY.md §3.1-3.2):
the one-shot batch run (kfts.py) and the update-mode restart
(``loadcheck_pastoutputs``, /root/reference/kfts.py:252-330). The MPI/mpio
coordination is replaced by: one shuffle per tier, atomic snapshot commits,
and an ingest watermark in snapshot properties.

Idempotency contract
--------------------
- ingest is append-only on the 300 s batch grid and a run always processes
  *whole* batch slots with ``ingest_es > watermark`` — so every raw bucket is
  produced exactly once, by exactly one run → the raw tier is APPEND-only;
- 1h/1d buckets span many slots → affected coarse partitions are recomputed
  from the (already committed) finer tier and OVERWRITTEN — replays cannot
  double-count because overwrite replaces, never adds;
- the watermark advances only in the same commit that publishes the data, so
  a crash before commit re-processes the same slots into the same buckets.

Run structure
-------------
A scheduled run costs in proportion to what changed:

1. heal: bring tiers that a crashed run left behind raw's watermark up to it
   (metadata reads only when nothing lags);
2. probe: one emptiness check on the ingest rows past the watermark — a run
   with no new data returns ``noop`` here, before any plan, checkpoint or
   write is built;
3. raw commit: one scan of the increment, aggregated and written in one job;
4. concurrent chains: the derived tiers (1h, 1d and compressed side by side
   from the same affected raw days), the series commit, and the KF gap-fill.
   A resume feeds the kernel from the in-memory increment, so it does not
   wait for the series commit; a cold run reads the committed series tier.

The commit order stays raw → series → gap-filled → KF state (the gap commit
waits for the series commit, the state publish for the gap commit), so a
crash at any point leaves a prefix that the next run's heal completes.

The pipeline keeps no timers and has no probe mode: a run executes the same
way whether or not it is measured. For the per-stage split, trace a run
from outside (``perfbench/run.py --trace 1`` wraps the engine calls in spans
and reads the Spark event log).

Tier tables partition by ``pday`` (UTC day string) — retention drops expired
raw partitions via metadata-only deletes (SnapshotTable.drop_partitions).
"""

from __future__ import annotations

import datetime as dt
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import CheckpointLog
from .operators.compress import CODEC_FORMAT, compress_tier
from .operators.kalman import (
    KFConfig,
    explode_kf_output,
    kalman_gapfill_wide,
    to_wide,
)
from .operators.rollup import (
    DAY_SECONDS,
    HOUR_SECONDS,
    RAW_SECONDS,
    TIER_COLS,
    merge_shard_partials,
    rollup_cascade,
    rollup_raw,
    rollup_series,
    rollup_series_partial,
)
from .sources.snapshot import SnapshotTable


def _pday(col: str = "bucket_es"):
    return F.date_format(F.timestamp_seconds(F.col(col)), "yyyy-MM-dd").alias("pday")


def _day(es: int) -> str:
    """The ``pday`` value of epoch second ``es`` (the session runs in UTC)."""
    return dt.datetime.fromtimestamp(int(es), dt.timezone.utc).strftime("%Y-%m-%d")


def _release(df: DataFrame) -> None:
    """Free the blocks of a ``localCheckpoint`` frame. ``DataFrame.unpersist``
    does not reach them: the checkpoint is an RDD under a LogicalRDD, not a
    cached plan, so without this every run would leave its checkpoint
    blocks in storage until a driver GC cleans them up."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _subseries_wide(series: DataFrame, lo: int) -> DataFrame:
    """Series-tier rows at/after the grid origin ``lo`` → one sparse kernel
    input row per (source, shard) sub-series, doc_id = "source/shard"."""
    step = ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int")
    return to_wide(
        series.filter(F.col("bucket_es") >= F.lit(lo)).select(
            F.concat_ws("/", "source", "shard").alias("doc_id"),
            step.alias("step"),
            F.col("sum_tok").alias("value"),
        )
    )


def _gap_rows(kf_out: DataFrame, t_grid, lo: int) -> DataFrame:
    """Kernel output → gap-tier rows (source, shard, bucket_es, phase, std,
    innov, gap_filled, pday). The adapter emits only the steps this run
    produced, and the explode turns a missing innovation into NULL."""
    src_shard = F.split(F.col("doc_id"), "/")
    return (
        explode_kf_output(kf_out, t_grid, with_t=False)
        .select(
            F.element_at(src_shard, 1).alias("source"),
            F.element_at(src_shard, 2).cast("int").alias("shard"),
            (F.lit(lo) + F.col("step").cast("long") * F.lit(RAW_SECONDS)).alias(
                "bucket_es"
            ),
            "phase",
            "std",
            "innov",
            "gap_filled",
        )
        .withColumn("pday", _pday())
    )


def _write_tasks(spark: SparkSession, n_parts: int | None = None) -> int:
    """Scale-adaptive optimize-write parallelism for tier commits.

    The snapshot writer hash-clusters on the partition column, so the file
    count per pday is one regardless of task count — but parquet encode and
    per-file commit parallelize across tasks. The previous constant 4
    serialized multi-million-row tier writes onto 4 cores (measured as the
    single largest cost of the bulk ingest and the gap-fill output commit).
    Derived from the session's parallelism, not the local core count, so the
    same code sizes itself on a cluster (set ``spark.default.parallelism``
    to size it explicitly).

    ``n_parts`` (the number of partition values this write touches, when the
    caller knows it from commit metadata) clamps the task count: tasks
    beyond one-per-day are guaranteed empty, and a small resume increment
    paying ~30 no-op task launches per commit measurably regressed the
    incremental path (sf0.1 A/B 1.127 before this clamp)."""
    wt = max(4, min(256, spark.sparkContext.defaultParallelism))
    if n_parts is not None:
        wt = max(1, min(wt, int(n_parts)))
    return wt


# per-source token-count series are O(10^5..10^6) magnitude — noise scales
# accordingly (the reference's config-scalar role, kfts.py [KALMAN] section)
DEFAULT_KF_CFG = KFConfig(
    model=[("POLY", 1)], sig_y=5e4, sig_i=1e4, sig_a=1e7, t_sep=4
)


class TierPipeline:
    def __init__(
        self,
        base_dir: str,
        kf_cfg: KFConfig = DEFAULT_KF_CFG,
        run_gapfill: bool = True,
        kf_shards: int = 32,
    ):
        self.base = base_dir
        self.raw = SnapshotTable(os.path.join(base_dir, "tier_raw"))
        self.h1 = SnapshotTable(os.path.join(base_dir, "tier_1h"))
        self.d1 = SnapshotTable(os.path.join(base_dir, "tier_1d"))
        self.comp = SnapshotTable(os.path.join(base_dir, "tier_compressed"))
        # KF-stage input: (source, doc-hash shard) sub-series — 5 sources
        # alone cap the gap-fill at 5 tasks; 5 × kf_shards series keep the
        # stage's parallelism ≥ cluster cores (the round-1 scale-killer)
        self.series = SnapshotTable(os.path.join(base_dir, "tier_series"))
        self.gap = SnapshotTable(os.path.join(base_dir, "tier_gapfilled"))
        self.kf_state = SnapshotTable(os.path.join(base_dir, "kf_state"))
        self.log = CheckpointLog(os.path.join(base_dir, "checkpoint.jsonl"))
        self.kf_cfg = kf_cfg
        self.run_gapfill = run_gapfill
        self.kf_shards = kf_shards

    # ------------------------------------------------------------------ run
    def run(self, spark: SparkSession, seq: DataFrame) -> dict:
        """Process all ingest batches newer than the committed watermark.

        Heal, then one emptiness probe (a run without new data returns
        ``noop`` and writes nothing), then the raw commit, then the derived
        tiers, the series commit and the KF gap-fill as concurrent chains;
        the commit order stays raw → series → gap-filled → state (module
        docstring, "Run structure")."""
        wm = int(self.raw.property("watermark_es", -1))
        # Heal first: a crash between the raw commit and the downstream
        # commits leaves 1h/1d/compressed/gapfilled lagging raw's watermark;
        # without this the next run would treat the increment as already
        # processed (raw watermark advanced) and those tiers would stay
        # permanently short of it.
        self._heal(spark, seq, wm)
        fresh = seq.filter(F.col("ingest_es") > F.lit(wm))
        # No-op exit on one emptiness probe, before any plan, checkpoint or
        # write is built. Not a bounds read: rows that land after the probe
        # go to the next run, and a non-empty increment still takes the
        # single-scan write below. (A bounded source folds the two
        # watermark filters into an empty plan and the probe runs no job.)
        if fresh.isEmpty():
            return {"status": "noop", "watermark_es": wm}
        # ---- raw tier: append-only (each 300 s bucket is born complete).
        # ONE scan of the base table: the increment is aggregated and
        # written in the same job, and the new watermark derives from the
        # max-ingest footer statistics of the files actually committed —
        # there is no separate bounds action, so a live source cannot slip
        # rows between a bounds read and the write (they simply land in the
        # next run), and the watermark describes exactly the published
        # data. Row counts / affected partitions for every stage likewise
        # come from the manifest metadata — each producing plan executes
        # exactly once (the write), never again for metrics.
        #
        # With the KF stage on, the shard-level partials serve BOTH ingest
        # tiers and the KF resume from ONE base scan: raw = shard merge (a
        # two-stage aggregation over the doc-hash shard, equal to
        # rollup_raw), series = the partials themselves.
        partial = raw_inc = None
        try:
            if self.run_gapfill:
                # localCheckpoint (not persist): the series commit and
                # the KF resume read this frame AFTER the raw commit
                # fixed the watermark from its footer stats. A persisted
                # frame can silently recompute from the live source on
                # cache eviction, picking up rows past the committed
                # watermark → double-counted KF input on the next run. A
                # checkpoint truncates lineage: partitions either serve
                # the materialization the raw commit saw, or the job
                # FAILS (lost partitions are not recomputable) and the
                # next run heals through the bounded fallback scan in
                # _ingest_series.
                partial = rollup_series_partial(
                    fresh, self.kf_shards, with_max_ingest=True
                ).localCheckpoint(eager=False)
                merged = merge_shard_partials(partial, with_max_ingest=True)
            else:
                merged = rollup_raw(fresh, with_max_ingest=True)
            # checkpoint the merged increment: the raw write materializes
            # it and the derived tiers then read THESE blocks instead of
            # re-scanning the parquet files the commit just wrote (the
            # prior-snapshot read in _derive_tiers covers boundary
            # days). Same lost-partition contract as `partial`.
            prior_sid = self.raw.current_snapshot_id()
            raw_inc = merged.withColumn("pday", _pday()).localCheckpoint(eager=False)
            sid = self.raw.append(
                raw_inc,
                partition_by=["pday"],
                coalesce=_write_tasks(spark),  # optimize-write
                stats_cols=["max_ies"],
                properties_fn=lambda entries: {
                    "watermark_es": max(int(e["stats"]["max_ies"][1]) for e in entries)
                },
                # the probe saw rows; a source that lost them since still
                # must not commit an empty snapshot
                skip_if_empty=True,
            )
            if sid is None:
                return {"status": "noop", "watermark_es": wm}
            new_wm = int(self.raw.property("watermark_es", wm))
            n_raw = self.raw.last_commit_rows()
            days = self.raw.last_commit_partitions("pday")
            self.log.record(
                "tier_raw", sid, new_wm, self.raw.manifest()["files"], n_raw
            )
            result = {
                "status": "ok",
                "watermark_es": new_wm,
                "rows": {"raw": n_raw},
                "snapshots": {"raw": sid},
            }
            # ---- after the raw commit, the remaining chains run as
            # concurrent Spark jobs, so their per-stage fixed costs (plan
            # compile + commit) and their compute overlap:
            # (a) the derived tiers (1h/1d/compressed) from the checkpointed
            #     raw increment + the prior raw snapshot;
            # (b) the series commit from the checkpointed shard partials;
            # (c) the KF gap-fill (north_star core; reference update mode).
            #     With committed state at this increment's lower bound, the
            #     kernel reads the same partials and starts at once — only
            #     its gap commit waits for (b). A cold start reads the
            #     committed series tier, so it waits for (b) first.
            with ThreadPoolExecutor(3) as ex:
                f_tiers = ex.submit(
                    self._derive_tiers, spark, days, new_wm,
                    inc=raw_inc, prior_sid=prior_sid,
                )
                if self.run_gapfill:
                    resume = self.kf_state.property("grid_lo") is not None and (
                        int(self.kf_state.property("watermark_es", -1)) == wm
                    )
                    f_series = ex.submit(
                        self._ingest_series, spark, seq, new_wm,
                        partial=partial, wm_partial=wm,
                    )
                    f_gap = ex.submit(
                        self._run_gapfill, spark, new_wm,
                        obs=partial if resume else None, series_commit=f_series,
                    )
                    gres = f_gap.result()
                    # a gap chain that returned early never read the series
                    # commit's outcome: raise its failure here
                    f_series.result()
                    result["rows"]["gapfilled"] = gres["n_rows"]
                    result["snapshots"]["gapfilled"] = gres["snapshot_id"]
                drows, dsids = f_tiers.result()
            result["rows"].update(drows)
            result["snapshots"].update(dsids)
            return result
        finally:
            for df in (partial, raw_inc):
                if df is not None:
                    _release(df)

    def _ingest_series(
        self,
        spark: SparkSession,
        seq: DataFrame,
        upto: int,
        partial: DataFrame | None = None,
        wm_partial: int | None = None,
    ) -> None:
        """Append the (source, shard, 300 s bucket) sub-series increment for
        ingest slots in (series watermark, upto] — idempotent per slot.

        ``partial`` (with ``wm_partial``, the lower bound it was filtered
        at) reuses the persisted shard partials from the raw ingest when the
        series watermark sits exactly at that bound — the normal path after
        healing; no second base scan. Any other alignment (crash heal with a
        lagging series tier) falls back to a bounded scan of ``seq``."""
        wm_s = int(self.series.property("watermark_es", -1))
        if wm_s >= upto:
            return
        if partial is not None and wm_partial is not None and wm_s == wm_partial:
            inc = partial.select(
                "source", "shard", "bucket_es", "sum_tok", "n_docs"
            ).withColumn("pday", _pday())
        else:
            inc = rollup_series(
                seq.filter(
                    (F.col("ingest_es") > F.lit(wm_s))
                    & (F.col("ingest_es") <= F.lit(upto))
                ),
                self.kf_shards,
            ).withColumn("pday", _pday())
        sid = self.series.append(
            inc,
            partition_by=["pday"],
            properties={"watermark_es": upto},
            # the increment's buckets sit in (wm_s, upto] — day span bounds
            # the partition count this write can touch
            coalesce=_write_tasks(spark, (upto - max(wm_s, 0)) // 86400 + 2),
            stats_cols=["bucket_es"],
        )
        self.log.record(
            "tier_series",
            sid,
            upto,
            self.series.manifest()["files"],
            self.series.last_commit_rows(),
        )

    def _derive_tiers(
        self,
        spark: SparkSession,
        days: list,
        wm: int,
        inc: DataFrame | None = None,
        prior_sid: int | None = None,
    ) -> tuple[dict, dict]:
        """Recompute the 1h/1d/compressed tiers for the affected ``days``
        and overwrite those partitions.

        ``inc`` (the checkpointed raw increment the commit just wrote, with
        ``prior_sid`` = the raw snapshot BEFORE that commit) serves the
        affected days from memory: increment rows come from the checkpoint
        blocks and only BOUNDARY days — affected days that already had rows
        before this commit — read parquet, through the prior snapshot's
        manifest pruned to those days (append-mostly ingest prunes this to
        zero files, metadata-only). Without ``inc`` (heal / restatement
        paths, gapfill-off… any caller that cannot vouch the increment
        frame equals the committed files) the committed raw tier is read.
        Affected-day reads use manifest-level FILE pruning (``where=``) —
        no full-tier scan, no per-day plan nodes."""
        dayset = set(days)
        in_days = lambda p: p.get("pday") in dayset  # noqa: E731
        # one frame of the affected raw days, shared by all three tiers
        if inc is not None:
            raw_days = inc.filter(F.col("pday").isin(days)).select(*TIER_COLS)
            prior = (
                self.raw.read(spark, snapshot_id=prior_sid, where=in_days)
                if prior_sid is not None
                else None
            )
            if prior is not None:
                raw_days = raw_days.unionByName(prior.select(*TIER_COLS))
            raw_days = raw_days.persist()
        else:
            raw_days = (
                self.raw.read(spark, where=in_days).select(*TIER_COLS).persist()
            )

        def write(tbl, frame, props=None):
            sid = tbl.overwrite_partitions(
                frame.withColumn("pday", _pday()),
                ["pday"],
                properties={"watermark_es": wm, **(props or {})},
                coalesce=_write_tasks(spark, len(days)),
            )
            return sid, tbl.last_commit_rows(), tbl.manifest()["files"]

        def write_compressed():
            # ---- compressed raw chunks for affected days (Gorilla).
            # codec_format is a TABLE-level property, so stamping the
            # current version from a partial-day overwrite would vouch for
            # older partitions this commit never rewrote (their streams
            # would then pass read_tier's gate and decode to garbage).
            # Refuse unless the prior snapshot already has this version or
            # every prior partition is being overwritten right now (full
            # re-materialization).
            prior_c = self.comp.manifest()
            if prior_c is not None and prior_c["files"]:
                pf = prior_c.get("properties", {}).get("codec_format")
                if (pf is None or int(pf) != CODEC_FORMAT) and not {
                    e["partition"].get("pday") for e in prior_c["files"]
                } <= dayset:
                    raise ValueError(
                        f"compressed tier at {self.comp.path} holds "
                        f"codec_format={pf!r} partitions outside this "
                        f"commit's overwrite set; stamping v{CODEC_FORMAT} "
                        "would mask their legacy streams — re-materialize "
                        "the whole tier from raw (expire/drop it, then "
                        "re-run) instead of resuming incrementally"
                    )
            return write(
                self.comp, compress_tier(raw_days), {"codec_format": CODEC_FORMAT}
            )

        try:
            # 1h, 1d and compressed are independent given the affected raw
            # days: the aggregates are algebraic, so 1d cascades straight
            # from raw exactly as it would from 1h. The three run as
            # concurrent Spark jobs (different tables, no shared commit
            # state), so their plan compile + commit fixed costs overlap.
            with ThreadPoolExecutor(3) as ex:
                f_h = ex.submit(write, self.h1, rollup_cascade(raw_days, HOUR_SECONDS))
                f_d = ex.submit(write, self.d1, rollup_cascade(raw_days, DAY_SECONDS))
                f_c = ex.submit(write_compressed)
                sid_h, n_h, files_h = f_h.result()
                sid_d, n_d, files_d = f_d.result()
                sid_c, n_c, files_c = f_c.result()
        finally:
            raw_days.unpersist()
        self.log.record("tier_1h", sid_h, wm, files_h, n_h)
        self.log.record("tier_1d", sid_d, wm, files_d, n_d)
        self.log.record("tier_compressed", sid_c, wm, files_c, n_c)
        return (
            {"1h": n_h, "1d": n_d, "compressed": n_c},
            {"1h": sid_h, "1d": sid_d, "compressed": sid_c},
        )

    def _raw_days_since(self, wm_tier: int) -> list:
        """pday partitions whose raw files were added by commits with a
        watermark newer than ``wm_tier`` — metadata-only (manifest diff)."""
        days: set = set()
        prev_paths: set = set()
        for s in self.raw.snapshots():
            new = [e for e in s["files"] if e["path"] not in prev_paths]
            prev_paths = {e["path"] for e in s["files"]}
            s_wm = int(s.get("properties", {}).get("watermark_es", -1))
            if s_wm > wm_tier:
                days.update(
                    e["partition"]["pday"] for e in new if "pday" in e["partition"]
                )
        return sorted(days)

    def _heal(self, spark: SparkSession, seq: DataFrame, wm_raw: int) -> None:
        """Bring downstream tiers up to raw's committed watermark before
        processing new data (crash-resume for a failure between the raw
        commit and any downstream commit)."""
        if wm_raw < 0:
            return
        lagging = [
            t
            for t in (self.h1, self.d1, self.comp)
            if int(t.property("watermark_es", -1)) < wm_raw
        ]
        if lagging:
            days = self._raw_days_since(
                min(int(t.property("watermark_es", -1)) for t in lagging)
            )
            if days:
                self._derive_tiers(spark, days, wm_raw)
        if self.run_gapfill:
            self._ingest_series(spark, seq, wm_raw)
            if int(self.kf_state.property("watermark_es", -1)) < wm_raw:
                self._run_gapfill(spark, wm_raw)

    def _run_gapfill(
        self,
        spark: SparkSession,
        wm: int,
        obs: DataFrame | None = None,
        series_commit=None,
    ) -> dict:
        """Gap-fill the (source, shard) sub-series with the Kalman kernel.

        Scale shape (the round-1 review's top perf fix): per-(source, shard)
        doc-wide rows → ONE mapInArrow kernel execution emitting output AND
        resumable state together (persisted, so the two tier writes share
        it), grid bounds from committed metadata, parallelism 5 × kf_shards
        instead of 5.

        ``obs`` holds the run's new series rows (the in-memory shard
        partials) when the committed state sits at the increment's lower
        bound. The kernel needs nothing else: a resumed doc's loop consumes
        only steps at or after its ``k_done``, whose buckets lie past the
        committed watermark (so all their rows are in this increment), and a
        sub-series first seen in the increment has no earlier rows. Without
        ``obs`` (cold start, heal) the committed series tier is read.
        ``series_commit`` is the future of this run's series commit: the
        tier read and the gap commit wait for it, so commits land raw →
        series → gap → state.
        """
        import numpy as np

        lo = self.kf_state.property("grid_lo")
        series_now = None
        if obs is None:
            if series_commit is not None:
                series_commit.result()
            # existence from the manifest alone — building the full-table
            # scan DataFrame costs a driver-side file-listing/py4j round trip
            # that the resumed path (which reads only the pruned window
            # below) never uses
            m_series = self.series.manifest()
            if m_series is None or not m_series["files"]:
                return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
            # lo is the committed grid origin; only the very first run (no
            # state yet) derives it — from the manifest's footer stats when
            # every file carries them (zero Spark jobs), else by a scan
            if lo is None:
                stats = [
                    e.get("stats", {}).get("bucket_es") for e in m_series["files"]
                ]
                if all(s is not None for s in stats):
                    lo = min(int(s[0]) for s in stats)
                else:
                    series_now = self.series.read(spark)
                    lo = series_now.agg(F.min("bucket_es")).first()[0]
        lo = int(lo)
        # hi is implied by the run watermark (bucket_es = bucket(ingest_es)
        # and wm is the max ingest_es committed this run) — no history scan
        hi = (int(wm) // RAW_SECONDS) * RAW_SECONDS
        m = int((hi - lo) // RAW_SECONDS) + 1
        prev = self.kf_state.read(spark)
        k_done_prev = int(self.kf_state.property("k_done", 0))
        if prev is not None and m <= k_done_prev:
            return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
        cover_min_step = (
            int(self.kf_state.property("idx0", 0)) if prev is not None else 0
        )
        cover_min = lo + cover_min_step * RAW_SECONDS

        if obs is not None:
            scan = obs
        elif cover_min_step > 0:
            # Incremental tier scan: with committed state, only steps inside
            # the resume window matter (the kernel re-emits [idx0, k_done)
            # from state and consumes >= k_done) — scanning the WHOLE series
            # history every run would make the per-run cost grow with total
            # history. Two metadata pruning levels before the scan: partition
            # (pday) and footer bucket_es max — a file whose newest bucket is
            # older than the resume window never opens.
            cut_day = _day(cover_min)
            scan = self.series.read(
                spark,
                where=lambda p: p.get("pday", "") >= cut_day,
                stats_where=lambda s: "bucket_es" not in s
                or int(s["bucket_es"][1]) >= cover_min,
            ).filter(F.col("bucket_es") >= F.lit(cover_min))
        else:
            scan = series_now if series_now is not None else self.series.read(spark)

        wide = _subseries_wide(scan, lo)
        if prev is not None:
            # FULL outer: a sub-series with state but no new rows must still
            # resume (gap-forecast to the new grid end and keep its state
            # current), and a brand-new sub-series cold-starts
            wide = wide.join(prev, "doc_id", "full")

        combined = kalman_gapfill_wide(
            wide, t_grid, self.kf_cfg, with_state=True
        ).persist()

        state_pool = ThreadPoolExecutor(1)
        try:
            # COMMIT ORDER IS LOAD-BEARING: output tier FIRST, state SECOND.
            # If the state commit (watermark_es/k_done advanced) landed
            # before the output commit and the process crashed in between,
            # _heal would see kf_state caught up and skip the gap re-run,
            # and the early return above (m <= k_done_prev) would refuse to
            # re-emit — the increment's gap-filled rows would be permanently
            # lost. With output-first, a crash leaves stale state and the
            # next run re-executes the same window idempotently (overwrite
            # replaces, never adds).
            #
            # The state WRITE (the expensive half: Spark job + footer
            # stats over the persisted `combined`) still overlaps the
            # output explode/stitch/write — only its manifest swap waits
            # for the gap commit. A crash in between leaves unreferenced
            # state files (remove_orphans reclaims them) and stale state.
            f_state = state_pool.submit(
                self.kf_state.stage_all,
                combined.select("doc_id", "k_done", "idx0", "m", "P"),
                None,  # partition_by
                2,  # coalesce: tiny table — one file beats 32 footer reads
            )
            rows = _gap_rows(combined, t_grid, lo)

            # stitch: the resume re-emits the overlap window; affected day
            # partitions get (old rows before the window) ∪ (re-emitted
            # rows). Incremental-cost discipline: the prior tier is read
            # ONLY through manifest-level pday pruning — the full-history
            # scans + duplicated explode subtree of the naive stitch were
            # the resume run's dominant cost (measured 2.6 s of a 4.2 s
            # stage).
            n_gap_parts = None
            if self.gap.manifest() is not None:
                # touched days from metadata-scale facts: each kernel row's
                # arrays are dense over [emit0, m), so the rows cover every
                # step from the smallest emit0 (0 when a sub-series
                # cold-starts) to the grid end — one min over the
                # ≤ sources × kf_shards persisted kernel rows, no explode
                e0 = combined.agg(F.min("emit0")).first()[0]
                touched = set()
                if e0 is not None:
                    first = lo + int(e0) * RAW_SECONDS
                    touched = {
                        _day(d * DAY_SECONDS)
                        for d in range(first // DAY_SECONDS, hi // DAY_SECONDS + 1)
                    }
                n_gap_parts = len(touched)
                out_cols = rows.columns
                cover_day = _day(cover_min)
                # re-emitted overlap steps carry refined phase/std but not
                # their historical innovation/gap flags (those belong to the
                # step's original update) — stitch back from the prior tier.
                # Overlap steps all sit at/after cover_day, and cold-start
                # docs have no prior rows at all → pruning is lossless.
                hist = self.gap.read(
                    spark, where=lambda p: p.get("pday", "") >= cover_day
                )
                if hist is not None:
                    hist = hist.select(
                        "source",
                        "shard",
                        "bucket_es",
                        F.col("innov").alias("_innov_old"),
                        F.col("gap_filled").alias("_gap_old"),
                    )
                    rows = (
                        rows.join(hist, ["source", "shard", "bucket_es"], "left")
                        .withColumn("innov", F.coalesce("innov", "_innov_old"))
                        .withColumn(
                            "gap_filled", F.coalesce("_gap_old", "gap_filled")
                        )
                        .select(*out_cols)
                    )
                # keep prior rows below the overlap window, but only in day
                # partitions this commit rewrites (cold-started sub-series
                # emit their full history, touching older days too)
                keep_src = self.gap.read(
                    spark,
                    where=lambda p: p.get("pday", "") in touched,
                    # only files that can hold rows below the overlap window
                    stats_where=lambda s: "bucket_es" not in s
                    or int(s["bucket_es"][0]) < cover_min,
                )
                if keep_src is not None:
                    keep_old = keep_src.filter(
                        F.col("bucket_es") < F.lit(cover_min)
                    ).select(*out_cols)
                    rows = keep_old.unionByName(rows)
            if series_commit is not None:
                series_commit.result()  # series commit lands before gap commit
            sid = self.gap.overwrite_partitions(
                rows,
                ["pday"],
                properties={"watermark_es": wm},
                coalesce=_write_tasks(spark, n_gap_parts),
                stats_cols=["bucket_es"],
            )
            n_rows = self.gap.last_commit_rows()
            # the state's idx0 is uniform across docs (grid-determined): L
            # kept params + last t_sep phases → idx0 = m − t_sep.
            # Gap commit has landed — NOW publish the staged state.
            self.kf_state.commit_staged(
                f_state.result(),
                properties={
                    "grid_lo": lo,
                    "k_done": m,
                    "idx0": max(0, m - self.kf_cfg.t_sep),
                    "watermark_es": wm,
                },
            )
        finally:
            state_pool.shutdown(wait=True)
            combined.unpersist()
        self.log.record("tier_gapfilled", sid, wm, self.gap.manifest()["files"], n_rows)
        return {"n_rows": n_rows, "snapshot_id": sid}

    # ---------------------------------------------------------- restatement
    def correct_raw(self, spark: SparkSession, corrections: DataFrame) -> dict:
        """Late-data restatement: upsert corrected raw buckets (keyed by
        (source, bucket_es)) into the raw tier and recompute the derived
        1h/1d/compressed partitions of the affected days from the
        corrected raw tier.

        This is the correction path the append-only watermark contract
        cannot serve: a bucket whose value was wrong after ingest (late
        backfill, upstream restatement) must REPLACE its row — an append
        would double-count, and a full recompute would rescan history.
        Cost is partition-sized: only the touched pday partitions rewrite
        (copy-on-write upsert), and only those days' derived tiers
        recompute. The ingest watermark is preserved by property
        inheritance, so the next incremental run is unaffected.

        The KF gap-filled tier is NOT restated here: a raw-level
        (source, bucket) correction cannot be attributed to the KF
        stage's (source, doc-hash shard) sub-series without the
        underlying documents. Use :meth:`correct_docs` — the
        document-level restatement — when the pipeline runs with
        gap-fill; it derives BOTH tiers' corrections from the corrected
        documents and cold-rebuilds exactly the affected sub-series.
        """
        cor = corrections
        if "max_ies" not in cor.columns:
            # raw files carry a max_ies stats column; corrected buckets
            # keep the watermark axis consistent without advancing it
            cor = cor.withColumn("max_ies", F.col("bucket_es").cast("long"))
        cor = cor.withColumn("pday", _pday())
        sid = self.raw.upsert(
            spark,
            cor,
            key_cols=["source", "bucket_es"],
            partition_by=["pday"],
            coalesce=_write_tasks(spark),
            stats_cols=["max_ies"],
        )
        wm = int(self.raw.property("watermark_es", -1))
        days = self.raw.last_commit_partitions("pday")
        self.log.record(
            "tier_raw_restate", sid, wm, self.raw.manifest()["files"],
            self.raw.last_commit_rows(),
        )
        drows, dsids = self._derive_tiers(spark, days, wm)
        return {
            "status": "restated",
            "watermark_es": wm,
            "days": days,
            "rows": drows,
            "snapshots": {"raw": sid, **dsids},
        }

    def correct_docs(self, spark: SparkSession, docs: DataFrame) -> dict:
        """Document-level restatement: ``docs`` (base-table schema: doc_id,
        n_tok, source, ingest_es) REPLACES the full document content of
        every raw bucket it touches. From the corrected documents this
        derives, in one pass over the (tiny) correction frame:

        - the raw-tier corrections (shard-partial merge — the same
          two-stage aggregation as ingest) → :meth:`correct_raw` upserts
          them and recomputes the affected days' 1h/1d/compressed tiers;
        - the series-tier corrections at (source, shard, bucket) → upsert
          keyed on (source, bucket_es), i.e. WHOLESALE replacement of the
          corrected buckets' shard rows (a shard whose docs vanished from
          the bucket must lose its row, not keep a stale one);
        - the affected (source, shard) sub-series — the union of shards
          present at the corrected buckets before OR after the upsert —
          whose Kalman recursions are then cold-rebuilt from the restated
          series (:meth:`_rebuild_gapfill`). Untouched sub-series keep
          their rows and state bit-for-bit.

        Cost discipline at scale: the correction frame is metadata-sized,
        tier rewrites are partition-granular copy-on-write, and the KF
        rebuild runs only |affected pairs| ≤ sources × kf_shards
        sub-series over the committed grid — never the whole tier.
        """
        docs = docs.persist()
        try:
            partial = rollup_series_partial(
                docs, self.kf_shards, with_max_ingest=True
            )
            raw_cor = merge_shard_partials(partial, with_max_ingest=True)
            res = self.correct_raw(spark, raw_cor)
            if not self.run_gapfill:
                return res
            ser_cor = partial.select(
                "source", "shard", "bucket_es", "sum_tok", "n_docs"
            ).withColumn("pday", _pday())
            keys = ser_cor.select("source", "bucket_es").distinct()
            cur = self.series.read(spark)
            pairs_df = ser_cor.select("source", "shard").distinct()
            if cur is not None:
                old_pairs = (
                    cur.join(keys, ["source", "bucket_es"])
                    .select("source", "shard")
                    .distinct()
                )
                pairs_df = pairs_df.union(old_pairs).distinct()
            # ≤ sources × kf_shards rows — metadata-scale by construction
            pairs = [(r.source, int(r.shard)) for r in pairs_df.collect()]
            n_src = len({s for s, _ in pairs})
            if len(pairs) > max(1, n_src) * self.kf_shards:
                # production-path invariant — a bare assert is stripped
                # under python -O, silently disabling this guard
                raise RuntimeError(
                    f"correct_docs collected {len(pairs)} (source, shard) "
                    f"pairs for {n_src} sources × kf_shards="
                    f"{self.kf_shards}; the driver-side collect is only "
                    "safe at metadata scale — if shard cardinality grew, "
                    "keep the rebuild set distributed"
                )
            sid_s = self.series.upsert(
                spark,
                ser_cor,
                key_cols=["source", "bucket_es"],
                partition_by=["pday"],
                coalesce=_write_tasks(spark),
                stats_cols=["bucket_es"],
            )
            self.log.record(
                "tier_series_restate",
                sid_s,
                int(self.series.property("watermark_es", -1)),
                self.series.manifest()["files"],
                self.series.last_commit_rows(),
            )
            n_reb = self._rebuild_gapfill(spark, pairs)
            res["rebuilt_subseries"] = len(pairs)
            res["rows"]["gap_rebuilt"] = n_reb
            return res
        finally:
            docs.unpersist()

    def _rebuild_gapfill(self, spark: SparkSession, pairs: list) -> int:
        """Cold-rebuild the KF gap-fill for the given (source, shard)
        sub-series from the restated series tier over the COMMITTED grid
        [grid_lo, k_done): fresh state (no init), full-history re-emit,
        copy-on-write upsert into the gap tier keyed on (source, shard),
        and a state-table row replacement for exactly those docs. The
        watermark/grid properties are inherited unchanged — a correction
        never advances ingest progress.

        (Reference analog: restating consumed history is impossible in
        update mode, kfts.py:252-330 — the reference would re-run the
        whole stack; here the rebuild is confined to the sub-series the
        correction actually touched.)
        """
        import numpy as np

        lo = self.kf_state.property("grid_lo")
        if lo is None or not pairs:
            return 0
        lo = int(lo)
        m = int(self.kf_state.property("k_done", 0))
        if m <= 0:
            # no committed gap-fill grid (run_gapfill disabled, or a crash
            # before the first state publish): nothing to restate
            return 0
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
        keys = [f"{s}/{sh}" for s, sh in pairs]
        # series rows at/after lo + m steps were ingested after the last
        # gap-fill commit (or sit in the series-vs-state crash window) —
        # they are outside the committed grid and would scatter past the
        # kernel's dense buffer
        hi = lo + m * RAW_SECONDS
        ser = (
            self.series.read(spark)
            .filter(F.concat_ws("/", "source", "shard").isin(keys))
            .filter(F.col("bucket_es") < F.lit(hi))
        )
        combined = kalman_gapfill_wide(
            _subseries_wide(ser, lo), t_grid, self.kf_cfg, with_state=True
        ).persist()
        try:
            rows = _gap_rows(combined, t_grid, lo)
            sid = self.gap.upsert(
                spark,
                rows,
                key_cols=["source", "shard"],
                partition_by=["pday"],
                coalesce=_write_tasks(spark),
                stats_cols=["bucket_es"],
            )
            n_rows = self.gap.last_commit_rows()
            new_state = combined.select("doc_id", "k_done", "idx0", "m", "P")
            st = self.kf_state.read(spark)
            if st is not None:
                new_state = st.filter(~F.col("doc_id").isin(keys)).unionByName(
                    new_state
                )
            self.kf_state.overwrite_all(new_state, coalesce=2)
        finally:
            combined.unpersist()
        self.log.record(
            "tier_gapfilled_rebuild",
            sid,
            int(self.gap.property("watermark_es", -1)),
            self.gap.manifest()["files"],
            n_rows,
        )
        return n_rows

    # ---------------------------------------------------------- maintenance
    def maintain(
        self,
        spark: SparkSession,
        keep_snapshots: int = 2,
        orphan_grace_seconds: float = 86400.0,
        compact_target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Periodic table maintenance across every tier — the job a real
        deployment schedules nightly (Iceberg: rewrite_data_files +
        expire_snapshots + remove_orphan_files):

        1. ``compact``: bin-pack the small files each incremental commit
           leaves behind (scan cost grows with file count, not bytes);
        2. ``vacuum``: expire snapshots beyond ``keep_snapshots``,
           deleting data files only they referenced (time travel remains
           valid for the kept window);
        3. ``remove_orphans``: reclaim failed-commit debris older than
           the grace window (files no manifest references — including
           state files staged by a crashed two-phase commit).

        Safe under the resume contract: all three only touch files that
        are either unreferenced or superseded; the current snapshot and
        its properties (watermarks) are never modified."""
        tables = {
            "raw": self.raw, "1h": self.h1, "1d": self.d1,
            "compressed": self.comp, "series": self.series,
            "gapfilled": self.gap, "state": self.kf_state,
        }
        report: dict = {}
        for name, t in tables.items():
            c = t.compact(spark, target_bytes=compact_target_bytes)
            v = t.vacuum(keep_last=keep_snapshots)
            o = t.remove_orphans(older_than_seconds=orphan_grace_seconds)
            report[name] = {
                "compacted_files": c.get("files_before", 0),
                "expired_snapshots": v.get("removed_snapshots", 0),
                "removed_files": v.get("removed_files", 0)
                + o.get("removed_files", 0),
            }
        return report

    # ------------------------------------------------------------ retention
    def expire_raw_before(self, cutoff_es: int) -> int:
        """Retention: drop raw partitions strictly older than the cutoff day.
        Metadata-only delete; 1h/1d tiers keep the downsampled history."""
        cut = _day(cutoff_es)
        return self.raw.drop_partitions(
            lambda p: p.get("pday", "") < cut,
            properties={"retention_cutoff": cut},
        )

    # ------------------------------------------------------------- reads
    def read_tier(self, spark: SparkSession, tier: str, snapshot_id: int | None = None):
        tbl = {
            "raw": self.raw,
            "1h": self.h1,
            "1d": self.d1,
            "compressed": self.comp,
            "series": self.series,
            "gapfilled": self.gap,
            "state": self.kf_state,
        }[tier]
        if tier == "compressed":
            # version-gate the manifest actually being read: a time-travel
            # read of a pre-upgrade snapshot must fail the same way a
            # current read of a pre-upgrade table does (the CURRENT
            # property says nothing about an older snapshot's files)
            m = tbl.manifest(snapshot_id)
            if m is not None:
                fmt = m.get("properties", {}).get("codec_format")
                if fmt is None or int(fmt) != CODEC_FORMAT:
                    raise ValueError(
                        f"compressed tier at {tbl.path} (snapshot "
                        f"{m.get('snapshot_id')}) has codec_format={fmt!r}, "
                        f"engine expects v{CODEC_FORMAT}; chunks of another "
                        "wire format would decode to garbage — "
                        "re-materialize the tier (re-run the pipeline over "
                        "the raw tier) before reading it"
                    )
        return tbl.read(spark, snapshot_id)
