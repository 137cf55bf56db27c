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

1. catch-up: bring every table that a crashed run left behind raw's
   watermark up to it (metadata reads only when nothing lags);
2. probe: one emptiness check on the ingest rows past the watermark — a run
   with no new data returns ``noop`` here, before any plan, checkpoint or
   write is built;
3. raw commit: one scan of the increment, aggregated and written in one job.
   With gap-fill on, the increment's shard partials are the run's one
   checkpoint: raw, the series commit and a resumed kernel all read them;
4. catch-up again, now to the new watermark, through the same code as
   step 1: the derived tiers (1h, 1d and compressed side by side from the
   committed raw files of the days past their watermark), the series
   commit and the KF gap-fill run as concurrent chains. A kernel whose
   state sits at the partials' lower bound reads them, so it does not wait
   for the series commit; otherwise it reads the committed series tier.
   The gap commit rewrites only the gap files the resume window overlaps
   (footer ``bucket_es`` max at or past the window's start) and adds the
   new rows beside the rest.

The commit order stays raw → series → gap-filled → KF state (the gap commit
waits for the series commit, the state publish for the gap commit), so a
crash at any point leaves a prefix that the next run's catch-up completes.

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

        Catch-up, then one emptiness probe (a run without new data returns
        ``noop`` and writes nothing), then the raw commit, then the same
        catch-up to the new watermark; the commit order stays raw → series
        → gap-filled → state (module docstring, "Run structure")."""
        wm = int(self.raw.property("watermark_es", -1))
        # a crash between the raw commit and the downstream commits leaves
        # those tables behind raw's watermark; the increment below would
        # never bring them up, since raw already counts it as processed
        self._catch_up(spark, seq, wm)
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
        partial = None
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
                # next run's catch-up takes the bounded fallback scan in
                # _ingest_series.
                partial = rollup_series_partial(
                    fresh, self.kf_shards, with_max_ingest=True
                ).localCheckpoint(eager=False)
                merged = merge_shard_partials(partial, with_max_ingest=True)
            else:
                merged = rollup_raw(fresh, with_max_ingest=True)
            sid = self.raw.append(
                merged.withColumn("pday", _pday()),
                partition_by=["pday"],
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
            self.log.record("tier_raw", sid, new_wm, self.raw.last_commit_files)
            rows, sids = self._catch_up(spark, seq, new_wm, partial, wm)
            return {
                "status": "ok",
                "watermark_es": new_wm,
                "rows": {"raw": n_raw, **rows},
                "snapshots": {"raw": sid, **sids},
            }
        finally:
            if partial is not None:
                _release(partial)

    def _catch_up(
        self,
        spark: SparkSession,
        seq: DataFrame,
        wm: int,
        partial: DataFrame | None = None,
        wm_partial: int | None = None,
    ) -> tuple[dict, dict]:
        """Bring 1h/1d/compressed, the series tier and the KF gap-fill up to
        raw's committed watermark ``wm``; a table that already holds ``wm``
        is skipped. Returns the row counts and snapshot ids of the chains
        that ran, keyed as in :meth:`run`'s result.

        ``partial`` (with ``wm_partial``, the lower bound it was filtered
        at) is the run's checkpointed increment; the series commit and the
        kernel read it when their table sits at that bound.

        The derived tiers take the days of every current raw file that
        holds an ingest slot past the lowest of their watermarks (footer
        ``max_ies``; a file without stats counts): metadata only, so a
        vacuum or compact of raw cannot widen or lose the set, and right
        after a raw commit it is exactly the days that commit wrote. The
        chains run as concurrent Spark jobs, so their per-stage fixed costs
        (plan compile + commit) and their compute overlap."""
        if wm < 0:
            return {}, {}
        wm_tiers = min(
            int(t.property("watermark_es", -1)) for t in (self.h1, self.d1, self.comp)
        )
        days = []
        if wm_tiers < wm:
            days = sorted({
                e["partition"]["pday"]
                for e in self.raw.manifest()["files"]
                if "pday" in e["partition"]
                and ("max_ies" not in e.get("stats", {})
                     or int(e["stats"]["max_ies"][1]) > wm_tiers)
            })
        series_lags = self.run_gapfill and (
            int(self.series.property("watermark_es", -1)) < wm
        )
        gap_lags = self.run_gapfill and (
            int(self.kf_state.property("watermark_es", -1)) < wm
        )
        rows, sids = {}, {}
        if not (days or series_lags or gap_lags):
            return rows, sids
        with ThreadPoolExecutor(3) as ex:
            f_tiers = ex.submit(self._derive_tiers, spark, days, wm) if days else None
            f_series = (
                ex.submit(self._ingest_series, seq, wm, partial, wm_partial)
                if series_lags else None
            )
            if gap_lags:
                gres = ex.submit(
                    self._run_gapfill, spark, wm, partial, wm_partial, f_series
                ).result()
                rows["gapfilled"] = gres["n_rows"]
                sids["gapfilled"] = gres["snapshot_id"]
            if f_series:
                # a gap chain that returned early never read the series
                # commit's outcome: raise its failure here
                f_series.result()
            if f_tiers:
                drows, dsids = f_tiers.result()
                rows.update(drows)
                sids.update(dsids)
        return rows, sids

    def _ingest_series(
        self,
        seq: DataFrame,
        upto: int,
        partial: DataFrame | None = None,
        wm_partial: int | None = None,
    ) -> None:
        """Append the (source, shard, 300 s bucket) sub-series increment for
        ingest slots in (series watermark, upto] — idempotent per slot.

        ``partial`` (with ``wm_partial``, the lower bound it was filtered
        at) reuses the raw ingest's checkpointed shard partials (a
        ``localCheckpoint``) when the series watermark sits exactly at that
        bound — the normal path after a run's raw commit; no second base
        scan. Any other alignment (a series tier that a crashed run left
        behind) falls back to a bounded scan of ``seq``."""
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
            stats_cols=["bucket_es"],
        )
        self.log.record("tier_series", sid, upto, self.series.last_commit_files)

    def _derive_tiers(
        self, spark: SparkSession, days: list, wm: int
    ) -> tuple[dict, dict]:
        """Recompute the 1h/1d/compressed tiers for the affected ``days``
        and overwrite those partitions, from the committed raw files of
        those days (manifest-level FILE pruning with ``where=``: no
        full-tier scan, no per-day plan nodes). The same read serves
        the catch-up and a restatement."""
        dayset = set(days)
        # one frame of the affected raw days, shared by all three tiers
        raw_days = (
            self.raw.read(spark, where=lambda p: p.get("pday") in dayset)
            .select(*TIER_COLS)
            .persist()
        )

        def write(tbl, frame, props=None):
            sid = tbl.overwrite_partitions(
                frame.withColumn("pday", _pday()),
                ["pday"],
                properties={"watermark_es": wm, **(props or {})},
            )
            return sid, tbl.last_commit_rows(), tbl.last_commit_files

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
        self.log.record("tier_1h", sid_h, wm, files_h)
        self.log.record("tier_1d", sid_d, wm, files_d)
        self.log.record("tier_compressed", sid_c, wm, files_c)
        return (
            {"1h": n_h, "1d": n_d, "compressed": n_c},
            {"1h": sid_h, "1d": sid_d, "compressed": sid_c},
        )

    def _run_gapfill(
        self,
        spark: SparkSession,
        wm: int,
        partial: DataFrame | None = None,
        wm_partial: int | None = None,
        series_commit=None,
    ) -> dict:
        """Gap-fill the (source, shard) sub-series with the Kalman kernel.

        Scale shape (the round-1 review's top perf fix): per-(source, shard)
        doc-wide rows → ONE mapInArrow kernel execution emitting output AND
        resumable state together (persisted, so the two tier writes share
        it), grid bounds from committed metadata, parallelism 5 × kf_shards
        instead of 5.

        ``partial`` (with ``wm_partial``, the lower bound it was filtered
        at) holds the run's new series rows, the checkpointed shard
        partials. When the committed state sits at that bound the kernel
        reads them and nothing else: a resumed doc's loop consumes only
        steps at or after its ``k_done``, whose buckets lie past the
        committed watermark (so all their rows are in this increment), and a
        sub-series first seen in the increment has no earlier rows.
        Otherwise (cold start, a state that a crashed run left behind) the
        kernel reads the committed series tier from ``cover_min`` on.
        ``series_commit`` is the future of this run's series commit: the
        tier read and the gap commit wait for it, so commits land raw →
        series → gap → state.

        The gap commit is a file-level replace. The kernel re-emits every
        step at or after ``cover_min`` (the state's ``idx0``), so the prior
        files it changes are exactly those that hold such a step: the files
        whose footer ``bucket_es`` max is at or past ``cover_min``, plus any
        file without stats. One scan of that rewrite set gives the rows they
        keep (before ``cover_min``) and the historical innovation/gap flags
        of the re-emitted steps. The commit drops the rewrite set and adds
        the new files; every other file stays. A sub-series that cold-starts
        in a resumed run emits its whole history, so its early rows land as
        new files beside the untouched ones.

        When the gap tier already holds ``wm`` (a crash between the gap
        commit and the state publish), the kernel re-runs and only the state
        publishes.
        """
        import numpy as np

        lo = self.kf_state.property("grid_lo")
        resume = (
            partial is not None
            and lo is not None
            and int(self.kf_state.property("watermark_es", -1)) == wm_partial
        )
        if not resume:
            if series_commit is not None:
                series_commit.result()
            # existence from the manifest alone: building the scan DataFrame
            # costs a driver-side file-listing/py4j round trip
            m_series = self.series.manifest()
            if m_series is None or not m_series["files"]:
                return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
            # lo is the committed grid origin; only the very first run (no
            # state yet) derives it — from the manifest's footer stats when
            # every file carries them (zero Spark jobs), else from the scan
            if lo is None:
                stats = [
                    e.get("stats", {}).get("bucket_es") for e in m_series["files"]
                ]
                if all(s is not None for s in stats):
                    lo = min(int(s[0]) for s in stats)
        prev = self.kf_state.read(spark)
        idx0 = int(self.kf_state.property("idx0", 0)) if prev is not None else 0
        if resume:
            scan = partial
        else:
            # One tier scan, pruned at cover_min: the kernel re-emits
            # [idx0, k_done) from state and consumes >= k_done, so scanning
            # the WHOLE series history every run would make the per-run cost
            # grow with total history. Two metadata pruning levels before the
            # scan: partition (pday) and footer bucket_es max — a file whose
            # newest bucket is older than the window never opens. A cold
            # start has cover_min = lo and keeps every file; without lo yet
            # (a file without stats) the scan keeps every file and gives lo.
            cover_min = None if lo is None else int(lo) + idx0 * RAW_SECONDS
            cut_day = "" if cover_min is None else _day(cover_min)
            scan = self.series.read(
                spark,
                where=lambda p: p.get("pday", "") >= cut_day,
                stats_where=lambda s: cover_min is None
                or "bucket_es" not in s
                or int(s["bucket_es"][1]) >= cover_min,
            )
            if lo is None:
                lo = scan.agg(F.min("bucket_es")).first()[0]
            else:
                scan = scan.filter(F.col("bucket_es") >= F.lit(cover_min))
        lo = int(lo)
        cover_min = lo + idx0 * RAW_SECONDS
        # hi is implied by the run watermark (bucket_es = bucket(ingest_es)
        # and wm is the max ingest_es committed this run) — no history scan
        hi = (int(wm) // RAW_SECONDS) * RAW_SECONDS
        m = int((hi - lo) // RAW_SECONDS) + 1
        if prev is not None and m <= int(self.kf_state.property("k_done", 0)):
            return {"n_rows": 0, "snapshot_id": self.gap.current_snapshot_id()}
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)

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
            # the catch-up would see kf_state caught up and skip the gap
            # re-run, and the early return above (m <= k_done) would refuse
            # to re-emit — the increment's gap-filled rows would be permanently
            # lost. With output-first, a crash leaves the gap tier at wm and
            # the state behind it. The next run's catch-up re-runs the kernel
            # from that state and publishes ONLY the state: the window's gap
            # rows are committed already, and a second gap write would add
            # a second copy of the early rows of any sub-series born in the
            # window (they sit outside the rewrite set).
            #
            # The state WRITE (a Spark job + footer stats over the persisted
            # `combined`) overlaps the gap write; only its manifest swap
            # waits for the gap commit. A crash in between leaves
            # unreferenced state files (remove_orphans reclaims them) and
            # stale state.
            f_state = state_pool.submit(
                self.kf_state.stage_all,
                combined.select("doc_id", "k_done", "idx0", "m", "P"),
            )
            sid, files = self.gap.current_snapshot_id(), []
            if int(self.gap.property("watermark_es", -1)) < wm:
                rows = _gap_rows(combined, t_grid, lo)
                m_gap = self.gap.manifest()
                overlaps = lambda st: (  # noqa: E731
                    "bucket_es" not in st or int(st["bucket_es"][1]) >= cover_min
                )
                redo = [
                    e
                    for e in (m_gap or {}).get("files", [])
                    if "stats" not in e or overlaps(e["stats"])
                ]
                if redo:
                    out_cols = rows.columns
                    old = self.gap.read(
                        spark, snapshot_id=m_gap["snapshot_id"], stats_where=overlaps
                    ).select(*out_cols)
                    past = F.col("bucket_es") >= F.lit(cover_min)
                    # re-emitted overlap steps carry refined phase/std but
                    # not their historical innovation/gap flags (those
                    # belong to the step's original update) — stitch back
                    hist = old.filter(past).select(
                        "source",
                        "shard",
                        "bucket_es",
                        F.col("innov").alias("_innov_old"),
                        F.col("gap_filled").alias("_gap_old"),
                    )
                    rows = (
                        rows.join(hist, ["source", "shard", "bucket_es"], "left")
                        .withColumn("innov", F.coalesce("innov", "_innov_old"))
                        .withColumn("gap_filled", F.coalesce("_gap_old", "gap_filled"))
                        .select(*out_cols)
                    )
                    rows = old.filter(~past).unionByName(rows)
                if series_commit is not None:
                    series_commit.result()  # series commit lands before gap commit
                sid = self.gap.append(
                    rows,
                    partition_by=["pday"],
                    properties={"watermark_es": wm},
                    stats_cols=["bucket_es"],
                    replace=redo,
                )
                files = self.gap.last_commit_files
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
        self.log.record("tier_gapfilled", sid, wm, files)
        return {"n_rows": sum(e["rows"] for e in files), "snapshot_id": sid}

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

        Refused, before anything is written, while a derived tier lags raw
        (a run stopped after the raw commit): the restated days' tiers
        would carry raw's watermark, and the heal would then never derive
        the stopped increment's other days. With gap-fill on the same holds
        for the series tier, whose heal re-ingests the lagging window from
        the source on top of a restated bucket.
        """
        wm = int(self.raw.property("watermark_es", -1))
        derived = (self.h1, self.d1, self.comp) + (
            (self.series,) if self.run_gapfill else ()
        )
        lagging = [
            f"{os.path.basename(t.path)} watermark_es={w}"
            for t in derived
            if (w := int(t.property("watermark_es", -1))) < wm
        ]
        if lagging:
            raise ValueError(
                f"{', '.join(lagging)} behind the raw tier's watermark_es={wm} "
                "(a run stopped between the raw commit and the derived "
                "commits); run the pipeline first to heal them, then restate"
            )
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
            stats_cols=["max_ies"],
        )
        days = self.raw.last_commit_partitions("pday")
        self.log.record("tier_raw_restate", sid, wm, self.raw.last_commit_files)
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
        wm_gap = int(self.gap.property("watermark_es", -1))
        wm_state = int(self.kf_state.property("watermark_es", -1))
        if self.run_gapfill and wm_state < wm_gap:
            # the rebuild re-emits up to the state's k_done and replaces the
            # rebuilt sub-series' rows, so their rows in (k_done, wm_gap]
            # would be lost: the heal that follows publishes the state only
            raise ValueError(
                f"kf_state watermark_es={wm_state} lags the gap-filled tier's "
                f"watermark_es={wm_gap} (a run stopped between the gap commit "
                "and the state publish); run the pipeline first to publish "
                "the state, then restate"
            )
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
                stats_cols=["bucket_es"],
            )
            self.log.record(
                "tier_series_restate",
                sid_s,
                int(self.series.property("watermark_es", -1)),
                self.series.last_commit_files,
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
                stats_cols=["bucket_es"],
            )
            n_rows = self.gap.last_commit_rows()
            new_state = combined.select("doc_id", "k_done", "idx0", "m", "P")
            st = self.kf_state.read(spark)
            if st is not None:
                new_state = st.filter(~F.col("doc_id").isin(keys)).unionByName(
                    new_state
                )
            self.kf_state.overwrite_all(new_state)
        finally:
            combined.unpersist()
        self.log.record(
            "tier_gapfilled_rebuild",
            sid,
            int(self.gap.property("watermark_es", -1)),
            self.gap.last_commit_files,
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
