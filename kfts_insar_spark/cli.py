"""spark-submit entry point.

On a real cluster::

    python -m kfts_insar_spark.packaging          # builds the zip artifact
    spark-submit --py-files kfts_insar_spark_*.zip \\
        --master yarn --num-executors 250 \\
        -- $(python -c 'import kfts_insar_spark.cli as c; print(c.__file__)') \\
        pipeline --input s3://…/sequences --base s3://…/tiers

Locally (this sandbox)::

    python -m kfts_insar_spark.cli pipeline --n-docs 20000 --base /tmp/tiers
    python -m kfts_insar_spark.cli kalman --n-docs 5000
    python -m kfts_insar_spark.cli retention --base /tmp/tiers --days 1

The job reads the sequences table (parquet path or synthetic), runs the
watermark-resumable tier pipeline, and prints the per-stage metrics — the
operational surface of the engine (reference analogue: `python kfts.py -c
config.ini`, /root/reference/kfts.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="kfts_insar_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("pipeline", help="run the raw→1h→1d tier pipeline")
    pp.add_argument("--input", help="parquet path of the sequences table")
    pp.add_argument("--n-docs", type=int, default=20000, help="synthetic size")
    pp.add_argument("--base", required=True, help="tier tables base dir")

    kp = sub.add_parser("kalman", help="run the gap-fill kernel on a series")
    kp.add_argument("--input", help="parquet path of wide series")
    kp.add_argument("--n-docs", type=int, default=5000)
    kp.add_argument("--out", help="output parquet path")

    rp = sub.add_parser("retention", help="expire raw partitions older than N days")
    rp.add_argument("--base", required=True)
    rp.add_argument("--days", type=int, required=True)

    mp = sub.add_parser(
        "maintain", help="compact small files + expire old snapshots, all tiers"
    )
    mp.add_argument("--base", required=True)
    mp.add_argument("--keep-snapshots", type=int, default=2)
    mp.add_argument("--target-mb", type=int, default=128)

    tp = sub.add_parser(
        "readthrough",
        help="serve the continuous series routed across raw/1h/1d by age",
    )
    tp.add_argument("--base", required=True)
    tp.add_argument("--out", help="output parquet path (default: show count)")

    qp = sub.add_parser(
        "quality",
        help="in-loop check_fit gate over the committed series tier: "
        "per-sub-series misfit flags (reference check_fit, verbose mode)",
    )
    qp.add_argument("--base", required=True)

    args = p.parse_args(argv)

    from .session import get_spark

    spark = get_spark(app_name=f"kfts-{args.cmd}")

    if args.cmd == "pipeline":
        from .pipeline import TierPipeline
        from .synth import sequences

        seq = (
            spark.read.parquet(args.input) if args.input else sequences(spark, args.n_docs)
        )
        pipe = TierPipeline(args.base)
        res = pipe.run(spark, seq)
        print(json.dumps(res))
    elif args.cmd == "kalman":
        import numpy as np

        from .operators.kalman import KFConfig, kalman_gapfill_wide
        from .synth import series_wide

        ser = (
            spark.read.parquet(args.input)
            if args.input
            else series_wide(spark, args.n_docs)
        )
        t_grid = np.arange(92) * 12.0 / 365.25
        out = kalman_gapfill_wide(ser, t_grid, KFConfig())
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"written": args.out}))
        else:
            print(json.dumps({"rows": out.count()}))
    elif args.cmd == "retention":
        from .pipeline import TierPipeline

        pipe = TierPipeline(args.base)
        wm = int(pipe.raw.property("watermark_es", 0))
        sid = pipe.expire_raw_before(wm - args.days * 86400)
        print(json.dumps({"snapshot_id": sid}))
    elif args.cmd == "maintain":
        from .pipeline import TierPipeline

        pipe = TierPipeline(args.base)
        print(
            json.dumps(
                pipe.maintain(
                    spark,
                    keep_snapshots=args.keep_snapshots,
                    compact_target_bytes=args.target_mb * 1024 * 1024,
                )
            )
        )
    elif args.cmd == "quality":
        import dataclasses

        import numpy as np
        from pyspark.sql import functions as F

        from .operators.kalman import kalman_gapfill_wide, to_wide
        from .operators.rollup import DAY_SECONDS, RAW_SECONDS
        from .pipeline import TierPipeline

        pipe = TierPipeline(args.base)
        ser = pipe.read_tier(spark, "series")
        lo = int(pipe.kf_state.property("grid_lo", 0))
        m = int(pipe.kf_state.property("k_done", 0))
        if m <= 0 or ser is None:
            # no committed gap-fill grid yet (run_gapfill disabled, or a
            # crash before the first state publish) — nothing to score
            print(json.dumps({"subseries": 0, "flagged": 0, "worst": [],
                              "note": "no committed kalman grid (k_done=0)"}))
            spark.stop()
            return 0
        t_grid = np.arange(m) * (RAW_SECONDS / DAY_SECONDS)
        step = ((F.col("bucket_es") - F.lit(lo)) / RAW_SECONDS).cast("int")
        # series rows past the committed grid (ingested after the last
        # gap-fill commit, or the crash window between the series and
        # state publishes) lie outside the kernel's grid — clamp to [0, m)
        long = ser.select(
            F.concat_ws("/", "source", "shard").alias("doc_id"),
            step.alias("step"),
            F.col("sum_tok").alias("value"),
        ).filter((F.col("step") >= 0) & (F.col("step") < F.lit(m)))
        # this command IS the quality gate: enable it with the reference's
        # eps_interf default when the pipeline config leaves it off
        cfg = pipe.kf_cfg
        if cfg.check_eps is None:
            cfg = dataclasses.replace(cfg, check_eps=10.0)
        flags = kalman_gapfill_wide(to_wide(long), t_grid, cfg).select(
            "doc_id", "fit_flag", "fit_max"
        )
        bad = flags.filter("fit_flag")
        print(
            json.dumps(
                {
                    "subseries": flags.count(),
                    "flagged": bad.count(),
                    "worst": [
                        {"doc_id": r.doc_id, "fit_max": r.fit_max}
                        for r in bad.orderBy(F.desc("fit_max")).limit(5).collect()
                    ],
                }
            )
        )
    elif args.cmd == "readthrough":
        from pyspark.sql import functions as F

        from .operators.rollup import DAY_SECONDS, HOUR_SECONDS, TIER_COLS
        from .pipeline import TierPipeline

        pipe = TierPipeline(args.base)
        raw = pipe.read_tier(spark, "raw").select(*TIER_COLS)
        h1 = pipe.read_tier(spark, "1h").select(*TIER_COLS)
        d1 = pipe.read_tier(spark, "1d").select(*TIER_COLS)
        hi = raw.agg(F.max("bucket_es")).first()[0]
        c1 = (int(hi) // DAY_SECONDS) * DAY_SECONDS
        c2 = c1 - 4 * DAY_SECONDS
        pick = lambda df, tier, cond: df.filter(cond).select(  # noqa: E731
            F.lit(tier).alias("tier"), *TIER_COLS
        )
        out = (
            pick(raw, "raw", F.col("bucket_es") >= c1)
            .unionByName(
                pick(
                    h1,
                    "1h",
                    (F.col("bucket_es") >= c2) & (F.col("bucket_es") < c1),
                )
            )
            .unionByName(pick(d1, "1d", F.col("bucket_es") < c2))
        )
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"written": args.out}))
        else:
            print(json.dumps({"rows": out.count()}))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
