#!/usr/bin/env python3
"""spark-submit entrypoint: the reference CLI re-expressed for the
distributed pipeline.

Reference CLI (/root/reference/src/stream.py:258-292):
  python -m src.stream --data tokens.json --mode baseline --alpha 0.01
      --window 5000 --warmup 200 --no-calib --adwin-delta 0.002
      --seed 20250819 --labels labels.json --summary-out summary.csv

This job accepts the same knobs plus the table-world inputs:

  spark-submit --driver-memory 2g --py-files log_project_spark.zip jobs/run_pipeline.py \
      --transcripts /path/to/transcripts_parquet \
      --mode baseline --alpha 0.01 --window 5000 --warmup 200 \
      --out-dir /path/sinks --checkpoint-root /path/ckpt \
      --summary-out /path/summary.csv

or, for reference-artifact compatibility,
      --tokens-json data/synth_tokens.json --labels-json data/synth_labels.json

Package with: scripts/build_pyfiles.sh (writes dist/log_project_spark.zip)
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="transcript anomaly pipeline")
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--transcripts", help="parquet dir of (conv_id, turn_idx, role, text, tool, ts)")
    src.add_argument("--tokens-json", help="reference tokens JSON (list[list[str]])")
    src.add_argument("--synth-rows", type=int, help="generate a deterministic synthetic table of N turns")
    ap.add_argument("--labels-json", default="", help="reference labels JSON (list[int])")
    ap.add_argument("--mode", choices=["baseline", "transformer", "len"], default="baseline")
    ap.add_argument("--alpha", type=float, default=0.01)
    ap.add_argument("--window", type=int, default=5000)
    ap.add_argument("--warmup", type=int, default=200)
    ap.add_argument("--no-calib", dest="no_calib", action="store_true")
    ap.add_argument("--adwin-delta", type=float, default=0.002)
    ap.add_argument("--no-drift", action="store_true", help="run with no drift detector")
    ap.add_argument(
        "--contam", type=float, default=0.01,
        help="accepted for reference-CLI parity; has no effect (the score is "
        "-score_samples, which contamination does not change)",
    )
    ap.add_argument("--seed", type=int, default=20250819)
    ap.add_argument("--scope", choices=["conv_id", "global"], default="conv_id")
    ap.add_argument("--out-dir", default="", help="fan-out sink root (anomalous/drifting/nominal)")
    ap.add_argument("--checkpoint-root", default="", help="resumable stage checkpoint root")
    ap.add_argument("--summary-out", dest="summary_out", default="")
    ap.add_argument(
        "--check-summary", action="store_true",
        help="after append, validate the whole summary ledger against the "
        "reference CI gate (scripts/check_summary.py: p95<=p99, TPR "
        "numeric-or-NA policy); exits non-zero on violation",
    )
    ap.add_argument("--scores-out", default="", help="per-event scores CSV trace")
    ap.add_argument("--sleep-ms", type=float, default=0.0, help="per-event pacing simulation")
    ap.add_argument(
        "--figures-out", default="",
        help="render the reference's summary bar charts (SVG) into this dir",
    )
    ap.add_argument(
        "--master", default="",
        help="override master (default: spark-submit's --master, else "
        "local[$SPARK_GRAFT_CPUS], else one local slot per core)",
    )
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import functions as F

    from log_project_spark import synth
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators import route
    from log_project_spark.pipeline import run_pipeline, summary_from_result
    from log_project_spark.session import get_spark
    from log_project_spark.sources import formats

    spark = get_spark(app_name="run_pipeline", master=args.master or None)

    if args.transcripts:
        df = spark.read.parquet(args.transcripts)
        dataset = args.transcripts.rstrip("/").rsplit("/", 1)[-1]
    elif args.tokens_json:
        base = formats.read_tokens_json(spark, args.tokens_json)
        labels = formats.read_labels_json(spark, args.labels_json) if args.labels_json else None
        if labels is not None:
            base = base.join(labels, "event_idx", "left")
        # reference artifacts are one global stream: map onto the
        # transcript schema as a single conversation
        df = base.select(
            F.lit("conv0").alias("conv_id"),
            F.col("event_idx").cast("int").alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit("NA").alias("tool"),
            F.lit("2025-08-19 10:00:00").cast("timestamp").alias("ts"),
            *([F.col("label")] if labels is not None else []),
        )
        dataset = args.tokens_json.rstrip("/").rsplit("/", 1)[-1].replace(".json", "")
        args.scope = "global"
    else:
        df = synth.transcripts(spark, args.synth_rows, seed=args.seed)
        dataset = f"synth_{args.synth_rows}"

    cfg = PipelineConfig(
        alpha=args.alpha,
        window=args.window,
        warmup=args.warmup,
        calibration="no_calib" if args.no_calib else "conformal",
        scope=args.scope,
        drift_detector="none" if args.no_drift else "adwin",
        adwin_delta=args.adwin_delta,
        mode=args.mode,
        seed=args.seed,
        sleep_ms=args.sleep_ms,
    )
    res = run_pipeline(
        spark,
        df,
        cfg,
        out_dir=args.out_dir or None,
        checkpoint_root=args.checkpoint_root or None,
        dataset_name=dataset,
    )
    print(f"[run_pipeline] metrics: {res.metrics}", file=sys.stderr)
    for m in res.stage_manifests:
        print(f"[run_pipeline] stage {m['stage']}: rows={m['rows']} wall={m['wall_seconds']}s", file=sys.stderr)

    if args.summary_out:
        formats.append_summary_csv(
            summary_from_result(spark, res, cfg, dataset), args.summary_out
        )
        if args.check_summary:
            from log_project_spark import reporting

            ledger = spark.read.option("header", True).csv(args.summary_out)
            try:
                reporting.check_summary(ledger)
            except ValueError as e:
                raise SystemExit(f"[run_pipeline] {e}") from e
            print("[run_pipeline] summary ledger check: OK", file=sys.stderr)
    elif args.check_summary:
        raise SystemExit("--check-summary requires --summary-out")
    if args.scores_out:
        # with --out-dir the sinks already hold every scored row: read
        # them back rather than execute the scored plan a second time
        scored = route.read_fanout(spark, args.out_dir, res.sink_paths)
        if scored is None:
            scored = res.scored
        trace = scored.withColumn("event_idx", F.col("turn_idx").cast("long"))
        formats.write_scores_csv(trace, args.scores_out)
    if args.figures_out:
        if not args.summary_out:
            raise SystemExit("--figures-out requires --summary-out")
        from log_project_spark import figures

        summary_df = spark.read.option("header", True).csv(args.summary_out)
        paths = figures.make_plots(summary_df, args.figures_out)
        print(f"[run_pipeline] figures: {paths}", file=sys.stderr)


if __name__ == "__main__":
    main()
