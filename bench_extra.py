#!/usr/bin/env python3
"""Round-6 optimization measurement harness (bench.py is FROZEN; extra
benchmarks live here per the optimization-round contract).

Subcommands:
  headline [SF_DIR] [PASSES]   -- per-query walls, run_headline methodology
                                  (fn + count, best-of-K, warm-up action)
  noop [SF_DIR] [PASSES]       -- per-query walls with the noop sink
                                  (computes EVERY column; guide §1.4)
  plans OUT_DIR [SF_DIR]       -- explain("formatted") for every headline
                                  query into OUT_DIR/<q>_{suffix}.txt
  phases [SF_DIR]              -- phase breakdown for iforest_scores and
                                  flagship_route (fit wall vs score wall)

Env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import HEADLINE  # noqa: E402  (frozen list, reused read-only)


def _spark(cpus: int):
    from log_project_spark.session import get_spark

    return get_spark(
        app_name="bench_extra", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 16)
    )


def _warm(spark, sf_dir):
    from pyspark.sql import functions as F

    warm = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    warm.groupBy(F.crc32(F.col("text").cast("binary")) % 7).count().collect()


def cmd_headline(sf_dir: str, passes: int, noop: bool) -> None:
    import __spark_entry__ as entry_mod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    queries = entry_mod.queries()
    _warm(spark, sf_dir)
    out = {}
    for name in HEADLINE:
        fn = queries[name]
        walls = []
        for _ in range(passes):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            walls.append(round(time.perf_counter() - t0, 4))
        out[name] = {"min": min(walls), "walls": walls}
        print(f"[extra] {name}: {walls}", file=sys.stderr)
    total = round(sum(v["min"] for v in out.values()), 3)
    print(json.dumps({"mode": "noop" if noop else "count", "sf_dir": sf_dir,
                      "total_min": total,
                      "queries": {k: v["min"] for k, v in out.items()},
                      "walls": {k: v["walls"] for k, v in out.items()}}))
    spark.stop()


def cmd_plans(out_dir: str, sf_dir: str, suffix: str) -> None:
    import __spark_entry__ as entry_mod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    queries = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"[plans] wrote {name}_{suffix}.txt", file=sys.stderr)
    spark.stop()


def cmd_phases(sf_dir: str) -> None:
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators import parse as parse_ops
    from log_project_spark.operators import route as route_ops
    from log_project_spark.operators import scoring
    from log_project_spark.operators.calibrate import calibrate

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    _warm(spark, sf_dir)
    res = {}

    # --- iforest_scores phases ---
    for tag in ("cold", "warm"):
        t0 = time.perf_counter()
        parsed = entry_mod._parsed_docs(spark, sf_dir)
        cfg = PipelineConfig(mode="baseline", iso_n_estimators=100)
        t_build = time.perf_counter()
        profile = (
            parsed.groupBy("norm_text")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("norm_text"))
            .limit(cfg.fit_sample_rows)
            .toPandas()
        )
        t_profile = time.perf_counter()
        import numpy as np

        from log_project_spark.iforest import fit_text_anomaly_model

        texts = profile["norm_text"].astype(str).tolist()
        weights = profile["n"].to_numpy(dtype=np.float64)
        model = fit_text_anomaly_model(
            texts, weights=weights,
            n_estimators=cfg.iso_n_estimators, max_samples=cfg.iso_max_samples,
            seed=cfg.seed,
        )
        t_fit = time.perf_counter()
        scored = scoring.with_iforest_score(parsed, model).select("doc_id", "score")
        scored.count()
        t_score = time.perf_counter()
        res[f"iforest_{tag}"] = {
            "n_distinct_texts": len(texts),
            "profile_query_s": round(t_profile - t_build, 3),
            "driver_fit_s": round(t_fit - t_profile, 3),
            "score_pass_s": round(t_score - t_fit, 3),
            "total_s": round(t_score - t0, 3),
        }

    # --- flagship_route phases ---
    for tag in ("cold", "warm"):
        t0 = time.perf_counter()
        parsed = entry_mod._parsed_docs(spark, sf_dir)
        scored = scoring.with_len_score(parsed, text_col="norm_text")
        cfg = PipelineConfig(calibration="no_calib", warmup=200, alpha=0.01,
                             drift_detector="none")
        calibrated = calibrate(scored, cfg, group_keys=[], order_cols=("doc_id",))
        n = (
            route_ops.with_sink(calibrated)
            .groupBy("sink").agg(F.count(F.lit(1)).alias("n"))
        ).count()
        res[f"flagship_{tag}"] = {"total_s": round(time.perf_counter() - t0, 3), "rows": n}

    # parse-only wall for reference
    t0 = time.perf_counter()
    entry_mod._parsed_docs(spark, sf_dir).select(
        "doc_id", F.size("tokens").alias("nt")
    ).write.format("noop").mode("overwrite").save()
    res["parse_docs_noop_s"] = round(time.perf_counter() - t0, 3)

    print(json.dumps(res, indent=1))
    spark.stop()


def cmd_allq(sf_dir: str, passes: int) -> None:
    """Time EVERY declared query (gate pool), not just the headline
    subset — best-of-K fn()+count() walls."""
    import __spark_entry__ as entry_mod

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _spark(cpus)
    queries = entry_mod.queries()
    _warm(spark, sf_dir)
    skip = set(filter(None, os.environ.get("ALLQ_SKIP", "").split(",")))
    only = set(filter(None, os.environ.get("ALLQ_ONLY", "").split(",")))
    out = {}
    for name, fn in queries.items():
        if name in skip or (only and name not in only):
            continue
        walls = []
        for _ in range(passes):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.count()
            walls.append(round(time.perf_counter() - t0, 4))
        out[name] = min(walls)
        print(f"[allq] {name}: {walls}", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "total_min": round(sum(out.values()), 3),
                      "queries": out}))
    spark.stop()


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "headline"
    sf_env = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if cmd in ("headline", "noop"):
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else sf_env
        passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2
        cmd_headline(sf_dir, passes, noop=(cmd == "noop"))
    elif cmd == "plans":
        out_dir = sys.argv[2]
        sf_dir = sys.argv[3] if len(sys.argv) > 3 else sf_env
        suffix = sys.argv[4] if len(sys.argv) > 4 else "before"
        cmd_plans(out_dir, sf_dir, suffix)
    elif cmd == "allq":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else sf_env
        passes = int(sys.argv[3]) if len(sys.argv) > 3 else 2
        cmd_allq(sf_dir, passes)
    elif cmd == "phases":
        sf_dir = sys.argv[2] if len(sys.argv) > 2 else sf_env
        cmd_phases(sf_dir)
    else:
        raise SystemExit(f"unknown subcommand {cmd}")


if __name__ == "__main__":
    main()
