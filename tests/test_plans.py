"""Physical-plan shape assertions: the scale-path properties the
engine promises (broadcast joins, parquet pushdown/pruning, native
codegen parse, two-phase salted aggregation) must be visible in
`explain`, not just hoped for."""

import re

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_project_spark import synth
from log_project_spark.operators import aggregate as agg
from log_project_spark.operators import enrich as enrich_ops
from log_project_spark.operators import parse as parse_ops

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _broadcast_sources(plan: str) -> list[str]:
    """The child operator of each BroadcastExchange in `plan`."""
    return re.findall(r"BroadcastExchange [^\n]*\n[ :|]*\+- (?:\*\(\d+\) )?(\w+)", plan)


def test_enrich_uses_broadcast_hash_join(spark):
    t = synth.transcripts(spark, 100, n_convs=5)
    out = enrich_ops.enrich_roles_tools(t, synth.role_dim(spark), synth.tool_dim(spark))
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # the dims are driver-local relations: broadcasting them runs no
    # Python-worker tasks
    assert "Scan ExistingRDD" not in plan
    assert _broadcast_sources(plan) == ["LocalTableScan", "LocalTableScan"], plan

    role, tool = synth.role_dim(spark), synth.tool_dim(spark)
    assert role.schema == T.StructType.fromDDL(
        "role string, role_group string, is_automated int"
    )
    assert tool.schema == T.StructType.fromDDL(
        "tool string, tool_family string, risk_tier int"
    )
    assert all(f.nullable for f in role.schema.fields + tool.schema.fields)
    assert [tuple(r) for r in role.collect()] == [
        ("user", "human", 0),
        ("assistant", "model", 1),
        ("tool", "automation", 1),
        ("system", "control", 1),
    ]
    assert [tuple(r) for r in tool.collect()] == [
        ("search", "retrieval", 1),
        ("browser", "retrieval", 2),
        ("python", "execution", 3),
        ("bash", "execution", 3),
        ("calculator", "compute", 1),
        ("sql", "data", 2),
        ("editor", "workspace", 2),
        ("mailer", "external", 3),
        ("NA", "none", 0),
    ]

    # no pandas/Arrow fallback: still local with Arrow conversion off
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        off = _plan(enrich_ops.enrich_roles_tools(
            t, synth.role_dim(spark), synth.tool_dim(spark)
        ))
    finally:
        spark.conf.set(key, prev)
    assert "Scan ExistingRDD" not in off
    assert _broadcast_sources(off) == ["LocalTableScan", "LocalTableScan"], off


def test_parquet_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the needed columns in ReadSchema
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:300]


def test_parse_stage_stays_jvm_side(spark):
    """Parse is a pure Project over the scan — codegen-eligible, no
    Python eval nodes (with AQE the WholeStageCodegen wrapper only
    materializes at execution, so assert the plan shape instead)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(parse_ops.with_tokens(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # codegen'd operators print with a "*(stage)" prefix
    assert plan.lstrip().startswith("*(") or "WholeStageCodegen" in plan


def test_salted_agg_is_two_phase(spark):
    t = synth.transcripts(spark, 1000, n_convs=10)
    out = agg.salted_agg(t, ["conv_id"], [], "turn_idx", 8)
    opt = _optimized(out)
    # two Aggregate nodes: (keys+salt) partial then keys final; the
    # optimizer inlines the __salt__ alias into a grouping expression
    assert opt.count("Aggregate") >= 2
    assert "pmod(xxhash64" in opt


@pytest.mark.parametrize(
    "kernel", ["calibrate", "with_hash_embed_score", "with_transformer_calibrate"]
)
def test_kernel_single_shuffle(spark, kernel):
    """Every batch per-group kernel runs on calibrate.walk_groups: exactly
    one exchange (the repartition by group keys), a within-partition
    sort, and one MapInArrow — never a FlatMapGroupsInPandas. The output
    is the input's columns then the kernel's, with no `__scope__` key
    under either scope."""
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators import scoring
    from log_project_spark.operators.calibrate import calibrate

    t = parse_ops.with_tokens(synth.transcripts(spark, 500, n_convs=10))
    if kernel == "calibrate":
        # the input carries `score`, which keeps its position
        t = t.withColumn("score", F.length("text").cast("double"))
        run, added = calibrate, ["thr", "is_anom", "is_drift"]
    elif kernel == "with_hash_embed_score":
        run, added = scoring.with_hash_embed_score, ["score"]
    else:
        run, added = scoring.with_transformer_calibrate, ["score", "thr", "is_anom", "is_drift"]
    cfg = PipelineConfig(scope="conv_id", mode="transformer", drift_detector="none")
    out = run(t, cfg)
    plan = _plan(out)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    # SortExec prints "Sort [keys...], global, sortOrder" — the
    # `], false, 0` tail is the non-global (within-partition) form
    assert "Sort [conv_id" in plan and "], false, 0" in plan
    assert plan.count("MapInArrow") == 1 and "FlatMapGroupsInPandas" not in plan, plan
    assert out.columns == t.columns + added
    glob = run(t, PipelineConfig(scope="global", mode="transformer", drift_detector="none"))
    assert glob.columns == t.columns + added


def test_needed_cols_prunes_scan_and_exchange(spark, tmp_path):
    """needed_cols projection pushdown reaches the SCAN: Catalyst
    cannot prune columns through MapInArrow, so without the
    declaration the parquet ReadSchema carries every column; with it,
    unused columns (text, ts, label...) never leave the files and
    never enter the exchange."""
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.calibrate import calibrate

    path = str(tmp_path / "t")
    synth.transcripts(spark, 500, n_convs=10).write.parquet(path)
    t = spark.read.parquet(path).withColumn(
        "score", F.length("text").cast("double")
    )
    cfg = PipelineConfig(scope="conv_id", drift_detector="none")
    full_plan = _plan(calibrate(t, cfg))
    pruned_plan = _plan(calibrate(t, cfg, needed_cols=()))
    # the full-width plan ships every column; the pruned one must not
    # read or shuffle the dead payload columns
    assert "label" in full_plan
    assert "label" not in pruned_plan and "tool" not in pruned_plan
    # ... and still keeps the single-exchange kernel shape
    assert pruned_plan.count("Exchange hashpartitioning") == 1


def test_scored_route_counts_reuse_one_scan(spark):
    """sink_counts groups directly on the routing expression — no join
    back, no extra scan of the input."""
    from log_project_spark.operators import route as route_ops

    t = synth.transcripts(spark, 500, n_convs=10).withColumn(
        "score", F.length("text").cast("double")
    )
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.calibrate import calibrate

    counts = route_ops.sink_counts(calibrate(t, PipelineConfig(drift_detector="none")))
    plan = _plan(counts)
    assert plan.count("Range (") == 1  # single source traversal
