"""SemDeDup: brute-force reference parity (both keep rules), expr ==
arrow kernel parity, zero-vector semantics, partition invariance,
cluster-size guard, and shuffle discipline."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import semdedup as sd


CENTROIDS = None  # filled by fixture from the shared deterministic set


@pytest.fixture(scope="module")
def centroids():
    import __spark_entry__ as e

    return e._IVF_CENTROIDS


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")


def _ref_semdedup(rows, centroids, eps, keep):
    """Direct Python restatement of the documented dominance contract."""
    C = np.asarray(centroids, dtype=np.float64)
    clusters = {}
    for id_, v in rows:
        v = np.asarray(v, dtype=np.float64)
        d = C @ v
        b = int(np.argmax(d))  # first max index == strict-> fold
        n = float(np.linalg.norm(v))
        cs = round(float(d[b] / n), 6) if n != 0 else None
        clusters.setdefault(b, []).append((id_, v, cs, n))
    out = {}
    for b, items in clusters.items():
        if keep == "low":
            items.sort(key=lambda t: (t[2] is None, t[2] if t[2] is not None else 0.0, t[0]))
        else:
            items.sort(key=lambda t: (t[2] is None, -(t[2] if t[2] is not None else 0.0), t[0]))
        for j, (idj, vj, csj, nj) in enumerate(items):
            kept = 1
            for i in range(j):
                idi, vi, csi, ni = items[i]
                if csi is None or csj is None:
                    continue  # NULL sims/order: zero vectors never drop or get dropped
                if round(float(vi @ vj / (ni * nj)), 6) >= eps:
                    kept = 0
                    break
            out[idj] = (b, csj, kept)
    return out


def _result(df):
    return {r["vec_id"]: (r["cluster"], r["centroid_sim"], r["kept"]) for r in df.collect()}


@pytest.mark.parametrize("keep", ["low", "high"])
def test_reference_parity(spark, emb, centroids, keep):
    rows = [(r["vec_id"], list(r["embedding"])) for r in emb.collect()]
    want = _ref_semdedup(rows, centroids, 0.35, keep)
    got = _result(sd.semdedup(emb, centroids, eps=0.35, keep=keep, impl="arrow"))
    assert got == want
    assert 0 < sum(k for _, _, k in got.values()) < len(got)  # non-trivial decision


def test_expr_pandas_parity(spark, emb, centroids):
    a = _result(sd.semdedup(emb, centroids, eps=0.35, impl="expr"))
    b = _result(sd.semdedup(emb, centroids, eps=0.35, impl="arrow"))
    assert a == b


def test_keep_high_keeps_closest_to_centroid(spark, emb, centroids):
    """The two keep rules pick different representatives: in any cluster
    with drops, the kept set under 'high' has a higher max centroid_sim
    ordering bias; concretely the decisions must differ somewhere."""
    lo = _result(sd.semdedup(emb, centroids, eps=0.35, keep="low", impl="arrow"))
    hi = _result(sd.semdedup(emb, centroids, eps=0.35, keep="high", impl="arrow"))
    assert lo != hi
    # same duplicate mass either way: identical per-cluster drop counts is
    # NOT guaranteed by the dominance rule, but total assignment is stable
    assert {k: v[0] for k, v in lo.items()} == {k: v[0] for k, v in hi.items()}


@pytest.mark.parametrize("keep", ["low", "high"])
def test_zero_vector_never_dropped_never_drops(spark, centroids, keep):
    dim = len(centroids[0])
    base = [0.5] * dim
    rows = [
        (1, base),
        (2, base),  # exact dup of 1 -> one of them must drop
        (3, [0.0] * dim),  # zero vector
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows], "vec_id: long, embedding: array<float>"
    )
    got = _result(sd.semdedup(df, centroids, eps=0.9, keep=keep, impl="arrow"))
    assert got[3][1] is None and got[3][2] == 1  # NULL sim, kept
    assert {got[1][2], got[2][2]} == {0, 1}  # exactly one of the dups survives
    expr = _result(sd.semdedup(df, centroids, eps=0.9, keep=keep, impl="expr"))
    assert expr == got


def test_partition_invariance(spark, emb, centroids):
    a = _result(sd.semdedup(emb, centroids, eps=0.35, impl="arrow"))
    b = _result(sd.semdedup(emb.repartition(13), centroids, eps=0.35, impl="arrow"))
    c = _result(sd.semdedup(emb.coalesce(1), centroids, eps=0.35, impl="arrow"))
    assert a == b == c


def test_validation_and_guard(spark, emb, centroids):
    with pytest.raises(ValueError, match="eps"):
        sd.semdedup(emb, centroids, eps=0.0)
    with pytest.raises(ValueError, match="keep"):
        sd.semdedup(emb, centroids, eps=0.5, keep="mid")
    with pytest.raises(ValueError, match="impl"):
        sd.semdedup(emb, centroids, eps=0.5, impl="rdd")
    with pytest.raises(ValueError, match="centroids"):
        sd.semdedup(emb, [], eps=0.5)
    with pytest.raises(Exception, match="max_cluster_rows"):
        sd.semdedup(emb, centroids, eps=0.35, impl="arrow", max_cluster_rows=10).collect()


@pytest.mark.parametrize("keep", ["low", "high"])
def test_arrow_plan_single_cluster_keyed_exchange(spark, emb, centroids, keep):
    """Scale path: exactly one shuffle, keyed on the INT cluster id —
    the embedding vectors ride as values, never as shuffle keys — and
    the per-cluster kernel is the walk_groups mapInArrow walk over rows
    Spark sorted by (cluster, centroid_sim, id), not applyInPandas."""
    plan = (
        sd.semdedup(emb, centroids, eps=0.35, keep=keep, impl="arrow")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1
    ex = plan[plan.index("Exchange hashpartitioning"):]
    keys = ex[: ex.index(")")]
    assert "cluster" in keys and "embedding" not in keys
    assert plan.count("MapInArrow") == 1
    assert "FlatMapGroupsInPandas" not in plan
    direction = "ASC" if keep == "low" else "DESC"
    sort = re.search(r"Sort \[([^\]]*)\], false", plan)
    assert sort is not None
    assert re.fullmatch(
        rf"cluster#\d+ ASC NULLS FIRST, centroid_sim#\d+ {direction} NULLS LAST, "
        r"vec_id#\d+L? ASC NULLS FIRST",
        sort.group(1),
    ), sort.group(1)
