"""Cluster-then-prune semantic deduplication — SemDeDup (Abbas et al.
2023, arXiv:2303.09540): k-means-cluster the embedding space, then
inside each cluster drop every item whose cosine similarity to an
"earlier" item exceeds a threshold. The paper's reference
implementation takes the upper-triangular max of the within-cluster
similarity matrix, i.e. item j is dropped iff ANY item i ordered
before j has sim(i, j) >= eps — a DOMINANCE rule over a fixed order,
not a transitive greedy — and orders items by similarity to the
cluster centroid so the kept representative of each duplicate
neighborhood is the one farthest from (keep="low", the paper's
default) or closest to (keep="high") the centroid.

Documented contract (mirrored by the DuckDB oracle):

- clustering: nearest centroid by dot product over a provided unit
  centroid list (similarity.centroid_argmax, shared with ivf_assign:
  first largest dot, ties and all-zero vectors to the lowest index).
  Centroid FITTING is out of scope here, as for ivf_topk — pass any
  deterministically derived list.
- centroid_sim: round(dot(vec, centroid)/|vec|, round_dp); NULL for a
  zero-norm vector.
- order within a cluster: (centroid_sim asc nulls last, id asc) for
  keep="low"; (centroid_sim desc nulls last, id asc) for keep="high".
  The ROUNDED sim is the sort key, so the order is identical across
  engines.
- drop rule: j is dropped iff some i before j in that order has
  round(cos(v_i, v_j), round_dp) >= eps. Zero-norm vectors have NULL
  pairwise sims: they are never dropped and never drop others (and a
  NULL centroid_sim never orders "before" anything, which is
  consistent — their pair sims are NULL anyway).
- vectors with NaN elements are outside the contract: a NaN pair sim
  is >= eps under Spark's comparison (impl="expr"), while in NumPy's
  row max (impl="arrow") it hides the row's other sims and compares
  False, so the two need not agree on them.

Scale design (100 TB embedding table):

- impl="arrow" (default): the per-cluster kernel runs on
  calibrate.walk_groups, the package's one grouped-kernel transport:
  one exchange keyed on the INT cluster id (vectors ride as values,
  never keys), Spark sorts each cluster by the order above, and the
  mapInArrow walk hands each cluster to the kernel, which builds its
  matrix from the Arrow list column's flat values (one reshape),
  L2-normalizes once, and takes the upper-triangular max via CHUNKED
  BLAS matmuls — peak memory O(chunk x n_c), not n_c^2. Compute is
  O(n_c^2 d) flops per cluster, the method's intrinsic cost; SemDeDup
  scales K with N precisely so n_c = N/K stays bounded.
  `max_cluster_rows` guards the contract: a cluster above the bound
  raises inside the kernel rather than silently thrashing.
- impl="expr": within-cluster self-join with the sequential Catalyst
  cosine fold — bit-identical to DuckDB's list_dot_product, used by
  the oracle-gated query. O(n_c^2) JOIN ROWS through a shuffle, so
  gate/verification scale only (HOF-lambda folds are interpreted;
  CLAUDE.md).
- the argmax assignment is a greatest() expression, O(K) in plan size
  (similarity.centroid_argmax), no shuffle; skew note: a hot cluster
  is a hot k-means cell — fix the centroids (more clusters), not the
  engine; the guard raise makes the condition visible.

Reference parity note: the reference has no embedding/dedup surface
(verified by reading every module under /root/reference/src/ --
only calibration/log_tokenize/stream/transformer exist); this module is part of the
LLM-training-data extension, beside dedup.embedding_near_dups (which
finds PAIRS; semdedup makes the keep/drop DECISION with the paper's
centroid-distance keep rule and needs no pair-graph post-processing).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from log_project_spark.operators.calibrate import walk_groups
from log_project_spark.operators.similarity import (
    _as_double,
    centroid_argmax,
    dot_expr,
    norm_expr,
)


def assign_with_sim(
    df: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """(id, vec, cluster int, centroid_sim double): ivf_assign's
    argmax (similarity.centroid_argmax), whose winning dot makes the
    centroid cosine cost no second pass. Centroids are assumed
    unit-norm (as everywhere in similarity.py), so cos = best_dot /
    |vec|."""
    e = _as_double(F.col(vec_col))
    names = [f"__d{i}__" for i in range(len(centroids))]
    dots = [
        dot_expr(e, F.array(*[F.lit(float(x)) for x in c])).alias(n)
        for n, c in zip(names, centroids)
    ]
    tmp = df.select(F.col(id_col), F.col(vec_col), *dots, norm_expr(e).alias("__n__"))
    cell, best = centroid_argmax([F.col(n) for n in names])
    return tmp.select(
        F.col(id_col),
        F.col(vec_col),
        cell.cast("int").alias("cluster"),
        F.round(
            F.when(F.col("__n__") != 0, best / F.col("__n__")), round_dp
        ).alias("centroid_sim"),
    )


def _earlier(keep: str, sim_a, sim_b, id_a, id_b):
    """Strict 'a orders before b' predicate on (rounded sim, id).
    NULL sims never order before anything (three-valued logic)."""
    if keep == "low":
        first = sim_a < sim_b
    else:
        first = sim_a > sim_b
    return first | ((sim_a == sim_b) & (id_a < id_b))


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    eps: float,
    keep: str = "low",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "arrow",
    round_dp: int = 6,
    max_cluster_rows: int = 2_000_000,
) -> DataFrame:
    """Per-item SemDeDup decision: (id, cluster int, centroid_sim
    double, kept int 0/1). Filter kept=1 for the surviving corpus;
    the kept set is a pure function of (df, centroids, eps, keep) —
    partition- and engine-invariant."""
    if not 0.0 < eps <= 1.0:
        raise ValueError(f"eps must be in (0, 1], got {eps}")
    if keep not in ("low", "high"):
        raise ValueError(f"keep must be 'low' or 'high', got {keep!r}")
    if impl not in ("arrow", "expr"):
        raise ValueError(f"impl must be 'arrow' or 'expr', got {impl!r}")
    base = assign_with_sim(df, centroids, id_col, vec_col, round_dp)

    if impl == "expr":
        a = base.select(
            F.col(id_col).alias("id_a"),
            F.col(vec_col).alias("va"),
            F.col("cluster").alias("cl_a"),
            F.col("centroid_sim").alias("cs_a"),
        )
        b = base.select(
            F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("vb"),
            F.col("cluster").alias("cl_b"),
            F.col("centroid_sim").alias("cs_b"),
        )
        ea, eb = _as_double(F.col("va")), _as_double(F.col("vb"))
        na, nb = norm_expr(ea), norm_expr(eb)
        sim = F.round(
            F.when((na != 0) & (nb != 0), dot_expr(ea, eb) / (na * nb)), round_dp
        )
        pairs = a.join(
            b,
            (F.col("cl_a") == F.col("cl_b"))
            & _earlier(keep, F.col("cs_a"), F.col("cs_b"), F.col("id_a"), F.col("id_b")),
        )
        dropped = (
            pairs.where(sim >= F.lit(float(eps)))
            .select(F.col("id_b").alias(id_col))
            .distinct()
            .withColumn("__dropped__", F.lit(1))
        )
        return (
            base.join(dropped, id_col, "left")
            .select(
                id_col,
                "cluster",
                "centroid_sim",
                F.when(F.col("__dropped__").isNull(), F.lit(1))
                .otherwise(F.lit(0))
                .cast("int")
                .alias("kept"),
            )
        )

    def run_group(group, _scores):
        n = group.num_rows
        if n > max_cluster_rows:
            raise ValueError(
                f"semdedup cluster {group.column('cluster')[0].as_py()} has {n} rows "
                f"> max_cluster_rows={max_cluster_rows}: raise the bound or "
                "use more centroids (SemDeDup scales K with N)"
            )
        # rows arrive sorted by (centroid_sim, id): row i is "before" row j iff i < j
        E = group.column(vec_col).flatten().to_numpy(zero_copy_only=False)
        E = E.astype(np.float64).reshape(n, -1)
        norms = np.linalg.norm(E, axis=1)
        zero = norms == 0
        E = E / np.where(zero, 1.0, norms)[:, None]
        E[zero] = 0.0  # zero-norm rows: all pair sims 0 < eps, matching NULL semantics
        kept = np.ones(n, dtype=np.int32)
        chunk = max(1, (1 << 22) // max(n, 1))  # ~32 MB of doubles per matmul
        for s in range(1, n, chunk):
            e_ = min(s + chunk, n)
            S = E[s:e_] @ E[:e_].T  # rows j in [s,e), cols i in [0,e)
            # mask i >= j (self and later rows in this chunk's triangle)
            for r, j in enumerate(range(s, e_)):
                S[r, j:] = -np.inf
            dropped = np.round(S.max(axis=1), round_dp) >= eps
            kept[s:e_][dropped] = 0
        return [kept]

    sim_order = F.asc_nulls_last if keep == "low" else F.desc_nulls_last
    return walk_groups(
        base,
        ["cluster"],
        [sim_order("centroid_sim"), F.asc(id_col)],
        [T.StructField("kept", T.IntegerType())],
        run_group,
        drop=[vec_col],
    )
