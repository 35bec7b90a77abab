"""Similarity search: brute-force vs NumPy ground truth, LSH recall,
IVF assignment, pandas matrix path parity."""

import numpy as np
import pytest

from log_project_spark.operators import similarity as sim


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(42)
    V = rng.standard_normal((200, 16)).astype(np.float32)
    return V


@pytest.fixture(scope="module")
def emb_df(spark, vectors):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _true_topk(vectors, q, k):
    Vd = vectors.astype(np.float64)
    qd = np.asarray(q, dtype=np.float64)
    cos = (Vd @ qd) / (np.linalg.norm(Vd, axis=1) * np.linalg.norm(qd))
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) for i in order[:k]], cos


def test_brute_force_topk_matches_numpy(spark, emb_df, vectors):
    q = [float(x) for x in vectors[0]]
    want_ids, cos = _true_topk(vectors, q, 5)
    got = sim.topk_cosine(emb_df, q, k=5).collect()
    assert [r["vec_id"] for r in got] == want_ids
    for r in got:
        assert r["cos"] == pytest.approx(cos[r["vec_id"]], abs=1e-9)


def test_lsh_topk_recall(spark, emb_df, vectors):
    q = [float(x) for x in vectors[7]]
    want_ids, _ = _true_topk(vectors, q, 10)
    got = sim.topk_cosine_lsh(emb_df, q, k=10, n_planes=4, probe_hamming=1).collect()
    got_ids = {r["vec_id"] for r in got}
    # multiprobe SRP with 4 planes probes 5/16 of the space; require
    # meaningful recall of the true top-10 (top-1 is vector 7 itself,
    # which always lands in the query's own bucket)
    assert want_ids[0] in got_ids
    assert len(got_ids & set(want_ids)) >= 4


def test_srp_bucket_expr_pandas_equal(spark, emb_df, vectors):
    """VERDICT r2 #2: the BLAS bucket path (topk_cosine_lsh default)
    must assign the SAME full-width bucket ids as the Catalyst fold
    kept for the srp_buckets oracle query."""
    planes = sim.make_planes(16, n_planes=6)
    expr = {
        r["vec_id"]: r["__bucket__"]
        for r in sim.srp_bucket_col(emb_df, "embedding", planes, impl="expr").collect()
    }
    blas = {
        r["vec_id"]: r["__bucket__"]
        for r in sim.srp_bucket_col(emb_df, "embedding", planes, impl="pandas").collect()
    }
    assert expr == blas


def test_lsh_topk_bucket_impls_agree(spark, emb_df, vectors):
    q = [float(x) for x in vectors[7]]
    a = sim.topk_cosine_lsh(emb_df, q, k=10, n_planes=4, bucket_impl="pandas").collect()
    b = sim.topk_cosine_lsh(emb_df, q, k=10, n_planes=4, bucket_impl="expr").collect()
    assert [(r["vec_id"], r["cos"]) for r in a] == [(r["vec_id"], r["cos"]) for r in b]


def test_ivf_assignment_is_argmax(spark, emb_df, vectors):
    rng = np.random.default_rng(1)
    cents = rng.standard_normal((4, 16))
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    clist = [[float(x) for x in c] for c in cents]
    got = {r["vec_id"]: r["ivf_cell"] for r in sim.ivf_assign(emb_df, clist).collect()}
    want = np.argmax(vectors.astype(np.float64) @ cents.T, axis=1)
    assert got == {i: int(w) for i, w in enumerate(want)}


def _analyzed_chars(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString())


def test_centroid_argmax_linear_in_k_and_first_max(spark):
    """One centroid argmax for ivf_assign and semdedup.assign_with_sim:
    the plan grows linearly in K (a fold that copies its running max
    into both branches of every step doubles per centroid, and at K=64
    it does not compile), ties go to the lowest index, a NULL vector
    gets cell 0 with a NULL sim, and K=64 equals NumPy's first-max
    argmax."""
    from log_project_spark.operators import semdedup as sd

    dim = 8
    rng = np.random.default_rng(3)

    def unit(n):
        c = rng.standard_normal((n, dim))
        return c / np.linalg.norm(c, axis=1, keepdims=True)

    V = rng.standard_normal((40, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(V)] + [(len(V), None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # plan size first, before anything executes: the fold's K=12 plan
    # is ~50x its K=4 plan, and a K=64 fold takes the driver down
    c12 = [[float(x) for x in c] for c in unit(12)]
    for build in (
        lambda cs: sim.ivf_assign(df, cs),
        lambda cs: sd.assign_with_sim(df, cs),
    ):
        assert _analyzed_chars(build(c12)) < 4 * _analyzed_chars(build(c12[:4]))

    # duplicate centroids: the max is tied, the lowest index wins
    cents = unit(64)
    cents[[20, 41, 63]] = cents[5]
    clist = [[float(x) for x in c] for c in cents]
    dots = V.astype(np.float64) @ cents.T
    want = np.argmax(dots, axis=1)  # first max
    assert (want != 5).any() and {20, 41, 63}.isdisjoint(want.tolist())

    ivf = {r["vec_id"]: r["ivf_cell"] for r in sim.ivf_assign(df, clist).collect()}
    assert ivf == {**{i: int(w) for i, w in enumerate(want)}, len(V): 0}

    got = {
        r["vec_id"]: (r["cluster"], r["centroid_sim"])
        for r in sd.assign_with_sim(df, clist).collect()
    }
    assert got.pop(len(V)) == (0, None)  # NULL vector: cell 0, NULL sim
    assert {i: c for i, (c, _) in got.items()} == {i: int(w) for i, w in enumerate(want)}
    norms = np.linalg.norm(V.astype(np.float64), axis=1)
    for i, (_, cs) in got.items():
        assert cs == pytest.approx(dots[i, want[i]] / norms[i], abs=2e-6)

    # a tie to the lowest index wherever the winner is duplicated
    tied = [[float(x) for x in c] for c in np.repeat(unit(2), 3, axis=0)]
    cells = {r["ivf_cell"] for r in sim.ivf_assign(df, tied).collect()}
    assert cells <= {0, 3}

    # K=1: every row is cell 0
    one = sd.assign_with_sim(df, clist[:1]).collect()
    assert {r["cluster"] for r in one} == {0}


def test_pandas_matrix_path_matches_expression_path(spark, emb_df, vectors):
    q = [float(x) for x in vectors[3]]
    expr = {r["vec_id"]: r["cos"] for r in sim.cosine_to_query(emb_df, q).select("vec_id", "cos").collect()}
    arrow = {r["vec_id"]: r["cos"] for r in sim.pairwise_cosine_pandas(emb_df, q).select("vec_id", "cos").collect()}
    for i in expr:
        assert arrow[i] == pytest.approx(expr[i], abs=1e-9)


def test_zero_vector_null_parity_both_paths(spark):
    """VERDICT r3 #4: a zero vector must yield NULL cosine (not 0.0) in
    BOTH implementations, at dim>=64 where topk_cosine auto-switches to
    the pandas path — so the switch cannot change how zero rows rank."""
    dim = 64
    rng = np.random.default_rng(7)
    rows = [(0, [0.0] * dim)] + [
        (i, [float(x) for x in rng.standard_normal(dim)]) for i in range(1, 5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [float(x) for x in rng.standard_normal(dim)]
    expr = {r["vec_id"]: r["cos"] for r in sim.cosine_to_query(df, q).select("vec_id", "cos").collect()}
    arrow = {r["vec_id"]: r["cos"] for r in sim.pairwise_cosine_pandas(df, q).select("vec_id", "cos").collect()}
    assert expr[0] is None and arrow[0] is None
    for i in range(1, 5):
        assert arrow[i] == pytest.approx(expr[i], abs=1e-9)
    # and the auto (pandas) top-k ranks the zero row last, like expr would
    topk = sim.topk_cosine(df, q, k=5).collect()
    assert topk[-1]["vec_id"] == 0 and topk[-1]["cos"] is None


def test_ivf_topk_matches_bruteforce_within_cells(spark):
    """ivf_topk == exact top-k restricted to the probed cells; with
    n_probe = |cells| it equals the global brute force."""
    import numpy as np

    from log_project_spark.operators import similarity as sim

    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((200, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[float(x) for x in c] for c in rng.standard_normal((4, 16))]
    q = [float(x) for x in rng.standard_normal(16)]

    full = [r["vec_id"] for r in sim.topk_cosine(df, q, k=5, impl="expr").collect()]
    probed_all = [
        r["vec_id"]
        for r in sim.ivf_topk(df, q, cents, k=5, n_probe=4, impl="expr").collect()
    ]
    assert probed_all == full  # probing every cell == brute force

    one = sim.ivf_topk(df, q, cents, k=5, n_probe=1, impl="expr")
    assigned = sim.ivf_assign(df, cents)
    dots = [(sum(a * b for a, b in zip(c, q)), i) for i, c in enumerate(cents)]
    best_cell = sorted(dots, key=lambda t: (-t[0], t[1]))[0][1]
    in_cell = {r["vec_id"] for r in assigned.where(f"ivf_cell = {best_cell}").collect()}
    got = [r["vec_id"] for r in one.collect()]
    assert set(got) <= in_cell  # scan touched only the probed cell
