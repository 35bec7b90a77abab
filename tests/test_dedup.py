"""Dedup operators: exact, MinHash/LSH, SimHash, Jaccard — checked
against brute-force Python computations on small corpora."""

import itertools

import pytest
from pyspark.sql import functions as F

from log_project_spark.operators import dedup
from log_project_spark.operators.parse import word_tokens_col

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "completely different content about spark engines"),
    (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (4, "spark engines about content different completely"),  # permutation of 2
    (5, "unrelated short text"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    return df.withColumn("tokens", word_tokens_col(F.col("text")))


def _token_sets():
    return {i: set(t.lower().split()) for i, t in DOCS}


def test_dedup_exact_keeps_min_id(spark, docs_df):
    kept = dedup.dedup_exact(docs_df, "text", "doc_id").select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in kept)
    assert ids == [0, 1, 2, 4, 5]


def test_dedup_exact_shuffles_hash_not_payload(spark, docs_df):
    """VERDICT r3 #1: the window exchange must partition on the 8-byte
    xxhash64 key, never on the text payload."""
    out = dedup.dedup_exact(docs_df, "text", "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    part_lines = [ln for ln in plan.splitlines() if "hashpartitioning" in ln]
    assert part_lines, plan
    for ln in part_lines:
        inner = ln.split("hashpartitioning(", 1)[1]
        assert "__kh__" in inner, ln
        assert "text#" not in inner, ln


def test_dedup_exact_distinct_keys_in_one_hash_partition(spark):
    """Collision safety of the key-run logic: distinct keys that land
    in the same window partition (here: all rows, partition key forced
    equal is emulated by tiny parallelism) each keep their min id."""
    rows = [(i, f"text-{i % 3}") for i in range(9)]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    kept = sorted(r["doc_id"] for r in dedup.dedup_exact(df, "text", "doc_id").collect())
    assert kept == [0, 1, 2]


def test_lsh_hash_buckets_parity(spark, docs_df):
    """The band-bucket join runs on xxhash64 longs; the DuckDB oracle of
    lsh_candidate_pairs joins the md5-hex strings, so the gate checks
    the hashed pairs against the string join."""
    sh = dedup.with_shingles(docs_df, tokens_col="tokens", n=3)
    sig = dedup.minhash_signature(sh, num_hashes=4)
    plan = dedup.lsh_candidate_pairs(
        sig, num_hashes=4, band_size=2
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan


def test_pairs_sharing_and_band_rows(spark):
    """pairs_sharing: one row per unordered pair and shared key, with
    id_a < id_b and each side's carried value; band_rows: rows x bands
    rows, band = the bucket's position in the list."""
    rows = spark.createDataFrame(
        [(3, "x", 30), (1, "x", 10), (2, "x", 20), (1, "y", 10), (3, "y", 30), (4, "z", 40)],
        "id long, key string, v long",
    )
    got = sorted(
        tuple(r) for r in dedup.pairs_sharing(rows, ["key"], carry=("v",)).collect()
    )
    # x: {1,2,3} -> 3 pairs; y: {1,3} -> 1 more (1,3); z: alone
    assert got == [(1, 2, 10, 20), (1, 3, 10, 30), (1, 3, 10, 30), (2, 3, 20, 30)]

    docs = spark.createDataFrame([(7, 5), (8, 6), (9, 5)], "doc_id long, w long")
    banded = dedup.band_rows(docs, "doc_id", [F.col("w") % 2, F.col("w") * 10], carry=("w",))
    assert banded.columns == ["id", "w", "band", "bucket"]
    assert sorted(tuple(r) for r in banded.collect()) == [
        (7, 5, 0, 1), (7, 5, 1, 50), (8, 6, 0, 0), (8, 6, 1, 60), (9, 5, 0, 1), (9, 5, 1, 50),
    ]
    pairs = dedup.pairs_sharing(banded, ["band", "bucket"]).collect()
    assert sorted(tuple(r) for r in pairs) == [(7, 9), (7, 9)]  # once per shared band


def test_jaccard_hash_items_parity(spark, docs_df):
    """VERDICT r3 #5: the xxhash64 item-key join (default) returns the
    same pairs/values as the byte-exact string join."""
    hashed = dedup.jaccard_pairs(docs_df, threshold=0.5, hash_items=True)
    exact = dedup.jaccard_pairs(docs_df, threshold=0.5, hash_items=False)
    as_map = lambda df: {(r["id_a"], r["id_b"]): r["jaccard"] for r in df.collect()}
    assert as_map(hashed) == as_map(exact)
    plan = hashed._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan


def test_jaccard_pairs_match_bruteforce(spark, docs_df):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs_df, threshold=0.5).collect()
    }
    sets = _token_sets()
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= 0.5:
            want[(a, b)] = round(j, 6)
    assert got == pytest.approx(want)


def test_minhash_identical_docs_same_signature(spark, docs_df):
    sh = dedup.with_shingles(docs_df, n=3)
    sig = dedup.minhash_signature(sh, num_hashes=4)
    rows = {r["doc_id"]: (r["m0"], r["m1"], r["m2"], r["m3"]) for r in sig.collect()}
    assert rows[0] == rows[3]  # exact dups -> identical signatures
    assert rows[0] != rows[2]


def test_lsh_candidates_include_exact_dups(spark, docs_df):
    sh = dedup.with_shingles(docs_df, n=3)
    sig = dedup.minhash_signature(sh, num_hashes=4)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(sig, num_hashes=4, band_size=2).collect()
    }
    assert (0, 3) in pairs  # identical docs always collide in every band


def _py_simhash60(tokens):
    """Pure-Python transliteration of the portable 60-bit simhash."""
    import hashlib

    sums = [0] * 60
    for t in tokens:
        h = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
        for i in range(60):
            sums[i] += 1 if (h >> i) & 1 else -1
    return sum((1 << i) for i in range(60) if sums[i] > 0)


def test_simhash_properties(spark, docs_df):
    sig = dedup.simhash60(docs_df.select("doc_id", "tokens"), "tokens")
    rows = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert rows[0] == rows[3]  # identical token multisets
    assert rows[2] == rows[4]  # simhash is order-insensitive (bag of tokens)
    # near-dups differ in few bits; far docs in many
    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(rows[0], rows[1]) < ham(rows[0], rows[2])


def test_simhash_bit_exact_vs_python(spark, docs_df):
    """Portable-hash bit-exactness: the Catalyst signature equals the
    pure-Python md5-prefix transliteration (the same formula the
    DuckDB oracle states)."""
    sig = dedup.simhash60(docs_df.select("doc_id", "tokens"), "tokens")
    rows = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    for i, text in DOCS:
        assert rows[i] == _py_simhash60(text.lower().split()), f"doc {i}"


def test_simhash_groups_on_id_only(spark, docs_df):
    """VERDICT r1 #4: byte-identical rows with distinct ids must NOT
    collapse, and the aggregate's grouping key is the id column."""
    sig = dedup.simhash60(docs_df.select("doc_id", "tokens"), "tokens")
    assert sig.count() == len(DOCS)  # docs 0 and 3 both survive
    plan = sig._jdf.queryExecution().optimizedPlan().toString()
    agg_lines = [ln for ln in plan.splitlines() if "Aggregate" in ln]
    assert agg_lines and all("tokens" not in ln.split("[")[1].split("]")[0] for ln in agg_lines)


def test_simhash_hamming_pairs(spark, docs_df):
    sig = dedup.simhash60(docs_df.select("doc_id", "tokens"), "tokens")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hamming_near_pairs(sig, max_hamming=10).collect()
    }
    assert pairs.get((0, 3)) == 0
    assert pairs.get((2, 4)) == 0


def test_hamming_band_pigeonhole(spark):
    """Pairs at exactly max_hamming are guaranteed found when
    n_bands > max_hamming; invalid bandings are rejected."""
    base = 0b101101 << 30 | 0xABCDE
    # flip 3 bits spread across three different 15-bit bands
    other = base ^ (1 << 2) ^ (1 << 17) ^ (1 << 32)
    sig = spark.createDataFrame(
        [(0, base), (1, other)], "doc_id long, simhash long"
    )
    got = dedup.hamming_near_pairs(sig, max_hamming=3).collect()
    assert len(got) == 1 and got[0]["hamming"] == 3
    with pytest.raises(ValueError):
        dedup.hamming_near_pairs(sig, max_hamming=3, n_bands=3).collect()


def test_jaccard_df_cap_drops_hot_items(spark):
    """VERDICT r1 #3: hot items leave the index (and the set sizes)
    so the self-join is bounded; uncapped corpora are unchanged."""
    import itertools

    rows = [(i, f"hot unique{i} tail{i % 3}") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "tokens", word_tokens_col(F.col("text"))
    )
    # cap below the hot token's df: sets become {unique_i, tail_j}
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(df, threshold=0.3, max_item_df=10).collect()
    }
    sets = {i: {f"unique{i}", f"tail{i % 3}"} for i in range(12)}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        if round(j, 6) >= 0.3:
            want[(a, b)] = round(j, 6)
    assert got == pytest.approx(want)
    # without the cap every pair shares 'hot' (1/5 < 0.3 -> none pass,
    # but the candidate space is all 66 pairs); with it only tail-mates
    assert len(want) == 3 * len(list(itertools.combinations(range(4), 2)))


def test_shingles_content(spark, docs_df):
    sh = dedup.with_shingles(docs_df.where(F.col("doc_id") == 5), n=2).first()
    assert list(sh["shingles"]) == ["unrelated short", "short text"]


def test_embedding_near_dups(spark):
    import numpy as np

    rng = np.random.default_rng(4)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # 3 near-duplicates of vector 0 (tiny perturbations)
    for j in range(3):
        pert = base[0] + rng.standard_normal(16).astype(np.float32) * 0.01
        rows.append((100 + j, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dups(df, threshold=0.99, exact=True).collect()
    }
    want = {(0, 100), (0, 101), (0, 102), (100, 101), (100, 102), (101, 102)}
    assert exact == want

    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dups(df, threshold=0.99, exact=False).collect()
    }
    # LSH candidates verify exactly -> subset of the exact pairs, and
    # near-identical vectors share every band with prob ~1 -> full
    # recall here
    assert lsh == want


def test_embedding_lsh_recall_floor(spark):
    """VERDICT r1 #2: banded SRP-LSH must reach >=0.95 recall at
    cos>=0.95 (the single conjunctive bucket of round 1 got ~0.53)."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim = 32
    base = rng.standard_normal((150, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # plant 60 perturbed near-dups at cosine ~0.95-0.99
    for j in range(60):
        src = base[j % 150]
        noise = rng.standard_normal(dim) * rng.uniform(0.01, 0.05)
        v = src + noise
        rows.append((1000 + j, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dups(df, threshold=0.95, exact=True).collect()
    }
    assert len(exact) >= 30  # fixture actually contains near-dups
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_near_dups(df, threshold=0.95, exact=False).collect()
    }
    assert lsh <= exact  # verification is exact -> no false positives
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f}"


def test_srp_band_bucket_impls_agree(spark):
    """The Catalyst fold (oracle path) and the Arrow matmul path
    (scale path) produce identical band buckets."""
    import numpy as np

    from log_project_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((80, 16))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = sim.make_planes(16, 12, seed=3)
    expr_rows = df.select(
        "vec_id",
        *[
            sim.srp_bucket(F.col("embedding"), planes[b * 4 : (b + 1) * 4]).alias(f"b{b}")
            for b in range(3)
        ],
    ).collect()
    pandas_rows = sim.srp_band_buckets_pandas(df, "embedding", planes, 3, 4).collect()
    want = {r["vec_id"]: [r["b0"], r["b1"], r["b2"]] for r in expr_rows}
    got = {r["vec_id"]: list(r["__bands__"]) for r in pandas_rows}
    assert got == want


def test_hamming_band_completeness_random(spark):
    """Pigeonhole completeness on random signatures: the banded
    candidate join finds EVERY pair at hamming <= max_hamming."""
    import itertools
    import random

    rng = random.Random(13)
    # cluster signatures around a few centers so near pairs exist
    centers = [rng.getrandbits(60) for _ in range(6)]
    sigs = []
    for i in range(48):
        base = centers[i % 6]
        flips = rng.sample(range(60), rng.randint(0, 4))
        v = base
        for b in flips:
            v ^= 1 << b
        sigs.append((i, v))
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hamming_near_pairs(df, max_hamming=5).collect()
    }
    want = {}
    for (i, a), (j, b) in itertools.combinations(sigs, 2):
        h = bin(a ^ b).count("1")
        if h <= 5:
            want[(i, j)] = h
    assert got == want


def test_connected_components_and_dedup_near(spark):
    """Min-label propagation: transitive chains collapse to the min id;
    dedup_near keeps exactly one representative per cluster."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 7, 10, 11, 99)], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in dedup.dedup_near(docs, pairs).collect())
    assert kept == [1, 10, 99]  # cluster reps + untouched rows


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """VERDICT r2 #3: the reliable checkpoint() path (executor-loss
    tolerant on a real cluster) must converge to identical components
    as the localCheckpoint default — and must refuse to run without a
    checkpoint dir."""
    # transitive chain + a separate cluster, same fixture family as above
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22)],
        "id_a long, id_b long",
    )
    if spark.sparkContext._jsc.sc().checkpointDir().isEmpty():
        with pytest.raises(ValueError, match="checkpoint dir"):
            dedup.connected_components(pairs, reliable_checkpoint=True).collect()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    local = {
        r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()
    }
    reliable = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs, reliable_checkpoint=True).collect()
    }
    assert local == reliable
    assert reliable == {**{i: 1 for i in range(1, 10)}, 20: 20, 21: 20, 22: 20}


def test_connected_components_raises_when_not_converged(spark):
    """A silent partial labeling would dedup the wrong rows: exhausting
    max_iter with labels still moving must raise, not return."""
    # a 14-node chain cannot converge in one round even with doubling
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 14)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1)


def test_jaccard_hot_items_lazy_audit(spark, docs_df):
    """VERDICT r2 #4: the dropped-item audit is its own LAZY frame
    (jaccard_pairs never hides a count() job); it lists exactly the
    items whose distinct-doc frequency exceeds the cap."""
    got = {
        r["item"]: r["__df__"]
        for r in dedup.jaccard_hot_items(docs_df, max_item_df=2).collect()
    }
    from collections import Counter

    df_counts = Counter(tok for s in _token_sets().values() for tok in s)
    want = {item: n for item, n in df_counts.items() if n > 2}
    assert got == want
