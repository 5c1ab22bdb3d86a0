"""Similarity search vs numpy brute force."""

import numpy as np
import pytest

from rsgislib_spark.operators import similarity

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF}/embeddings.parquet")
    df.persist(); df.count()
    return df


@pytest.fixture(scope="module")
def brute(emb):
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    M = np.array([r.embedding for r in rows], dtype=np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    return ids, S


def test_cosine_topk_matches_numpy(spark, emb, brute):
    ids, S = brute
    got = {}
    for r in similarity.cosine_topk(emb.where("vec_id < 16"), emb, k=3).collect():
        got.setdefault(r.q, []).append((r.rank, r.c, r.score))
    for q in range(16):
        s = S[q].copy()
        s[q] = -np.inf
        top = np.argsort(-s, kind="stable")[:3]
        want = [(rk + 1, int(ids[i]), round(float(S[q, i]), 6))
                for rk, i in enumerate(top)]
        assert sorted(got[q]) == want, q


def test_ivf_topk_recall(spark, emb):
    exact = {(r.q, r.c) for r in
             similarity.cosine_topk(emb.where("vec_id < 32"), emb, k=3).collect()}

    def recall(n_probe):
        approx = {(r.q, r.c) for r in similarity.ivf_topk(
            emb.where("vec_id < 32"), emb, k=3, n_probe=n_probe,
            n_centroids=16).collect()}
        assert len({q for q, _ in approx}) == 32  # k results per query
        return len(approx & exact) / len(exact)

    r4, r8, r16 = recall(4), recall(8), recall(16)
    # recall is the probe knob: grows with n_probe, exact at full probe
    assert r4 >= 0.3, r4
    assert r8 >= r4
    assert r16 == 1.0, r16


def test_lsh_neardup_precision(spark, emb, brute):
    ids, S = brute
    got = similarity.lsh_neardup_pairs(emb, threshold=0.3).collect()
    for r in got:
        ia = np.where(ids == r.a)[0][0]
        ib = np.where(ids == r.b)[0][0]
        assert S[ia, ib] >= 0.3 - 1e-9  # precision 1


def test_lsh_verify_kernel_matches_join_path(spark, emb):
    """The gated numpy verify kernel must emit the identical
    (a, b, score) rows — bit-exact doubles — as the per-pair join
    path it replaces below the vector-count gate."""
    import rsgislib_spark.operators.similarity as sim

    kern = {(r.a, r.b, r.score) for r in
            sim.lsh_neardup_pairs(emb, threshold=0.3).collect()}
    old = sim._VERIFY_KERNEL_MAX_VECS
    try:
        sim._VERIFY_KERNEL_MAX_VECS = 0  # force the join fallback
        join = {(r.a, r.b, r.score) for r in
                sim.lsh_neardup_pairs(emb, threshold=0.3).collect()}
    finally:
        sim._VERIFY_KERNEL_MAX_VECS = old
    assert kern == join
    assert len(kern) > 0


def test_cosine_neardup_bruteforce(spark, emb, brute):
    ids, S = brute
    got = {(r.a, r.b) for r in
           similarity.cosine_neardup_pairs(emb, threshold=0.4).collect()}
    iu = np.triu_indices(len(ids), k=1)
    want = {(int(ids[i]), int(ids[j]))
            for i, j in zip(*iu) if S[i, j] >= 0.4}
    assert got == want


def test_unit_vec_norms(spark, emb):
    out = similarity.with_unit_vec(emb).selectExpr(
        "aggregate(unit, 0.0D, (a, x) -> a + x * x) AS n2").collect()
    for r in out:
        assert abs(r.n2 - 1.0) < 1e-9


def test_ivf_trained_centroids_beat_random(spark, emb):
    """Spherical k-means refinement: trained cells track the corpus
    distribution, so at the SAME probe budget recall must not drop
    (and typically rises) vs seeded random centroids."""
    exact = {(r.q, r.c) for r in
             similarity.cosine_topk(emb.where("vec_id < 32"), emb,
                                    k=3).collect()}
    cents = similarity.ivf_train_centroids(emb, n_centroids=16, dim=64,
                                           n_iters=4)
    assert cents.shape == (16, 64)
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0)

    def recall(centroids):
        approx = {(r.q, r.c) for r in similarity.ivf_topk(
            emb.where("vec_id < 32"), emb, k=3, n_probe=4,
            n_centroids=16, centroids=centroids).collect()}
        return len(approx & exact) / len(exact)

    r_rand, r_trained = recall(None), recall(cents)
    assert r_trained >= r_rand - 0.05, (r_rand, r_trained)
    # corpus occupancy: trained cells should be less lopsided
    occ_rand = similarity.ivf_assign(emb, 16, 64).groupBy("ivf_cell") \
        .count().agg({"count": "max"}).collect()[0][0]
    occ_tr = similarity.ivf_assign(emb, 16, 64, centroids=cents) \
        .groupBy("ivf_cell").count().agg({"count": "max"}).collect()[0][0]
    assert occ_tr <= occ_rand * 1.5


def test_auto_n_centroids_sqrt_scaling():
    """Bounded-fan-out structural check: the default codebook grows
    as sqrt(N) (powers of two, clamped) — never a constant that
    leaves O(N) vectors per join key."""
    from rsgislib_spark.operators.similarity import auto_n_centroids

    assert auto_n_centroids(100) == 16          # lo clamp
    assert auto_n_centroids(10_000) == 128      # 2^ceil(log2 100)
    assert auto_n_centroids(1_000_000) == 1024
    assert auto_n_centroids(10**12) == 65536    # hi clamp
    # monotone non-decreasing
    prev = 0
    for n in [10, 10**3, 10**5, 10**7, 10**9, 10**12]:
        k = auto_n_centroids(n)
        assert k >= prev
        prev = k


def test_ivf_training_driver_pull_is_packed(spark, emb, monkeypatch):
    """Structural: each training iteration pulls O(k) PACKED rows (one
    mean vector per cell), never the O(k*dim) posexplode rows — at the
    auto clamp (k=65536, dim=512) the unpacked shape is ~33M rows per
    iteration."""
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is an
    # abstract base whose collect is overridden by classic.DataFrame)
    DataFrame = type(emb)
    pulls = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        pulls.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    similarity.ivf_train_centroids(emb, n_centroids=16, dim=64, n_iters=2)
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert pulls, "training ran no aggregation"
    assert max(pulls) <= 16, f"driver pull exceeded n_centroids: {pulls}"


def test_fold_udf_tier_bit_identical_to_codegen_tier(spark, emb, monkeypatch):
    """The Arrow ordered-fold tier must produce bit-identical
    signatures to the unrolled codegen tier: both fold 0.0 + e0*c0 +
    e1*c1 + ... in element order, so every sign decision matches."""
    want = {r.vec_id: r.sig for r in similarity.hyperplane_signature(
        emb, n_bits=8, dim=64, seed=3).collect()}
    monkeypatch.setattr(similarity, "_CODEGEN_MAX_TERMS", 0)
    got = {r.vec_id: r.sig for r in similarity.hyperplane_signature(
        emb, n_bits=8, dim=64, seed=3).collect()}
    assert got == want


def test_ivf_tiers_match(spark, emb, monkeypatch):
    """Quantizer argmax and multi-probe cells agree across tiers
    (same dots bit-for-bit -> same ties -> same cells)."""
    want = sorted((r.vec_id, r.ivf_cell) for r in
                  similarity.ivf_assign(emb, 8, 64).collect())
    probe_want = sorted((r.vec_id, r.ivf_cell) for r in
                        similarity.ivf_probe_cells(emb, 3, 8, 64).collect())
    monkeypatch.setattr(similarity, "_CODEGEN_MAX_TERMS", 0)
    got = sorted((r.vec_id, r.ivf_cell) for r in
                 similarity.ivf_assign(emb, 8, 64).collect())
    probe_got = sorted((r.vec_id, r.ivf_cell) for r in
                       similarity.ivf_probe_cells(emb, 3, 8, 64).collect())
    assert got == want
    assert probe_got == probe_want


def test_sig_udf_tier_runs_arrow_exactly_once(spark, emb):
    """Above the codegen term budget the plan holds ONE
    ArrowEvalPython node: the bit-packing projection reads the
    materialized dots array instead of re-running the UDF per bit."""
    sig = similarity.hyperplane_signature(emb, n_bits=32, dim=64, seed=42)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan


def test_sig_codegen_tier_has_no_python(spark, emb):
    """At or under the budget the signature is pure codegen."""
    sig = similarity.hyperplane_signature(emb, n_bits=8, dim=64, seed=42)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def _packed_signs(E, planes):
    """numpy twin of the signature: each plane's left-fold dot, its
    sign bit at position i, packed as a two's-complement int64."""
    bits = np.zeros(len(E), dtype=np.uint64)
    for i, row in enumerate(planes):
        acc = np.zeros(len(E))
        for j, c in enumerate(row):
            acc = acc + E[:, j] * c
        bits |= (acc >= 0.0).astype(np.uint64) << np.uint64(i)
    return bits.view(np.int64)


def test_sig_64_bits_twos_complement(spark, emb, brute):
    """64 bits fill the BIGINT, bit 63 as its sign bit, on both tiers
    (64 planes x 64 dims fold in the Arrow tier, x 8 dims unroll in
    codegen); a 64-row LSH band masks every bit; 65 bits raise."""
    from pyspark.sql import functions as F

    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = [r.vec_id for r in rows]
    E = np.array([r.embedding for r in rows], dtype=np.float64)
    for dim in (64, 8):
        df = emb.select("vec_id", F.slice("embedding", 1, dim)
                        .alias("embedding"))
        want = dict(zip(ids, _packed_signs(
            E[:, :dim], similarity.hyperplanes(64, dim, 42)).tolist()))
        got = {r.vec_id: r.sig for r in similarity.hyperplane_signature(
            df, n_bits=64, dim=dim, seed=42).collect()}
        assert got == want, dim
        assert min(got.values()) < 0 < max(got.values()), dim
    # one band of 64 rows: candidates are equal signatures
    _, S = brute
    sig = _packed_signs(E, similarity.hyperplanes(64, 64, 42))
    want = {(ids[i], ids[j]) for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if sig[i] == sig[j] and S[i, j] >= 0.3}
    got = {(r.a, r.b) for r in similarity.lsh_neardup_pairs(
        emb, threshold=0.3, n_bits=64, bands=1).collect()}
    assert got == want
    with pytest.raises(ValueError, match="at most 64"):
        similarity.hyperplane_signature(emb, n_bits=65)


def test_dim_mismatch_raises_not_misscores(spark):
    """The unrolled fixed-dim dots must FAIL on a wrong-length vector,
    never silently truncate (dim < len) or NULL-propagate (dim > len)."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    short = spark.createDataFrame(
        [(0, [1.0] * 32), (1, [0.5] * 32)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    for bad in (
        lambda: similarity.cosine_topk(short, short, k=1).collect(),
        lambda: similarity.cosine_neardup_pairs(short).collect(),
        lambda: similarity.hyperplane_signature(short, n_bits=8).collect(),
        lambda: similarity.ivf_assign(short, n_centroids=4).collect(),
        lambda: similarity.with_unit_vec(short).collect(),
    ):
        with pytest.raises((Py4JJavaError, PySparkException)):
            bad()
    # the guard passes vectors of the declared dim through untouched
    ok = similarity.with_unit_vec(short, dim=32).collect()
    assert len(ok) == 2


@pytest.mark.parametrize("n_bits,bands", [(16, 0), (4, 8)])
def test_lsh_neardup_rejects_empty_bands(spark, emb, n_bits, bands):
    """bands < 1 or bands > n_bits leaves a band with no bits: every
    vector then shares one bucket and the candidates are all pairs."""
    with pytest.raises(ValueError, match="bands"):
        similarity.lsh_neardup_pairs(emb, n_bits=n_bits, bands=bands)
