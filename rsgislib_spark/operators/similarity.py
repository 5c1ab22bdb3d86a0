"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, the correctness oracle
for the approximate paths. Scale paths: (a) LSH bucketing via
random-hyperplane signatures (public: Charikar 2002), (b) IVF-style
coarse quantization: assign vectors to the nearest of k centroids and
probe only matching (or adjacent) cells — the standard
inverted-file ANN layout re-expressed as a Spark equi-join.

Dot products run in two tiers (cf. spatial_join's refine dispatch,
codegen CASE up to _CODEGEN_MAX_EDGES edges):

1. Column-vs-column and SMALL fixed-matrix dots are UNROLLED
   fixed-dim arithmetic (``v[0]*c0 + v[1]*c1 + ...``) — pure
   whole-stage codegen, no Python. Spark evaluates higher-order
   functions (aggregate/zip_with/transform) INTERPRETED — excluded
   from codegen — which measured ~100x slower per row on 64-dim
   vectors, so HOFs are not used in any scoring loop.
2. LARGE fixed-matrix dots (hyperplane signatures, IVF quantization
   against k centroids) go through ONE Arrow pandas UDF per row
   batch (``_fold_dots_udf``): a single unrolled scalar expression
   of k*dim terms parses left-associative into a tree ~k*dim deep,
   and Janino's compile time is superlinear in that depth — at
   32 planes x 64 dims (2048 terms) the generated stage took ~11 s
   to (fail to) compile and fell back to interpreted eval on every
   action. The cutoff is ``_CODEGEN_MAX_TERMS``.

Both tiers seed the sum with 0.0 and fold in element order, so the
IEEE result is bit-identical across tiers and to the
left-associative SUM the gated DuckDB oracles evaluate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

# Above this many total terms (k rows x dim) a single unrolled scalar
# expression stops compiling acceptably (Janino superlinear in nesting
# depth; 64 KB method limit) -> switch to the Arrow batch fold. Mirrors
# spatial_join._CODEGEN_MAX_EDGES = 512.
_CODEGEN_MAX_TERMS = 512

# Above this many total terms the per-dimension ordered fold inside the
# UDF (k*dim separate vectorized ops per batch) costs more memory
# traffic than one BLAS matmul; switch to matmul. Summation order is
# then pairwise/SIMD, NOT the left fold — sign/argmax decisions stop
# being bit-guaranteed against a left-fold oracle (in practice margins
# exceed the rounding noise by ~1e15). Gate fixtures size k*dim well
# under this cutoff, so every driver-gated query stays on the exact
# fold.
_FOLD_MAX_TERMS = 16384


def _flit(c: float) -> str:
    """Exact DOUBLE literal: repr(float) is the shortest string that
    round-trips, and Java's Double.parseDouble is correctly rounded,
    so the parsed value is bit-identical on both engines."""
    return repr(float(c)) + "D"


def _elem(name: str, i: int) -> str:
    return f"CAST(`{name}`[{i}] AS DOUBLE)"


def dot_cols(a: str, b: str, dim: int) -> Column:
    """Unrolled left-fold dot of two fixed-dim array columns
    (elements cast float→double before multiply). Built as ONE SQL
    string → one F.expr / py4j call: constructing the same tree from
    nested Column operators costs ~4 py4j round-trips per term
    (~seconds of driver time at dim 64 x 16 planes). SQL ``+`` parses
    left-associative, so the IEEE result is bit-identical to the
    F.aggregate(zip_with(...), 0.0, +) fold and to the
    left-associative SUM the gated DuckDB oracles evaluate."""
    return F.expr("0.0D + " + " + ".join(
        f"{_elem(a, i)} * {_elem(b, i)}" for i in range(dim)))


def dot_lits(a: str, coeffs) -> Column:
    """Unrolled left-fold dot of an array column with driver-side
    float coefficients (a hyperplane / centroid row) embedded as
    exact literals. Pure codegen; same fold order as dot_cols."""
    return F.expr("0.0D + " + " + ".join(
        f"{_elem(a, i)} * {_flit(c)}" for i, c in enumerate(coeffs)))


def norm_col(a: str, dim: int) -> Column:
    """Unrolled L2 norm (same element order / 0.0 seed as the fold)."""
    return F.sqrt(F.expr("0.0D + " + " + ".join(
        f"{_elem(a, i)} * {_elem(a, i)}" for i in range(dim))))


def _fold_dots_udf(mat, dim: int):
    """Arrow pandas UDF: per input vector, the dot with EVERY row of
    ``mat`` (a k x dim driver-side float matrix — hyperplanes or IVF
    centroids, a few KB shipped in the serialized closure), returned
    as one array<double>.

    The accumulation is vectorized ACROSS the row batch but
    sequential ACROSS dimensions (``acc = (((0.0 + e0*c0) + e1*c1) +
    ...)``), so each output double is bit-identical to the unrolled
    codegen tier and to the left-associative SQL the gated DuckDB
    oracles evaluate — dot_lits' exactness contract at Arrow batch
    speed. Past _FOLD_MAX_TERMS total terms it switches to one BLAS
    matmul per batch (same flops, ~10x less memory traffic, pairwise
    summation — see the module docstring for the exactness caveat).

    Callers must materialize the result with ``withColumn`` BEFORE
    referencing elements: the ArrowEvalPython node then acts as a
    projection barrier, so k downstream element references read the
    computed array instead of re-running the UDF k times.
    """
    from pyspark.sql.functions import pandas_udf

    M = np.ascontiguousarray(np.asarray(mat, dtype=np.float64))
    k = len(M)
    exact = k * dim <= _FOLD_MAX_TERMS

    @pandas_udf("array<double>")
    def _dots(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        E = np.vstack(v.to_numpy()).astype(np.float64)
        if exact:
            out = np.empty((len(E), k))
            for i in range(k):
                acc = np.zeros(len(E))
                row = M[i]
                for j in range(dim):
                    acc = acc + E[:, j] * row[j]
                out[:, i] = acc
        else:
            out = E @ M.T
        return pd.Series(list(out))

    return _dots


def check_dim(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Fail LOUDLY if any vector's length differs from ``dim``.

    Every dot/norm here is an unrolled fixed-``dim`` expression: a
    longer vector would be silently truncated (plausible-but-wrong
    scores) and a shorter one NULL-propagates out-of-range element
    reads into NULL scores — neither errors on its own. assert_true
    wrapped in a filter cannot be pruned by the optimizer (the
    predicate is non-foldable), costs one size() per row, and keeps
    every valid row (assert_true returns NULL when the condition
    holds). A NULL vector also aborts (size(NULL) is -1 with ANSI
    off, so the predicate is non-true) — NULL embeddings are out of
    contract for every fixed-dim kernel here; filter them out (or
    impute) upstream before calling, as the error text says."""
    return df.where(F.assert_true(
        F.size(F.col(vec_col)) == dim,
        f"{vec_col} is NULL or its length != dim={dim} — drop/impute "
        f"NULL vectors upstream and pass dim=<actual length> "
        f"(fixed-dim unrolled dot/norm would silently mis-score)",
    ).isNull())


def with_unit_vec(df: DataFrame, vec_col: str = "embedding",
                  out_col: str = "unit", dim: int = 64) -> DataFrame:
    """L2-normalize once (double precision) so cosine == dot."""
    tagged = check_dim(df, vec_col, dim).withColumn(
        "__n", norm_col(vec_col, dim))
    return tagged.withColumn(out_col, F.expr(
        "array(" + ", ".join(f"{_elem(vec_col, i)} / __n"
                             for i in range(dim)) + ")")).drop("__n")


def _vecs(df: DataFrame, p: str, id_col: str, vec_col: str, dim: int,
          *keep: str) -> DataFrame:
    """The (id, vector, norm) projection every cosine scorer reads,
    named p, p + "v", p + "n" (plus the ``keep`` columns). Norms come
    once per vector BEFORE any pair join (the per-vector sum is the
    same IEEE expression as a per-pair norm), so the pair stage does
    only the dot."""
    return df.select(F.col(id_col).alias(p), F.col(vec_col).alias(p + "v"),
                     norm_col(vec_col, dim).alias(p + "n"), *keep)


def _cosine(x: str, y: str, dim: int) -> Column:
    """Cosine of the _vecs projections named x and y."""
    return dot_cols(x + "v", y + "v", dim) / (F.col(x + "n") * F.col(y + "n"))


def _pairs_over(pairs: DataFrame, threshold: float, dim: int) -> DataFrame:
    """(a, b, score) for the a/b pairs whose cosine reaches threshold."""
    return (
        pairs.withColumn("score", _cosine("a", "b", dim))
        .where(F.col("score") >= threshold)
        .select("a", "b", F.round("score", 6).alias("score"))
    )


def _topk(pairs: DataFrame, k: int, dim: int) -> DataFrame:
    """(q, c, score, rank) for each q's k best-scoring c != q; ties on
    score go to the smaller c."""
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy(F.desc("score"), F.asc("c"))
    return (
        pairs.where(F.col("q") != F.col("c"))
        .withColumn("score", _cosine("q", "c", dim))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q", "c", F.round("score", 6).alias("score"), "rank")
    )


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
                q_id: str = "vec_id", c_id: str = "vec_id",
                vec_col: str = "embedding", dim: int = 64) -> DataFrame:
    """Exact brute-force top-k: broadcast the (smaller) query side,
    score every corpus vector, rank per query. Output (q, c, score,
    rank). Self-matches (same id) excluded."""
    q = _vecs(check_dim(queries, vec_col, dim), "q", q_id, vec_col, dim)
    c = _vecs(check_dim(corpus, vec_col, dim), "c", c_id, vec_col, dim)
    # spread the streamed corpus across the cluster: a small parquet
    # arrives as ONE split, which would run the O(|q|*|c|) scoring
    # stage on a single core
    c = c.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    return _topk(F.broadcast(q).crossJoin(c), k, dim)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         dim: int = 64) -> DataFrame:
    """All pairs (a < b) with cosine >= threshold — embedding near-dup
    detection (brute force; LSH variant below for scale)."""
    checked = check_dim(df, vec_col, dim)
    # spread the streamed side: a small parquet arrives as ONE split,
    # which would run the O(n^2) pair stage on a single core
    a = _vecs(checked, "a", id_col, vec_col, dim).repartition(
        df.sparkSession.sparkContext.defaultParallelism)
    b = _vecs(checked, "b", id_col, vec_col, dim)
    return _pairs_over(a.crossJoin(F.broadcast(b))
                       .where(F.col("a") < F.col("b")), threshold, dim)


def hyperplanes(n_bits: int = 16, dim: int = 64, seed: int = 42):
    """The deterministic seeded gaussian hyperplane matrix (n_bits x
    dim). Exposed so an external oracle (DuckDB) can embed the SAME
    planes as SQL literals — repr(float) round-trips exactly, and the
    sign decision is then bit-identical across engines when the dot is
    evaluated in the same left-fold order."""

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_bits, dim))


def _bit(i: int) -> int:
    """Bit i's value in a two's-complement BIGINT: bit 63 is −2^63."""
    return -(1 << 63) if i == 63 else 1 << i


def hyperplane_signature(df: DataFrame, n_bits: int = 16, dim: int = 64,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: int = 42) -> DataFrame:
    """Random-hyperplane LSH signature: bit i = sign(v . r_i).
    Hyperplanes are a deterministic seeded gaussian (driver numpy,
    broadcast as literals — a few KB). The bits pack into one BIGINT
    (two's complement: bit 63 is the sign bit), so at most 64."""
    if n_bits > 64:
        raise ValueError(f"n_bits={n_bits}: a signature packs into one "
                         "BIGINT, at most 64 bits")
    planes = hyperplanes(n_bits, dim, seed)
    df = check_dim(df, vec_col, dim)
    from ..session import spread_scan

    # spread either tier: the n_bits*dim dot work per row is the
    # operator's whole cost and runs in the scan stage — a one-row-
    # group embeddings file would put it all on a single core
    df = spread_scan(df)
    if n_bits * dim <= _CODEGEN_MAX_TERMS:
        bits = None
        for i in range(n_bits):
            bit = F.when(dot_lits(vec_col, planes[i]) >= 0.0,
                         F.lit(_bit(i))).otherwise(F.lit(0))
            bits = bit if bits is None else bits + bit
        return df.select(F.col(id_col).alias("vec_id"),
                         bits.cast("long").alias("sig"))
    tagged = df.withColumn("_hp", _fold_dots_udf(planes, dim)(F.col(vec_col)))
    pack = F.expr(" + ".join(
        f"IF(`_hp`[{i}] >= 0.0D, {_bit(i)}L, 0L)" for i in range(n_bits)))
    return tagged.select(F.col(id_col).alias("vec_id"), pack.alias("sig"))


# Candidate-verify switches from the per-pair join to the broadcast
# numpy kernel below this many corpus vectors (~128 MB of float64 at
# dim 64). Same count-gated pattern as dedup._EXACT_KERNEL_MAX_DOCS.
_VERIFY_KERNEL_MAX_VECS = 250_000


def _verify_cosine_kernel(df: DataFrame, cand: DataFrame, threshold: float,
                          id_col: str, vec_col: str, dim: int) -> DataFrame:
    """Exact-cosine verification of candidate pairs via ONE broadcast
    of the (ids, vectors, norms) arrays and a mapInPandas fold kernel.

    Why not the obvious cand ⋈ vecs ⋈ vecs + codegen dot: the
    optimizer pushes the `score >= threshold` predicate INTO the
    second broadcast join's condition, so the 64-term dot expression
    is evaluated once as a non-equi join condition and AGAIN in the
    output projection — measured 15.3 s for 3.8M candidates at sf1.0
    vs ~1 s here. The kernel accumulates each dot and each norm in
    the SAME left-fold element order as dot_cols/norm_col (acc =
    ((0.0 + e0*c0) + e1*c1) + ...), so every score is bit-identical
    to the join path and to the gated DuckDB oracle; rounding stays
    in Spark (F.round's HALF_UP differs from numpy's rounding).

    Bounded: callers gate on _VERIFY_KERNEL_MAX_VECS; above it the
    per-pair join (which never materializes the corpus anywhere)
    remains the scale path.
    """
    spark = df.sparkSession
    pdf = df.select(F.col(id_col).alias("_id"),
                    F.col(vec_col).alias("_v")).toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "a BIGINT, b BIGINT, score DOUBLE")
    ids = pdf["_id"].to_numpy(np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    E = np.vstack(pdf["_v"].to_numpy()[order]).astype(np.float64)
    acc = np.zeros(len(E))
    for j in range(dim):
        acc = acc + E[:, j] * E[:, j]
    nrm = np.sqrt(acc)
    bc = spark.sparkContext.broadcast((ids, E, nrm))
    thr = float(threshold)

    def gen(batches):
        b_ids, b_E, b_n = bc.value
        for p in batches:
            a = p["a"].to_numpy(np.int64)
            b = p["b"].to_numpy(np.int64)
            ia = np.searchsorted(b_ids, a)
            ib = np.searchsorted(b_ids, b)
            A, B = b_E[ia], b_E[ib]
            s = np.zeros(len(A))
            for j in range(dim):
                s = s + A[:, j] * B[:, j]
            score = s / (b_n[ia] * b_n[ib])
            keep = score >= thr
            yield pd.DataFrame({"a": a[keep], "b": b[keep],
                                "score": score[keep]})

    out = cand.mapInPandas(gen, "a BIGINT, b BIGINT, score DOUBLE")
    return out.select("a", "b", F.round("score", 6).alias("score"))


def lsh_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                      n_bits: int = 16, bands: int = 4, dim: int = 64,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      seed: int = 42) -> DataFrame:
    """ANN near-dup: bucket by signature bands (equi-join, no cross
    join), verify candidates with exact cosine. Precision 1 vs the
    brute-force oracle; recall follows the hyperplane collision
    curve."""
    from pyspark.sql.types import LongType

    from .dedup import _band_pairs, _band_rows

    rows = _band_rows(n_bits, bands, "n_bits")
    # persist the signature table: the band self-join would otherwise
    # evaluate the signature computation (an Arrow UDF pass at
    # n_bits*dim > _CODEGEN_MAX_TERMS) once per join side
    sig = hyperplane_signature(df, n_bits, dim, id_col, vec_col,
                               seed).persist()
    # a 64-row band is the whole BIGINT: every bit, mask -1
    mask = (1 << rows) - 1 if rows < 64 else -1
    cand = _band_pairs(sig, "vec_id", bands, lambda bi: F.shiftright(
        "sig", bi * rows).bitwiseAND(F.lit(mask))).select("a", "b")
    id_ok = isinstance(df.schema[id_col].dataType, LongType)
    if id_ok and df.count() <= _VERIFY_KERNEL_MAX_VECS:
        # verify FIRST, dedupe after: duplicate candidates (a pair
        # colliding in several bands, ≤ `bands` copies) cost the
        # kernel a few % extra fold work, while distinct-before-
        # verify costs a full exchange + two hash aggregates over
        # the multi-million-row candidate set. Duplicate pairs yield
        # bit-identical rows, so distinct-after is the same set.
        return _verify_cosine_kernel(df, cand, threshold, id_col,
                                     vec_col, dim).distinct()
    return _pairs_over(
        cand.distinct()
        .join(_vecs(df, "a", id_col, vec_col, dim), "a")
        .join(_vecs(df, "b", id_col, vec_col, dim), "b"), threshold, dim)


def _centroids(centroids, n_centroids: int, dim: int, seed: int):
    """The given (n, dim) centroids as float64, or the seeded ones."""
    if centroids is not None:
        return np.asarray(centroids, dtype=np.float64)
    return _seed_centroids(n_centroids, dim, seed)


def _seed_centroids(n_centroids: int, dim: int, seed: int):

    rng = np.random.default_rng(seed)
    cents = rng.standard_normal((n_centroids, dim))
    return cents / np.linalg.norm(cents, axis=1, keepdims=True)


def ivf_train_centroids(corpus: DataFrame, n_centroids: int | None = None,
                        dim: int = 64, n_iters: int = 5,
                        vec_col: str = "embedding", seed: int = 7):
    """Spherical k-means refinement of the IVF centroids (the
    standard IVF training step): assign corpus vectors to their
    nearest centroid (codegen argmax — the same expression the
    quantizer uses), average per cell via posexplode + groupBy
    (distributed; only the k x dim means reach the driver), then
    renormalize. Empty cells keep their previous centroid.
    n_centroids=None: sqrt(|corpus|) via auto_n_centroids."""

    if n_centroids is None:
        n_centroids = auto_n_centroids(corpus.count())
    cents = _seed_centroids(n_centroids, dim, seed)
    for _ in range(n_iters):
        assigned = ivf_assign(corpus, n_centroids, dim, vec_col=vec_col,
                              centroids=cents)
        # PACKED per-cell means: one row per cell carrying the whole
        # mean vector (dim avg aggregates, all map-side combinable) —
        # the driver pull is O(k) rows, not the O(k*dim) that
        # posexplode+groupBy(cell,pos) produced (~33M rows at the
        # auto clamp k=65536, dim=512)
        means = (
            assigned.groupBy("ivf_cell")
            .agg(F.array(*[
                F.avg(F.col(vec_col)[i].cast("double"))
                for i in range(dim)]).alias("m"))
            .collect()
        )
        new = cents.copy()
        acc = np.zeros((n_centroids, dim))
        seen = np.zeros(n_centroids, dtype=bool)
        for r in means:
            acc[r["ivf_cell"]] = r["m"]
            seen[r["ivf_cell"]] = True
        norms = np.linalg.norm(acc, axis=1, keepdims=True)
        ok = seen & (norms[:, 0] > 0)
        new[ok] = acc[ok] / norms[ok]
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def ivf_assign(df: DataFrame, n_centroids: int = 16, dim: int = 64,
               id_col: str = "vec_id", vec_col: str = "embedding",
               seed: int = 7, centroids=None) -> DataFrame:
    """IVF coarse quantizer: nearest of n centroids (argmax dot on
    unit vectors). The centroid id is the partition key for
    probe-side pruning — the Spark realization of an inverted file:
    search joins on ivf_cell instead of scanning the corpus.
    centroids: (n, dim) array — pass ivf_train_centroids output for
    k-means-refined cells; None = deterministic seeded random (keeps
    the gate fixture reproducible)."""

    cents = _centroids(centroids, n_centroids, dim, seed)
    n_centroids = len(cents)
    df = check_dim(df, vec_col, dim)
    if n_centroids * dim <= _CODEGEN_MAX_TERMS:
        # argmax via an array of scores — a when/otherwise chain would
        # duplicate the running best per level (exponential plan tree)
        scores = F.array(*[
            dot_lits(vec_col, cents[i]) for i in range(n_centroids)
        ])
        best = F.array_position(scores, F.array_max(scores)) - 1
        return df.withColumn("ivf_cell", best.cast("int"))  # first max wins
    tagged = df.withColumn("_ivf_d",
                           _fold_dots_udf(cents, dim)(F.col(vec_col)))
    best = F.array_position(F.col("_ivf_d"),
                            F.array_max(F.col("_ivf_d"))) - 1
    return tagged.withColumn("ivf_cell", best.cast("int")).drop("_ivf_d")


def ivf_probe_cells(df: DataFrame, n_probe: int, n_centroids: int = 16,
                    dim: int = 64, vec_col: str = "embedding",
                    seed: int = 7, centroids=None) -> DataFrame:
    """Top-``n_probe`` nearest centroids per vector (multi-probe IVF —
    the standard recall lever). Adds exploded ``ivf_cell``."""

    cents = _centroids(centroids, n_centroids, dim, seed)
    n_centroids = len(cents)
    df = check_dim(df, vec_col, dim)
    if n_centroids * dim <= _CODEGEN_MAX_TERMS:
        scored = F.array(*[
            F.struct((-dot_lits(vec_col, cents[i])).alias("neg"),
                     F.lit(i).alias("cell"))
            for i in range(n_centroids)
        ])
        top = F.slice(F.array_sort(scored), 1, n_probe)
        return df.withColumn(
            "ivf_cell", F.explode(F.transform(top, lambda s: s["cell"])))
    tagged = df.withColumn("_ivf_d",
                           _fold_dots_udf(cents, dim)(F.col(vec_col)))
    # same (neg-dot, cell) lexicographic sort as the codegen tier, so
    # tie-breaks match bit-for-bit when the dots do
    top = F.expr(
        f"slice(array_sort(transform(sequence(0, {n_centroids - 1}), "
        f"i -> struct(-`_ivf_d`[i] AS neg, CAST(i AS INT) AS cell))), "
        f"1, {n_probe})")
    return (tagged.withColumn(
        "ivf_cell", F.explode(F.transform(top, lambda s: s["cell"])))
        .drop("_ivf_d"))


def auto_n_centroids(n_vectors: int, lo: int = 16, hi: int = 65536) -> int:
    """sqrt(N) centroid count (the standard IVF sizing: balances the
    quantize cost k*N against the probe cost n_probe*N/k — both
    O(N*sqrt(N)) at k=sqrt(N)), clamped and rounded to a power of two.
    At corpus scale this is the skew bound too: a 10^12-vector corpus
    gets ~10^6 cells, so the cell equi-join has 10^6 keys (~10^6 rows
    per reducer), not 16 keys absorbing 1/16 of the corpus each."""
    import math

    k = int(math.sqrt(max(1, n_vectors)))
    k = 1 << max(0, (k - 1).bit_length())  # next power of two
    return max(lo, min(hi, k))


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int = 5,
             n_centroids: int | None = None, dim: int = 64,
             q_id: str = "vec_id", c_id: str = "vec_id",
             vec_col: str = "embedding", n_probe: int = 4,
             centroids=None) -> DataFrame:
    """ANN top-k probing the query's ``n_probe`` nearest IVF cells
    (recall < 1 by design, measured against cosine_topk in tests).
    Corpus vectors live in exactly one cell; only the small query
    side fans out n_probe-fold.

    n_centroids=None (default) sizes the codebook at sqrt(|corpus|)
    via auto_n_centroids — one count() job; a FIXED small default
    (the old 16) would leave ~|corpus|/16 vectors per join key at
    scale, the classic hot-reducer."""
    if centroids is not None:
        n_centroids = len(centroids)
    elif n_centroids is None:
        n_centroids = auto_n_centroids(corpus.count())
    from ..session import spread_scan

    # spread the corpus before quantization: the O(|corpus| * k * dim)
    # assignment is the expensive stage and would otherwise run on the
    # scan's (possibly single-split) partitioning
    q = _vecs(ivf_probe_cells(queries, n_probe, n_centroids, dim, vec_col,
                              centroids=centroids),
              "q", q_id, vec_col, dim, "ivf_cell")
    c = _vecs(ivf_assign(spread_scan(corpus), n_centroids, dim, c_id,
                         vec_col, centroids=centroids),
              "c", c_id, vec_col, dim, "ivf_cell")
    return _topk(q.join(c, "ivf_cell"), k, dim)
