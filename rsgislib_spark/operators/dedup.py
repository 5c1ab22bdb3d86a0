"""Deduplication suite for web-scale text corpora.

RSGISLib's dedup surface is row-level (rm_feat_att_duplicates /
rm_attrib_duplicates, vectorutils/__init__.py:3443,3666 — dropDups on
a column); a training-data pipeline needs content-level near-dup too.
All algorithms below are public/standard (MinHash: Broder 1997;
SimHash: Charikar 2002; banding LSH: Mining of Massive Datasets ch.3).

Scale design:
- exact_dedup: one hash groupBy (map-side combinable).
- ngram_jaccard_pairs: explode shingles -> self-join on shingle ->
  count shared / union. Shuffles on the shingle key; hot shingles
  (stopword-ish) are capped with a document-frequency filter, the
  standard trick to bound fan-out.
- minhash_lsh_pairs: signatures via ONE aggregation over exploded
  shingles (min per permutation), banding via groupBy(band, band
  hash); candidate pairs verified with exact jaccard. No cross join
  anywhere.
- simhash64: weighted bit-vote fingerprint; near-dups = equal
  fingerprints per rotated band (Hamming via 4-table indexing).

Shared steps (one implementation each):
- _docs / _gram: the spread (doc_id, _text) source every tokenizing
  operator starts from, and the indexed word n-gram expression.
- _shingle_hashes: the (doc_id, sh_h) shingle-hash table of the
  jaccard, minhash-verify and decontamination paths.
- _band_pairs: the band-bucket self-join (explode band keys, equi-
  join on the bucket, a < b) behind minhash_lsh_pairs,
  simhash_near_pairs and similarity.lsh_neardup_pairs; _band_rows
  rejects a banding with an empty band.
- _jaccard: sizes, the two size joins, n / (sza + szb - n) and the
  threshold, for ngram_jaccard_pairs and the minhash verify.
- _id_groups: the (optionally capped) sorted id list per key, for
  exact_dedup and simhash_dup_groups.
- clump._components: the connected-components closure (driver
  union-find or distributed rounds) behind near_dup_groups.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Mersenne prime modulus + random multipliers for the universal hash
# family h_i(x) = (a_i * x + b_i) mod p. p = 2^31 - 1 keeps every
# intermediate product under 2^62 — no int64 overflow under Spark 4's
# ANSI arithmetic.
_P = (1 << 31) - 1

# --- portable 60-bit hash -------------------------------------------
# xxhash64 is JVM-only; the driver's DuckDB oracle cannot evaluate it.
# hash_mode="portable" swaps every hash for the first 15 hex chars of
# md5 read as an integer — the SAME value in Spark, DuckDB, and
# hashlib, so the whole minhash/simhash pipeline becomes bit-exactly
# SQL-checkable. Production keeps the xxhash64 default (codegen, no
# hex round-trip).

#: Spark SQL expression template ({x} = column/expr producing STRING)
PORTABLE_HASH_SPARK = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash_duckdb(x: str) -> str:
    """DuckDB SQL for the same 60-bit integer (no conv() in DuckDB —
    explicit base-16 polynomial over the 15 hex chars)."""
    terms = " + ".join(
        f"(CAST(strpos('0123456789abcdef', substr(md5({x}), {i + 1}, 1)) - 1 "
        f"AS BIGINT)) * {16 ** (14 - i)}"
        for i in range(15))
    return "(" + terms + ")"


def _hash64(col: str, hash_mode: str):
    if hash_mode == "portable":
        return F.expr(PORTABLE_HASH_SPARK.format(x=col))
    return F.xxhash64(col)


def _perm_params(n_perm: int, seed: int = 42):
    import random

    rnd = random.Random(seed)
    return [(rnd.randrange(1, _P - 1) | 1, rnd.randrange(0, _P - 1))
            for _ in range(n_perm)]


def _docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, _text), spread: the tokenize/explode stages downstream
    are every text operator's heavy narrow work, and a one-row-group
    corpus file would otherwise run them all on one core."""
    from ..session import spread_scan

    return spread_scan(df.select(F.col(id_col).alias("doc_id"),
                                 F.col(text_col).alias("_text")),
                       by="doc_id")


def _gram(n: int) -> str:
    """The word n-gram starting at token i of ``_toks``, as SQL."""
    return "concat_ws(' ', " + ", ".join(
        f"_toks[i + {j}]" for j in range(n)) + ")"


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Word n-gram shingle table (doc_id, shingle) — distinct per doc.

    Tokenize ONCE into a materialized array column and build each
    gram by direct element indexing (toks[i], toks[i+1], ...): the
    obvious slice(split(text), i+1, n) inside the transform lambda
    re-evaluates the split and allocates a sub-array per gram —
    higher-order-function lambdas are interpreted, not codegen'd, so
    that costs 6x on real text (measured 2.4s -> 0.4s for 260k
    shingles). concat_ws over indexed elements matches
    array_join(slice(...), " ") exactly: split() never yields NULLs,
    and both keep empty strings.
    """
    return (
        _docs(df, id_col, text_col)
        .select("doc_id", F.split("_text", " ").alias("_toks"))
        .where(F.size("_toks") >= n)
        .select("doc_id", F.explode(F.array_distinct(F.expr(
            f"transform(sequence(0, size(_toks) - {n}), i -> {_gram(n)})"
        ))).alias("shingle"))
        .where(F.length("shingle") > 0)
    )


def _shingle_hashes(df: DataFrame, id_col: str, text_col: str,
                    n: int) -> DataFrame:
    """(doc_id, sh_h): each distinct shingle as its 64-bit hash. Joins
    on the 8-byte hash shuffle ~3x fewer bytes than on the ~25-byte
    string. Distinct-per-doc is taken BEFORE hashing (shingles()
    dedupes), so a 2^-64 collision can only merge two DIFFERENT
    shingles (count off by 1), never double-count."""
    return shingles(df, id_col, text_col, n).select(
        "doc_id", F.xxhash64("shingle").alias("sh_h"))


def _jaccard(inter: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """(a, b, jaccard >= threshold) from the shared-shingle counts
    (a, b, n_common) and the shingle table they were counted over:
    |A ∪ B| = |A| + |B| - |A ∩ B|."""
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    return (
        inter.join(sizes.selectExpr("doc_id AS a", "sz AS sza"), "a")
        .join(sizes.selectExpr("doc_id AS b", "sz AS szb"), "b")
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.col("sza") + F.col("szb") - F.col("n_common")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _band_rows(n: int, bands: int, what: str) -> int:
    """Rows per band of an n-row signature. A band with no rows keys
    every item to one bucket, so the candidates would be every pair —
    the corpus-quadratic join banding exists to avoid."""
    if bands < 1 or n // bands == 0:
        raise ValueError(f"bands={bands} with {what}={n}: need "
                         f"1 <= bands <= {what}")
    return n // bands


def _band_pairs(items: DataFrame, id_col: str, bands: int, band_key,
                carry: str | None = None) -> DataFrame:
    """The band-bucket self-join: one (band, band_key(band)) bucket per
    item and band, an equi-join on the bucket, a < b. Pairs only form
    inside buckets, never in a cross join; a pair sharing several
    buckets comes out once per bucket. Output (bk, a, b), plus
    ``carry`` of each side as ca, cb when given."""
    keys = [F.struct(F.lit(bi).alias("band"), band_key(bi).alias("bh"))
            for bi in range(bands)]
    kept = [id_col] + ([carry] if carry else [])
    buckets = items.select(*kept, F.explode(F.array(*keys)).alias("bk"))

    def side(s):
        return buckets.select(F.col(id_col).alias(s), "bk", *(
            [F.col(carry).alias("c" + s)] if carry else []))

    return side("a").join(side("b"), "bk").where(F.col("a") < F.col("b"))


def _id_groups(keyed: DataFrame, key: str, stats, max_ids: int | None,
               having=None) -> DataFrame:
    """Per ``key``: the ``stats`` aggregates and the sorted doc_ids.
    max_ids caps the id list BEFORE aggregation (per-key row_number
    rank filter — slicing after collect_list would still materialize
    the full array in the agg buffer); the stats stay exact, from a
    separate uncapped aggregation. ``having`` filters on the stats."""
    from pyspark.sql import Window

    ids = F.sort_array(F.collect_list("doc_id")).alias("doc_ids")
    grouped = keyed.groupBy(key).agg(*stats, *([ids] if max_ids is None
                                               else []))
    if having is not None:
        grouped = grouped.where(having)
    if max_ids is None:
        return grouped
    w = Window.partitionBy(key).orderBy("doc_id")
    capped = (
        keyed.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_ids)
        .groupBy(key).agg(ids)
    )
    return grouped.join(capped, key)


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                max_ids: int | None = None) -> DataFrame:
    """Hash-groupBy exact dedup: groups by md5(text), keeps lowest id
    (deterministic, unlike dropDuplicates' arbitrary row).

    max_ids caps the collected doc_ids list per group — at 100 TB a
    mega-duplicate boilerplate page ("404 not found") can have 10^8
    copies and an unbounded collect_list blows the aggregation buffer.
    The cap is applied BEFORE aggregation (per-group row_number rank
    filter — slicing after collect_list would still materialize the
    full array in the agg buffer); keep_id/n_copies stay exact, from a
    separate uncapped count-only aggregation."""
    hashed = df.select(F.col(id_col).alias("doc_id"),
                       F.md5(text_col).alias("h"))
    return _id_groups(hashed, "h", [F.min("doc_id").alias("keep_id"),
                                    F.count("*").alias("n_copies")],
                      max_ids)


# Exact mode (max_df=None) switches from the shingle self-join to the
# distributed inverted-index kernel below this many documents. The
# bound keeps the broadcast index small (~60 MB at the cap for
# ~50-shingle docs) and the per-task bincount O(N) per doc; past it
# the self-join fallback (spill-backed, no broadcast) takes over.
_EXACT_KERNEL_MAX_DOCS = 250_000


def _exact_pairs_blocked(sh: DataFrame, threshold: float) -> DataFrame:
    """Distributed inverted-index kernel for EXACT all-pairs jaccard.

    The shingle self-join computes |A ∩ B| by materializing one Spark
    row per (pair, shared shingle) — sum over shingles of C(df, 2)
    rows through an exchange and a hash aggregate. On corpora whose
    shingle vocabulary is uniformly hot (no rare shingles for the
    planner or a prefix filter to exploit) that fan-out is quadratic
    in corpus size while the qualifying output stays tiny. This
    kernel does the identical counting in native code (guide §4.2):

    - driver builds a CSR doc->shingle index and its inverted
      postings from ONE bounded pull of the (doc_id, sh_h) table
      (gated by _EXACT_KERNEL_MAX_DOCS — same count-gated pattern as
      near_dup_groups' driver closure), broadcasts ~16 bytes/row;
    - tasks take disjoint doc blocks; per doc, one np.concatenate of
      its shingles' postings + one np.bincount gives |A ∩ B| against
      every other doc — the same multiset count the self-join
      produces (hash-collision multiplicity included: rows are NOT
      deduplicated, mirroring the join semantics exactly);
    - jaccard = n / (sza + szb - n) as int64->float64 division —
      bit-identical to Spark's long->double cast + double division.

    Only pairs with jaccard >= threshold ever become Spark rows, so
    the exchange carries the answer, not the fan-out.
    """
    import numpy as np
    import pandas as pd

    spark = sh.sparkSession
    pdf = sh.toPandas()
    if len(pdf) == 0:
        return spark.createDataFrame([], "a BIGINT, b BIGINT, jaccard DOUBLE")
    # factorize (hash-based, no sort of the 10^6-row column) instead
    # of np.unique for both code columns; only the ~N doc UNIQUES are
    # sorted, so dense doc index order == ascending doc_id (the a < b
    # contract). int32 codes: ~half the broadcast bytes and radix-
    # sortable. Measured 2.9 s -> ~1 s for the sf1.0 build.
    doc_codes, doc_uniq = pd.factorize(pdf["doc_id"], sort=False)
    uorder = np.argsort(doc_uniq.to_numpy(np.int64), kind="stable")
    rank = np.empty(len(uorder), dtype=np.int32)
    rank[uorder] = np.arange(len(uorder), dtype=np.int32)
    doc_inv = rank[doc_codes]
    doc_ids = doc_uniq.to_numpy(np.int64)[uorder]
    h_inv, _ = pd.factorize(pdf["sh_h"], sort=False)
    h_inv = h_inv.astype(np.int32)
    N = len(doc_ids)
    V = int(h_inv.max()) + 1
    order = np.argsort(doc_inv, kind="stable")  # radix on int32
    dh = h_inv[order]
    doc_off = np.searchsorted(doc_inv[order], np.arange(N + 1))
    sz = np.diff(doc_off).astype(np.int64)
    porder = np.argsort(h_inv, kind="stable")
    post_docs = doc_inv[porder]
    post_off = np.searchsorted(h_inv[porder], np.arange(V + 1))
    bc = spark.sparkContext.broadcast(
        (doc_ids, sz, doc_off, dh, post_off, post_docs))
    n_blocks = max(1, min(N, spark.sparkContext.defaultParallelism * 4))
    step = -(-N // n_blocks)
    thr = float(threshold)

    def gen(batches):
        b_ids, b_sz, b_doff, b_dh, b_poff, b_pdocs = bc.value
        for bdf in batches:
            for blk in bdf["id"].to_numpy():
                lo = int(blk) * step
                hi = min(N, lo + step)
                oa, ob, oj = [], [], []
                for ia in range(lo, hi):
                    hs = b_dh[b_doff[ia]:b_doff[ia + 1]]
                    if hs.size == 0:
                        continue
                    cand = np.concatenate(
                        [b_pdocs[b_poff[v]:b_poff[v + 1]] for v in hs])
                    cnt = np.bincount(cand, minlength=N)
                    cnt[:ia + 1] = 0  # a < b: count only larger ids
                    nz = np.flatnonzero(cnt)
                    if nz.size == 0:
                        continue
                    nc = cnt[nz]
                    jac = nc / (b_sz[ia] + b_sz[nz] - nc)
                    keep = jac >= thr
                    if not keep.any():
                        continue
                    kb = nz[keep]
                    oa.append(np.full(kb.size, b_ids[ia]))
                    ob.append(b_ids[kb])
                    oj.append(jac[keep])
                if oa:
                    yield pd.DataFrame({"a": np.concatenate(oa),
                                        "b": np.concatenate(ob),
                                        "jaccard": np.concatenate(oj)})

    blocks = spark.range(n_blocks).repartition(n_blocks)
    return blocks.mapInPandas(gen, "a BIGINT, b BIGINT, jaccard DOUBLE")


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, max_df: int | None = 1000) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (a < b, jaccard >= t).

    |A ∩ B| from the shingle self-join; |A ∪ B| = |A| + |B| - ∩.
    max_df drops shingles appearing in more than max_df docs. The
    default is FINITE on purpose: the shingle self-join fans out
    quadratically per shingle bucket, and at 100 TB a boilerplate
    shingle ("all rights reserved ...") in 10^8 docs would alone emit
    10^16 pairs — an unbounded default is a scale foot-gun. 1000 caps
    any one shingle's bucket at 10^6 pairs (one task's worth) and a
    shingle shared by >1000 docs is boilerplate, not near-dup signal
    (jaccard is then computed over the surviving informative
    shingles). Pass max_df=None only for small corpora where exact
    parity with a brute-force oracle is required.
    """
    sh = _shingle_hashes(df, id_col, text_col, n)
    if max_df is not None:
        hot = sh.groupBy("sh_h").count().where(F.col("count") > max_df)
        sh = sh.join(hot.select("sh_h"), "sh_h", "left_anti")
        # ONE shuffle of the shingle table: bucket per shingle hash,
        # then a JVM combinational explode of (a < b) pairs inside
        # the bucket. The self-join alternative shuffles the table
        # TWICE (both join sides) plus the join build; at 10^12 docs
        # the shingle table is the job's biggest intermediate, so
        # halving its shuffle passes is the dominant term. Bucket
        # arrays are bounded by max_df (<= 8 KB at the 1000 default),
        # so the collect_list agg buffer can never blow up.
        # collect_set, not collect_list: a doc whose two DIFFERENT
        # shingles collide to the same xxhash64 would appear twice in
        # the bucket and the positional explode would emit a (d, d)
        # self-pair (violating the a < b contract) and double-count
        # n_common for its genuine pairs. The set dedupes per bucket;
        # sorted distinct ids make every slice pair strictly a < b.
        inter = (
            sh.groupBy("sh_h")
            .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
            .where(F.size("ids") >= 2)
            .select(F.explode(F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x AS a, y AS b))))")).alias("p"))
            .groupBy("p.a", "p.b").agg(F.count("*").alias("n_common"))
        )
    else:
        # exact mode: the self-join's (pair, shared shingle) fan-out
        # is quadratic per shingle bucket with no max_df cap to bound
        # it. Below _EXACT_KERNEL_MAX_DOCS (count-gated, integer ids)
        # the distributed inverted-index kernel computes the identical
        # counts in native code without ever shuffling the fan-out;
        # past the gate the self-join fallback (spill-backed) remains
        # the only exact option.
        from pyspark.sql.types import LongType

        # LongType only: the kernel emits BIGINT ids — any other id
        # type would change the output schema vs the join path
        id_ok = isinstance(df.schema[id_col].dataType, LongType)
        if id_ok and df.count() <= _EXACT_KERNEL_MAX_DOCS:
            return _exact_pairs_blocked(sh, threshold)
        # unbounded buckets (oracle-parity fallback): keep the
        # self-join, whose fan-out Spark spills instead of an agg
        # buffer
        a = sh.select(F.col("doc_id").alias("a"), "sh_h")
        b = sh.select(F.col("doc_id").alias("b"), "sh_h")
        inter = (
            a.join(b, "sh_h")
            .where(F.col("a") < F.col("b"))
            .groupBy("a", "b").agg(F.count("*").alias("n_common"))
        )
    return _jaccard(inter, sh, threshold)


def minhash_signatures(df: DataFrame, n_perm: int = 32,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, seed: int = 42,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """(doc_id, sig: array<bigint>) MinHash signatures.

    One pass: shingle -> hash64 -> per-permutation affine hash ->
    min aggregate. All JVM-side (no UDF). hash_mode="portable" uses
    the md5-derived hash the DuckDB oracle can replicate."""
    sh = shingles(df, id_col, text_col, n).withColumn(
        "hv", F.pmod(_hash64("shingle", hash_mode), F.lit(_P)))
    aggs = [
        F.min((F.col("hv") * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"m{i}")
        for i, (a, b) in enumerate(_perm_params(n_perm, seed))
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(n_perm)]).alias("sig"))


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.5,
                      n_perm: int = 32, bands: int = 8,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, seed: int = 42,
                      hash_mode: str = "xxhash64") -> DataFrame:
    """Banding-LSH candidate generation + exact-jaccard verification.

    bands * rows_per_band == n_perm; a pair collides if any band of
    the signature matches exactly (groupBy on the band hash — pairs
    only form within small buckets, never a cross join).
    Output: (a, b, jaccard) with jaccard the EXACT n-gram jaccard of
    the verified candidates (so precision is 1; recall is the LSH
    probability curve).

    hash_mode="portable": md5-derived shingle hash AND the raw band
    value string as the bucket key (no band hash at all) — the exact
    candidate set is then reproducible in the DuckDB oracle; the
    default hashes each band slice to one 64-bit key (smaller shuffle
    rows, collision risk 2^-64 and collisions are exact-verified
    anyway)."""
    rows = _band_rows(n_perm, bands, "n_perm")
    # NOTE the shingle explode is referenced by four subtrees here
    # (signatures, sizes, both verify sides) and deliberately NOT
    # persisted: measured at sf1.0, caching the 2.6M-row shingle
    # table (80 MB columnar write + read barriers) costs more than
    # the three recomputes of the spread, fully-parallel explode
    # (3.8 s unpersisted vs 4.4-5.5 s with). Persist only pays for
    # expensive-to-recompute subtrees (see lsh_neardup_pairs' Arrow
    # signature pass).
    sig = minhash_signatures(df, n_perm, id_col, text_col, n, seed,
                             hash_mode)

    def band_key(bi):
        band = F.slice("sig", bi * rows + 1, rows)
        if hash_mode == "portable":
            return F.array_join(band.cast("array<string>"), ",")
        return F.xxhash64(band.cast("string"))

    cand = _band_pairs(sig, "doc_id", bands, band_key) \
        .select("a", "b").distinct()
    # Verify ONLY the candidate pairs: fan each pair out by doc a's
    # shingles, equi-join to doc b's shingle set on (b, shingle) to
    # count the intersection. Cost is O(Σ|shingles(a)| over candidate
    # pairs) — linear in candidates, never the corpus-quadratic
    # all-pairs self-join (which would defeat LSH's purpose at 100 TB).
    # hashed shingle keys for the verify join too (same 2^-64
    # collision argument as ngram_jaccard_pairs).
    # Measured-and-rejected (sf0.1 + sf1.0): persisting `cand` and
    # semi-joining the corpus to candidate doc ids before re-shingling
    # — the persist barrier plus the extra broadcast-build job chain
    # cost MORE than the two fully-parallel shingle recomputes they
    # avoid (sf0.1 2.3 s -> 3.7 s, sf1.0 4.8 s -> 5.0 s).
    # Also measured-and-rejected: a repartition("doc_id") reuse
    # boundary over this table — executed plans showed exchange reuse
    # NEVER fired for the three consumers (identical Generate-explode
    # count with and without it), so the extra exchange was pure
    # shuffle cost.
    sh = _shingle_hashes(df, id_col, text_col, n)
    inter = (
        cand.join(sh.selectExpr("doc_id AS a", "sh_h"), "a")
        .join(sh.selectExpr("doc_id AS b", "sh_h"), ["b", "sh_h"])
        .groupBy("a", "b").agg(F.count("*").alias("n_common"))
    )
    return _jaccard(inter, sh, threshold)


def simhash64(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text",
              hash_mode: str = "xxhash64") -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of the sum of
    +-1 votes from each token's xxhash64. All JVM-side: explode
    tokens, aggregate 64 conditional sums, reassemble bits.
    hash_mode="portable": md5-derived 60-bit token hash (bits 60-63
    then always vote -1 — a 60-bit fingerprint) so the DuckDB oracle
    can replicate the fingerprint bit-for-bit."""
    toks = (
        _docs(df, id_col, text_col)
        .select("doc_id", F.explode(F.split("_text", " ")).alias("tok"))
        .where(F.length("tok") > 0)
        .withColumn("hv", _hash64("tok", hash_mode))
    )
    # ONE parsed SQL string per aggregate / one for the assembly
    # instead of ~6 Column-API py4j round trips per bit: the Column
    # chain cost ~0.8 s of driver latency PER CONSTRUCTION
    # (measured, sf-independent); the parsed expressions are the
    # identical Catalyst nodes (CASE WHEN == when/otherwise,
    # shiftright/& == the Column operators), so plans and results are
    # unchanged.
    votes = toks.groupBy("doc_id").agg(*[
        F.expr(f"sum(CASE WHEN (shiftright(hv, {i}) & 1) = 1 "
               f"THEN 1 ELSE -1 END) AS b{i}")
        for i in range(64)
    ])
    # assemble: sum of 2^i for positive-vote bits (use decimal-safe
    # arithmetic: bit 63 would overflow signed; fold into negative).
    # bit-63 literal stays in the Column API: -(1 << 63) has no legal
    # SQL long literal (the parser rejects 9223372036854775808L before
    # unary minus applies).
    terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}L ELSE 0L END)"
        for i in range(63))
    top = F.when(F.col("b63") > 0, F.lit(-(1 << 63))).otherwise(F.lit(0))
    return votes.select("doc_id", (F.expr(terms) + top).alias("simhash"))


def simhash_near_pairs(df: DataFrame, k: int = 3, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_mode: str = "xxhash64") -> DataFrame:
    """Near-duplicate pairs within Hamming distance k of the 64-bit
    SimHash (the banded Hamming-k search the distance-0 groups
    compose into).

    Pigeonhole banding: split the 64 bits into k+1 contiguous bands —
    any pair within distance k agrees EXACTLY on at least one band, so
    candidates come from k+1 equi-joins on (band_index, band_bits),
    then one codegen bit_count(xor) verify. No cross join, all
    JVM-side; fan-out is bounded by band-bucket sizes exactly like
    MinHash banding."""
    nb = k + 1
    width = 64 // nb
    sh = simhash64(df, id_col, text_col, hash_mode)

    def band_key(bi):
        # band bi = bits [bi*width, ...); last band takes the rest
        return F.shiftrightunsigned(F.col("simhash"), bi * width).bitwiseAND(
            F.lit(-1 if bi == nb - 1 else (1 << width) - 1))

    # verify BEFORE the distinct: bit_count is one codegen instruction
    # per candidate, and filtering to hamming <= k first means the
    # distinct's shuffle carries only near pairs (usually a tiny
    # fraction of band-bucket candidates) instead of every candidate
    return (
        _band_pairs(sh, "doc_id", nb, band_key, carry="simhash")
        .select("a", "b",
                F.bit_count(F.col("ca").bitwiseXOR(F.col("cb")))
                .alias("hamming"))
        .where(F.col("hamming") <= k)
        .distinct()
    )


def simhash_dup_groups(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       max_ids: int | None = None,
                       hash_mode: str = "xxhash64") -> DataFrame:
    """Documents sharing an identical simhash (distance-0 groups;
    banded Hamming-k search composes from the same primitive).
    max_ids caps the per-group id list like exact_dedup's — applied
    BEFORE aggregation (rank filter) so the agg buffer itself is
    bounded, not just the output row."""
    return _id_groups(simhash64(df, id_col, text_col, hash_mode), "simhash",
                      [F.count("*").alias("n_docs")], max_ids,
                      having=F.col("n_docs") > 1)


def near_dup_groups(pairs: DataFrame,
                    driver_edge_limit: int = 2_000_000) -> DataFrame:
    """Collapse near-duplicate PAIRS (from minhash_lsh_pairs /
    ngram_jaccard_pairs / simhash_near_pairs) into duplicate GROUPS —
    connected components over the pair graph, the step a real corpus
    dedup pipeline runs before choosing per-group keepers.

    Pair graphs are usually tiny relative to the corpus: up to
    driver_edge_limit edges the closure is a driver union-find over
    ONE collected batch; bigger graphs switch to the distributed
    iterative neighbour-min closure, which never touches the driver
    (clump._components, the closure of clump's border merge). Output: (doc_id, group_id) for
    every document in some group; group_id = the group's minimum
    doc_id (deterministic keeper)."""
    from .clump import _components

    return _components(pairs.selectExpr("a AS la", "b AS lb"),
                       driver_edge_limit).selectExpr(
        "node AS doc_id", "root AS group_id")


def contamination_flags(corpus: DataFrame, eval_set: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, min_shared: int = 1) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at
    least min_shared word n-grams with any held-out evaluation
    document (the train/test-overlap scrub every LLM pretraining
    pipeline runs before training; n-gram membership test per
    GPT-3 appendix C / The Pile).

    Scale design: the EVAL side is small by construction (benchmarks
    are thousands of docs, the corpus is billions), so its distinct
    shingle-hash set is collected into a broadcast hash join — the
    corpus side streams through map-side with ZERO shuffle of corpus
    bytes; the only aggregation is per-corpus-doc counting of matched
    shingles, which Spark does with a map-side partial first.

    Returns (doc_id, n_shared) for contaminated docs only —
    downstream does an anti-join against this to drop them.
    """
    ev = _shingle_hashes(eval_set, id_col, text_col, n) \
        .select("sh_h").distinct()
    return (
        _shingle_hashes(corpus, id_col, text_col, n)
        .join(F.broadcast(ev), "sh_h")
        .groupBy("doc_id").agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def span_dup_stats(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", span_tokens: int = 16,
                   hash_mode: str = "xxhash64",
                   stride: int | None = None) -> DataFrame:
    """CROSS-document span-level dedup stats (the C4 / deduplicating-
    training-data recipe): chunk each document into ``span_tokens``-
    token spans starting every ``stride`` tokens, and per document
    report how many of its distinct spans also occur in ANOTHER
    document — the signal span-removal / doc-dropping policies act
    on. Complements the doc-level family (exact/minhash/simhash) and
    the WITHIN-doc repetition_stats.

    ``stride`` defaults to ``span_tokens`` (non-overlapping chunks).
    NOTE the non-overlapping default is offset-sensitive: two
    documents sharing a long passage at token offsets misaligned mod
    ``span_tokens`` produce DISJOINT span sets and the duplication is
    invisible. More generally, two emitted spans align only when the
    passage's start offsets agree mod ``stride`` — intermediate
    strides (e.g. span/2) only raise the PROBABILITY of alignment.
    ``stride=1`` removes the condition entirely: spans start at every
    token offset (classic k-gram shingling), so ANY shared passage
    >= span_tokens yields identical full windows in both documents —
    guaranteed detection, the bounded-shuffle equivalent of the
    suffix-array ExactSubstr recipe (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") at the fixed
    granularity span_tokens. Cost is n_tokens/stride span rows per
    doc (each an 8-byte hash before any shuffle — the same row bill
    as the minhash shingle explode), so stride=1 is ~span_tokens x
    the default's row count.

    Returns (doc_id, n_spans, n_shared, dup_frac).

    Scale shape: tokens are MATERIALIZED once per row before the
    explode (HOF lambdas run interpreted — re-splitting inside the
    lambda would tokenize O(spans) times per doc, the shingles()
    lesson above), spans hash to 8-byte keys BEFORE any shuffle,
    distinct per (doc, hash). The per-hash doc count is a window over
    the distinct (doc, hash) rows — ONE computation of the span
    subtree and one shuffle on h (a groupBy + self-join would re-run
    the whole scan/explode/distinct subtree twice); each doc
    contributes a span at most once, bounding hot-span skew. NULL
    text is treated as '' (one empty span — empty docs are duplicates
    of each other), so every input doc gets an output row.
    hash_mode='portable' switches to the md5-derived 60-bit hash the
    DuckDB oracle replicates (same contract as minhash_signatures).
    """
    from pyspark.sql import Window

    if stride is None:
        stride = span_tokens
    if not 1 <= stride <= span_tokens:
        raise ValueError(f"stride must be in [1, span_tokens], got {stride}")
    spans = (
        _docs(df, id_col, text_col)
        .select("doc_id",
                F.split(F.coalesce(F.col("_text"), F.lit("")), " ")
                .alias("_tk"))
        .selectExpr(
            "doc_id",
            # span assembly by direct element indexing, not
            # array_join(slice(...)): the slice allocates a sub-array
            # per span inside the interpreted transform lambda (the
            # shingles() lesson; measured 1.3 s -> 0.85 s on the 2.7M
            # stride-1 spans at sf1.0). try_element_at (1-based)
            # yields NULL past the end of the token array and
            # concat_ws skips NULLs, which equals array_join of the
            # truncated slice exactly (split() never yields NULL
            # tokens, and the sequence bound keeps the first element
            # in range) — verified row-identical vs the slice form.
            f"explode(transform("
            f"sequence(0, CAST(ceil(size(_tk) / {stride}.0) AS INT)"
            f" - 1), "
            f"i -> concat_ws(' ', " + ", ".join(
                f"try_element_at(_tk, i * {stride} + {j + 1})"
                for j in range(span_tokens)) + "))) AS span")
    )
    hs = spans.select(
        "doc_id", _hash64("span", hash_mode).alias("h")).distinct()
    # (doc, h) is distinct, so per-hash row count == distinct docs
    nd = hs.withColumn("nd", F.count("*").over(Window.partitionBy("h")))
    return (
        nd.groupBy("doc_id")
        .agg(F.count("*").alias("n_spans"),
             F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
             .alias("n_shared"))
        .withColumn("dup_frac", F.round(
            F.col("n_shared") / F.col("n_spans").cast("double"), 6))
    )


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Within-document repetition quality signals (the Gopher /
    MassiveText repetition filters): fraction of duplicate word
    n-grams and the most-frequent-token share. Repetitive documents
    (boilerplate, keyword stuffing, ASCII art) score high and are
    dropped before training.

    Everything is a per-row projection over the token array — no
    shuffle, no UDF; at 100 TB this runs at scan speed inside
    whole-stage codegen's higher-order expressions.

    Returns (doc_id, n_tokens, dup_ngram_frac, top_token_frac):
      dup_ngram_frac  = 1 - distinct_ngrams / total_ngrams (0 when
                        the doc has fewer than n tokens)
      top_token_frac  = occurrences of the most frequent token /
                        n_tokens (ties resolved by the count alone —
                        only the max count matters)
    """
    return (
        # the n-gram/array_sort/aggregate projections are interpreted
        # higher-order functions, all in the (spread) scan stage: this
        # operator has no shuffle at all
        _docs(df, id_col, text_col)
        .select("doc_id", F.split("_text", " ").alias("_toks"))
        .selectExpr(
            "doc_id",
            "size(_toks) AS n_tokens",
            f"""CASE WHEN size(_toks) < {n} THEN CAST(0 AS DOUBLE)
                ELSE 1 - CAST(size(array_distinct(
                    transform(sequence(0, size(_toks) - {n}),
                              i -> {_gram(n)}))) AS DOUBLE)
                     / CAST(size(_toks) - {n} + 1 AS DOUBLE)
            END AS dup_ngram_frac""",
            # max token frequency == longest equal run of the SORTED
            # array: O(N log N) sort + O(N) fold. The obvious
            # per-distinct-token filter scan is O(distinct * N) —
            # quadratic on a 10^5-token document, a per-row time bomb
            # at corpus scale.
            """CAST(aggregate(array_sort(_toks),
                   named_struct('prev', CAST(NULL AS STRING),
                                'run', 0L, 'best', 0L),
                   (acc, x) -> named_struct(
                       'prev', x,
                       'run', IF(acc.prev <=> x, acc.run + 1, 1L),
                       'best', greatest(acc.best,
                                IF(acc.prev <=> x, acc.run + 1, 1L))),
                   acc -> acc.best) AS DOUBLE)
               / CAST(size(_toks) AS DOUBLE) AS top_token_frac""",
        )
    )
