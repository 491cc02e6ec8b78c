"""Dedup operators over a corpus with planted duplicates."""

import pytest
from pyspark.sql import functions as F

from borges_spark.operators import dedup as D

BASE = "the quick brown fox jumps over the lazy dog near the river bank today"
DOCS = [
    (0, BASE),
    (1, BASE),  # exact dup of 0
    (2, "  The Quick  brown fox jumps over the lazy dog near the river bank today "),  # ws/case dup
    (3, BASE.replace("today", "tonight")),  # near dup
    (4, "completely different text about spark shuffles and parquet files and arrow"),
    (5, "completely different text about spark shuffles and parquet files and arrows"),  # near dup of 4
    (6, "unrelated short doc"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r["n_dups"] for r in D.dedup_exact(docs).collect()}
    assert out[0] == 3  # 0, 1, 2 collapse (normalized)
    assert 1 not in out and 2 not in out
    assert out[3] == 1 and out[4] == 1


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs
    assert (0, 3) in pairs or (1, 3) in pairs or (2, 3) in pairs
    assert (4, 5) in pairs
    assert (0, 6) not in pairs and (4, 6) not in pairs


def test_simhash_hamming(spark, docs):
    tbl = {r["doc_id"]: r["simhash"] for r in D.simhash_table(docs).collect()}
    assert tbl[0] == tbl[1]  # identical text
    ham_03 = bin(tbl[0] ^ tbl[3]).count("1")
    ham_04 = bin(tbl[0] ^ tbl[4]).count("1")
    assert ham_03 < ham_04  # near dup closer than unrelated

    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in D.simhash_neardup_pairs(docs, max_hamming=6).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 6) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in D.ngram_jaccard_pairs(docs, threshold=0.7).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 3) in pairs and pairs[(0, 3)] >= 0.7
    assert (0, 4) not in pairs


def test_embedding_neardup(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),  # near dup of 0, same bucket
        (2, [0.0, 1.0, 0.0, 0.0], 0),  # same bucket, not similar
        (3, [1.0, 0.0, 0.0, 0.0], 1),  # identical to 0 but other bucket -> unseen
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"] for r in D.embedding_neardup_pairs(emb, threshold=0.95).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs
    assert (0, 3) not in pairs  # bucketing bounds candidates by design


def test_duplicate_groups(spark):
    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4), (6, 7)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in D.duplicate_groups(ids, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 6}


def test_duplicate_groups_chain(spark):
    # long chain exercises multi-iteration propagation
    n = 12
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r["doc_id"]: r["group_id"] for r in D.duplicate_groups(ids, pairs).collect()}
    assert all(v == 0 for v in got.values())


def test_duplicate_groups_log_rounds(spark):
    """The alternating large-star/small-star loop must converge in
    O(log diameter) rounds — a 64-node chain (diameter 63) in well under
    63 iterations (min-label propagation would need all 63)."""
    n = 64
    ids = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    iters: list = []
    got = {
        r["doc_id"]: r["group_id"]
        for r in D.duplicate_groups(ids, pairs, iters_out=iters).collect()
    }
    assert all(v == 0 for v in got.values())
    assert iters[0] <= 10, iters  # log2(63) ~ 6 + convergence confirmation


def test_duplicate_groups_star_and_isolated(spark):
    """Mixed topology: a star, an isolated node, a pair with string-ish
    large ids — labels must be the component minimum everywhere."""
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 9, 50, 51]], "doc_id long")
    pairs = spark.createDataFrame(
        [(2, 1), (3, 1), (4, 1), (51, 50)], "id_a long, id_b long"
    )
    got = {r["doc_id"]: r["group_id"] for r in D.duplicate_groups(ids, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 9: 9, 50: 50, 51: 50}


def test_fast_hash_mode_same_verified_pairs(spark):
    """hash_mode='fast' (xxhash64, the production path) must find the
    same VERIFIED near-dup pairs as the md5 oracle path on a corpus of
    clear duplicates + clearly distinct docs (LSH candidates may differ
    per hash; verified pairs for unambiguous dups must not)."""
    import borges_spark.operators.dedup as D

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different content about distributed query engines",
        "a third unrelated document mentioning parquet row groups",
    ]
    rows = []
    for i, t in enumerate(base):
        rows.append((2 * i, t))
        rows.append((2 * i + 1, t))  # exact duplicate partner
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    expected = {(0, 1), (2, 3), (4, 5)}

    for mode in ("oracle", "fast"):
        mh = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(docs, hash_mode=mode).collect()
        }
        assert mh == expected, f"minhash pairs under {mode}: {mh}"
        sh = {
            (r["id_a"], r["id_b"])
            for r in D.simhash_neardup_pairs(docs, hash_mode=mode).collect()
        }
        assert sh == expected, f"simhash pairs under {mode}: {sh}"


# ---------------------------------------------------------------------------
# exact substring dedup (duplicated spans)


def _spans(df):
    return {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_windows"])
        for r in df.collect()
    }


@pytest.mark.parametrize("mode", ["oracle", "fast"])
def test_substring_dedup_spans(spark, docs, mode):
    """BASE is 14 tokens; docs 0/1/2 normalize to identical token
    sequences (full span), doc 3 differs only in the last token (its
    last window is unique), docs 4/5 are an 11-token pair differing in
    the last token, doc 6 is shorter than the window."""
    out = _spans(D.duplicated_spans(docs, w=8, hash_mode=mode))
    assert (0, 1, 14, 7) in out and (1, 1, 14, 7) in out and (2, 1, 14, 7) in out
    # doc 3: windows 1-6 shared with BASE (window 7 contains 'tonight')
    assert (3, 1, 13, 6) in out
    # docs 4/5: windows 1-3 shared (window 4 contains arrow vs arrows)
    assert (4, 1, 10, 3) in out and (5, 1, 10, 3) in out
    assert not any(t[0] == 6 for t in out)
    assert len(out) == 6


@pytest.mark.parametrize("mode", ["oracle", "fast"])
def test_substring_dedup_within_doc_repeat(spark, mode):
    """A single doc repeating an 8-token run with a >w gap duplicates
    its own windows: two separate spans, no other doc involved."""
    run = "a b c d e f g h"
    doc = f"{run} x1 x2 x3 x4 x5 x6 x7 x8 x9 {run}"
    df = spark.createDataFrame([(0, doc)], "doc_id long, text string")
    out = _spans(D.duplicated_spans(df, w=8, hash_mode=mode))
    assert out == {(0, 1, 8, 1), (0, 18, 25, 1)}


@pytest.mark.parametrize("mode", ["oracle", "fast"])
def test_substring_dedup_adjacent_windows_merge(spark, mode):
    """A shared 16-token run produces 9 overlapping duplicated windows
    that merge into ONE maximal span per doc."""
    run = " ".join(f"t{i}" for i in range(16))
    df = spark.createDataFrame(
        [(0, run + " uniqueleft"), (1, "uniqueright " + run)],
        "doc_id long, text string",
    )
    out = _spans(D.duplicated_spans(df, w=8, hash_mode=mode))
    assert out == {(0, 1, 16, 9), (1, 2, 17, 9)}


def test_substring_dedup_null_short_and_whitespace(spark):
    """Null text, sub-window docs, and leading/odd whitespace never
    produce spans or break tokenization parity across modes."""
    rows = [
        (0, None),
        (1, "too short"),
        (2, "\t  the quick brown fox jumps over the lazy dog near the river bank today"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank today\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for mode in ("oracle", "fast"):
        out = _spans(D.duplicated_spans(df, w=8, hash_mode=mode))
        # docs 2 and 3 tokenize to the same 14 tokens despite the \t/\n
        assert out == {(2, 1, 14, 7), (3, 1, 14, 7)}, mode


@pytest.mark.parametrize("mode", ["oracle", "fast"])
def test_remove_duplicated_spans(spark, docs, mode):
    """ExactSubstr removal over the module corpus: fully-duplicated
    docs empty out, partially-duplicated docs keep exactly the tokens
    outside their spans, unique docs pass through normalized."""
    out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in D.remove_duplicated_spans(docs, w=8, hash_mode=mode).collect()}
    assert out[0] == ("", 14) and out[1] == ("", 14) and out[2] == ("", 14)
    assert out[3] == ("tonight", 13)
    assert out[4] == ("arrow", 10) and out[5] == ("arrows", 10)
    assert out[6] == ("unrelated short doc", 0)


def test_remove_duplicated_spans_interior_and_null(spark):
    """Interior spans keep the surrounding tokens in order; null text
    stays null; sub-window docs pass through."""
    run = " ".join(f"r{i}" for i in range(8))
    rows = [
        (0, f"left edge {run} right edge"),
        (1, f"other prefix {run} other suffix"),
        (2, None),
        (3, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in D.remove_duplicated_spans(df, w=8).collect()}
    assert out[0] == ("left edge right edge", 8)
    assert out[1] == ("other prefix other suffix", 8)
    assert out[2] == (None, 0)
    assert out[3] == ("too short", 0)


def test_numpy_xxh64_bit_parity_with_spark(spark):
    """The worker-side minhash fast path replays Spark's XXH64
    (hashInt-seeded hashLong) — assert bit equality against the real
    F.xxhash64 over random (perm, shingle) pairs."""
    import numpy as np

    from borges_spark.operators.dedup import _xxh64_int_scalar, _xxh64_long_vec

    rng = np.random.default_rng(1)
    rows = [
        (int(p), int(v))
        for p, v in zip(
            rng.integers(0, 16, 64),
            rng.integers(-2**63, 2**63, 64, dtype=np.int64),
        )
    ]
    df = spark.createDataFrame(rows, "perm int, sh long")
    got = [r["h"] for r in df.select(F.xxhash64(F.col("perm"), F.col("sh")).alias("h")).collect()]
    want = [
        int(np.int64(_xxh64_long_vec(np.array([v]).astype(np.uint64), _xxh64_int_scalar(p))[0]))
        for p, v in rows
    ]
    assert got == want


# ---------------------------------------------------------------------------
# round-6 optimization parity gates: each rewritten hot path vs the
# former JVM-expression formulation it replaced (independent engine,
# same spec)


EDGE_TEXTS = [
    (10, ""),
    (11, " "),
    (12, "\tleading tab and trailing\t"),
    (13, "a  b\n\nc"),
    (14, None),
    (15, "x" * 3),  # shorter than one shingle
    (16, "Mixed CASE   WhiteSpace\x0bforms\r\nhere"),
]


def _old_minhash_wide_expr(docs):
    """The pre-r6 JVM oracle signature: interpreted shingle transform +
    explode + md5 expression + wide min-agg. Kept here as the parity
    arm for the worker-side rewrite."""
    from borges_spark.functions.text import (
        MINHASH_P,
        MINHASH_PERMS,
        MINHASH_X_MOD,
        hash60_col,
        minhash_perm_consts,
    )
    from borges_spark.operators.dedup import shingles_col

    ex = docs.select(F.col("doc_id"), F.explode(shingles_col(F.col("text"))).alias("sh"))
    x = hash60_col(F.col("sh")) % F.lit(MINHASH_X_MOD)
    hcols = [
        ((x * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_perm_consts(MINHASH_PERMS))
    ]
    return ex.select("doc_id", *hcols).groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(MINHASH_PERMS)]
    )


def test_minhash_oracle_worker_matches_jvm_expression(spark, docs):
    df = docs.unionByName(spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string"))
    got = {tuple(r) for r in D.minhash_wide_frame(df, hash_mode="oracle").collect()}
    want = {tuple(r) for r in _old_minhash_wide_expr(df).collect()}
    # null-text docs appear in both outputs as all-NULL signature rows:
    # shingles_col(NULL) is [NULL], so explode keeps one NULL shingle
    assert got == want
    null_row = (14,) + (None,) * 8
    assert null_row in got
    # one null policy for both hash modes
    fast = {tuple(r) for r in D.minhash_wide_frame(df, hash_mode="fast").collect()}
    assert null_row in fast and len(fast) == len(got)


def test_minhash_pairs_salted_join_matches_unsalted(spark, docs):
    # two null-text docs: their all-NULL signatures must not pair with
    # each other (or anything else) in either hash mode
    nulls = spark.createDataFrame([(20, None), (21, None)], "doc_id long, text string")
    df = docs.unionByName(nulls)
    for mode in ("oracle", "fast"):
        salted = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(df, hash_mode=mode, salt_k=4).collect()
        }
        plain = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(df, hash_mode=mode, salt_k=1).collect()
        }
        assert salted == plain and salted
        assert not any({20, 21} & set(p) for p in salted), (mode, salted)


def test_simhash_np_votes_match_expression_fold(spark, docs):
    df = docs.unionByName(spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string"))
    for mode in ("oracle", "fast"):
        got = {tuple(r) for r in D.simhash_table(df, hash_mode=mode).collect()}
        want = {tuple(r) for r in D.simhash_table(df, hash_mode=mode, impl="expr").collect()}
        assert got == want


def _old_embedding_neardup_expr(emb, threshold):
    from borges_spark.operators.dedup import cosine_sim_col

    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"),
                   F.col("label").alias("bk"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"),
                   F.col("label").alias("bk"))
    cand = a.join(b, "bk").filter(F.col("id_a") < F.col("id_b"))
    sim = cosine_sim_col(F.col("v_a").cast("array<double>"), F.col("v_b").cast("array<double>"))
    return (cand.withColumn("cosine", F.round(sim, 6))
            .filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine"))


def test_embedding_neardup_numpy_matches_expression(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 7),
        (1, [0.92, 0.39, 0.0], 7),
        (2, [1.0, 0.001, 0.0], 7),
        (3, [0.4, 0.9165151, 0.0], 7),   # near the 0.92 boundary vs id 1
        (4, None, 7),                     # null vector: dropped by both
        (5, [1.0, 0.0, 0.0], None),       # null bucket: dropped by both
        (6, [-1.0, 0.0, 0.0], 8),
        (7, [-0.999, -0.02, 0.0], 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    for thr in (0.92, 0.4, 0.95):
        got = {(r["id_a"], r["id_b"]): r["cosine"]
               for r in D.embedding_neardup_pairs(emb, threshold=thr).collect()}
        want = {(r["id_a"], r["id_b"]): r["cosine"]
                for r in _old_embedding_neardup_expr(emb, thr).collect()}
        assert got == want


def test_embedding_neardup_zero_norm_raises(spark):
    import pytest as _pytest

    rows = [(0, [1.0, 0.0], 1), (1, [0.0, 0.0], 1)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    with _pytest.raises(Exception, match="(?i)zero|divide"):
        D.embedding_neardup_pairs(emb, threshold=0.5).collect()
