"""Deduplication operators for web-scale corpus construction.

The reference deduplicates by keyed probe-before-insert
(Borges/db_scripts/insert_jl.py:28-38) and by fuzzy similarity
(SequenceMatcher ratio >= 0.99 — Borges/spiders/AIP/
download_abstract.py:105-108). At 100 TB those become the standard
corpus-dedup suite below. Every operator is pure DataFrame algebra —
the only shuffles are the keyed groupBys/joins Catalyst already
optimizes, and candidate generation is always *banded/bucketed* so no
O(n^2) pair enumeration ever materializes.

Hashes use the cross-engine 60-bit md5 scheme from functions.text so
each operator has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from borges_spark.functions.text import (
    MINHASH_P,
    MINHASH_PERMS,
    MINHASH_X_MOD,
    SHINGLE_LEN,
    SIMHASH_BITS,
    fingerprint_col,
    minhash_perm_consts,
    normalize_ws,
    split_words,
)

# ---------------------------------------------------------------------------
# exact dedup


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-content hash; keeps the smallest id per
    group (deterministic). One map-side-combinable shuffle."""
    # NOTE: no input repartition here — the groupBy ships only (fp, id)
    # tuples after map-side combine, so forcing a full-text shuffle to
    # parallelize the hash map costs more than the map saves; scan-split
    # granularity (row groups) is the right parallelism source.
    return (
        docs.withColumn("fp", fingerprint_col(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
        .select(id_col, "fp", "n_dups")
    )


# ---------------------------------------------------------------------------
# shingles


def shingles_col(text_col: Column, k: int = SHINGLE_LEN) -> Column:
    """Distinct character k-gram shingles of the normalized text."""
    norm = F.regexp_replace(F.lower(text_col), r"\s+", " ")
    idx = F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, k)))


_POLY_BASE = 1099511628211  # FNV-1a prime: odd, full-period mod 2^64


def _rolling_hash_doc(text: str | None, k: int):
    """Distinct 64-bit hashes of the k-BYTE windows of the normalized
    text, fully vectorized: k shifted multiply-adds build a polynomial
    hash of every window at once, then a splitmix64 finalizer
    decorrelates the polynomial structure and np.unique dedups.
    Returns int64 array (Arrow list<long>-ready), or None for null."""
    import numpy as np

    if text is None:
        return None
    b = np.frombuffer(normalize_ws(text).encode(), dtype=np.uint8)
    n = len(b)
    base = np.uint64(_POLY_BASE)
    if n <= k:
        # one window: the whole (short) normalized text
        h = np.zeros(1, dtype=np.uint64)
        for i in range(n):
            h = h * base + np.uint64(b[i])
    else:
        w = n - k + 1
        h = np.zeros(w, dtype=np.uint64)
        for i in range(k):
            h = h * base + b[i : w + i].astype(np.uint64)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return np.unique(h).view(np.int64)


def shingle_hash_frame(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = SHINGLE_LEN) -> DataFrame:
    """(id, hs array<bigint>) — distinct shingle hashes per doc, the
    vectorized production path for the shingle snapshot: mapInPandas
    with a numpy rolling hash (embarrassingly parallel, Arrow-batched,
    no shuffle). ~5x the JVM higher-order-function expression at equal
    output, because sequence/transform/array_distinct evaluate
    interpreted per element while this path does k multiply-adds over
    whole arrays.

    Semantics: windows are k BYTES of the UTF-8 text normalized by
    functions.text.normalize_ws (only the JVM's ASCII \\s collapses) —
    identical to k CHARACTER shingles for ASCII corpora (all testdata
    and oracle corpora are ASCII-checked); non-ASCII text keeps
    internally consistent near-dup sets but diverges from a
    char-shingle oracle. Set cardinalities match string shingles
    barring 2^-64-scale hash collisions."""
    out_schema = f"{id_col} bigint, hs array<bigint>"

    def gen(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "hs": [_rolling_hash_doc(t, k) for t in pdf[text_col]],
                }
            )

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# MinHash + LSH


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh64_int_scalar(value: int, seed: int = 42) -> int:
    """Spark XXH64.hashInt (catalyst XxHash64 on an IntegerType column),
    bit-exact — used to pre-fold the constant perm column into a seed."""
    M = (1 << 64) - 1
    h = (seed + _XXH_P5 + 4) & M
    h ^= ((value & 0xFFFFFFFF) * _XXH_P1) & M
    h = ((h << 23 | h >> 41) & M) * _XXH_P2 + _XXH_P3
    h &= M
    h ^= h >> 33
    h = (h * _XXH_P2) & M
    h ^= h >> 29
    h = (h * _XXH_P3) & M
    h ^= h >> 32
    return h


def _xxh64_long_vec(values, seed: int):
    """Spark XXH64.hashLong over a uint64 numpy array, bit-exact
    (verified against F.xxhash64 in tests): the 8-byte single-block
    path + avalanche, all mod-2^64 numpy arithmetic."""
    import numpy as np

    v = values.astype(np.uint64, copy=False)
    k1 = v * np.uint64(_XXH_P2)
    k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
    k1 *= np.uint64(_XXH_P1)
    h = np.uint64((seed + _XXH_P5 + 8) & ((1 << 64) - 1)) ^ k1
    h = ((h << np.uint64(27)) | (h >> np.uint64(37))) * np.uint64(_XXH_P1) + np.uint64(_XXH_P4)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_XXH_P2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_XXH_P3)
    h ^= h >> np.uint64(32)
    return h


def _md5_affine_signer(n_perms: int, k: int):
    """Oracle-mode per-doc signature: the 60-bit md5 of every distinct
    CHARACTER shingle (the int of the first 15 hex chars == the first 8
    digest bytes >> 4, exactly what hash60_col compiles to) mod 2^30,
    spread by the affine family from minhash_perm_consts. Every
    intermediate fits uint64 exactly (x < 2^30, a,b < 2^31), so the
    DuckDB oracle (same md5, same constants) gates the values exactly.

    The md5 cache exploits the dup-heavy shape of real corpora:
    duplicated shingles hash once per task, and the cache is size-capped
    so a pathological vocabulary cannot grow it unbounded."""
    import hashlib

    import numpy as np

    consts = minhash_perm_consts(n_perms)
    A = np.array([a for a, _ in consts], dtype=np.uint64)[:, None]
    B = np.array([b for _, b in consts], dtype=np.uint64)[:, None]
    P = np.uint64(MINHASH_P)
    x_mask = MINHASH_X_MOD - 1  # power of two: % == bitmask
    cache: dict[str, int] = {}

    def sign(text: str):
        norm = normalize_ws(text)
        xs = []
        for s in {norm[j : j + k] for j in range(max(len(norm) - k + 1, 1))}:
            x = cache.get(s)
            if x is None:
                x = (int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big") >> 4) & x_mask
                if len(cache) < (1 << 22):
                    cache[s] = x
            xs.append(x)
        xv = np.asarray(xs, dtype=np.uint64)[None, :]
        return ((A * xv + B) % P).min(axis=1).astype(np.int64)

    return sign


def _xxh64_signer(n_perms: int, k: int):
    """Fast-mode per-doc signature: rolling-hash shingles, then perm i's
    minimum of shiftrightunsigned(xxhash64(int(i), sh), 4) through the
    bit-exact worker replica of Spark's XXH64 (the q:minhash_lsh_fast
    diff gate proves the values against the JVM formulation)."""
    import numpy as np

    seeds = [_xxh64_int_scalar(i) for i in range(n_perms)]

    def sign(text: str):
        u = _rolling_hash_doc(text, k).view(np.uint64)
        return np.array(
            [(_xxh64_long_vec(u, s) >> np.uint64(4)).min() for s in seeds], dtype=np.uint64
        ).astype(np.int64)

    return sign


def minhash_wide_frame(docs: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_perms: int = MINHASH_PERMS,
                       k: int = SHINGLE_LEN, hash_mode: str = "oracle") -> DataFrame:
    """(id, h0..h{n-1}) — all n permutation minima of each doc, computed
    end-to-end in one numpy worker pass: one row per doc out, zero
    shuffle.

    Permutations are the universal affine family h_i(x) = (a_i*x + b_i)
    mod p over ONE base hash x per shingle in 'oracle' mode
    (_md5_affine_signer: md5-60bit of character shingles, reproduced
    exactly by the DuckDB oracle), and n_perms xxhash64 spreads of the
    rolling-hash shingles in 'fast' mode (_xxh64_signer, the deployment
    path). Both normalize with functions.text.normalize_ws.

    A null text yields a row whose minima are all NULL, in both modes:
    the DuckDB minhash_signature oracle has that row (its one shingle
    is NULL). NULL band values never satisfy the LSH equi-join, so a
    null-text doc forms no pair."""
    make_signer = {"oracle": _md5_affine_signer, "fast": _xxh64_signer}[hash_mode]
    out_schema = f"{id_col} bigint, " + ", ".join(f"h{i} bigint" for i in range(n_perms))

    def gen(it):
        import numpy as np
        import pandas as pd

        sign = make_signer(n_perms, k)  # once per task: the oracle cache lives here
        for pdf in it:
            null = pdf[text_col].isna().to_numpy()
            mins = np.zeros((n_perms, len(pdf)), dtype=np.int64)
            for r, t in enumerate(pdf[text_col]):
                if not null[r]:
                    mins[:, r] = sign(t)
            data = {id_col: pdf[id_col]}
            for j in range(n_perms):
                data[f"h{j}"] = pd.arrays.IntegerArray(mins[j], null)
            yield pd.DataFrame(data)

    # spread docs across the cluster BEFORE the signature pass: a
    # single-row-group parquet source would otherwise pin the whole
    # worker stage (the dominant cost) onto one task
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def minhash_signature(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_perms: int = MINHASH_PERMS, hash_mode: str = "oracle") -> DataFrame:
    """(id, perm, minhash) — minhash_wide_frame's signature, one row per
    (doc, perm); a null text has NULL minima.

    shingle -> minhash -> band -> bucket-join is the classic pipeline;
    computed wide (one pass) then unpivoted to the long shape.
    """
    wide = minhash_wide_frame(docs, text_col, id_col, n_perms, hash_mode=hash_mode)
    stack = ", ".join(f"{i}, h{i}" for i in range(n_perms))
    return wide.selectExpr(
        id_col, f"stack({n_perms}, {stack}) AS (perm, minhash)"
    ).select(id_col, F.col("perm").cast("int"), "minhash")


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      n_perms: int = MINHASH_PERMS, band_size: int = 2,
                      hash_mode: str = "oracle", salt_k: int = 8) -> DataFrame:
    """Candidate near-dup pairs: ids sharing any LSH band bucket.

    The self-join is an equi-join on the band's RAW minhash values —
    bucketed, never all-pairs. Raw-value equality is exactly the md5
    band-hash equality the DuckDB oracle tests (md5 of the concatenated
    minhashes is injective barring md5 collisions), minus n_bands md5 +
    string-concat evaluations per doc.

    Skew (guide §2.5): a template cluster puts thousands of docs into
    ONE band bucket — a single join key whose s^2/2 pair expansion AQE
    cannot split (measured at sf0.1: one bucket of 2,138 docs emitted
    2.28M of the 4.18M pre-distinct pairs in one task; the hot task IS
    the query wall at 10x that scale). Both sides are therefore salted
    into a salt_k x salt_k chunk grid keyed by a deterministic hash of
    the doc id: side A replicates each row for every partner chunk cb,
    side B for every ca, and the join keys on (band, values, ca, cb) —
    every (a, b) pair still meets exactly once (at (ca(a), cb(b))), but
    the hottest bucket now spreads over salt_k^2 independent keys.
    Replication cost is salt_k x a few tens of bytes per band row —
    O(n) small rows against an O(s^2) hot-key split.

    Dedup across bands happens at the JOIN ROW, not in a global
    distinct: each band row carries the doc's full signature array, and
    a matched pair survives only at its FIRST matching band (an exact
    in-row check that no earlier band's raw values also agree). Every
    surviving pair is therefore emitted exactly once — within a band a
    pair can meet only once, and across bands minimality is unique — so
    the former `.distinct()` (a full shuffle of every candidate pair,
    measured at 67 M rows on the 20k-doc stress set) disappears
    entirely. Output multiset identical: proven by a 0-row exceptAll
    diff against the distinct formulation on that stress set in both
    hash modes, by the sf0.01 oracle (33,625 pairs with band
    multiplicity up to 4), and by the all-bands-agree duplicate-partner
    test.

    A null-text doc forms no pair, in either hash mode: its signature
    row is all NULL (minhash_wide_frame) and NULL band values never
    satisfy the equi-join. This matches the DuckDB oracle, whose
    string_agg over NULL minima gives a NULL band hash. (The pre-r6
    md5(concat_ws) band hash skipped NULLs, so it paired every null-text
    doc with every other.)

    The signature subtree is persist()ed: both join sides consume it,
    and without the cache marker each side would re-run the worker
    signature pass (plan-identical subtrees do not share work across
    two Exchanges).
    """
    wide = minhash_wide_frame(docs, text_col, id_col, n_perms, hash_mode=hash_mode).persist()
    n_bands = n_perms // band_size
    vcols = [f"v{j}" for j in range(band_size)]
    sig = F.array(*[F.col(f"h{i}") for i in range(n_perms)])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    F.col(f"h{b * band_size + j}").alias(vcols[j])
                    for j in range(band_size)
                ],
            )
            for b in range(n_bands)
        ]
    )
    bands = wide.select(
        F.col(id_col), sig.alias("sig"), F.explode(band_structs).alias("bb")
    ).select(
        id_col, "sig", F.col("bb.band").alias("band"),
        *[F.col(f"bb.{v}").alias(v) for v in vcols],
    )
    chunk = F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_k)).cast("int")
    salts = F.array(*[F.lit(j) for j in range(salt_k)])
    a = bands.select(
        F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"), "band", *vcols,
        chunk.alias("ca"), F.explode(salts).alias("cb"),
    )
    b = bands.select(
        F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"), "band", *vcols,
        F.explode(salts).alias("ca"), chunk.alias("cb"),
    )

    def _band_eq(bp: Column) -> Column:
        # earlier band bp-1 (1-based bp) occupies signature elements
        # (bp-1)*band_size+1 .. bp*band_size; (bp <= band) gates the
        # sequence's band==0 degenerate element without short-circuit
        # assumptions — every element_at index stays >= 1
        eq = bp <= F.col("band")
        for j in range(band_size):
            idx = (bp - 1) * band_size + j + 1
            eq = eq & (F.element_at("sig_a", idx) == F.element_at("sig_b", idx))
        return eq

    earlier_match = F.exists(
        F.sequence(F.lit(1), F.greatest(F.col("band"), F.lit(1))), _band_eq
    )
    return (
        a.join(b, ["band", *vcols, "ca", "cb"])
        .filter((F.col("id_a") < F.col("id_b")) & ~earlier_match)
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# SimHash


# SQL text (not the Python wrapper) because shiftright/shiftleft need a
# *column* bit count inside the lambda — the catalyst expressions accept
# it, the pyspark wrapper doesn't.
_SIMHASH_EXPR = """
aggregate(
  transform(sequence(0, {hi}), b ->
    CASE WHEN aggregate({hashes}, 0,
                 (acc, h) -> acc + (CASE WHEN (shiftright(h, b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END),
  CAST(0 AS BIGINT), (acc, v) -> acc + v)
"""


def _np_simhash_votes(hash_lists, n_bits: int):
    """Vectorized bit votes over per-doc 60-bit token-hash arrays —
    the numpy twin of the interpreted _SIMHASH_EXPR fold (bit b set
    when #(hashes with bit b) > #(hashes without)); proven equivalent
    by the q:simhash_fast cross-implementation diff gate. Returns a
    pandas int64 Series with None for null inputs."""
    import numpy as np
    import pandas as pd

    shifts = np.arange(n_bits, dtype=np.uint64)[None, :]
    out = []
    for arr in hash_lists:
        if arr is None:
            # JVM parity: a null token array folds to 0, not NULL (the
            # per-bit CASE turns the null inner aggregate into ELSE 0)
            out.append(0)
            continue
        a = np.asarray(arr, dtype=np.int64).view(np.uint64)[:, None]
        ones = ((a >> shifts) & np.uint64(1)).sum(axis=0, dtype=np.int64)
        votes = 2 * ones - len(a)
        out.append(int(((votes > 0).astype(np.uint64) << shifts[0]).sum()))
    return pd.Series(out, dtype="object")


def simhash_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n_bits: int = SIMHASH_BITS, hash_mode: str = "oracle",
                  impl: str = "np") -> DataFrame:
    """60-bit SimHash over distinct whitespace tokens.

    impl='np' (default since r6): token hashes stay JVM-side (one
    codegen'd md5/xxhash per distinct token inside a transform), the
    60-bit vote fold runs vectorized in an Arrow worker — the former
    pure-expression fold (impl='expr', kept as the independent arm of
    the q:simhash_fast diff gate) evaluated ~n_bits interpreted
    aggregate passes per token and was the whole query wall (guide
    §4.2). Values are bit-identical: the oracle mode is gated by the
    DuckDB twin, the fast mode by the cross-implementation diff."""
    from pyspark.sql.pandas.functions import pandas_udf

    from borges_spark.functions.text import pick_hash60

    h60 = pick_hash60(hash_mode)
    # parallelize past the source's row-group granularity (see minhash_wide_frame)
    spark = docs.sparkSession
    docs = docs.repartition(spark.sparkContext.defaultParallelism, id_col)
    toks = F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    hashed = docs.select(
        F.col(id_col), F.transform(toks, lambda t: h60(t)).alias("_hashes")
    )
    if impl == "expr":
        return hashed.select(
            id_col,
            F.expr(_SIMHASH_EXPR.format(hi=n_bits - 1, hashes="_hashes")).alias("simhash"),
        )
    votes = pandas_udf(lambda hs: _np_simhash_votes(hs, n_bits), "long")
    return hashed.select(id_col, votes("_hashes").alias("simhash"))


def simhash_neardup_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                          max_hamming: int = 3, n_blocks: int = 4,
                          hash_mode: str = "oracle") -> DataFrame:
    """Hamming-ball candidate pairs via the block trick: split the 60-bit
    hash into n_blocks; any pair within distance max_hamming < n_blocks
    must agree on >=1 block -> equi-join per block, verify distance."""
    sh = simhash_table(docs, text_col, id_col, hash_mode=hash_mode)
    block_bits = SIMHASH_BITS // n_blocks
    mask = (1 << block_bits) - 1
    block_expr = (
        f"transform(sequence(0, {n_blocks - 1}), b -> "
        f"struct(b AS block, shiftright(simhash, b * {block_bits}) & {mask} AS key))"
    )
    blocks = sh.select(
        id_col, "simhash", F.explode(F.expr(block_expr)).alias("bk")
    ).select(id_col, "simhash", F.col("bk.block").alias("block"), F.col("bk.key").alias("key"))
    a = blocks.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "block", "key")
    b = blocks.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "block", "key")
    cand = a.join(b, ["block", "key"]).filter(F.col("id_a") < F.col("id_b"))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.filter(hamming <= max_hamming)
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard


def ngram_candidate_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                           k: int = SHINGLE_LEN, max_df: int = 20) -> DataFrame:
    """(id_a, id_b, n_inter, sz_a, sz_b) — the exact shingle-set
    intersection and both set sizes for every candidate pair, id_a <
    id_b: the count step under ngram_jaccard_pairs and q:ngram_jaccard,
    which differ only in the threshold they filter with.

    A naive shingle self-join is Σ df(shingle)^2 rows — quadratic on
    template-heavy corpora. Candidates are instead generated only from
    *rare* shingles (document frequency <= max_df), which bounds the
    join at max_df × total shingles (linear in corpus size); the counts
    for each surviving pair are then computed EXACTLY over the pair's
    full shingle sets. A pair sharing only ubiquitous shingles is by
    definition template overlap, not near-duplication.

    All string work happens ONCE, in the vectorized rolling-hash pass
    (shingle_hash_frame): each doc snapshots a distinct-hash ARRAY, so
    set sizes come from size() with no shuffle, the consumers re-explode
    cheap longs, and every join keys on 8 bytes. Hashing leaves set
    cardinalities intact barring 2^-64-scale collisions (within-doc and
    cross-doc alike).

    The snapshot is persist()ed, not checkpointed: the plan is depth-2
    and consumed inside ONE downstream action, so cache substitution
    reuses the single materialization without paying an eager
    materialization job up front (r4 measured the eager localCheckpoint
    at ~1.5 s of the query's wall at sf0.1).
    """
    # parallelize past the source's row-group granularity (see minhash_wide_frame)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    arr = shingle_hash_frame(docs, text_col, id_col, k).persist()
    sh = arr.select(F.col(id_col), F.explode("hs").alias("sh"))
    rare = sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") <= max_df).select("sh")
    # candidate pairs expand IN-ROW from each rare shingle's doc list —
    # the list is collected only AFTER the df <= max_df filter, so every
    # group is bounded at max_df rows (scale-safe: no unbounded
    # collect_list, and no degenerate key can blow an aggregation
    # buffer). One groupBy replaces the r3 self-join's second shuffle
    # side, and pair generation emits <= C(max_df, 2) structs per
    # shingle instead of joining occurrence rows.
    rare_docs = (
        sh.join(rare, "sh")
        .groupBy("sh")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ds"))
    )
    pair_expr = F.flatten(
        F.transform(
            F.col("ds"),
            lambda a, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    cand = (
        rare_docs.select(F.explode(pair_expr).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )
    # exact |A∩B| IN-ROW: each candidate pair pulls both docs' full
    # hash SETS (two equi-joins against the per-doc array snapshot —
    # one row per pair, not per shingle) and intersects them with
    # array_intersect. This replaces r4's two joins over the full
    # exploded shingle table with joins whose probe side is the
    # candidate set — at every scale the candidate set is the small
    # side (bounded by max_df² per rare shingle), and the arrays it
    # pulls are one doc's shingles each (bounded by doc length).
    a = arr.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a"))
    b = arr.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b"))
    return cand.join(a, "id_a").join(b, "id_b").select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
        F.size("hs_a").alias("sz_a"),
        F.size("hs_b").alias("sz_b"),
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.8, k: int = SHINGLE_LEN,
                        max_df: int = 20) -> DataFrame:
    """(id_a, id_b, jaccard) — exact Jaccard over char-k-gram shingle
    sets for the rare-shingle candidates of ngram_candidate_counts,
    kept when ROUND(jaccard, 6) >= threshold."""
    c = ngram_candidate_counts(docs, text_col, id_col, k, max_df)
    union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
    jaccard = F.round(F.col("n_inter") / union, 6)
    return c.select("id_a", "id_b", jaccard.alias("jaccard")).filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# duplicate-group clustering (connected components)


def duplicate_groups(ids: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                     max_iters: int = 25, iters_out: list | None = None) -> DataFrame:
    """Connected components over near-dup pair edges: every doc gets
    group_id = min doc id reachable through edges (the canonical
    representative — generalizes the reference's keep-first dedup).

    Alternating large-star / small-star (the MapReduce-native CC
    algorithm — Kiveris et al., 'Connected Components in MapReduce and
    Beyond'): each iteration hooks every node to the minimum of its
    neighborhood, converging in O(log n) rounds instead of the
    O(diameter) min-label propagation this replaces — a 10^10-doc dup
    graph with long chains finishes in ~30 rounds either way only if
    the diameter cooperates; log-rounds never depends on it. Every step
    is a keyed groupBy + equi-join (no driver data); convergence is
    detected from a (count, hash-XOR) edge-set signature computed over
    the materialized edge snapshot, not a second comparison join.
    iters_out (optional list) receives the iteration count.

    Each iteration snapshots its edge set with an eager localCheckpoint:
    one star round references the previous edge frame ~5 times, so
    without truncation the LOGICAL plan grows exponentially and Catalyst
    analysis, not the data, becomes the bottleneck by iteration 3
    (caching does not help — cache substitution happens after analysis).
    """
    e = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    iters = 0
    converged = False
    for _ in range(max_iters):
        iters += 1
        # large-star: every node u links its LARGER neighbors to the min
        # of its closed neighborhood — long chains halve in one step
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        ls = (
            sym.join(lmins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )  # invariant: u > v on every edge
        # small-star: every node u re-links its smaller neighbors (and
        # itself) to their common minimum
        smins = ls.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            ls.join(smins, "u")
            .select(F.col("v").alias("p"), F.col("m").alias("q"))
            .unionByName(smins.select(F.col("u").alias("p"), F.col("m").alias("q")))
            .filter(F.col("p") != F.col("q"))
            .distinct()
            .select(F.col("p").alias("u"), F.col("q").alias("v"))
            .localCheckpoint(eager=True)  # snapshot: truncates the plan
        )
        # edge-set signature over the snapshot (row count +
        # order-independent XOR of row hashes — XOR, not sum: a 64-bit
        # sum overflows under ANSI arithmetic)
        row = new_e.agg(
            F.count("*").alias("c"), F.expr("bit_xor(xxhash64(u, v))").alias("h")
        ).first()
        sig = (row["c"], row["h"])
        e = new_e
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # at a non-fixed-point the min-outgoing-edge roots derivation
        # below can split one component across inconsistent group ids —
        # silent wrong answers; log-round convergence makes max_iters=25
        # astronomically generous, so hitting this means a pathological
        # input (or a bug), not normal operation
        import warnings

        warnings.warn(
            f"duplicate_groups: star iteration did NOT converge within "
            f"max_iters={max_iters}; group ids may be inconsistent within "
            f"a component. Re-run with a larger max_iters.",
            RuntimeWarning,
            stacklevel=2,
        )
    if iters_out is not None:
        iters_out.append(iters)
    # converged state is a disjoint union of stars: each non-root points
    # at its component min; roots have no outgoing edge -> label self
    roots = e.groupBy("u").agg(F.min("v").alias("_gid"))
    out = (
        ids.select(F.col(id_col).alias("id"))
        .join(roots, F.col("id") == F.col("u"), "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("_gid"), F.col("id")).alias("group_id"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# embedding cosine near-dup


def cosine_sim_col(a: Column, b: Column) -> Column:
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
    return dot / (na * nb)


def embedding_neardup_pairs(emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
                            bucket_col: str = "label", threshold: float = 0.95) -> DataFrame:
    """Near-dup vectors within coarse buckets (a label / cluster id /
    LSH bucket): bucketing bounds the pair count, then exact cosine
    verification. The all-pairs version is deliberately absent.

    Since r6 the within-bucket pair scan runs as ONE numpy Gram-matrix
    pass per bucket (applyInPandas) instead of a bucket equi-join whose
    per-pair cosine was ~200 interpreted higher-order-function
    evaluations (guide §4.2) — that join evaluated 3 array folds for
    every candidate pair and was quadratic-in-bucket twice over (pair
    count x per-pair fold).

    Result-exactness contract (the former JVM expression is the
    semantic spec): a BLAS matrix product decides only pairs that are
    >= 1e-9 AWAY from the keep boundary (cross-summation-order float
    error is bounded by ~64 ulp ~ 1e-13 via Cauchy-Schwarz, four
    orders below the margin); every pair at or above the boundary
    margin is re-computed with a bit-exact replica of the JVM fold
    (strict left-to-right double adds == np.cumsum, self-checked per
    task against a Python fold and falling back to the Python fold on
    any mismatch) and rounded with a replica of Spark's ROUND (shortest
    decimal repr, HALF_UP). Kept pairs therefore carry the identical
    cosine double and the identical keep decision as the expression
    plan."""
    out_schema = "id_a long, id_b long, cosine double"
    thr = float(threshold)
    # keep <=> round6(cos) >= thr <=> cos >= thr - 5e-7 (half-up), so
    # anything below boundary-margin is provably dropped
    boundary = thr - 5e-7 - 1e-9

    def per_bucket(pdf):
        from decimal import ROUND_HALF_UP, Decimal

        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "cosine": pd.Series(dtype="float64")})
        pdf = pdf[pdf[vec_col].notna()]
        n = len(pdf)
        if n < 2:
            return empty

        ids_raw = pdf[id_col].to_numpy()
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        V = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()[order]]
        )

        def fold_rows(m):
            # strict left-to-right double sum per row == the JVM
            # aggregate() fold; cumsum is sequential by construction,
            # self-checked below
            return np.cumsum(m, axis=1)[:, -1]

        probe = V[: min(8, n)] * V[: min(8, n)]
        seq_ok = all(
            np.cumsum(row)[-1] == _foldl(row) for row in probe
        )
        if seq_ok:
            exact_sq = fold_rows(V * V)
        else:  # pragma: no cover - platform cumsum surprise
            exact_sq = np.array([_foldl(row) for row in V * V])
        exact_norm = np.sqrt(exact_sq)

        # prefilter Gram pass (any summation order)
        fast_norm = np.sqrt(np.einsum("ij,ij->i", V, V))
        q = Decimal("0.000001")
        out_a, out_b, out_c = [], [], []
        # zero-norm rows: the expression plan's cosine division raises
        # under ANSI (DIVIDE_BY_ZERO) — mirror that failure instead of
        # silently inventing a NaN semantic the old plan never had
        if bool((exact_norm == 0.0).any()):
            raise ArithmeticError(
                "embedding_neardup_pairs: zero-norm embedding in bucket "
                "(cosine division by zero, as in the ANSI expression plan)"
            )
        blk = 1024
        with np.errstate(divide="ignore", invalid="ignore"):
            for s0 in range(0, n, blk):
                C = (V[s0 : s0 + blk] @ V.T) / (
                    fast_norm[s0 : s0 + blk, None] * fast_norm[None, :]
                )
                ii, jj = np.where(C >= boundary)
                for bi, j in zip(ii.tolist(), jj.tolist()):
                    i = s0 + bi
                    if j <= i:
                        continue
                    prod = V[i] * V[j]
                    dot = np.cumsum(prod)[-1] if seq_ok else _foldl(prod)
                    cos = dot / (exact_norm[i] * exact_norm[j])
                    r = float(Decimal(repr(cos)).quantize(q, rounding=ROUND_HALF_UP))
                    if r >= thr:
                        out_a.append(int(ids[i]))
                        out_b.append(int(ids[j]))
                        out_c.append(r)
        if not out_a:
            return empty
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "cosine": out_c})

    return (
        emb.filter(F.col(bucket_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col), F.col(bucket_col))
        .groupBy(bucket_col)
        .applyInPandas(per_bucket, out_schema)
    )


def _foldl(row) -> float:
    """Plain left-to-right Python float fold — the reference order."""
    s = 0.0
    for x in row.tolist():
        s += x
    return s


# ---------------------------------------------------------------------------
# exact substring dedup (duplicated spans, Lee et al. 2022 style)


SPAN_WINDOW = 8  # tokens per duplicate-detection window


def _token_window_hashes(text: str | None, w: int):
    """64-bit hashes of every w-TOKEN window of the normalized text,
    position-preserving (no dedup — spans need positions), fully
    vectorized past the per-token crc: two independent crc32 passes
    (forward + reversed bytes, so a collision needs both 32-bit spaces
    to collide) build a 64-bit token hash, a splitmix64 finalizer
    decorrelates it, and the window hash is w shifted multiply-adds
    over the token-hash array — the token-level analog of
    _rolling_hash_doc. Returns uint64 array of n_tokens - w + 1 window
    hashes (empty when the doc is shorter than w tokens), None for a
    null text."""
    import zlib

    import numpy as np

    if text is None:
        return None
    # the kernel tokenizer, not str.split(): the oracle path splits on
    # the JVM's ASCII \s, and the substring_dedup_fast 0-row gate
    # needs identical token positions
    toks = split_words(text)
    n = len(toks)
    if n < w:
        return np.empty(0, dtype=np.uint64)
    enc = [t.encode() for t in toks]
    th = np.fromiter((zlib.crc32(e) for e in enc), dtype=np.uint64, count=n)
    th |= np.fromiter((zlib.crc32(e[::-1]) for e in enc), dtype=np.uint64, count=n) << np.uint64(32)
    th ^= th >> np.uint64(30)
    th *= np.uint64(0xBF58476D1CE4E5B9)
    th ^= th >> np.uint64(27)
    th *= np.uint64(0x94D049BB133111EB)
    th ^= th >> np.uint64(31)
    m = n - w + 1
    base = np.uint64(_POLY_BASE)
    h = np.zeros(m, dtype=np.uint64)
    for j in range(w):
        h = h * base + th[j : m + j]
    h ^= h >> np.uint64(29)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(32)
    return h


def window_hash_frame(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", w: int = SPAN_WINDOW) -> DataFrame:
    """(id, pos, win) — one row per w-token window, pos 1-based in token
    index. The production window-hash pass: mapInPandas + numpy
    (embarrassingly parallel, Arrow-batched, no shuffle), exploded in
    the worker so the JVM never materializes a per-doc window array."""
    out_schema = f"{id_col} bigint, pos bigint, win bigint"

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            ids, poss, wins = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                h = _token_window_hashes(t, w)
                if h is None or len(h) == 0:
                    continue
                ids.append(np.full(len(h), i, dtype=np.int64))
                poss.append(np.arange(1, len(h) + 1, dtype=np.int64))
                wins.append(h.view(np.int64))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "win": np.concatenate(wins),
                    }
                )

    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


def duplicated_spans(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     w: int = SPAN_WINDOW, hash_mode: str = "fast") -> DataFrame:
    """Exact substring dedup at w-token granularity (the training-data
    dedup of Lee et al., 'Deduplicating Training Data Makes Language
    Models Better', ACL 2022 — suffix-array duplicate spans, re-expressed
    as the Spark-native windowed equivalent): a token window is
    DUPLICATED when its normalized w-token sequence occurs >= 2 times
    anywhere in the corpus (any doc, including within one doc);
    overlapping/adjacent duplicated windows merge into maximal spans.

    Returns (id, span_start, span_end, n_windows): 1-based inclusive
    TOKEN indexes of each maximal duplicated span and the number of
    duplicated windows it merged. Downstream removal is a per-doc token
    filter over these spans.

    Plan shape, 100-TB reading: the window pass is stateless and
    shuffle-free (fast mode: vectorized rolling hash over per-token
    crc64, mapInPandas); duplicate detection is ONE map-side-combinable
    count shuffle over (win) keys; the join back to positions is an
    equi-join on the same key (no collect_list — a boilerplate window
    duplicated 10^6 times stays as rows, never as one aggregation
    buffer); span merge is a per-doc sort bounded by doc length
    (gaps-and-islands over lag + running sum). Nothing is quadratic;
    no all-pairs set ever materializes.

    hash_mode 'oracle' groups windows by md5 of the joined token string
    (DuckDB-exact, interpreted higher-order expressions — correctness
    path); 'fast' groups by the 64-bit rolling hash (production path,
    identical spans barring ~2^-64-scale collisions — driver-gated by
    the substring_dedup_fast exact diff)."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    # parallelize past the source's row-group granularity (see minhash_wide_frame)
    docs = docs.repartition(spark.sparkContext.defaultParallelism, id_col)
    if hash_mode == "oracle":
        # filter-empty after the split (not trim before): python .split()
        # drops empty tokens wherever whitespace lands, so all three
        # implementations (this, the fast path, DuckDB) agree on token
        # POSITIONS for any leading/trailing whitespace class
        toks = docs.select(
            F.col(id_col),
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
            ).alias("ts"),
        ).filter(F.size("ts") >= w)
        win_expr = F.expr(
            f"transform(sequence(1, size(ts) - {w} + 1), "
            f"i -> struct(CAST(i AS BIGINT) AS pos, md5(array_join(slice(ts, i, {w}), ' ')) AS win))"
        )
        wins = toks.select(F.col(id_col), F.explode(win_expr).alias("pw")).select(
            id_col, F.col("pw.pos").alias("pos"), F.col("pw.win").alias("win")
        )
    else:
        wins = window_hash_frame(docs, text_col, id_col, w)
    # consumed by both the df count and the position join: one
    # materialization (depth-2 linear plan — persist, not checkpoint,
    # same reasoning as ngram_jaccard_pairs)
    wins = wins.persist()
    dup_keys = (
        wins.groupBy("win").agg(F.count("*").alias("df")).filter(F.col("df") >= 2).select("win")
    )
    hits = wins.join(dup_keys, "win").select(id_col, "pos")
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    # gaps-and-islands: a window extends the current span when it starts
    # within w tokens of the previous duplicated window (overlap OR
    # adjacency); lag is NULL on each doc's first window -> new island
    marked = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(by_doc) <= w, F.lit(0)).otherwise(F.lit(1)),
    )
    islands = marked.withColumn("isl", F.sum("brk").over(by_doc))
    return (
        islands.groupBy(id_col, "isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + w - 1).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_windows")
    )


def remove_duplicated_spans(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                            w: int = SPAN_WINDOW, hash_mode: str = "fast") -> DataFrame:
    """The cleaned corpus: every token covered by a duplicated span
    (duplicated_spans above) is removed from every document it appears
    in — Lee et al. 2022's ExactSubstr removal policy, where the
    duplicated text is cut from each occurrence. Returns
    (id, clean_text, n_removed): clean_text is the kept tokens rejoined
    with single spaces (removal operates in normalized token space —
    lowercased, whitespace-collapsed, like every dedup operator here),
    n_removed the count of removed tokens. Null text stays null with
    n_removed 0; a fully-duplicated doc comes back as ''.

    Plan shape: duplicated_spans' bounded span table is collected
    per-doc into an array (bounded by doc length / w, not corpus size),
    LEFT-joined to the docs, and the removal is ONE in-row nested
    higher-order filter — no token explosion, no second shuffle beyond
    the span join itself."""
    spans = duplicated_spans(docs, text_col, id_col, w, hash_mode)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    ts = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != "")
    toked = docs.select(F.col(id_col), F.col(text_col), ts.alias("ts"))
    joined = toked.join(per_doc, id_col, "left")
    kept = F.filter(
        F.col("ts"),
        lambda t, i: ~F.exists(
            F.col("spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    clean = F.when(F.col(text_col).isNull(), F.lit(None).cast("string")).otherwise(
        F.when(F.col("spans").isNull(), F.array_join("ts", " ")).otherwise(
            F.array_join(kept, " ")
        )
    )
    n_removed = F.when(
        F.col(text_col).isNull() | F.col("spans").isNull(), F.lit(0)
    ).otherwise(F.size("ts") - F.size(kept))
    return joined.select(
        F.col(id_col),
        clean.alias("clean_text"),
        n_removed.cast("long").alias("n_removed"),
    )
