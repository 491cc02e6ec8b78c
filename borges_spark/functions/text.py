"""Text-analysis functions for a large-scale training-data pipeline.

Each function exists twice, built from the SAME constants:
  - a Spark Column builder (JVM-side, codegen'd — no Python in the hot
    path), and
  - a DuckDB SQL snippet builder, used by __spark_entry__.oracle_sql()
    so the driver's cross-engine value-hash check is exact.

Cross-engine 60-bit hash: both engines md5 the token and reinterpret the
first 15 hex chars as an integer —
  Spark : cast(conv(substr(md5(x),1,15),16,10) as bigint)
  DuckDB: ('0x' || substr(md5(x),1,15))::UBIGINT::BIGINT
15 hex chars = 60 bits, always < 2^63, so signed/unsigned agree.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared constants

STOPWORDS = (
    "the", "a", "an", "of", "and", "to", "in", "is", "for", "on", "with", "as",
)

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # tiny n-gram/stopword heuristic banks; deterministic argmax with
    # lexicographic tie-break
    "en": ("the", "and", "of", "fox", "quick"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "und", "ist", "nicht"),
}

SIMHASH_BITS = 60  # fits the cross-engine 60-bit hash
SHINGLE_LEN = 5  # character shingles
MINHASH_PERMS = 8


# ---------------------------------------------------------------------------
# whitespace kernel for the Python workers
#
# Every worker that splits or collapses whitespace goes through the two
# helpers below, so all of them agree with the JVM expressions they
# replace. The class is exactly what Java's \s compiles to, which is
# what Spark's split/regexp_replace on '\s+' match. Python's own \s and
# str.split() also match Unicode whitespace (NBSP, U+2028, U+0085,
# \x1c-\x1f) and must not be used. DuckDB's RE2 \s agrees with this class
# on every character except VT (\x0b), which RE2 does not treat as
# whitespace: a DuckDB oracle splits differently only on text with VT.

_WS_CHARS = r" \t\n\x0b\f\r"
_WS_RUN = re.compile(f"[{_WS_CHARS}]+")


def normalize_ws(text: str) -> str:
    """lower(text) with every whitespace run collapsed to one space ==
    Spark regexp_replace(lower(c), '\\s+', ' ')."""
    return _WS_RUN.sub(" ", text.lower())


def split_words(text: str) -> list[str]:
    """The non-empty tokens of lower(text) == Spark
    filter(split(lower(c), '\\s+'), t -> t != '')."""
    return [w for w in _WS_RUN.split(text.lower()) if w]


# ---------------------------------------------------------------------------
# 60-bit cross-engine hash

def hash60_col(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def fast_hash60_col(c: Column) -> Column:
    """Production-path 60-bit hash: one JVM xxhash64 pass (codegen'd, no
    md5 + hex decode) — ~5-10x cheaper than the md5-based oracle-parity
    hash. Top 4 bits dropped so the value is non-negative and the bit
    algebra (simhash) keeps the 60-bit layout."""
    return F.shiftrightunsigned(F.xxhash64(c), 4).cast("bigint")


def pick_hash60(mode: str = "oracle"):
    """'oracle' = cross-engine md5 hash (DuckDB-matchable, the
    correctness-gate path); 'fast' = xxhash64 (the deployment path)."""
    return hash60_col if mode == "oracle" else fast_hash60_col


_SIZE_NAMES = ("B", "KB", "MB", "GB", "TB", "PB", "EB", "ZB", "YB")


def format_size_col(size_bytes: Column) -> Column:
    """F16 — human-readable byte size, matching the reference's
    convert_size exactly (Borges/spiders/IOP/scripts/
    download_via_sftp.py:57-64: floor(log1024), pow, round 2,
    '<s> <unit>'; 0 -> '0B'). Column math, telemetry-grade.

    bround (HALF_EVEN), not round (HALF_UP): Python's round() is
    banker's, and byte counts divided by 1024^i are dyadic rationals
    that DO land exactly on .xx5 ties (640/1024 = 0.625 -> '0.62 KB',
    where HALF_UP would print 0.63). Residual documented deviation:
    Spark rounds the double's shortest decimal repr while Python rounds
    the exact binary value — they can differ only when a non-tie binary
    value's shortest repr falsely lands on a 3-decimal tie (the quotient
    must be bit-identical to the nearest double of such a tie; possible
    in principle for EB-scale counts, never for exactly-representable
    quotients like the KB/MB cases the reference logs)."""
    b = size_bytes.cast("double")
    i = F.floor(F.log(1024.0, b)).cast("int")
    s = F.bround(b / F.pow(F.lit(1024.0), i.cast("double")), 2)
    unit = F.element_at(F.array(*[F.lit(n) for n in _SIZE_NAMES]), i + 1)
    return F.when(size_bytes == 0, F.lit("0B")).otherwise(
        F.concat(s.cast("string"), F.lit(" "), unit)
    )


def format_size_py(size_bytes: int) -> str:
    """Python twin of format_size_col for driver-side progress lines
    (the SFTP callback — download_via_sftp.py:155-157 prints transfer
    progress through convert_size). Bit-identical to the reference:
    same floor(log1024) + round(.., 2) + '%s %s'."""
    import math

    if size_bytes == 0:
        return "0B"
    i = int(math.floor(math.log(size_bytes, 1024)))
    s = round(size_bytes / math.pow(1024, i), 2)
    return "%s %s" % (s, _SIZE_NAMES[i])


def hash60_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::UBIGINT)::BIGINT"


# ---------------------------------------------------------------------------
# MinHash affine permutation family (oracle path)
#
# h_i(x) = (a_i * x + b_i) mod p over ONE base hash x per shingle — the
# textbook universal-hashing minhash family. One md5 per shingle instead
# of one per (shingle x perm): ~n_perms x cheaper on BOTH engines while
# staying exactly reproducible in ANSI SQL. Widths are chosen so every
# intermediate fits a signed 64-bit integer in every engine:
# x < 2^30, a < p < 2^31 => a*x + b < 2^61.

MINHASH_P = (1 << 31) - 1  # Mersenne prime modulus
MINHASH_X_MOD = 1 << 30  # base-hash truncation


def minhash_perm_consts(n_perms: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs — fixed odd multipliers spread by
    the Knuth/xxhash mixing constants; a_i is never 0 mod p."""
    out = []
    for i in range(n_perms):
        a = (0x9E3779B1 * (i + 1)) % MINHASH_P
        b = (0x85EBCA6B * (i + 1)) % MINHASH_P
        out.append((a or 1, b))
    return out


def minhash_values_sql(n_perms: int = MINHASH_PERMS) -> str:
    """The family as a SQL VALUES list '(perm, a, b), ...' so the DuckDB
    oracle derives from the same Python constant table as the Spark
    plan (single source of truth)."""
    return ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(minhash_perm_consts(n_perms))
    )


# ---------------------------------------------------------------------------
# token counting (whitespace + a BPE-ish word/punct split)

def token_count_col(c: Column) -> Column:
    toks = F.split(F.trim(c), r"\s+")
    return F.when(F.trim(c) == "", F.lit(0)).otherwise(F.size(toks))


def token_count_sql(expr: str) -> str:
    return (
        f"CASE WHEN trim({expr}) = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(trim({expr}), '\\s+')) END"
    )


def bpe_ish_token_count_col(c: Column) -> Column:
    """Sub-word-ish token count: words plus digit runs plus punctuation
    marks counted separately (a cheap stand-in for a BPE tokenizer)."""
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def bpe_ish_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))"


def token_counts_frame(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(id, n_tokens, n_subword_tokens) — the two token counts computed
    in one Python pass per doc instead of two JVM regex passes over
    every text (guide §4.2). Bit-identical to
    token_count_col/bpe_ish_token_count_col by construction:

      - trim strips SPACES only (Spark F.trim semantics);
      - the split delimiter is the kernel's _WS_RUN, and Spark's
        split(limit=-1) KEEPS a trailing empty token (unlike Java
        String.split) — Python re.split does too, which is why this
        count cannot use split_words;
      - '' after trim counts 0; null text yields null counts;
      - the subword alternation regex is shared verbatim (Python and
        Java agree on these explicit ASCII classes for any input).

    Pinned by the driver's token_count DuckDB oracle and the edge-case
    suite in tests/test_text_functions.py."""
    bpe = re.compile(f"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{_WS_CHARS}]")
    out_schema = f"{id_col} bigint, n_tokens int, n_subword_tokens int"

    def gen(it):
        import pandas as pd

        for pdf in it:
            n_tok, n_sub = [], []
            for t in pdf[text_col]:
                if t is None:
                    n_tok.append(None)
                    n_sub.append(None)
                    continue
                tr = t.strip(" ")
                n_tok.append(0 if tr == "" else len(_WS_RUN.split(tr)))
                n_sub.append(len(bpe.findall(t)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_tokens": pd.array(n_tok, dtype="Int32"),
                    "n_subword_tokens": pd.array(n_sub, dtype="Int32"),
                }
            )

    from pyspark.sql import functions as _F

    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    return docs.select(_F.col(id_col), _F.col(text_col)).mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# language ID (marker-bank heuristic)

def _lang_score_col(c: Column, lang: str) -> Column:
    # |distinct tokens ∩ marker bank| — equivalent to summing one
    # array_contains per marker (each marker counts 0/1), but the token
    # array is scanned once per bank instead of once per marker
    toks = F.array_distinct(F.split(F.lower(c), r"\s+"))
    bank = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(toks, bank))


def lang_id_col(c: Column) -> Column:
    """argmax over marker banks; ties -> lexicographically smallest
    language code; all-zero -> 'und'."""
    best = F.lit("und")
    best_score = F.lit(0)
    # process in sorted order with strict '>' so the first (smallest)
    # code wins ties
    for lang in sorted(LANG_MARKERS):
        s = _lang_score_col(c, lang)
        cond = s > best_score
        new_best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, s).otherwise(best_score)
        best = new_best
    return best


def lang_id_sql(expr: str) -> str:
    langs = sorted(LANG_MARKERS)
    toks = f"regexp_split_to_array(lower({expr}), '\\s+')"

    def score(lang: str) -> str:
        parts = [
            f"(CASE WHEN list_contains({toks}, '{m}') THEN 1 ELSE 0 END)"
            for m in LANG_MARKERS[lang]
        ]
        return "(" + " + ".join(parts) + ")"

    scores = {lang: score(lang) for lang in langs}
    g = f"greatest({', '.join(scores.values())})"
    # first (lexicographic) lang hitting the max wins; 0 -> 'und'
    whens = " ".join(
        f"WHEN {scores[lang]} = {g} AND {scores[lang]} > 0 THEN '{lang}'" for lang in langs
    )
    return f"(CASE {whens} ELSE 'und' END)"


# ---------------------------------------------------------------------------
# quality scoring (length / punct / stopword ratios)

def quality_score_col(c: Column) -> Column:
    n_chars = F.length(c).cast("double")
    n_tokens = token_count_col(c).cast("double")
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0)).cast("double")
    toks = F.split(F.lower(c), r"\s+")
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS))).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    punct_pen = F.least(n_punct / F.greatest(n_chars, F.lit(1.0)) * 5.0, F.lit(1.0))
    stop_score = F.least(n_stop / F.greatest(n_tokens, F.lit(1.0)) * 4.0, F.lit(1.0))
    return F.round(0.5 * len_score + 0.3 * stop_score + 0.2 * (1.0 - punct_pen), 6)


def quality_score_sql(expr: str) -> str:
    n_chars = f"CAST(length({expr}) AS DOUBLE)"
    n_tokens = f"CAST({token_count_sql(expr)} AS DOUBLE)"
    n_punct = f"CAST(len(regexp_extract_all({expr}, '[^\\w\\s]')) AS DOUBLE)"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    toks = f"regexp_split_to_array(lower({expr}), '\\s+')"
    n_stop = f"CAST(len(list_filter({toks}, t -> t IN ({stop_list}))) AS DOUBLE)"
    len_score = f"least({n_chars} / 500.0, 1.0)"
    punct_pen = f"least({n_punct} / greatest({n_chars}, 1.0) * 5.0, 1.0)"
    stop_score = f"least({n_stop} / greatest({n_tokens}, 1.0) * 4.0, 1.0)"
    return f"round(0.5 * {len_score} + 0.3 * {stop_score} + 0.2 * (1.0 - {punct_pen}), 6)"


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, 'Scaling
# Language Models: ... Gopher', Appendix A quality heuristics) — every
# rule in INTEGER arithmetic so Spark and the DuckDB oracle agree
# bit-exactly (ratio thresholds become cross-multiplied comparisons).

GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000


def gopher_flag_cols(c: Column) -> list[Column]:
    """The Gopher keep/drop rules as named int flags + the combined
    keep: word-count bounds, mean word length in [3, 10], #/ellipsis
    symbol-to-word ratio <= 0.1, >= 80% of words contain a letter,
    >= 2 distinct designated stop words, <= 90% bullet lines and
    <= 30% ellipsis-ending lines."""
    ts = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    n_words = F.size(ts)
    wl_total = F.aggregate(ts, F.lit(0), lambda acc, t: acc + F.length(t))
    n_sym = F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0))
    n_alpha = F.size(F.filter(ts, lambda t: t.rlike("[a-z]")))
    n_stop = F.size(F.array_intersect(
        F.array_distinct(ts), F.array(*[F.lit(s) for s in GOPHER_STOPS])
    ))
    lines = F.split(c, r"\n")
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•")
    ))
    n_ell = F.size(F.filter(
        lines, lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…")
    ))
    f_words = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    f_mwl = (wl_total >= 3 * n_words) & (wl_total <= 10 * n_words)
    f_sym = n_sym * 10 <= n_words
    f_alpha = n_alpha * 10 >= n_words * 8
    f_stop = n_stop >= 2
    f_bullet = n_bullet * 10 <= n_lines * 9
    f_ellipsis = n_ell * 10 <= n_lines * 3
    keep = f_words & f_mwl & f_sym & f_alpha & f_stop & f_bullet & f_ellipsis
    # NULL-text parity with the DuckDB twin needs no guard under ANSI
    # mode (the engine's default): size()/aggregate() of a null array
    # return NULL, every comparison null-propagates, so all nine
    # outputs are NULL exactly like len(NULL list) in DuckDB — pinned
    # by tests/test_text_functions.py::test_gopher_flags_null_text_yields_nulls.
    # Deliberately NOT wrapped in per-column when(isNotNull, ...): the
    # conditional branches would exclude the shared `ts` subexpression
    # from common-subexpression elimination and re-evaluate the split
    # per column (measured ~2x on this query). Non-ANSI sessions would
    # see -1 counts instead of NULL; the engine never disables ANSI.
    return [
        n_words.cast("long").alias("n_words"),
        f_words.cast("int").alias("ok_word_count"),
        f_mwl.cast("int").alias("ok_mean_word_len"),
        f_sym.cast("int").alias("ok_symbol_ratio"),
        f_alpha.cast("int").alias("ok_alpha_words"),
        f_stop.cast("int").alias("ok_stop_words"),
        f_bullet.cast("int").alias("ok_bullet_lines"),
        f_ellipsis.cast("int").alias("ok_ellipsis_lines"),
        keep.cast("int").alias("keep"),
    ]


def gopher_flag_sql(expr: str) -> str:
    """DuckDB twin of gopher_flag_cols — same names, same integer
    semantics; emitted as a projection fragment."""
    ts = f"list_filter(regexp_split_to_array(lower({expr}), '\\s+'), t -> t <> '')"
    n_words = f"len({ts})"
    wl_total = f"list_sum(list_transform({ts}, t -> length(t)))"
    n_sym = f"len(regexp_extract_all({expr}, '#|\\.\\.\\.|…'))"
    n_alpha = f"len(list_filter({ts}, t -> regexp_matches(t, '[a-z]')))"
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPS)
    n_stop = f"len(list_intersect(list_distinct({ts}), [{stops}]))"
    lines = f"string_split({expr}, chr(10))"
    n_lines = f"len({lines})"
    n_bullet = f"len(list_filter({lines}, l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))"
    n_ell = (
        f"len(list_filter({lines}, l -> ends_with(rtrim(l), '...') "
        f"OR ends_with(rtrim(l), '…')))"
    )
    # coalesce(list_sum(...), 0): DuckDB list_sum of an empty list is
    # NULL where Spark's aggregate seed makes it 0
    wl_total = f"coalesce({wl_total}, 0)"
    f_words = f"({n_words} >= {GOPHER_MIN_WORDS} AND {n_words} <= {GOPHER_MAX_WORDS})"
    f_mwl = f"({wl_total} >= 3 * {n_words} AND {wl_total} <= 10 * {n_words})"
    f_sym = f"({n_sym} * 10 <= {n_words})"
    f_alpha = f"({n_alpha} * 10 >= {n_words} * 8)"
    f_stop = f"({n_stop} >= 2)"
    f_bullet = f"({n_bullet} * 10 <= {n_lines} * 9)"
    f_ell = f"({n_ell} * 10 <= {n_lines} * 3)"
    keep = f"({f_words} AND {f_mwl} AND {f_sym} AND {f_alpha} AND {f_stop} AND {f_bullet} AND {f_ell})"
    return (
        f"CAST({n_words} AS BIGINT) AS n_words, "
        f"CAST({f_words} AS INT) AS ok_word_count, "
        f"CAST({f_mwl} AS INT) AS ok_mean_word_len, "
        f"CAST({f_sym} AS INT) AS ok_symbol_ratio, "
        f"CAST({f_alpha} AS INT) AS ok_alpha_words, "
        f"CAST({f_stop} AS INT) AS ok_stop_words, "
        f"CAST({f_bullet} AS INT) AS ok_bullet_lines, "
        f"CAST({f_ell} AS INT) AS ok_ellipsis_lines, "
        f"CAST({keep} AS INT) AS keep"
    )


# ---------------------------------------------------------------------------
# Gopher repetition-removal rules (Rae et al. 2021, Appendix A "repetition
# removal"): duplicate-line fractions and n-gram character fractions.
# Frame-level (each doc needs within-doc grouping), computed in an Arrow
# worker with pure-integer outputs so the DuckDB twin is hash-exact.
#
# Semantics (documented precisely so both engines agree):
#   lines        = text split on '\n', RAW (no trim/case-fold)
#   words        = non-empty split on \s+ of lower(text)
#   dup_line_extra        = Σ over line values with count c >= 2 of (c - 1)
#   dup_line_chars_extra  = same, weighted by len(line)
#   top2_count/top2_chars = occurrences and string length of the most
#                           frequent word 2-gram (ties -> lexicographically
#                           smallest gram); 0/0 when < 2 words
#   dup5_chars   = Σ word lengths over the DISTINCT word positions covered
#                  by any 5-gram occurring >= 2 times (position marking,
#                  overlaps counted once)
#   n_word_chars = Σ len(word)
# Flags (keep-thresholds from the paper, cross-multiplied):
#   ok_dup_lines:      dup_line_extra * 10 <= 3 * n_lines          (<= 0.30)
#   ok_dup_line_chars: dup_line_chars_extra * 10 <= 2 * line_chars (<= 0.20)
#   ok_top2gram:       top2_count * top2_chars * 5 <= n_word_chars (<= 0.20)
#   ok_dup5gram:       dup5_chars * 20 <= 3 * n_word_chars         (<= 0.15)


def repetition_stats_frame(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(id, counts..., flags..., keep) per non-null-text document."""
    from pyspark.sql import functions as _F

    out_schema = (
        f"{id_col} bigint, n_lines bigint, dup_line_extra bigint, "
        "line_chars bigint, dup_line_chars_extra bigint, "
        "top2_count bigint, top2_chars bigint, "
        "dup5_chars bigint, n_word_chars bigint, "
        "ok_dup_lines int, ok_dup_line_chars int, ok_top2gram int, "
        "ok_dup5gram int, keep int"
    )

    def gen(it):
        from collections import Counter

        import pandas as pd

        for pdf in it:
            rows = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                if t is None:
                    continue
                lines = t.split("\n")
                lc = Counter(lines)
                n_lines = len(lines)
                dup_extra = sum(c - 1 for c in lc.values() if c >= 2)
                line_chars = sum(len(ln) for ln in lines)
                dup_chars_extra = sum(len(ln) * (c - 1) for ln, c in lc.items() if c >= 2)
                words = split_words(t)
                n_word_chars = sum(len(w) for w in words)
                if len(words) >= 2:
                    g2 = Counter(" ".join(p) for p in zip(words, words[1:]))
                    top_n = max(g2.values())
                    top_g = min(g for g, c in g2.items() if c == top_n)
                    top2_count, top2_chars = top_n, len(top_g)
                else:
                    top2_count = top2_chars = 0
                covered = set()
                if len(words) >= 5:
                    g5 = Counter(tuple(words[j:j + 5]) for j in range(len(words) - 4))
                    dup_starts = [
                        j for j in range(len(words) - 4)
                        if g5[tuple(words[j:j + 5])] >= 2
                    ]
                    for j in dup_starts:
                        covered.update(range(j, j + 5))
                dup5_chars = sum(len(words[j]) for j in covered)
                f_dl = int(dup_extra * 10 <= 3 * n_lines)
                f_dlc = int(dup_chars_extra * 10 <= 2 * line_chars)
                f_t2 = int(top2_count * top2_chars * 5 <= n_word_chars)
                f_d5 = int(dup5_chars * 20 <= 3 * n_word_chars)
                rows.append(
                    (int(i), n_lines, dup_extra, line_chars, dup_chars_extra,
                     top2_count, top2_chars, dup5_chars, n_word_chars,
                     f_dl, f_dlc, f_t2, f_d5, f_dl * f_dlc * f_t2 * f_d5)
                )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        id_col, "n_lines", "dup_line_extra", "line_chars",
                        "dup_line_chars_extra", "top2_count", "top2_chars",
                        "dup5_chars", "n_word_chars", "ok_dup_lines",
                        "ok_dup_line_chars", "ok_top2gram", "ok_dup5gram",
                        "keep",
                    ],
                )

    docs = docs.filter(_F.col(text_col).isNotNull())
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, id_col)
    return docs.select(id_col, text_col).mapInPandas(gen, out_schema)


# ---------------------------------------------------------------------------
# document fingerprinting (normalized-content hash)

def fingerprint_col(c: Column) -> Column:
    norm = F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")
    return F.md5(norm)


def fingerprint_sql(expr: str) -> str:
    return f"md5(regexp_replace(lower(trim({expr})), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# reference scalar semantics (SURVEY.md §2.8) as column functions

def reorder_author_col(c: Column) -> Column:
    """'Last, First' -> 'First Last' (Elsevier/paper_index.py:83-88,
    SpringerXMLDataExtractor.py:203-204); passthrough when no comma."""
    parts = F.split(c, ", ")
    return F.when(
        F.size(parts) == 2, F.concat_ws(" ", F.element_at(parts, 2), F.element_at(parts, 1))
    ).otherwise(c)


def reorder_author_sql(expr: str) -> str:
    parts = f"string_split({expr}, ', ')"
    return (
        f"CASE WHEN len({parts}) = 2 "
        f"THEN list_element({parts}, 2) || ' ' || list_element({parts}, 1) "
        f"ELSE {expr} END"
    )


def zfill3_col(c: Column) -> Column:
    """str(v).zfill(3) — RSC seed formatting (start_url_gen.py:29,34).
    Unlike lpad, zfill never truncates longer values."""
    s = c.cast("string")
    return F.when(F.length(s) >= 3, s).otherwise(F.lpad(s, 3, "0"))
