"""Text functions: Spark column vs DuckDB SQL twins must agree exactly."""

import duckdb
import pytest
from pyspark.sql import functions as F

from borges_spark.functions import text as X

DOCS = [
    (0, "The quick fox and the lazy dog of the farm"),
    (1, "el perro de la casa que ladra los martes"),
    (2, "le chat et la souris est dans les champs"),
    (3, "der hund ist nicht und die katze"),
    (4, "zzz qqq xxx"),
    (5, ""),
    (6, "  spaced   out\ttext  with\nnewlines  "),
    (7, "punct!!! lots, of; punct??? ok."),
    (8, "Smith, John"),
    (9, "the the the and and of"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _duck(sql_expr: str):
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", DOCS)
    return dict(con.execute(f"SELECT doc_id, {sql_expr} FROM d").fetchall())


def _spark_vals(docs_df, col):
    return {r["doc_id"]: r["v"] for r in docs_df.select("doc_id", col.alias("v")).collect()}


def test_hash60_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.hash60_col(F.col("text")))
    want = _duck(X.hash60_sql("text"))
    assert got == want


def test_token_count_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.token_count_col(F.col("text")))
    want = _duck(X.token_count_sql("text"))
    assert got == want
    assert got[5] == 0
    assert got[0] == 10


def test_lang_id_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.lang_id_col(F.col("text")))
    want = _duck(X.lang_id_sql("text"))
    assert got == want
    assert got[0] == "en" and got[1] == "es" and got[2] == "fr" and got[3] == "de"
    assert got[4] == "und"


def test_quality_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.quality_score_col(F.col("text")))
    want = _duck(X.quality_score_sql("text"))
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-9), k


def test_fingerprint_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.fingerprint_col(F.col("text")))
    want = _duck(X.fingerprint_sql("text"))
    assert got == want
    # ws-normalization: 6 equals its collapsed form
    collapsed = "spaced out text with newlines"
    one = spark.createDataFrame([(0, collapsed)], "doc_id long, text string")
    assert _spark_vals(one, X.fingerprint_col(F.col("text")))[0] == got[6]


def test_reorder_author_parity(spark, docs_df):
    got = _spark_vals(docs_df, X.reorder_author_col(F.col("text")))
    want = _duck(X.reorder_author_sql("text"))
    assert got == want
    assert got[8] == "John Smith"


def test_zfill_and_ws(spark):
    df = spark.createDataFrame([(7,), (123,), (4567,)], "v int")
    got = [r["z"] for r in df.select(X.zfill3_col(F.col("v")).alias("z")).orderBy("z").collect()]
    assert got == ["007", "123", "4567"]


def test_format_size_matches_reference(spark):
    """F16: column output must equal the reference's convert_size
    (download_via_sftp.py:57-64) verbatim, including '0B' and the
    float rendering of the rounded mantissa."""
    import math

    from pyspark.sql import functions as F

    from borges_spark.functions.text import format_size_col

    def convert_size(size_bytes):  # reference semantics, re-derived
        if size_bytes == 0:
            return "0B"
        size_name = ("B", "KB", "MB", "GB", "TB", "PB", "EB", "ZB", "YB")
        i = int(math.floor(math.log(size_bytes, 1024)))
        p = math.pow(1024, i)
        s = round(size_bytes / p, 2)
        return "%s %s" % (s, size_name[i])

    # 640, 1664, 2_752_512 land EXACTLY on .xx5 ties (dyadic quotients:
    # 640/1024 = 0.625), where Python round() is banker's — 0.62, not
    # the 0.63 a HALF_UP rounding would print
    cases = [0, 1, 512, 640, 1024, 1536, 1664, 10_000, 1_048_576,
             2_621_440, 2_752_512, 5 * 1024**3, 3 * 1024**4 + 12345, 1024**5]
    df = spark.createDataFrame([(c,) for c in cases], "b long")
    got = {r["b"]: r["s"] for r in df.select("b", format_size_col(F.col("b")).alias("s")).collect()}
    for c in cases:
        assert got[c] == convert_size(c), (c, got[c], convert_size(c))


def test_gopher_flags_rule_edges(spark):
    """Each Gopher rule trips on a doc built to violate exactly it (plus
    a clean doc that passes all)."""
    from borges_spark.functions.text import gopher_flag_cols

    good = "the report said that we have worked with many teams to " \
           "measure results over time and " + " ".join(
               f"word{i}" for i in range(45))
    cases = {
        0: good,                                              # keep
        1: "the quick brown fox that we have with",           # too few words
        2: "the of and that have with be to " + "a " * 52,    # mean wl < 3
        3: good + " " + "# " * 10,                            # symbol ratio
        4: "the of and that have with be to " + "1234 " * 52, # alpha words
        5: " ".join(f"word{i}" for i in range(60)),           # no stop words
        6: good + "\n" + "\n".join("- item" for _ in range(99)),   # bullets
        7: good + "\n" + "\n".join("cliff hanger..." for _ in range(9)),  # ellipsis
    }
    df = spark.createDataFrame(list(cases.items()), "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in
            df.select("doc_id", *gopher_flag_cols(F.col("text"))).collect()}
    assert rows[0]["keep"] == 1
    failing_flag = {
        1: "ok_word_count", 2: "ok_mean_word_len", 3: "ok_symbol_ratio",
        4: "ok_alpha_words", 5: "ok_stop_words", 6: "ok_bullet_lines",
        7: "ok_ellipsis_lines",
    }
    for doc_id, flag in failing_flag.items():
        assert rows[doc_id][flag] == 0, (doc_id, flag, rows[doc_id])
        assert rows[doc_id]["keep"] == 0, (doc_id, rows[doc_id])


def test_gopher_repetition_rule_edges(spark):
    """Each repetition rule trips on a doc built to violate it; a clean
    doc passes all four."""
    from borges_spark.functions.text import repetition_stats_frame

    uniq = [f"w{i:02d}x" for i in range(30)]  # 30 unique 4-char words
    run = ["ra1x", "rb2x", "rc3x", "rd4x", "re5x"]
    cases = {
        0: "\n".join(f"line {i} " + " ".join(uniq[i:i + 3]) for i in range(8)),
        # 5 copies of one line among 10 -> dup_line_extra 4 > 0.3 * 10
        1: "\n".join(["same line"] * 5 + [f"uniq {i}" for i in range(5)]),
        # one duplicated LONG line among short ones -> char fraction trips
        2: "\n".join(["L" * 100] * 2 + [f"uniq {i}" for i in range(8)]),
        # one 2-gram dominates the text
        3: " ".join(["ab cd"] * 30),
        # a 5-word run repeated twice inside otherwise-unique text
        4: " ".join(uniq[:15] + run + uniq[15:] + run),
    }
    df = spark.createDataFrame(list(cases.items()), "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in repetition_stats_frame(df).collect()}
    assert rows[0]["keep"] == 1, rows[0]
    assert rows[1]["ok_dup_lines"] == 0 and rows[1]["keep"] == 0
    assert rows[2]["ok_dup_line_chars"] == 0 and rows[2]["ok_dup_lines"] == 1
    assert rows[3]["ok_top2gram"] == 0
    assert rows[4]["ok_dup5gram"] == 0 and rows[4]["ok_top2gram"] == 1
    assert rows[4]["dup5_chars"] == 40  # 10 covered words x 4 chars


def test_token_counts_frame_matches_jvm_columns(spark):
    """r6: the worker-side token_counts_frame vs the JVM regex columns
    it replaced, over the split/trim edge cases that differ between
    naive replications (space-only trim, trailing-empty-kept split,
    ASCII-only \\s)."""
    from borges_spark.functions.text import (
        bpe_ish_token_count_col,
        token_count_col,
        token_counts_frame,
    )

    cases = [
        (0, None), (1, ""), (2, " "), (3, "a b"), (4, " a b "),
        (5, "\ta b\t"), (6, "a  b\n"), (7, "a\tb\x0bc"), (8, "tab\t"),
        (9, "a,b!! c9x"), (10, "  "), (11, "\t"), (12, "x"),
        (13, "line1\nline2\r\nline3"), (14, "42 4.5 -x_"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    want = {
        r["doc_id"]: (r["a"], r["b"])
        for r in df.select(
            "doc_id",
            token_count_col(F.col("text")).alias("a"),
            bpe_ish_token_count_col(F.col("text")).alias("b"),
        ).collect()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_subword_tokens"])
        for r in token_counts_frame(df).collect()
    }
    assert got == want


def test_gopher_flags_null_text_yields_nulls(spark):
    """r6 (ADVICE): NULL text must yield NULL counts/flags — the DuckDB
    twin's len(NULL list) is NULL, while an unguarded Spark size(null
    array) is -1 and would break the hash-exact gate."""
    from borges_spark.functions.text import gopher_flag_cols

    df = spark.createDataFrame([(1, None), (2, "the be to of and that have with " * 10)],
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in df.select("doc_id", *gopher_flag_cols(F.col("text"))).collect()}
    assert all(v is None for k, v in rows[1].asDict().items() if k != "doc_id")
    assert rows[2]["n_words"] == 80 and rows[2]["ok_stop_words"] == 1


# whitespace parity table: (name, char, is Java \s). Java's \s (what
# Spark's split/regexp_replace on '\s+' use) is exactly the six ASCII
# controls; the rest are whitespace to Python's str.split()/re \s only.
WS_PARITY = [
    ("SP", " ", True), ("TAB", "\t", True), ("LF", "\n", True),
    ("VT", "\x0b", True), ("FF", "\f", True), ("CR", "\r", True),
    ("FS", "\x1c", False), ("GS", "\x1d", False), ("RS", "\x1e", False),
    ("US", "\x1f", False), ("NBSP", "\xa0", False), ("LS", "\u2028", False),
    ("NEL", "\x85", False),
]


def test_whitespace_kernel_parity_table(spark):
    """The worker kernel (split_words / normalize_ws) against Spark's
    '\\s+' and DuckDB's RE2 '\\s+', one row per whitespace-like char;
    the rolling-hash shingles collapse exactly the Java \\s chars."""
    from borges_spark.operators.dedup import shingle_hash_frame

    rows = [(i, f"{c}Alpha{c}{c}beta Gamma{c}") for i, (_, c, _) in enumerate(WS_PARITY)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    low = F.lower(F.col("text"))
    jvm = {
        r["doc_id"]: (r["toks"], r["norm"])
        for r in df.select(
            "doc_id",
            F.filter(F.split(low, r"\s+"), lambda t: t != "").alias("toks"),
            F.regexp_replace(low, r"\s+", " ").alias("norm"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE d(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    duck = {
        i: (toks, norm)
        for i, toks, norm in con.execute(
            "SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''), "
            "regexp_replace(lower(text), '\\s+', ' ', 'g') FROM d"
        ).fetchall()
    }
    # the same text with the char replaced by a space: its shingle-hash
    # set is equal exactly when the char is whitespace to the JVM
    spaced = spark.createDataFrame(
        [(100 + i, t.replace(c, " ")) for (i, t), (_, c, _) in zip(rows, WS_PARITY)],
        "doc_id long, text string",
    )
    hs = {r["doc_id"]: set(r["hs"]) for r in shingle_hash_frame(df.unionByName(spaced)).collect()}
    for i, (name, c, java_ws) in enumerate(WS_PARITY):
        t = rows[i][1]
        kernel = (X.split_words(t), X.normalize_ws(t))
        assert kernel == jvm[i], name
        assert (kernel[0] == ["alpha", "beta", "gamma"]) == java_ws, name
        assert (hs[i] == hs[100 + i]) == java_ws, name
        # RE2's \s has no VT: the one stated kernel/DuckDB divergence
        assert (kernel == duck[i]) == (name != "VT"), name
