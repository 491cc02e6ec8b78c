"""The corpus_dedup workload: the training-data cleaning operators.

Each operator is called on the generated corpus and its output is
materialized. The first pass collects every output and checks it; it
and WARM_PASSES noop passes after it are the warm-up, so the measured
passes, which materialize into the noop sink, run on a warm JIT.

Checks: outputs equal the DuckDB SQL of __spark_entry__.oracle_sql()
over the same parquet files where the operator has an oracle-hash form.
The two fast-hash operators are held to the independent arms of their
``*_fast`` diff gates: minhash_lsh_pairs(fast) to the naive long-form
plan of the minhash_lsh_fast gate, duplicated_spans(fast) to the
substring_dedup oracle that the gate's other arm is pinned to.
"""

from __future__ import annotations

import hashlib
import os
import time
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

import inputs
from crawl import Unit

# (span name, oracle_sql() key); the span name is <module>.<operator>.
OPS = (
    ("dedup.dedup_exact", "dedup_exact"),
    ("text.token_counts_frame", "token_count"),
    ("text.gopher_flag_cols", "gopher_filter"),
    ("text.repetition_stats_frame", "gopher_repetition"),
    ("dedup.simhash_table", "simhash"),
    ("dedup.minhash_lsh_pairs", None),
    ("dedup.ngram_jaccard_pairs", "ngram_jaccard"),
    ("dedup.duplicated_spans", "substring_dedup"),
    ("dedup.embedding_neardup_pairs", "embedding_neardup"),
)
# Noop passes after the collecting one keep getting faster for about five
# passes (on 4 cores: 5.4, 4.3, 3.6, 3.3, 3.2, 3.0, 3.0 s); three of them
# are warm-up, and the median of the measured ones is near the steady time.
WARM_PASSES = 3


def build_op(name: str, docs, emb):
    """The operator call; returns the output frame (lazy)."""
    from borges_spark.functions import text as X
    from borges_spark.operators import dedup as D

    if name == "dedup.dedup_exact":
        return D.dedup_exact(docs)
    if name == "text.token_counts_frame":
        return X.token_counts_frame(docs).select("doc_id", "n_tokens", "n_subword_tokens")
    if name == "text.gopher_flag_cols":
        return docs.select("doc_id", *X.gopher_flag_cols(F.col("text")))
    if name == "text.repetition_stats_frame":
        return X.repetition_stats_frame(docs)
    if name == "dedup.simhash_table":
        return D.simhash_table(docs)
    if name == "dedup.minhash_lsh_pairs":
        return D.minhash_lsh_pairs(docs, hash_mode="fast")
    if name == "dedup.ngram_jaccard_pairs":
        return D.ngram_jaccard_pairs(docs)
    if name == "dedup.duplicated_spans":
        return D.duplicated_spans(docs, hash_mode="fast")
    if name == "dedup.embedding_neardup_pairs":
        return D.embedding_neardup_pairs(emb, threshold=0.4).select("id_a", "id_b")
    raise KeyError(name)


def noop_sink(df) -> None:
    """Materialize df without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def pair_digest(df) -> tuple[int, int]:
    """Order-insensitive (rows, checksum) of an (id_a, id_b) pair set."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("id_a", "id_b"), F.lit(1 << 31))).alias("s"),
    ).first()
    return int(r["n"]), int(r["s"] or 0)


def _norm(v):
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return "nan" if v != v else repr(round(v, 9))
    return repr(v)


def rows_digest(cols: list[str], rows) -> str:
    """Order-insensitive digest of rows by column name (the
    tools/check_oracles.py normalization: widths fold, types do not)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


class CorpusWorkload:
    def setup(self, ctx) -> dict:
        data_dir = os.path.join(ctx.tmp, "corpus")
        sizes = inputs.write_corpus(ctx.seed, data_dir)
        return {"dir": data_dir, "sizes": sizes}

    def frames(self, ctx, state):
        spark = ctx.spark
        return (
            spark.read.parquet(f"{state['dir']}/documents.parquet"),
            spark.read.parquet(f"{state['dir']}/embeddings.parquet"),
        )

    def warm_up(self, ctx, state: dict) -> dict:
        """Run every operator once and collect its output (the pair
        digest for the minhash fast path), then WARM_PASSES noop passes:
        operator -> (columns, rows), or the exception it raised."""
        docs, emb = self.frames(ctx, state)
        outputs = {}
        for name, _key in OPS:
            try:
                out = build_op(name, docs, emb)
                if name == "dedup.minhash_lsh_pairs":
                    outputs[name] = pair_digest(out)
                else:
                    outputs[name] = (out.columns, [tuple(r) for r in out.collect()])
            except Exception as ex:  # a raising operator is a failed op, not a crash
                outputs[name] = ex
        for _ in range(WARM_PASSES):
            for name, _key in OPS:
                if isinstance(outputs[name], Exception):
                    continue
                try:
                    noop_sink(build_op(name, docs, emb))
                except Exception as ex:
                    outputs[name] = ex
        return outputs

    def check(self, ctx, state: dict, outputs: dict) -> list[str]:
        """Compare the warm-up outputs with references built for this
        seed: DuckDB oracle rows, or the naive-plan pair digest."""
        import duckdb

        import __spark_entry__ as E

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{state['dir']}/{t}.parquet')"
            )
        oracles = E.oracle_sql()
        failures = []
        for name, key in OPS:
            got = outputs[name]
            if isinstance(got, Exception):
                failures.append(f"{name}: raised {type(got).__name__}: {str(got)[:200]}")
                continue
            if key is None:
                docs = ctx.spark.read.parquet(f"{state['dir']}/documents.parquet")
                want = pair_digest(E._minhash_pairs_naive(docs))
                problem = None if got == want else f"digest {got} != naive plan {want}"
            else:
                cur = con.execute(oracles[key])
                want = ([d[0] for d in cur.description], cur.fetchall())
                problem = _compare(name, *got, want)
            if problem:
                failures.append(f"{name}: {problem}")
        con.close()
        return failures

    def rows_out(self, outputs: dict) -> dict[str, int]:
        return {
            name: got[0] if name == "dedup.minhash_lsh_pairs" else len(got[1])
            for name, got in outputs.items()
            if not isinstance(got, Exception)
        }

    def unit(self, ctx, state: dict, i: int) -> Unit:
        """One measured pass: every operator into the noop sink."""
        with ctx.tracer.span("bench.read_inputs"):  # untimed; its jobs are the benchmark's
            docs, emb = self.frames(ctx, state)
        failures = []
        t0 = time.perf_counter()
        for name, _key in OPS:
            with ctx.tracer.span(name):
                try:
                    noop_sink(build_op(name, docs, emb))
                except Exception as ex:  # a raising operator is a failed op; the pass goes on
                    failures.append(f"{name}: raised {type(ex).__name__}: {str(ex)[:200]}")
        wall = time.perf_counter() - t0
        return Unit(
            wall_s=wall,
            items=state["sizes"]["n_docs"],
            rounds_s=[wall],
            attempted=len(OPS),
            failures=failures,
        )


def spark_round6(x: float) -> float:
    """Spark's ROUND(double, 6): HALF_UP on the shortest decimal form, so
    125/128 = 0.9765625 rounds to 0.976563 where Python's round, half to
    even, gives 0.976562."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def _compare(name: str, cols: list[str], rows: list[tuple], ref) -> str | None:
    ref_cols, ref_rows = ref
    if name == "dedup.ngram_jaccard_pairs":
        # the operator reports Spark's ROUND(jaccard, 6); the oracle reports
        # the integer counts it is derived from
        want = sorted((a, b, spark_round6(n / (sa + sb - n))) for a, b, n, sa, sb in ref_rows)
        got = sorted((r[0], r[1], r[2]) for r in rows)
        return None if got == want else f"{len(set(got) ^ set(want))} pairs differ from the oracle"
    if sorted(cols) != sorted(ref_cols):
        return f"columns {cols} != oracle {ref_cols}"
    if len(rows) != len(ref_rows):
        return f"{len(rows)} rows != oracle {len(ref_rows)}"
    if rows_digest(cols, rows) != rows_digest(ref_cols, ref_rows):
        return "values differ from the oracle"
    return None
