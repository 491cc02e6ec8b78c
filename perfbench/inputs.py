"""Seeded input generation for the three workloads.

The program under test receives only what these functions build: a
synthetic web (pages + seeds parquet) for the crawl workloads and a
documents/embeddings corpus for corpus_dedup. Every size and rate is
a pure function of the workload's base shape and ``--seed``; the seed
moves sizes by at most a few percent so run-to-run spread stays a
property of the program, not of the inputs.
"""

from __future__ import annotations

import os
from dataclasses import asdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shape of the crawl webs. crawl_rounds: a politeness-bounded crawl
# where fixed per-round cost dominates; crawl_bulk: one drain-sized
# round over text-heavy pages where parse, seen-set probing and the
# snapshot writes dominate (bench.py's crawl-leg shape, scaled down).
ROUNDS_WEB = dict(n_pages=20_000, n_hosts=50, out_degree=4, n_seeds=50, text_words=24)
BULK_WEB = dict(n_pages=24_000, n_hosts=400, out_degree=10, text_words=96)

# Vocabulary and lengths of the sf0.1 `documents` table (30 filler words,
# 10..100 tokens per document, five languages, twenty sources).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20

# Corpus shape: base size, planted near-duplicate and boilerplate rates,
# embedding count and the (uneven) label weights.
CORPUS = dict(
    n_docs=2_500,
    exact_dup_rate=0.02,  # verbatim copies (dedup_exact groups)
    near_dup_rate=0.06,  # copies with one token edited or appended
    boilerplate_rate=0.10,  # docs carrying a shared 12-token span
    n_boilerplates=4,
    boilerplate_len=12,
    n_vectors=1_000,
    dim=64,
    near_vec_rate=0.03,  # vectors planted next to another in its label
)
LABEL_WEIGHTS = tuple(1.0 / (i + 1) for i in range(10))  # Zipf-like skew


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def web_config(seed: int, bulk: bool):
    """The WebConfig for one workload and seed. Every page is seeded in
    the bulk web; the rounds web starts from 50 seeds strided over the
    page ids."""
    from borges_spark.sources.synthetic_web import WebConfig

    base = BULK_WEB if bulk else ROUNDS_WEB
    rng = _rng(seed, 1 if bulk else 2)
    n_pages = base["n_pages"] + int(rng.integers(0, base["n_pages"] // 50))
    return WebConfig(
        n_pages=n_pages,
        n_hosts=base["n_hosts"],
        out_degree=base["out_degree"],
        hot_frac=float(rng.uniform(0.08, 0.12)),
        n_seeds=n_pages if bulk else base["n_seeds"],
        latin1_every=int(rng.integers(13, 20)),
        text_words=base["text_words"],
    )


def write_web(spark, cfg, out_dir: str) -> dict:
    """Materialize pages and seeds as parquet; returns the input sizes."""
    from borges_spark.sources.synthetic_web import gen_pages, gen_seeds

    # 16 files give scan parallelism past the 4 local cores.
    gen_pages(spark, cfg).repartition(16).write.mode("overwrite").parquet(f"{out_dir}/pages")
    gen_seeds(spark, cfg).repartition(4).write.mode("overwrite").parquet(f"{out_dir}/seeds")
    return {**asdict(cfg), "pages_bytes": dir_bytes(f"{out_dir}/pages")}


def _doc_tokens(rng: np.random.Generator) -> list[str]:
    n = int(rng.integers(10, 101))
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n)]


def corpus_tables(seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """Build (documents, embeddings, sizes) for one seed.

    Documents follow the sf0.1 shape. On top of the random base docs,
    the stated shares of rows are planted as exact copies, near copies
    (one token replaced, or a marker token appended, as the sf0.1 'dup'
    rows are), and carriers of one of a few shared boilerplate spans.
    Embeddings are unit vectors whose labels follow LABEL_WEIGHTS, with
    a share planted as small perturbations of another vector of the
    same label."""
    c = CORPUS
    rng = _rng(seed, 3)
    n_docs = c["n_docs"] + int(rng.integers(0, c["n_docs"] // 50))
    boiler = [
        [VOCAB[i] for i in rng.integers(0, len(VOCAB), c["boilerplate_len"])]
        for _ in range(c["n_boilerplates"])
    ]
    docs: list[list[str]] = []
    kinds = rng.random(n_docs)
    exact_cut = c["exact_dup_rate"]
    near_cut = exact_cut + c["near_dup_rate"]
    for i in range(n_docs):
        if i > 0 and kinds[i] < exact_cut:
            toks = list(docs[int(rng.integers(0, i))])
        elif i > 0 and kinds[i] < near_cut:
            toks = list(docs[int(rng.integers(0, i))])
            if rng.random() < 0.5:
                toks.append("dup")
            else:
                toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = _doc_tokens(rng)
            if rng.random() < c["boilerplate_rate"]:
                at = int(rng.integers(0, len(toks) + 1))
                toks[at:at] = boiler[int(rng.integers(0, len(boiler)))]
        docs.append(toks)
    texts = [" ".join(t) for t in docs]
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    n_vec = c["n_vectors"] + int(rng.integers(0, c["n_vectors"] // 50))
    w = np.asarray(LABEL_WEIGHTS)
    labels = rng.choice(len(w), n_vec, p=w / w.sum()).astype(np.int32)
    vecs = rng.standard_normal((n_vec, c["dim"]))
    for i in np.flatnonzero(rng.random(n_vec) < c["near_vec_rate"]):
        same = np.flatnonzero(labels[:i] == labels[i])
        if same.size:
            vecs[i] = vecs[int(rng.choice(same))] + 0.1 * rng.standard_normal(c["dim"])
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )
    sizes = {
        "n_docs": n_docs,
        "n_vectors": n_vec,
        "text_bytes": sum(len(t) for t in texts),
        "largest_label_share": round(float(np.bincount(labels).max() / n_vec), 4),
        **{k: v for k, v in c.items() if k.endswith("_rate")},
    }
    return documents, embeddings, sizes


def write_corpus(seed: int, out_dir: str) -> dict:
    """Write documents.parquet and embeddings.parquet (the sf-dir layout
    the oracle SQL reads); returns the input sizes."""
    documents, embeddings, sizes = corpus_tables(seed)
    os.makedirs(out_dir, exist_ok=True)
    # several row groups, so the scan splits over the local cores
    pq.write_table(documents, f"{out_dir}/documents.parquet", row_group_size=512)
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet", row_group_size=256)
    return sizes


def dir_bytes(path: str) -> int:
    """Bytes of every file under path."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total
