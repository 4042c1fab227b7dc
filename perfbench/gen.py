"""Seeded input generator for the benchmark's workloads.

The base corpus in `data/` is a fixed copy of graft's synthetic tables: the
sf0.1 `documents` (5,000 rows) and `embeddings` (one per document below
2,000), and the sf0.01 `orders`, `customer` and `events` tables the form
pipeline's relational rows read. The program only
ever sees the generated directory. The same seed writes byte-identical files.
"""
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = Path(__file__).resolve().parent / "data"

# form_etl corpus size: distinct documents per pass
FORM_DOCS = 6000
# curate_store corpus size
CORPUS_DOCS = 500

WORKLOAD_STREAM = {"form_etl": 1, "curate_store": 2}


def _write(table: pa.Table, path: Path) -> None:
    pq.write_table(table, path, compression="snappy")


def form_inputs(out: Path, rng: np.random.Generator, n: int = FORM_DOCS) -> None:
    """`n` distinct documents. Each redraws a seed-picked base document's own
    words, with replacement and at the same length, and keeps its `lang` and
    `source`."""
    base = pq.read_table(DATA / "documents.parquet")
    texts = [t.split(" ") for t in base.column("text").to_pylist()]
    langs = base.column("lang").to_pylist()
    sources = base.column("source").to_pylist()
    seen, text, lang, source = set(), [], [], []
    while len(text) < n:
        k = int(rng.integers(len(texts)))
        words = texts[k]
        t = " ".join(words[j] for j in rng.integers(len(words), size=len(words)))
        if t in seen:  # a short document can run out of new orderings
            continue
        seen.add(t)
        text.append(t)
        lang.append(langs[k])
        source.append(sources[k])
    docs = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }, schema=base.schema)
    _write(docs, out / "documents.parquet")
    for name in ("orders", "customer", "events"):
        shutil.copyfile(DATA / f"{name}.parquet", out / f"{name}.parquet")


def corpus_inputs(out: Path, rng: np.random.Generator, n: int = CORPUS_DOCS) -> None:
    """A seed-picked sample of `n` base documents under seeded ids 0..n-1, so
    the id-modulus carves (base/crawl, eval, queries) pick other documents
    under each seed. The base corpus's embedded share is kept: `n_e` of the
    documents come from the embedded ids and are relabeled within [0, n_e),
    the rest within [n_e, n), and each embedding's `vec_id` follows its
    document's new `doc_id`."""
    docs = pq.read_table(DATA / "documents.parquet")
    embs = pq.read_table(DATA / "embeddings.parquet")
    n_emb = embs.num_rows
    n_e = n * n_emb // docs.num_rows
    picked = np.concatenate([
        np.sort(rng.permutation(n_emb)[:n_e]),
        np.sort(n_emb + rng.permutation(docs.num_rows - n_emb)[:n - n_e])])
    new_id = np.concatenate([rng.permutation(n_e), n_e + rng.permutation(n - n_e)])
    docs = docs.take(picked).set_column(0, "doc_id", pa.array(new_id.astype(np.int64)))
    _write(docs.sort_by("doc_id"), out / "documents.parquet")
    # base doc_id == vec_id below n_emb, and embeddings are stored by vec_id
    assert embs.column("vec_id").to_pylist() == list(range(n_emb))
    embs = embs.take(picked[:n_e]).set_column(
        0, "vec_id", pa.array(new_id[:n_e].astype(np.int64)))
    _write(embs.sort_by("vec_id"), out / "embeddings.parquet")


def generate(workload: str, seed: int, out: Path) -> None:
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    # a negative seed is folded into the unsigned range numpy accepts
    rng = np.random.default_rng([seed % 2**64, WORKLOAD_STREAM[workload]])
    if workload == "form_etl":
        form_inputs(out, rng)
    else:
        corpus_inputs(out, rng)
