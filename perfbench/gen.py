"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, another seed gives other text, other vectors and
other doc ids. The shapes follow the repository's synthetic test tables
(``documents``, ``embeddings``) so the engine's queries and their DuckDB
twins run unchanged on them:

* ``documents``: ``doc_id`` 0..n-1, 10-100 words drawn from a 30-word
  vocabulary, 5% near-duplicates (another doc's text plus ``" dup"``),
  ``lang`` skewed towards ``en``, ``source = src<doc_id % 20>``.
* ``embeddings``: unit-norm float32 vectors of dimension 64, 10 labels.

The extraction corpus is ``documents`` replicated with shifted ids and
turned into interleaved ``(doc_id, spans)`` rows by the engine's own
generator, :func:`paddleocr_spark.synth.synth_spans_pandas`.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_SHARE = 0.05
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10
#: doc ids of replica r are shifted by (seed * replicas + r) * ID_STRIDE
ID_STRIDE = 10_000_000
#: keeps shifted ids far below 2**63 for any seed
SEED_ID_MOD = 100_000

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32())]))
CORPUS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def documents(seed: int, n_docs: int) -> pa.Table:
    """The plain-text ``documents`` table."""
    rng = _rng(seed, 1)
    n_words = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words.sum())]
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    dups = np.flatnonzero(rng.random(n_docs) < DUP_SHARE)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d, src in zip(dups, rng.choice(originals, len(dups))):
        texts[d] = texts[src] + " dup"
    langs = np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
        "n_chars": np.fromiter(map(len, texts), np.int64, n_docs),
    })


def embeddings(seed: int, n_vecs: int) -> pa.Table:
    rng = _rng(seed, 2)
    v = rng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
    })


def corpus_documents(seed: int, n_docs: int, replicas: int) -> pa.Table:
    """``documents`` replicated ``replicas`` times with shifted doc ids."""
    base = documents(seed, n_docs).select(["doc_id", "text"])
    first = (seed % SEED_ID_MOD) * replicas
    parts = []
    for r in range(replicas):
        shift = (first + r) * ID_STRIDE
        parts.append(base.set_column(
            0, "doc_id", pa.array(base.column("doc_id").to_numpy() + shift)))
    return pa.concat_tables(parts)


def interleaved(docs: pa.Table) -> pa.Table:
    """``(doc_id, text)`` → the interleaved ``(doc_id, spans)`` corpus."""
    from paddleocr_spark.synth import synth_spans_pandas
    pdf = synth_spans_pandas(docs.to_pandas())
    return pa.Table.from_pandas(pdf, schema=CORPUS_SCHEMA,
                                preserve_index=False)


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files of contiguous rows, so
    the scan starts ``n_files`` partitions wide."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def write_curation_tables(seed: int, sf_dir: str, n_docs: int,
                          n_vecs: int) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(documents(seed, n_docs),
                   os.path.join(sf_dir, "documents.parquet"))
    pq.write_table(embeddings(seed, n_vecs),
                   os.path.join(sf_dir, "embeddings.parquet"))
