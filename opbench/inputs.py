"""Seeded input generators for the operation benchmark.

Everything here is numpy + pyarrow only: the engine never sees the
generator, only the parquet files it writes. The same seed writes the
same bytes, which ``files_sha256`` lets a run prove.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Query ids live far above every corpus id, so the engine's
# exclude-self filters (vec_id != query_id) never drop a true neighbour.
QUERY_ID_BASE = 1_000_000_000


def _vec_array(mat: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(mat, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, mat.size + 1, mat.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def write_vectors(path: str, ids: np.ndarray, mat: np.ndarray, id_col: str,
                  vec_col: str) -> None:
    """One parquet file, one row group (the shape of the engine's own
    sf0.1 fixtures, where a scan is a single task)."""
    table = pa.table({id_col: pa.array(ids, pa.int64()), vec_col: _vec_array(mat)})
    pq.write_table(table, path, row_group_size=max(len(ids), 1))


def files_sha256(root: str) -> str:
    """sha256 over every file under ``root`` (relative path + bytes, in
    sorted path order)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --- vectors -------------------------------------------------------------------

@dataclass
class VectorSet:
    """A clustered corpus with planted exact duplicates.

    Rows ``[0, n_base)`` are cluster members; rows ``[n_base, n)`` copy
    a random base row bit for bit (one duplicate per chosen row)."""

    ids: np.ndarray
    vecs: np.ndarray  # float32 (n, dim)
    centers: np.ndarray


def clustered_vectors(rng: np.random.Generator, n_base: int, dim: int,
                      n_clusters: int, n_dups: int) -> VectorSet:
    centers = rng.normal(scale=3.0, size=(n_clusters, dim))
    base = centers[rng.integers(0, n_clusters, n_base)] + rng.normal(size=(n_base, dim))
    orig = rng.choice(n_base, size=n_dups, replace=False)
    vecs = np.vstack([base, base[orig]]).astype(np.float32)
    ids = np.arange(n_base + n_dups, dtype=np.int64)
    return VectorSet(ids, vecs, centers)


def query_batch(rng: np.random.Generator, centers: np.ndarray, n: int,
                first_id: int) -> "tuple[np.ndarray, np.ndarray]":
    """Fresh points drawn around the corpus clusters (never corpus rows)."""
    q = centers[rng.integers(0, len(centers), n)] + rng.normal(size=(n, centers.shape[1]))
    return np.arange(first_id, first_id + n, dtype=np.int64), q.astype(np.float32)


# --- documents -----------------------------------------------------------------

LANGS = ("en", "de", "fr")
SOURCES = ("web", "books", "code")


@dataclass
class DocSet:
    doc_id: np.ndarray
    text: list
    lang: list
    source: list
    # planted duplicate groups (lists of doc ids): exact copies and
    # near copies with one word substituted
    groups: list


def _vocabulary(rng: np.random.Generator, size: int) -> list:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, n)))
    return sorted(words)


def documents(rng: np.random.Generator, n_base: int, n_exact: int, n_near: int,
              n_contam: int, n_short: int, vocab_size: int = 6000) -> DocSet:
    """Random-word documents plus planted cases for every pipeline stage:

    - ``n_exact`` exact copies and ``n_near`` one-word-substituted copies
      of random base documents (duplicate groups of two);
    - ``n_contam`` documents that splice in a 12-word run of a benchmark
      document (doc_id % 10 == 0 — the pipeline's held-out set);
    - ``n_short`` documents under the pipeline's 10-word floor.

    Planted rows take random doc ids, so no stage sees them in a block."""
    vocab = _vocabulary(rng, vocab_size)
    weights = 1.0 / (np.arange(vocab_size) + 20.0)
    weights /= weights.sum()

    def words(n):
        return [vocab[i] for i in rng.choice(vocab_size, size=n, p=weights)]

    n = n_base + n_exact + n_near + n_contam + n_short
    ids = rng.permutation(n).astype(np.int64)
    base_ids, rest = ids[:n_base], ids[n_base:]
    text = {int(i): " ".join(words(int(rng.integers(40, 120)))) for i in base_ids}
    groups = []
    originals = rng.choice(base_ids, size=n_exact + n_near, replace=False)
    for j, orig in enumerate(originals):
        new = int(rest[j])
        toks = text[int(orig)].split(" ")
        if j >= n_exact:
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, vocab_size))]
        text[new] = " ".join(toks)
        groups.append([int(orig), new])
    bench = [int(i) for i in base_ids if i % 10 == 0]
    for j in range(n_contam):
        new = int(rest[n_exact + n_near + j])
        src = text[bench[int(rng.integers(0, len(bench)))]].split(" ")
        at = int(rng.integers(0, len(src) - 12))
        text[new] = " ".join(words(30) + src[at:at + 12] + words(30))
    for j in range(n_short):
        new = int(rest[n_exact + n_near + n_contam + j])
        text[new] = " ".join(words(int(rng.integers(2, 10))))
    order = np.sort(ids)
    return DocSet(
        doc_id=order,
        text=[text[int(i)] for i in order],
        lang=[LANGS[int(v)] for v in rng.integers(0, len(LANGS), n)],
        source=[SOURCES[int(v)] for v in rng.integers(0, len(SOURCES), n)],
        groups=groups,
    )


def write_documents(path: str, docs: DocSet) -> None:
    table = pa.table({
        "doc_id": pa.array(docs.doc_id, pa.int64()),
        "text": pa.array(docs.text, pa.string()),
        "lang": pa.array(docs.lang, pa.string()),
        "source": pa.array(docs.source, pa.string()),
    })
    pq.write_table(table, path, row_group_size=max(len(docs.doc_id), 1))
