"""Seeded input generation.  The same seed gives the same inputs; the
program sees only what these functions return."""

from __future__ import annotations

import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
SPARSE_DIM = 256
SPARSE_NNZ = 24
CATEGORIES = 8


def point_ids(n: int) -> list[str]:
    return [f"p{i:06d}" for i in range(n)]


def payloads(rng: np.random.Generator, n: int) -> list[dict]:
    cats = rng.integers(0, CATEGORIES, n)
    prices = np.round(rng.uniform(0.0, 100.0, n), 2)
    stock = rng.integers(0, 50, n)
    return [
        {"cat": f"c{int(c)}", "price": float(p), "stock": int(s)}
        for c, p, s in zip(cats, prices, stock)
    ]


def dense(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.standard_normal((n, DIM)).astype(np.float32)


def sparse_vector(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray]:
    idx = np.sort(rng.choice(SPARSE_DIM, SPARSE_NNZ, replace=False)).astype(np.int64)
    val = rng.uniform(0.05, 1.0, SPARSE_NNZ).astype(np.float32)
    return idx, val


class Points:
    """A generated collection: ids, dense vectors, sparse vectors, payload
    dicts."""

    def __init__(self, seed: int, n: int):
        rng = np.random.default_rng(seed)
        self.ids = point_ids(n)
        self.dense = dense(rng, n)
        self.payload = payloads(rng, n)
        self.payload_json = [json.dumps(p, sort_keys=True) for p in self.payload]
        self.sparse = [sparse_vector(rng) for _ in range(n)]

    def __len__(self) -> int:
        return len(self.ids)

    def sparse_matrix(self) -> np.ndarray:
        """Dense float64 view of the sparse field, for the oracle."""
        m = np.zeros((len(self), SPARSE_DIM))
        for row, (idx, val) in enumerate(self.sparse):
            m[row, idx] = val.astype(np.float64)
        return m

    def write_parquet(self, path: str) -> None:
        """Columns ``id``, ``payload``, ``dense``, ``sp_indices``, ``sp_values``."""
        cols = {
            "id": pa.array(self.ids, pa.string()),
            "payload": pa.array(self.payload_json, pa.string()),
            "dense": pa.array(list(self.dense), pa.list_(pa.float32())),
            "sp_indices": pa.array([i for i, _ in self.sparse], pa.list_(pa.int64())),
            "sp_values": pa.array([v for _, v in self.sparse], pa.list_(pa.float32())),
        }
        pq.write_table(pa.table(cols), path)

    def rest_points(self) -> list[dict]:
        """Points in the REST upsert shape (integer ids, the dense vector
        named ``dense``)."""
        return [
            {
                "id": i,
                "vector": {"dense": [float(x) for x in self.dense[i]]},
                "payload": self.payload[i],
            }
            for i in range(len(self))
        ]


# ---------------------------------------------------------------------------
# documents with planted near-copies (ingest)
# ---------------------------------------------------------------------------

VOCAB = 5000
DOC_WORDS = 40


def _vocab(rng: np.random.Generator) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < VOCAB:
        words.add("".join(rng.choice(letters, int(rng.integers(4, 9)))))
    return sorted(words)


class DocStream:
    """An endless stream of generated documents, one batch at a time.

    About a quarter of the documents are near-copies of an earlier
    original: one word upper-cased and one space doubled.  The text differs,
    but after the ingest's lower-case and whitespace normalisation their
    3-shingle Jaccard with the original is 1.0, far above the 0.5
    threshold.  (Copies with a replaced word, Jaccard ≈ 0.85, are left
    out: the program's LSH misses some of them on some seeds.)  Every other document is
    drawn independently from a 5000-word vocabulary, so unrelated pairs
    share almost no shingles.  A copy always has a larger ``doc_id`` than
    its original and lands in the same or a later batch.  ``originals`` is
    the exact set of ids a correct near-dup ingest keeps.
    """

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng)
        self.next_id = 0
        self.texts: dict[int, list[str]] = {}  # originals so far
        self.order: list[int] = []
        self.originals: set[int] = set()
        self.copy_of: dict[int, int] = {}  # copy id -> original id

    def batch(self, size: int) -> list[tuple[int, str]]:
        rng, vocab = self.rng, self.vocab
        out = []
        for _ in range(size):
            doc = self.next_id
            self.next_id += 1
            if self.order and rng.random() < 0.25:
                orig = self.order[int(rng.integers(0, len(self.order)))]
                words = list(self.texts[orig])
                up, gap = rng.integers(0, DOC_WORDS, 2)
                words[up] = words[up].upper()
                words[gap] += " "
                self.copy_of[doc] = orig
            else:
                words = [vocab[int(j)] for j in rng.integers(0, VOCAB, DOC_WORDS)]
                self.texts[doc] = words
                self.order.append(doc)
                self.originals.add(doc)
            out.append((doc, " ".join(words)))
        return out


def write_docs(docs: list[tuple[int, str]], path: str) -> None:
    ids, texts = zip(*docs)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}),
        path,
    )
