"""Independent computations the program's outputs are checked against.

Nothing here imports the package: scores come from numpy float64, scans
from pyarrow/numpy over the generated data.
"""

from __future__ import annotations

import zlib

import numpy as np

SCORE_TOL = 1e-6
RRF_K = 60


def cosine_scores(matrix: np.ndarray, q: np.ndarray) -> np.ndarray:
    m = matrix.astype(np.float64)
    q = np.asarray(q, dtype=np.float64)
    return (m @ q) / (np.linalg.norm(m, axis=1) * np.linalg.norm(q))


def ranking(ids: list[str], scores: np.ndarray) -> list[tuple[str, float]]:
    """(id, score) by score descending, ties by id ascending."""
    order = sorted(range(len(ids)), key=lambda i: (-scores[i], ids[i]))
    return [(ids[i], float(scores[i])) for i in order]


def same_topk(
    got: list[tuple[str, float]], full: list[tuple[str, float]], k: int, tol: float = SCORE_TOL
) -> bool:
    """``got`` is a correct top-k of the oracle ranking ``full``: k rows,
    each score within ``tol`` of the oracle's score for that id, and the
    same ids as the oracle except where scores tie at the k-th place."""
    k = min(k, len(full))
    if len(got) != k:
        return False
    truth = dict(full)
    if any(i not in truth or abs(truth[i] - s) > tol for i, s in got):
        return False
    if len({i for i, _ in got}) != k:
        return False
    kth = full[k - 1][1]
    must = {i for i, s in full[:k] if s > kth + tol}
    allowed = {i for i, s in full if s >= kth - tol}
    ids = {i for i, _ in got}
    return must <= ids and ids <= allowed


def rrf(branches: list[list[tuple[str, float]]], limit: int) -> list[tuple[str, float]]:
    """Reciprocal-rank fusion of full branch rankings, each cut to
    ``limit`` rows first; ranked by fused score, ties by id."""
    fused: dict[str, float] = {}
    for ranked in branches:
        for rank, (i, _) in enumerate(ranked[:limit], start=1):
            fused[i] = fused.get(i, 0.0) + 1.0 / (RRF_K + rank)
    return sorted(fused.items(), key=lambda t: (-t[1], t[0]))


# -- scan checksums ---------------------------------------------------------


def crc(s: str | None) -> int:
    return 0 if s is None else zlib.crc32(s.encode())


def checksums(ids, payloads, vectors: np.ndarray) -> dict:
    """Row count and per-column checksums, as the benchmark's Spark action
    computes them: Σ crc32(id), Σ crc32(payload), Σ of vector elements."""
    return {
        "rows": len(ids),
        "id": sum(crc(i) for i in ids),
        "payload": sum(crc(p) for p in payloads),
        "vector": float(vectors.astype(np.float64).sum()) if len(ids) else 0.0,
    }


def same_checksums(got: dict, want: dict) -> bool:
    return (
        got["rows"] == want["rows"]
        and got["id"] == want["id"]
        and got["payload"] == want["payload"]
        and abs(got["vector"] - want["vector"]) <= 1e-6 * max(1.0, abs(want["vector"]))
    )


# -- planted near-copies ----------------------------------------------------

COPY_MIN_JACCARD = 1.0
UNRELATED_MAX_JACCARD = 0.2


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-word shingles after lower-casing and splitting on runs
    of whitespace."""
    words = text.lower().split()
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def check_planted(stream, docs: list[tuple[int, str]]) -> None:
    """A generated batch is what the ingest check assumes: every copy has
    the shingle set of its original (Jaccard 1.0, far above the 0.5
    threshold) while its text differs, and each document
    sits far below it against its neighbour in the batch unless they share
    an original."""
    raw = dict(docs)
    text = {i: shingles(t) for i, t in docs}
    for i in text:
        orig = stream.copy_of.get(i)
        if orig is not None and (
            i <= orig
            or jaccard(text[i], shingles(" ".join(stream.texts[orig]))) < COPY_MIN_JACCARD
            or raw[i] == " ".join(stream.texts[orig])
        ):
            raise RuntimeError(f"planted copy {i} of {orig} is not a near-copy")
    root = {i: stream.copy_of.get(i, i) for i in text}
    ids = sorted(text)
    for a, b in zip(ids, ids[1:]):
        if root[a] != root[b] and jaccard(text[a], text[b]) > UNRELATED_MAX_JACCARD:
            raise RuntimeError(f"unrelated documents {a} and {b} are too similar")
