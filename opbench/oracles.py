"""Answer oracles, written in numpy and plain Python only.

Nothing here imports the engine: each oracle recomputes the expected
answer from the generated inputs and returns a list of problems (empty
means the engine's answer is right).
"""

from __future__ import annotations

import hashlib
import random
from collections import defaultdict

import numpy as np

# the absolute part covers float32 inputs summed in another order
DIST_ABS_TOL = 1e-6
DIST_REL_TOL = 1e-7


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= DIST_ABS_TOL + DIST_REL_TOL * abs(b)


class VectorOracle:
    """Exact squared-euclidean distances over a corpus held in float64."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.vecs = np.asarray(vecs, dtype=np.float64)
        self.row = {int(v): i for i, v in enumerate(self.ids)}

    def distances(self, q: np.ndarray) -> np.ndarray:
        """(len(q), n) exact distances, summed per row by numpy."""
        q = np.asarray(q, dtype=np.float64)
        return np.stack([((self.vecs - v) ** 2).sum(axis=1) for v in q])

    def topk(self, dist_row: np.ndarray, k: int, exclude: "int | None" = None):
        """Ids of the exact top-k, ties broken to the smaller id."""
        order = np.lexsort((self.ids, dist_row))
        out = [int(self.ids[i]) for i in order if int(self.ids[i]) != exclude]
        return out[:k]


def check_topk(rows, oracle: VectorOracle, qids, qvecs, k: int, exact: bool,
               exclude_self: bool = False) -> "tuple[list[str], list[float]]":
    """Validate a (query_id, vec_id, dist, rnk) answer.

    Every row: a known id, a distance equal to the true distance, ranks
    1..n in the engine's (distance, id) order and in true-distance order,
    no repeated id, at most ``k`` rows and at least one per query.
    ``exact=True`` also requires the exact top-k set (ties broken to the
    smaller id); ids may differ from it only among rows whose true
    distance rounds to the k-th one.
    Returns (problems, per-query recall@k against the exact answer)."""
    problems: "list[str]" = []
    by_q = defaultdict(list)
    for r in rows:
        by_q[int(r[0])].append((int(r[3]), int(r[1]), float(r[2])))
    unknown = set(by_q) - {int(q) for q in qids}
    if unknown:
        problems.append(f"answer names unknown query ids {sorted(unknown)[:3]}")
    dist = oracle.distances(qvecs)
    recalls = []
    for qi, qid in enumerate(qids):
        qid = int(qid)
        got = sorted(by_q.get(qid, []))
        drow = dist[qi]
        expected = oracle.topk(drow, k, exclude=qid if exclude_self else None)
        if not got or len(got) > k:
            problems.append(f"query {qid}: {len(got)} rows (want 1..{k})")
            recalls.append(0.0)
            continue
        ids = [v for _, v, _ in got]
        if [r for r, _, _ in got] != list(range(1, len(got) + 1)):
            problems.append(f"query {qid}: ranks {[r for r, _, _ in got]}")
        if len(set(ids)) != len(ids):
            problems.append(f"query {qid}: repeated ids")
        if exclude_self and qid in ids:
            problems.append(f"query {qid}: returned itself")
        true = []
        for _, v, d in got:
            if v not in oracle.row:
                problems.append(f"query {qid}: unknown vec_id {v}")
                true.append(float("inf"))
                continue
            t = float(drow[oracle.row[v]])
            true.append(t)
            if not _close(d, t):
                problems.append(f"query {qid}: vec {v} dist {d!r} != true {t!r}")
        for i in range(len(got) - 1):
            # ranks follow the engine's own (dist, id) order, and that
            # order agrees with the true distances up to rounding. An
            # exact tie is judged on the engine's distances: a BLAS path
            # may round two identical vectors apart, and then ranks them
            # by the rounded values.
            (_, a_id, a_d), (_, b_id, b_d) = got[i], got[i + 1]
            if (a_d, a_id) > (b_d, b_id) or true[i] > true[i + 1] + DIST_ABS_TOL + DIST_REL_TOL * true[i + 1]:
                problems.append(f"query {qid}: rank {i + 1}/{i + 2} out of (dist, id) order")
        kth = float(drow[oracle.row[expected[-1]]]) if expected else float("inf")
        hits = sum(1 for t in true if t <= kth + DIST_ABS_TOL + DIST_REL_TOL * kth)
        recalls.append(hits / max(len(expected), 1))
        if exact:
            if len(got) != len(expected):
                problems.append(f"query {qid}: {len(got)} rows, exact answer has {len(expected)}")
            # the set is the exact top-k; ids may differ from it only
            # among rows whose true distance rounds to the k-th one
            for v, t in zip(ids, true):
                if v not in expected and not _close(t, kth):
                    problems.append(f"query {qid}: vec {v} is not in the exact top-{k}")
            for e in expected:
                t = float(drow[oracle.row[e]])
                if e not in ids and not _close(t, kth):
                    problems.append(f"query {qid}: exact neighbour {e} missing")
    return problems, recalls


# --- text ------------------------------------------------------------------------

MINHASH_PRIME = 2147483647


def _md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _minhash_coeffs(num_hashes: int):
    # the universal-hash family of the MinHash stage: fixed seed, a in
    # [1, p), b in [0, p)
    rng = random.Random(0x5EED)
    return [(rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
            for _ in range(num_hashes)]


def _shingles(words: "list[str]", n: int) -> "list[str]":
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def pipeline_stats(doc_id, text, lang, source, num_hashes: int = 16,
                   jaccard: float = 0.5) -> "set[tuple]":
    """Exact replay of the training-corpus pipeline: hold out every
    doc_id % 10 == 0 document as the benchmark set, drop documents under
    10 words, keep the smallest id per identical text, MinHash-LSH (one
    row per band) candidates verified at Jaccard >= 0.5 over distinct
    3-word shingles, keep the smallest id per connected component, drop
    survivors sharing an 8-word window with the benchmark set, and count
    documents and tokens per (source, lang)."""
    docs = list(zip((int(d) for d in doc_id), text, lang, source))
    bench_keys = set()
    for d, t, _, _ in docs:
        if d % 10 == 0:
            bench_keys.update(_md5_hex(s) for s in _shingles(t.split(" "), 8))
    first_by_text = {}
    for d, t, lg, src in docs:
        if d % 10 != 0 and len(t.split(" ")) >= 10:
            if t not in first_by_text or d < first_by_text[t][0]:
                first_by_text[t] = (d, t, lg, src)
    exact = sorted(first_by_text.values())

    coeffs = _minhash_coeffs(num_hashes)
    shingle_sets, buckets = {}, defaultdict(list)
    for d, t, _, _ in exact:
        sh = set(_shingles(t.split(" "), 3))
        if not sh:
            continue
        shingle_sets[d] = sh
        hv = [int(_md5_hex(s)[:8], 16) % MINHASH_PRIME for s in sh]
        for j, (a, b) in enumerate(coeffs):
            buckets[(j, min((v * a + b) % MINHASH_PRIME for v in hv))].append(d)
    cand = set()
    for members in buckets.values():
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    verified = []
    for a, b in cand:
        sa, sb = shingle_sets[a], shingle_sets[b]
        inter = len(sa & sb)
        if inter / (len(sa) + len(sb) - inter) >= jaccard:
            verified.append((a, b))
    component = union_find_components(verified)
    stats = defaultdict(lambda: [0, 0])
    for d, t, lg, src in exact:
        if component.get(d, d) != d:
            continue
        if any(_md5_hex(s) in bench_keys for s in _shingles(t.split(" "), 8)):
            continue
        stats[(src, lg)][0] += 1
        stats[(src, lg)][1] += len(t.split(" "))
    return {(s, lg, n, tok) for (s, lg), (n, tok) in stats.items()}


def simhash32(text: str) -> int:
    """32-bit SimHash over distinct words: bit i is set when more than
    half of the words' md5-prefix hashes have bit i set."""
    words = set(text.split(" "))
    counts = [0] * 32
    for w in words:
        h = int(_md5_hex(w)[:8], 16)
        for i in range(32):
            counts[i] += (h >> i) & 1
    return sum(1 << i for i in range(32) if 2 * counts[i] - len(words) > 0)


def simhash_pairs(doc_id, text, max_hamming: int) -> "set[tuple]":
    """Every (a, b, hamming) with a < b and hamming <= max_hamming."""
    ids = np.asarray(doc_id, dtype=np.int64)
    fps = np.array([simhash32(t) for t in text], dtype=np.uint32)
    bits16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int64)
    x = fps[:, None] ^ fps[None, :]
    ham = bits16[x & 0xFFFF] + bits16[x >> 16]
    out = set()
    for i, j in zip(*np.nonzero(np.triu(ham <= max_hamming, 1))):
        a, b = int(ids[i]), int(ids[j])
        out.add((min(a, b), max(a, b), int(ham[i, j])))
    return out


def union_find_components(pairs) -> "dict[int, int]":
    """node -> smallest node id of its connected component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def collapsed_share(groups, components: "dict[int, int]") -> float:
    """Share of planted duplicate groups whose members all landed in one
    component."""
    ok = sum(
        1 for g in groups
        if all(m in components for m in g) and len({components[m] for m in g}) == 1
    )
    return ok / max(len(groups), 1)
