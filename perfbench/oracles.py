"""Independent output checks, in numpy and plain Python.

Nothing here imports the engine: every expected answer is derived
from the generated input files alone. Each check returns a list of
error strings; an empty list means the operation's output is correct.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

# Two engines summing the same doubles in a different order agree to
# ~1e-15; a score within this of another counts as a tie.
TIE_TOL = 1e-9


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= TIE_TOL * max(1.0, abs(b))


def check_topk(got: list[tuple[str, float]], expected: dict[str, float],
               k: int) -> list[str]:
    """``got`` is a top-k list in descending score order; ``expected``
    maps every candidate to its exact score. Ties within TIE_TOL may be
    broken either way, including at the k-th place."""
    errs = []
    want = min(k, len(expected))
    if len(got) != want:
        errs.append(f"top-k has {len(got)} rows, expected {want}")
    ranked = sorted(expected.values(), reverse=True)
    kth = ranked[want - 1] if want else math.inf
    seen = set()
    for i, (key, score) in enumerate(got):
        if key not in expected:
            errs.append(f"unexpected key {key!r}")
            continue
        if key in seen:
            errs.append(f"duplicate key {key!r}")
        seen.add(key)
        if not _close(score, expected[key]):
            errs.append(f"{key!r}: score {score!r} != {expected[key]!r}")
        if score < kth - TIE_TOL * max(1.0, abs(kth)):
            errs.append(f"{key!r}: score {score!r} below k-th {kth!r}")
        if i and score > got[i - 1][1] + TIE_TOL:
            errs.append(f"{key!r}: not in descending order")
    for key, score in expected.items():
        if score > kth + TIE_TOL * max(1.0, abs(kth)) and key not in seen:
            errs.append(f"missing {key!r} (score {score!r})")
    return errs


class TfidfOracle:
    """The reference's TF-IDF term-term cosine, recomputed densely:
    tf = count / doc tokens, idf = log10(N / df) over the full
    vocabulary, cosine over the terms matching prefix/suffix, exact
    zeros (and zero-norm terms) dropped."""

    def __init__(self, docs: list[tuple[str, list[str]]], prefix: str,
                 suffix: str):
        n = len(docs)
        terms = sorted({t for _, toks in docs for t in toks
                        if t.startswith(prefix) and t.endswith(suffix)})
        self.index = {t: i for i, t in enumerate(terms)}
        self.terms = terms
        w = np.zeros((len(terms), n))
        for d, (_, toks) in enumerate(docs):
            for t, c in Counter(toks).items():
                i = self.index.get(t)
                if i is not None:
                    w[i, d] = c / len(toks)
        df = np.count_nonzero(w, axis=1)
        w *= np.log10(n / df)[:, None]
        self.w = w
        self.norm = np.sqrt((w * w).sum(axis=1))

    def scores(self, query: str) -> dict[str, float]:
        qi = self.index.get(query)
        if qi is None or self.norm[qi] == 0:
            return {}
        num = self.w @ self.w[qi]
        out = {}
        for i, t in enumerate(self.terms):
            if i != qi and num[i] != 0 and self.norm[i] > 0:
                out[t] = float(num[i] / (self.norm[i] * self.norm[qi]))
        return out

    def check(self, query: str, got: list[tuple[str, float]],
              k: int) -> list[str]:
        return [f"query {query}: {e}"
                for e in check_topk(got, self.scores(query), k)]


def check_exact_dedup(docs: list[tuple[str, list[str]]],
                      got: list[tuple[str, int]]) -> list[str]:
    """Survivors of exact dedup: one per distinct text, the lowest id,
    with the size of its group."""
    groups: dict[str, list[str]] = defaultdict(list)
    for doc_id, toks in docs:
        groups[" ".join(toks)].append(doc_id)
    want = {min(ids): len(ids) for ids in groups.values()}
    have = dict(got)
    errs = []
    if len(have) != len(got):
        errs.append("duplicate survivor ids")
    for doc_id in sorted(set(want) | set(have)):
        if want.get(doc_id) != have.get(doc_id):
            errs.append(f"survivor {doc_id}: group size "
                        f"{have.get(doc_id)} != {want.get(doc_id)}")
    return errs[:20]


def shingle_sets(docs: list[tuple[str, list[str]]],
                 n: int = 3) -> dict[str, set[tuple[str, ...]]]:
    return {doc_id: {tuple(toks[i:i + n])
                     for i in range(len(toks) - n + 1)}
            for doc_id, toks in docs}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


# MinHash (64 hashes, 16 bands of 4) misses a pair of Jaccard J with
# probability (1 - J^4)^16: 4e-8 at J = 0.9, so every pair at or above
# RECALL_J must be reported. A reported pair at J <= PRECISION_J would
# need a ~3.5-sigma estimate error on top of a band collision. The
# 64-hash estimate has sigma <= 0.0625.
RECALL_J = 0.9
PRECISION_J = 0.3
ESTIMATE_TOL = 0.3


def check_near_pairs(docs: list[tuple[str, list[str]]],
                     got: list[tuple[str, str, float]],
                     min_est: float) -> list[str]:
    """MinHash near-duplicate pairs against exact shingle Jaccard. Pairs
    with any shingle in common are enumerated through an inverted index,
    so the recall side needs no all-pairs scan."""
    sh = shingle_sets(docs)
    postings: dict[tuple, list[str]] = defaultdict(list)
    for doc_id, s in sh.items():
        for x in s:
            postings[x].append(doc_id)
    # A pair at RECALL_J shares almost all of its shingles, rare ones
    # included, so skipping shingles common to many documents loses no
    # pair the recall check needs and keeps this linear.
    shared: set[tuple[str, str]] = set()
    for ids in postings.values():
        if 1 < len(ids) <= 64:
            ids = sorted(ids)
            shared.update((a, b) for i, a in enumerate(ids)
                          for b in ids[i + 1:])
    errs = []
    reported = set()
    for a, b, est in got:
        if not a < b:
            errs.append(f"pair ({a}, {b}) not ordered")
            continue
        reported.add((a, b))
        j = jaccard(sh[a], sh[b])
        if est < min_est:
            errs.append(f"pair ({a}, {b}): estimate {est} below {min_est}")
        if j <= PRECISION_J:
            errs.append(f"pair ({a}, {b}): exact Jaccard {j:.3f}")
        elif abs(est - j) > ESTIMATE_TOL:
            errs.append(f"pair ({a}, {b}): estimate {est} vs exact {j:.3f}")
    if len(reported) != len(got):
        errs.append("duplicate pairs")
    for a, b in sorted(shared - reported):
        if jaccard(sh[a], sh[b]) >= RECALL_J:
            errs.append(f"missing pair ({a}, {b})")
    return errs[:20]


class CosineOracle:
    """Brute-force cosine over the staged float32 vectors, in float64."""

    def __init__(self, ids: np.ndarray, vecs: np.ndarray):
        order = np.argsort(ids)
        self.ids = ids[order]
        u = vecs[order]
        self.u = u / np.linalg.norm(u, axis=1, keepdims=True)
        self.pos = {int(v): i for i, v in enumerate(self.ids)}

    def _blocks(self, size: int = 1024):
        for s in range(0, len(self.ids), size):
            yield s, self.u[s:s + size] @ self.u.T

    def check_knn(self, got: list[tuple[int, int, float]],
                  k: int) -> list[str]:
        errs = []
        per = defaultdict(list)
        for v, nb, c in got:
            per[int(v)].append((int(nb), float(c)))
        want = min(k, len(self.ids) - 1)
        if set(per) != set(self.pos):
            errs.append(f"{len(set(self.pos) ^ set(per))} vector ids "
                        "missing or unexpected")
        for s, cos in self._blocks():
            for r in range(cos.shape[0]):
                i = s + r
                vid = int(self.ids[i])
                row = cos[r].copy()
                row[i] = -np.inf
                rows = per.get(vid, [])
                if len(rows) != want:
                    errs.append(f"vec {vid}: {len(rows)} neighbours")
                    continue
                kth = np.partition(row, -want)[-want]
                nbs = np.array([self.pos.get(nb, -1) for nb, _ in rows])
                if (nbs < 0).any() or len(set(nbs)) != want:
                    errs.append(f"vec {vid}: bad neighbour ids")
                    continue
                exact = row[nbs]
                rep = np.array([c for _, c in rows])
                if (np.abs(rep - exact) > TIE_TOL).any():
                    errs.append(f"vec {vid}: cosine mismatch")
                if (exact < kth - TIE_TOL).any():
                    errs.append(f"vec {vid}: neighbour below k-th")
                if not np.isin(np.nonzero(row > kth + TIE_TOL)[0],
                               nbs).all():
                    errs.append(f"vec {vid}: a nearer neighbour is missing")
                if len(errs) >= 20:
                    return errs
        return errs

    def check_pairs(self, got: list[tuple[int, int, float]],
                    min_cos: float) -> list[str]:
        """Pairs a < b with cosine > min_cos; pairs within TIE_TOL of the
        threshold may fall on either side."""
        errs = []
        want, edge = set(), set()
        for s, cos in self._blocks():
            r, c = np.nonzero(cos > min_cos - TIE_TOL)
            r = r + s
            keep = r < c
            for i, j in zip(r[keep], c[keep]):
                pair = (int(self.ids[i]), int(self.ids[j]))
                val = cos[i - s, j]
                (edge if val <= min_cos + TIE_TOL else want).add(pair)
        have = {}
        for a, b, cosv in got:
            a, b = int(a), int(b)
            if (a, b) in have:
                errs.append(f"duplicate pair ({a}, {b})")
            have[(a, b)] = float(cosv)
        for pair in sorted(want - set(have)):
            errs.append(f"missing pair {pair}")
        for pair in sorted(set(have) - want - edge):
            errs.append(f"unexpected pair {pair}")
        for (a, b), cosv in have.items():
            if a in self.pos and b in self.pos:
                exact = float(self.u[self.pos[a]] @ self.u[self.pos[b]])
                if abs(cosv - exact) > TIE_TOL:
                    errs.append(f"pair ({a}, {b}): cosine {cosv} != {exact}")
        return errs[:20]
