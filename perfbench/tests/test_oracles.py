"""Self-tests of the output checks: each accepts a correct result and
counts a result with one corrupted entry as a failed operation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np
import pytest

from perfbench import gen, oracles
from perfbench.run import failures
from perfbench.workloads import PREFIX, SUFFIX, TOP_K, WORKLOADS


class _Check:
    """A workload stand-in whose check is ``fn`` (for ``failures``)."""

    def __init__(self, fn):
        self.check = fn


def failed_ops(check, outputs) -> int:
    return len(failures(_Check(check), outputs))


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("c") / "snap.txt")
    gen.ingest_snapshot(path, 200, seed=3)
    return gen.read_corpus(path)


def test_topk_check_corruptions(corpus):
    oracle = oracles.TfidfOracle(corpus, PREFIX, SUFFIX)
    query = "gene_g1_gene"
    scores = oracle.scores(query)
    good = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
    wrong_score = [good[0]] + [(good[1][0], good[1][1] * (1 + 1e-6))] \
        + good[2:]
    missing = good[:-1]
    outsider = sorted(scores.items(), key=lambda kv: kv[1])[0]
    wrong_term = good[:-1] + [outsider]

    def check(i, out):
        return oracle.check(query, out, TOP_K)

    assert failed_ops(check, [good]) == 0
    for bad in (wrong_score, missing, wrong_term):
        assert failed_ops(check, [good, bad]) == 1


def test_topk_check_accepts_ties_either_way():
    expected = {"a": 0.5, "b": 0.5 + 1e-12, "c": 0.1}
    assert not oracles.check_topk([("a", 0.5), ("b", 0.5)], expected, 2)
    assert not oracles.check_topk([("b", 0.5), ("a", 0.5)], expected, 2)
    assert not oracles.check_topk([("a", 0.5)], {"a": 0.5, "b": 0.5}, 1)
    assert oracles.check_topk([("c", 0.1)], {"a": 0.5, "c": 0.1}, 1)


def test_tfidf_oracle_matches_hand_computation():
    docs = [("d0", ["gene_a_gene", "x", "gene_b_gene"]),
            ("d1", ["gene_a_gene", "y"]),
            ("d2", ["z"])]
    oracle = oracles.TfidfOracle(docs, PREFIX, SUFFIX)
    idf_a, idf_b = np.log10(3 / 2), np.log10(3 / 1)
    a = np.array([idf_a / 3, idf_a / 2, 0])
    b = np.array([idf_b / 3, 0, 0])
    want = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
    assert oracle.scores("gene_a_gene") == pytest.approx(
        {"gene_b_gene": want}, rel=1e-12)


def test_exact_dedup_check_corruptions(corpus):
    groups = {}
    for doc_id, toks in corpus:
        groups.setdefault(" ".join(toks), []).append(doc_id)
    good = [(min(ids), len(ids)) for ids in groups.values()]
    dup = next(ids for ids in groups.values() if len(ids) > 1)
    loser = sorted(dup)[1]
    wrong_survivor = [(loser if d == min(dup) else d, n) for d, n in good]
    wrong_size = [(d, n + (d == min(dup))) for d, n in good]

    def check(i, out):
        return oracles.check_exact_dedup(corpus, out)

    assert failed_ops(check, [good]) == 0
    for bad in (wrong_survivor, wrong_size, good[1:]):
        assert failed_ops(check, [good, bad]) == 1


def test_near_pair_check_corruptions(corpus):
    sh = oracles.shingle_sets(corpus)
    ids = sorted(sh)
    good = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            j = oracles.jaccard(sh[a], sh[b])
            if j >= 0.5:
                good.append((a, b, j))
    assert any(j < 1 for _, _, j in good), "no planted near-duplicates"
    near = next(p for p in good if p[2] < 1 and p[2] >= oracles.RECALL_J)
    dropped = [p for p in good if p != near]
    far = [(ids[0], ids[1], 0.9)] + good
    bad_est = [(a, b, 0.5 if (a, b, j) == near else j) for a, b, j in good]

    def check(i, out):
        return oracles.check_near_pairs(corpus, out, 0.5)

    assert failed_ops(check, [good]) == 0
    for bad in (dropped, far, bad_est):
        assert failed_ops(check, [good, bad]) == 1


@pytest.fixture(scope="module")
def vectors(tmp_path_factory):
    stage = str(tmp_path_factory.mktemp("e"))
    gen.embeddings(stage, 400, 16, seed=5)
    return gen.read_embeddings(stage)


def _brute(ids, vecs, k, thr):
    u = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = u @ u.T
    np.fill_diagonal(cos, -np.inf)
    knn = []
    for i in range(len(ids)):
        order = np.lexsort((ids, -cos[i]))[:k]
        knn += [(int(ids[i]), int(ids[j]), float(cos[i, j])) for j in order]
    r, c = np.nonzero(np.triu(cos > thr, 1))
    pairs = [(int(min(ids[i], ids[j])), int(max(ids[i], ids[j])),
              float(cos[i, j])) for i, j in zip(r, c)]
    return knn, pairs


def test_cosine_checks_corruptions(vectors):
    ids, vecs = vectors
    oracle = oracles.CosineOracle(ids, vecs)
    knn, pairs = _brute(ids, vecs, 10, 0.95)
    assert pairs, "no planted near-duplicate vectors"

    def check(i, out):
        return (oracle.check_knn(out[0], 10)
                + oracle.check_pairs(out[1], 0.95))

    far = int(ids[np.argmin(vecs @ vecs[0])])
    wrong_nb = [(v, far if (v, n) == knn[0][:2] else n, c)
                for v, n, c in knn]
    wrong_cos = [knn[0][:2] + (knn[0][2] - 1e-6,)] + knn[1:]
    assert failed_ops(check, [(knn, pairs)]) == 0
    for bad in ((wrong_nb, pairs), (wrong_cos, pairs), (knn[1:], pairs),
                (knn, pairs[1:]), (knn, pairs + [(far, far + 1, 0.99)])):
        assert failed_ops(check, [(knn, pairs), bad]) == 1



def _good_outputs(wl, n_ops: int) -> list:
    """Correct outputs for every operation, from the oracles alone."""
    if wl.name == "term_session":
        oracle = oracles.TfidfOracle(gen.read_corpus(wl.path), PREFIX, SUFFIX)
        return [sorted(oracle.scores(q).items(),
                       key=lambda kv: (-kv[1], kv[0]))[:TOP_K]
                for q in wl.queries]
    if wl.name == "neardup_knn":
        ids, vecs = gen.read_embeddings(wl.stage)
        return [_brute(ids, vecs, wl.knn_k, wl.min_cos)] * n_ops
    outs = []
    for path, q in zip(wl.paths, wl.queries):
        docs = gen.read_corpus(path)
        groups = {}
        for doc_id, toks in docs:
            groups.setdefault(" ".join(toks), []).append(doc_id)
        sh = oracles.shingle_sets(docs)
        ids = sorted(sh)
        pairs = [(a, b, oracles.jaccard(sh[a], sh[b]))
                 for i, a in enumerate(ids) for b in ids[i + 1:]]
        scores = oracles.TfidfOracle(docs, PREFIX, SUFFIX).scores(q)
        outs.append(([(min(v), len(v)) for v in groups.values()],
                     [p for p in pairs if p[2] >= wl.min_est],
                     sorted(scores.items(),
                            key=lambda kv: (-kv[1], kv[0]))[:TOP_K]))
    return outs


def _corrupt(out):
    """Drop the last entry of the operation's first result list."""
    if isinstance(out, tuple):
        return (out[0][:-1],) + out[1:]
    return out[:-1]


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_counts_a_corrupted_output_as_failed(name, tmp_path):
    wl = WORKLOADS[name](str(tmp_path), seed=4, smoke=True)
    wl.generate(3)
    outs = _good_outputs(wl, 3)
    assert failures(wl, outs) == []
    outs[1] = _corrupt(outs[1])
    assert [f["op"] for f in failures(wl, outs)] == [1]
