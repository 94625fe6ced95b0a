"""The workloads. Each operation calls only the package's public
API; each output is checked against ``oracles`` after the run, outside
every timer."""

from __future__ import annotations

import os
import random

from perfbench import gen, oracles

PREFIX, SUFFIX, TOP_K = "gene_", "_gene", 5


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _pandas_rows(df) -> list[tuple]:
    return list(df.toPandas().itertuples(index=False, name=None))


class Workload:
    """One input set and one operation shape.

    ``nominal_op_s`` only converts ``--seconds`` into a fixed operation
    count; the count never depends on how fast operations run."""

    name = ""
    nominal_op_s = 1.0
    warmup_ops = 0
    min_timed_ops = 3
    unit = ""

    def __init__(self, work_dir: str, seed: int, smoke: bool):
        self.work_dir = work_dir
        self.seed = seed
        self.smoke = smoke

    def warmups(self) -> int:
        return min(self.warmup_ops, 1) if self.smoke else self.warmup_ops

    def timed_ops(self, seconds: float) -> int:
        if self.smoke:
            return 2
        return max(self.min_timed_ops, round(seconds / self.nominal_op_s))

    def generate(self, n_ops: int) -> None:
        raise NotImplementedError

    def load(self, spark) -> None:
        """Hand the generated files to the package's sources."""

    def run_op(self, i: int, rec) -> object:
        raise NotImplementedError

    def items(self, i: int) -> float:
        """Work units in operation ``i`` (for the throughput metric)."""
        return 1.0

    def after_op(self, record: dict, out) -> None:
        """Traced runs only: extra counters, taken outside the op timer."""

    def check(self, i: int, out) -> list[str]:
        raise NotImplementedError


class TermSession(Workload):
    """An interactive session of top-k term-similarity queries over one
    indexed snapshot. The first query builds the TF-IDF index; every
    later one reuses it through the snapshot's cache key, so a query
    costs plan building, py4j, Catalyst and a handful of small jobs."""

    name = "term_session"
    nominal_op_s = 0.5
    warmup_ops = 26
    unit = "queries"

    def generate(self, n_ops: int) -> None:
        self.path = os.path.join(self.work_dir, "gene_corpus.txt")
        self.tokens = gen.gene_corpus(
            self.path, 200 if self.smoke else 1000, self.seed)
        genes, weights = gen.gene_terms()
        rng = random.Random(self.seed * 7919 + 1)
        self.queries = rng.choices(genes, weights, k=n_ops)

    def load(self, spark) -> None:
        from project_2_semantic_similarity_spark.sources import (
            read_text_corpus)
        self.corpus = read_text_corpus(spark, self.path)

    def run_op(self, i: int, rec):
        from project_2_semantic_similarity_spark.operators.text import (
            term_similarity_pipeline)
        return rec.step(
            "text.index" if i == 0 else "text.query",
            lambda: term_similarity_pipeline(
                self.corpus, self.queries[i], k=TOP_K, prefix=PREFIX,
                suffix=SUFFIX, cache_key=("perfbench", self.path)),
            _rows)

    def check(self, i: int, out) -> list[str]:
        if not hasattr(self, "oracle"):
            self.oracle = oracles.TfidfOracle(
                gen.read_corpus(self.path), PREFIX, SUFFIX)
        return self.oracle.check(self.queries[i], out, TOP_K)


class CorpusIngest(Workload):
    """Every operation ingests a fresh snapshot: exact dedup, MinHash
    near-duplicate detection, then the first top-k query, which builds
    that snapshot's index and evicts the previous one from the cache."""

    name = "corpus_ingest"
    nominal_op_s = 5.0
    unit = "tokens"
    min_est = 0.5

    def generate(self, n_ops: int) -> None:
        n_docs = 150 if self.smoke else 200
        genes, weights = gen.gene_terms()
        rng = random.Random(self.seed * 7919 + 2)
        self.paths, self.tokens, self.queries = [], [], []
        for i in range(n_ops):
            path = os.path.join(self.work_dir, f"snapshot_{i:03d}.txt")
            self.tokens.append(gen.ingest_snapshot(
                path, n_docs, self.seed * 1000 + i))
            self.paths.append(path)
            self.queries.append(rng.choices(genes, weights)[0])

    def load(self, spark) -> None:
        self.spark = spark

    def items(self, i: int) -> float:
        return float(self.tokens[i])

    def run_op(self, i: int, rec):
        from project_2_semantic_similarity_spark.operators import dedup
        from project_2_semantic_similarity_spark.operators.text import (
            term_similarity_pipeline)
        from project_2_semantic_similarity_spark.sources import (
            read_text_corpus)
        from pyspark.sql import functions as F

        docs = rec.call("sources.read",
                        lambda: read_text_corpus(self.spark, self.paths[i]))
        survivors = rec.step(
            "dedup.exact",
            lambda: dedup.exact_dedup(docs).select("doc_id", "group_size"),
            _rows)

        def near_pairs():
            sigs = dedup.minhash_signatures(dedup.shingles(docs))
            self.candidates = cands = dedup.minhash_lsh_candidates(sigs)
            return (dedup.minhash_estimated_jaccard(sigs, cands)
                    .filter(F.col("est_jaccard") >= self.min_est))

        pairs = rec.step("dedup.minhash", near_pairs, _rows)
        top = rec.step(
            "text.index",
            lambda: term_similarity_pipeline(
                docs, self.queries[i], k=TOP_K, prefix=PREFIX,
                suffix=SUFFIX, cache_key=("perfbench", self.paths[i])),
            _rows)
        return survivors, pairs, top

    def after_op(self, record: dict, out) -> None:
        """Traced runs only, outside the op timer: LSH candidate count."""
        cands = self.candidates.count()
        record["dedup.candidate_yield"] = len(out[1]) / cands if cands else 0.0

    def check(self, i: int, out) -> list[str]:
        survivors, pairs, top = out
        docs = gen.read_corpus(self.paths[i])
        errs = oracles.check_exact_dedup(docs, survivors)
        errs += oracles.check_near_pairs(docs, pairs, self.min_est)
        errs += oracles.TfidfOracle(docs, PREFIX, SUFFIX).check(
            self.queries[i], top, TOP_K)
        return errs


class NeardupKnn(Workload):
    """Exact batch kNN and near-duplicate pairs over one embedding set,
    blocked by a k-means codebook trained in the first operation. The
    work is the Arrow/mapInPandas numpy block kernels."""

    name = "neardup_knn"
    nominal_op_s = 4.0
    unit = "vectors"
    knn_k = 10
    min_cos = 0.95

    def generate(self, n_ops: int) -> None:
        self.n = 300 if self.smoke else 1000
        self.stage = os.path.join(self.work_dir, "stage")
        gen.embeddings(self.stage, self.n, 64, self.seed)

    def load(self, spark) -> None:
        from project_2_semantic_similarity_spark.sources import load_table
        self.emb = load_table(spark, self.stage, "embeddings")

    def items(self, i: int) -> float:
        return float(self.n)

    def run_op(self, i: int, rec):
        from project_2_semantic_similarity_spark.operators import similarity

        key = ("perfbench", self.stage)
        codebook = rec.call(
            "similarity.codebook" if i == 0 else "similarity.codebook_lookup",
            lambda: similarity.kmeans_codebook(
                self.emb, k=max(2, round(self.n ** 0.5)), iters=2,
                cache_key=key))
        knn = rec.step(
            "similarity.knn",
            lambda: similarity.knn_batch_topk(
                self.emb, self.knn_k, codebook, cache_key=key),
            _pandas_rows)
        pairs = rec.step(
            "similarity.pairs",
            lambda: similarity.cosine_pairs_blocked_gemm(
                self.emb, self.min_cos, codebook, cache_key=key),
            _pandas_rows)
        return knn, pairs

    def check(self, i: int, out) -> list[str]:
        if not hasattr(self, "oracle"):
            self.oracle = oracles.CosineOracle(*gen.read_embeddings(self.stage))
            self.verdicts = {}
        # Every operation reads the same vectors, so outputs repeat; an
        # output equal to one already checked gets the same verdict.
        knn, pairs = out
        key = (tuple(sorted(knn)), tuple(sorted(pairs)))
        if key not in self.verdicts:
            self.verdicts[key] = (
                self.oracle.check_knn(knn, self.knn_k)
                + self.oracle.check_pairs(pairs, self.min_cos))
        return self.verdicts[key]


WORKLOADS = {w.name: w for w in (TermSession, CorpusIngest, NeardupKnn)}
