"""corpus_curation: the functions kernels on a generated corpus.

Closed loop of two operations: curate one shard (``quality_score`` →
``lang_id`` → ``doc_fingerprint`` + ``exact_dedup`` → ``near_dedup``,
survivors collected) and answer one batch of query vectors with
``ivfpq_knn_join`` over the index ``ivfpq_index`` trained in set-up.  No
``Query`` is built, so planner and compiler changes should leave this
workload unchanged.

Checks: survivors' quality, language and fingerprint against Python
re-implementations of the documented formulas; every planted exact
duplicate removed and every original kept (the exact-dedup hash oracle);
near-duplicate recall at least ``NEAR_RECALL_FLOOR``; each query answered
with ``K`` distinct ids and recall@10 against exact numpy top-10 at least
``ANN_RECALL_FLOOR``.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from common import CACHE, median, now
from workload import Op, Workload

N_SHARDS = 4
SHARD_DOCS = 1000
N_VECS = 4000
N_TRAIN = 1000
DIM = 32
N_BATCHES = 4
BATCH_QUERIES = 64
K = 10
N_PROBE = 4
N_CENTROIDS = 16
NEAR_RECALL_FLOOR = 0.8
ANN_RECALL_FLOOR = 0.5


def _fingerprint(text: str) -> str:
    norm = re.sub(r"\s+", " ", text.lower().strip(" "))
    return hashlib.md5(norm.encode()).hexdigest()


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"\s+", text.lower()) if t]


def _quality(text: str) -> float:
    n = len(text)
    alpha = len(re.sub(r"[^A-Za-z]", "", text))
    toks = _tokens(text)
    mean_tok = len(re.sub(r"\s", "", text)) / (len(toks) or 1)
    return round((0.4 if 100 <= n <= 5000 else 0.0)
                 + (0.3 if alpha / (n or 1) >= 0.6 else 0.0)
                 + (0.3 if 3 <= mean_tok <= 12 else 0.0), 1)


def _lang(text: str, stopwords: dict) -> str:
    toks = _tokens(text)
    best, lang = -1, ""
    for name, words in sorted(stopwords.items()):
        hits = sum(t in words for t in toks)
        if hits > best:
            best, lang = hits, name
    return "und" if best <= 0 else lang


class Corpus(Workload):
    def prepare(self) -> None:
        from cascalog_spark.functions.text import STOPWORDS

        shards, self.planted = datagen.corpus_shards(self.seed, N_SHARDS,
                                                     SHARD_DOCS)

        def write_shards(out):
            for j, docs in enumerate(shards):
                d = os.path.join(out, f"shard{j}")
                os.makedirs(d)
                ids, texts = zip(*docs)
                for p in range(4):  # four files, so the scan runs wide
                    pq.write_table(pa.table({
                        "doc_id": pa.array(ids[p::4], pa.int64()),
                        "text": list(texts[p::4])}),
                        os.path.join(d, f"part-{p}.parquet"))

        vecs, queries = datagen.embeddings(
            self.seed, N_VECS, DIM, N_BATCHES * BATCH_QUERIES)

        def write_vectors(out):
            pq.write_table(pa.table({
                "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
                "embedding": list(vecs)}), os.path.join(out, "vecs.parquet"))
            for b in range(N_BATCHES):
                qs = queries[b * BATCH_QUERIES:(b + 1) * BATCH_QUERIES]
                pq.write_table(pa.table({
                    "query_id": pa.array(np.arange(len(qs)), pa.int64()),
                    "embedding": list(qs)}),
                    os.path.join(out, f"queries{b}.parquet"))

        self.shard_dir = datagen._cached(
            os.path.join(CACHE, f"corpus_seed{self.seed}"), write_shards)
        self.vec_dir = datagen._cached(
            os.path.join(CACHE, f"vectors_seed{self.seed}"), write_vectors)
        # oracle answers, computed before any timing
        self.expect = []
        for docs, plant in zip(shards, self.planted):
            fps, keep = {}, {}
            for doc_id, text in docs:
                fp = _fingerprint(text)
                fps[doc_id] = (_quality(text), _lang(text, STOPWORDS), fp)
                keep.setdefault(fp, doc_id)
            originals = {d for d, _ in docs} - set(plant["exact"]) \
                - set(plant["near"])
            self.expect.append({"rows": fps, "exact_keep": set(keep.values()),
                                "originals": originals})
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        qunit = queries / np.linalg.norm(queries, axis=1, keepdims=True)
        self.vecs, self.queries = vecs, queries
        self.truth = np.argsort(-(qunit @ unit.T), axis=1,
                                kind="stable")[:, :K]
        self.curated: list[tuple] = []   # (shard, rows, seconds)
        self.answers: list[tuple] = []   # (batch, rows, seconds)
        self.index_build_s: list[float] = []

    def setup(self, spark) -> None:
        from cascalog_spark.functions import pq as cs_pq

        t0 = now()
        vecs = spark.read.parquet(os.path.join(self.vec_dir, "vecs.parquet"))
        # train once on a sample (ids are in random order), encode all
        cents, books, _ = cs_pq.ivfpq_index(
            vecs.where(f"vec_id < {N_TRAIN}"), n_centroids=N_CENTROIDS,
            m=8, n_codes=16, centroids="kmeans")
        self.centroids, self.books, codes = cs_pq.ivfpq_index(
            vecs, n_centroids=N_CENTROIDS, m=8, n_codes=16,
            centroids=cents, codebooks=books)
        self.codes = codes.cache()
        self.cell_sizes = dict(self.codes.groupBy("__cell").count().collect())
        self.index_build_s.append(now() - t0)

    def _curate(self, spark, j: int):
        from cascalog_spark.functions import dedup, text
        from pyspark.sql import functions as F

        df = spark.read.parquet(os.path.join(self.shard_dir, f"shard{j}"))
        fp = text.doc_fingerprint(text.lang_id(text.quality_score(df)))
        keep = dedup.exact_dedup(fp, ["fingerprint"], "doc_id")
        uniq = fp.join(keep.select(F.col("keep_id").alias("doc_id")),
                       "doc_id", "left_semi")
        kept = dedup.near_dedup(uniq, "doc_id", "text")
        return kept.select("doc_id", "quality", "lang_pred",
                           "fingerprint").collect()

    def _ann(self, spark, b: int):
        from cascalog_spark.functions import pq as cs_pq

        qdf = spark.read.parquet(
            os.path.join(self.vec_dir, f"queries{b}.parquet"))
        return cs_pq.ivfpq_knn_join(self.codes, qdf, self.centroids,
                                    self.books, k=K,
                                    n_probe=N_PROBE).collect()

    def warm(self, spark) -> None:
        self._curate(spark, 0)
        self._ann(spark, 0)

    def cycle(self, i: int) -> list[Op]:
        j, b = i % N_SHARDS, i % N_BATCHES

        def curate(spark):
            t0 = now()
            rows = self._curate(spark, j)
            self.curated.append((j, rows, now() - t0))

        def ann(spark):
            t0 = now()
            rows = self._ann(spark, b)
            self.answers.append((b, rows, now() - t0))

        return [Op("shard", f"curate_shard{j}", curate),
                Op("query", f"ann_batch{b}", ann)]

    # -- checks and figures ----------------------------------------------

    def _recall(self, b: int, rows) -> tuple[float, str | None]:
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append(r["vec_id"])
        hits = 0
        for qi in range(BATCH_QUERIES):
            ids = got.get(qi, [])
            if len(ids) != K or len(set(ids)) != K:
                return 0.0, f"ann_batch{b} query {qi}: {len(ids)} ids"
            hits += len(set(ids) & set(self.truth[b * BATCH_QUERIES + qi]))
        return hits / (K * BATCH_QUERIES), None

    def _near_recall(self):
        removed = planted = 0
        for j, rows, _ in self.curated:
            alive = {r["doc_id"] for r in rows}
            dups = set(self.planted[j]["exact"]) | set(self.planted[j]["near"])
            planted += len(dups)
            removed += len(dups - alive)
        return removed / planted if planted else 0.0

    def check(self) -> list[str]:
        failures = []
        for j, rows, _ in self.curated:
            exp = self.expect[j]
            alive = {r["doc_id"] for r in rows}
            if not exp["originals"] <= alive:
                failures.append(f"shard{j}: originals removed: "
                                f"{sorted(exp['originals'] - alive)[:5]}")
            if not alive <= exp["exact_keep"]:
                failures.append(f"shard{j}: exact duplicates kept: "
                                f"{sorted(alive - exp['exact_keep'])[:5]}")
            for r in rows:
                q, lang, fp = exp["rows"][r["doc_id"]]
                if (abs(r["quality"] - q) > 1e-9 or r["lang_pred"] != lang
                        or r["fingerprint"] != fp):
                    failures.append(f"shard{j} doc {r['doc_id']}: got "
                                    f"{tuple(r)[1:]}, want {(q, lang, fp)}")
                    break
        for b, rows, _ in self.answers:
            rec, why = self._recall(b, rows)
            if why or rec < ANN_RECALL_FLOOR:
                failures.append(why or f"ann_batch{b}: recall@{K} {rec:.3f}"
                                f" < {ANN_RECALL_FLOOR}")
        if self.curated and self._near_recall() < NEAR_RECALL_FLOOR:
            failures.append(f"near-dup recall {self._near_recall():.3f} < "
                            f"{NEAR_RECALL_FLOOR}")
        return failures

    def report(self) -> dict:
        docs = sum(len(self.expect[j]["rows"]) for j, _, _ in self.curated)
        text_s = sum(t for _, _, t in self.curated)
        ann_s = sum(t for _, _, t in self.answers)
        recalls = [self._recall(b, rows)[0] for b, rows, _ in self.answers]
        return {"docs_per_s": docs / text_s if text_s else 0.0,
                "corpus_docs_per_pass": docs,
                "near_dup_recall": self._near_recall(),
                "ann_queries_per_s": (BATCH_QUERIES * len(self.answers) / ann_s
                                      if ann_s else 0.0),
                "ann_recall_at_10": (sum(recalls) / len(recalls)
                                     if recalls else 0.0)}

    def layer_report(self, spark, tracer) -> dict:
        """Each stage materialised alone on a cached shard, the LSH
        candidate precision against the planted families, and the ADC
        codes scored per query."""
        from cascalog_spark.functions import dedup, pq as cs_pq, text

        out = {"functions.index_build_s": median(self.index_build_s)}
        df = spark.read.parquet(os.path.join(self.shard_dir, "shard0"))
        df = df.cache()
        df.count()
        stages = {
            "quality_score": lambda: text.quality_score(df),
            "lang_id": lambda: text.lang_id(df),
            "exact_dedup": lambda: dedup.exact_dedup(
                text.doc_fingerprint(df), ["fingerprint"], "doc_id"),
            "near_dedup": lambda: dedup.near_dedup(df, "doc_id", "text"),
        }
        for name, build in stages.items():
            t0 = now()
            build().write.format("noop").mode("overwrite").save()
            out[f"functions.{name}_s"] = now() - t0
        pairs = dedup.minhash_lsh_candidates(df, "doc_id", "text").collect()
        root = {**self.planted[0]["exact"], **self.planted[0]["near"]}
        true = sum(root.get(a, a) == root.get(b, b) for a, b in pairs)
        out["functions.lsh_candidate_precision"] = (
            true / len(pairs) if pairs else 0.0)
        df.unpersist()
        qdf = spark.read.parquet(
            os.path.join(self.vec_dir, "queries0.parquet"))
        t0 = now()
        cs_pq.ivfpq_knn_join(self.codes, qdf, self.centroids, self.books,
                             k=K, n_probe=N_PROBE).write.format(
            "noop").mode("overwrite").save()
        out["functions.ivfpq_knn_join_s"] = now() - t0
        cents = np.array([v for _, v in self.centroids])
        cids = np.array([c for c, _ in self.centroids])
        cents /= np.linalg.norm(cents, axis=1, keepdims=True)
        qs = self.queries / np.linalg.norm(self.queries, axis=1,
                                           keepdims=True)
        probe = np.argsort(-(qs @ cents.T), axis=1, kind="stable")[:, :N_PROBE]
        out["functions.ann_codes_scored_per_query"] = float(np.mean(
            [sum(self.cell_sizes.get(int(cids[c]), 0) for c in row)
             for row in probe]))
        return out
