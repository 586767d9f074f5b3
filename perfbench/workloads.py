"""The benchmark's two workloads.

Each workload generates its inputs from the seed, writes them as
files in its work directory, and then runs the program on them:

* ``run(tr)``    one repetition of the composed pipeline, returned
                 once its output is materialized. Under a real
                 ``Tracer`` every layer call runs in a span (its own
                 job group); under ``NO_TRACE`` spans cost nothing.
* ``check(out)`` verifies the output against answers computed from
                 the generator, raising ``CheckFailed``; returns the
                 quality metrics, which must repeat exactly.
* ``layers(tr)`` the per-layer calls the composed run does not split
                 out, each on the same inputs, returning counters.
"""

from __future__ import annotations

import glob
import os
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from inputs import make_docs, make_people, make_vectors


class CheckFailed(Exception):
    pass


class _NoTrace:
    def span(self, name: str):
        return nullcontext()


NO_TRACE = _NoTrace()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Inputs live in ``work``; sizes are class attributes."""

    name = ""
    # untimed repetitions in set-up, enough that the JIT's steepest
    # gains are behind the timed ones
    warmup_reps = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def layers(self, tr) -> dict[str, float]:
        return {}


def _text_lines(path: str) -> list[str]:
    lines: list[str] = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            lines.extend(f.read().splitlines())
    return lines


class FebrlDedup(Workload):
    """The reference's pipeline on Febrl-shaped people tables.

    The timed repetition is program 1 (``read_febrl`` ->
    ``generate_labeled_points`` -> ``write_labeled_points``) on the
    test table. Programs 2 and 3 (GBT training on the train table's
    pairs, scoring of the test pairs) run once, in the traced layer
    pass: their cold start alone would exceed one run's time budget.
    """

    name = "febrl_dedup"
    k = 49
    max_iter = 10
    n_features = 12  # one per comparator of the Febrl spec
    n_originals = 300  # per table: ~520 rows, ~34k blocked pairs


    def generate(self) -> None:
        self.train = make_people(self.seed * 2 + 1, self.n_originals)
        self.test = make_people(self.seed * 2 + 2, self.n_originals)
        self.items = len(self.test.rows)
        self.paths = {n: os.path.join(self.work, n) for n in
                      ("train.csv", "test.csv", "train_points", "test_points", "model", "preds")}
        self.train.write_csv(self.paths["train.csv"])
        self.test.write_csv(self.paths["test.csv"])

    def _points(self, tr, csv: str, out: str) -> None:
        """Program 1: blocked pairs with comparator features, as text."""
        from sparklyclean_spark.operators.dedup.pipeline import generate_labeled_points
        from sparklyclean_spark.sources.csv import read_febrl
        from sparklyclean_spark.sources.points import write_labeled_points

        people = read_febrl(self.spark, csv)
        with tr.span("dedup.plan"):
            points = generate_labeled_points(people, k=self.k, mode="sane")
        with tr.span("dedup.pairs_write"):
            write_labeled_points(points, out)

    def run(self, tr=NO_TRACE) -> None:
        self._points(tr, self.paths["test.csv"], self.paths["test_points"])

    def check(self, _out) -> dict[str, float]:
        """Every blocked pair written exactly once. Returns the blocking
        quality of the candidate pairs: the share of true duplicate
        pairs they contain, and the share of them that are true
        duplicates."""
        lines = _text_lines(self.paths["test_points"])
        pairs = {tuple(line.split(", ", 2)[:2]) for line in lines}
        if len(lines) != self.test.blocked_pairs or len(pairs) != len(lines):
            raise CheckFailed(f"{len(lines)} lines, {len(pairs)} distinct test pairs, "
                              f"{self.test.blocked_pairs} blocked")
        hit = len(pairs & self.test.true_pairs)
        return {"recall": hit / len(self.test.true_pairs), "precision": hit / len(pairs)}

    def layers(self, tr) -> dict[str, float]:
        from pyspark.ml import PipelineModel
        from pyspark.sql import functions as F

        from sparklyclean_spark.ml.dup_classifier import (
            apply_dup_classifier,
            train_dup_classifier,
        )
        from sparklyclean_spark.operators.dedup.disdedup import candidate_pairs_disdedup
        from sparklyclean_spark.operators.dedup.pipeline import FEBRL_RULES
        from sparklyclean_spark.sources.csv import read_febrl
        from sparklyclean_spark.sources.points import (
            read_labeled_points,
            read_unlabeled_points,
        )

        p = self.paths
        with tr.span("sources.read_febrl"):
            _noop(read_febrl(self.spark, p["test.csv"]))
        loads = [r["count"] for r in candidate_pairs_disdedup(
            read_febrl(self.spark, p["test.csv"]), FEBRL_RULES, "rec_id",
            k=self.k, with_cell_stats=True,
        ).groupBy("rid").count().collect()]
        self._points(NO_TRACE, p["train.csv"], p["train_points"])
        with tr.span("ml.train"):  # program 2
            labeled = read_labeled_points(self.spark, p["train_points"], self.n_features)
            model, _ = train_dup_classifier(labeled, max_iter=self.max_iter)
            model.write().overwrite().save(p["model"])
        with tr.span("ml.apply"):  # program 3, output lines as the CLI writes them
            scored = apply_dup_classifier(
                PipelineModel.load(p["model"]),
                read_unlabeled_points(self.spark, p["test_points"], self.n_features))
            scored.select(
                F.concat(F.lit("("), "id1", F.lit(","), "id2", F.lit("), "),
                         F.col("prediction").cast("string")).alias("value")
            ).write.mode("overwrite").text(p["preds"])
        positive = set()
        for line in _text_lines(p["preds"]):
            pair, score = line.rsplit(", ", 1)
            if float(score) == 1.0:
                positive.add(tuple(pair[1:-1].split(",")))
        tp = len(positive & self.test.true_pairs)
        return {
            "dedup.candidate_pairs": float(self.test.blocked_pairs),
            # the paper's balance: the busiest reducer against W/k
            "dedup.max_reducer_load": max(loads) / (self.test.block_workload / self.k),
            "ml.recall": tp / len(self.test.true_pairs),
            "ml.precision": tp / len(positive) if positive else 0.0,
        }


class CorpusCuration(Workload):
    """Normalize, gate, exact-dedup and LSH near-dedup a text corpus,
    then resolve near-dup clusters: ``curate_corpus_lsh``.

    The layer pass also runs the similarity layer: IVF-PQ search with
    exact re-rank (``ivf_pq_refine_topk``) over a seeded embedding
    corpus, the vector half of the same curation toolkit. It is timed
    only there, not in the repetitions.
    """

    name = "corpus_curation"
    # 48 Spark jobs a repetition, against febrl's 14: more code for the
    # JIT, whose gains take one repetition longer to level off
    warmup_reps = 3
    threshold = 0.3  # curate_corpus_lsh's default
    n_originals = 1200  # ~2.1k documents with the planted ones
    k = 10
    ann_params = dict(refine_r=100, n_cells=64, nprobe=8, m=8, ks=64)
    n_vectors = 4000
    n_queries = 64  # one per mixture centre

    def generate(self) -> None:
        self.docs = make_docs(self.seed, self.n_originals)
        self.items = len(self.docs.text)
        self.path = os.path.join(self.work, "docs.parquet")
        pq.write_table(pa.table({"doc_id": self.docs.doc_id, "text": self.docs.text}), self.path)
        v = make_vectors(self.seed, self.n_vectors, 64, 64, self.n_queries, self.k)
        self.vectors = v
        self.vec_paths = {}
        for name, ids in (("corpus", np.arange(len(v.corpus))), ("queries", v.query_ids)):
            emb = pa.FixedSizeListArray.from_arrays(pa.array(v.corpus[ids].ravel()), 64)
            path = os.path.join(self.work, f"{name}.parquet")
            pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                                     "embedding": emb.cast(pa.list_(pa.float32()))}), path)
            self.vec_paths[name] = path

    def _docs(self):
        return self.spark.read.parquet(self.path)

    def run(self, tr=NO_TRACE):
        from sparklyclean_spark.operators.curation import curate_corpus_lsh

        # the span's job group is what the traced repetition's spark.*
        # metrics are read from
        with tr.span("curation.curate_corpus_lsh"):
            return curate_corpus_lsh(self._docs()).toPandas()

    def check(self, out) -> dict[str, float]:
        statuses = {"too_short", "exact_dup", "near_dup", "kept"}
        if len(out) != self.items or out["doc_id"].nunique() != self.items:
            raise CheckFailed(f"{len(out)} status rows for {self.items} documents")
        if not set(out["status"]) <= statuses:
            raise CheckFailed(f"unknown status {set(out['status']) - statuses}")
        dropped = set(out.loc[out["status"].isin(["exact_dup", "near_dup"]), "doc_id"])
        hit = len(dropped & self.docs.planted)
        return {"recall": hit / len(self.docs.planted),
                "precision": hit / len(dropped) if dropped else 0.0,
                "clusters.rounds": float(out["n_rounds"].iloc[0])}

    def layers(self, tr) -> dict[str, float]:
        from pyspark.sql import functions as F

        from sparklyclean_spark.operators.dedup.clusters import connected_components
        from sparklyclean_spark.operators.dedup.textdedup import (
            minhash_index,
            minhash_lsh_pairs,
        )
        from sparklyclean_spark.operators.text_analysis import normalize_text

        docs = self._docs()
        with tr.span("text_analysis.normalize"):
            _noop(normalize_text(docs))
        with tr.span("textdedup.index"):
            bands, _ = minhash_index(docs)
            b = (bands.groupBy("band", "bucket").count().where("count >= 2")
                 .agg(F.sum(F.expr("count * (count - 1) div 2")).alias("cands"),
                      F.max("count").alias("top")).collect()[0])
        with tr.span("textdedup.pairs"):
            pairs = minhash_lsh_pairs(docs, self.threshold).select("id1", "id2").collect()
        stats: dict = {}
        edges = self.spark.createDataFrame(pairs, "id1 bigint, id2 bigint")
        with tr.span("clusters.cc"):
            _noop(connected_components(edges, docs.select("doc_id"), id_col="doc_id",
                                       stats=stats))
        cands = float(b["cands"] or 0)
        self._search(NO_TRACE)  # warm-up: the first search in a JVM is 2-3x slower
        return {
            "textdedup.candidates": cands,
            "textdedup.max_bucket": float(b["top"] or 0),
            "textdedup.verified_pairs": float(len(pairs)),
            "textdedup.useful_ratio": len(pairs) / cands if cands else 0.0,
            "clusters.rounds": float(stats["n_rounds"]),
            "similarity.recall": self._search(tr),
        }

    def _search(self, tr) -> float:
        """IVF-PQ top-k of every query, checked; returns recall@k
        against the exact cosine top-k."""
        from sparklyclean_spark.operators.similarity.pq import ivf_pq_refine_topk

        corpus = self.spark.read.parquet(self.vec_paths["corpus"])
        queries = self.spark.read.parquet(self.vec_paths["queries"])
        with tr.span("similarity.build"):
            res = ivf_pq_refine_topk(corpus, queries, k=self.k, **self.ann_params)
        with tr.span("similarity.query"):
            out = res.select("query_id", "neighbor_id").toPandas()
        per_q = out.groupby("query_id")["neighbor_id"].agg(list)
        if len(per_q) != self.n_queries or any(len(set(n)) != self.k for n in per_q):
            raise CheckFailed(f"{len(per_q)} queries answered, not all with {self.k} neighbours")
        exact = self.vectors.exact_topk
        hits = sum(len(set(n) & exact[int(q)]) for q, n in per_q.items())
        return hits / (self.k * self.n_queries)


WORKLOADS = {w.name: w for w in (FebrlDedup, CorpusCuration)}
