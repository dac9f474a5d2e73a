"""Corpus mixing (operators/mixing.py): exact quotas, determinism across
partitionings, epoch upsampling and the approximate hash-threshold path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nabu_spark.operators.mixing import mix_corpus


def _docs(spark, sizes: dict[str, int], partitions: int = 4):
    rows, i = [], 0
    for src, n in sizes.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(
        rows, "doc_id long, source string").repartition(partitions)


def mixture_report(mixed):
    """(source, n_samples, n_unique_docs, max_epoch) per source."""
    return mixed.groupBy("source").agg(
        F.count("*").alias("n_samples"),
        F.countDistinct("doc_id").alias("n_unique_docs"),
        F.max("epoch").alias("max_epoch"),
    )


class TestExactMix:
    def test_quotas_exact_and_apportioned(self, spark):
        docs = _docs(spark, {"a": 50, "b": 50, "c": 50})
        out = mix_corpus(docs, {"a": 0.5, "b": 0.35, "c": 0.15}, 101)
        by_src = {r["source"]: r["n_samples"]
                  for r in mixture_report(out).collect()}
        assert sum(by_src.values()) == 101
        # largest-remainder: 50.5/35.35/15.15 -> 51/35/15
        assert by_src == {"a": 51, "b": 35, "c": 15}

    def test_partition_count_invariance(self, spark):
        sizes = {"a": 40, "b": 25}
        w = {"a": 0.7, "b": 0.3}
        sel1 = {(r["doc_id"], r["epoch"]) for r in mix_corpus(
            _docs(spark, sizes, partitions=1), w, 50).collect()}
        sel8 = {(r["doc_id"], r["epoch"]) for r in mix_corpus(
            _docs(spark, sizes, partitions=8), w, 50).collect()}
        assert sel1 == sel8 and len(sel1) == 50

    def test_upsample_epochs(self, spark):
        docs = _docs(spark, {"small": 10, "big": 100})
        out = mix_corpus(docs, {"small": 0.5, "big": 0.5}, 70)
        rep = {r["source"]: r for r in mixture_report(out).collect()}
        # small quota 35 over 10 docs: 3 full epochs + 5 docs of epoch 3
        assert rep["small"]["n_samples"] == 35
        assert rep["small"]["n_unique_docs"] == 10
        assert rep["small"]["max_epoch"] == 3
        small = out.filter(F.col("source") == "small")
        assert small.filter(F.col("epoch") == 3).count() == 5
        # every (doc, epoch) pair unique; epochs are dense per doc
        assert small.select("doc_id", "epoch").distinct().count() == 35
        assert rep["big"]["max_epoch"] == 0

    def test_downsample_is_subset(self, spark):
        docs = _docs(spark, {"a": 100})
        out = mix_corpus(docs, {"a": 1.0}, 30)
        assert out.count() == 30
        assert out.agg(F.max("epoch")).first()[0] == 0
        # stable under repeat
        again = mix_corpus(docs, {"a": 1.0}, 30)
        assert ({r["doc_id"] for r in out.collect()}
                == {r["doc_id"] for r in again.collect()})

    def test_seed_changes_selection(self, spark):
        docs = _docs(spark, {"a": 200})
        s1 = {r["doc_id"] for r in mix_corpus(
            docs, {"a": 1.0}, 50, seed=1).collect()}
        s2 = {r["doc_id"] for r in mix_corpus(
            docs, {"a": 1.0}, 50, seed=2).collect()}
        assert s1 != s2

    def test_errors(self, spark):
        docs = _docs(spark, {"a": 10})
        with pytest.raises(ValueError, match="positive"):
            mix_corpus(docs, {"a": 1.0}, 0)
        with pytest.raises(ValueError, match="no positive weights"):
            mix_corpus(docs, {"a": 0.0}, 10)
        with pytest.raises(ValueError, match="no documents"):
            mix_corpus(docs, {"a": 0.5, "ghost": 0.5}, 10)
        with pytest.raises(ValueError, match="upsampling disabled"):
            mix_corpus(docs, {"a": 1.0}, 20, allow_upsample=False)


class TestApproximateMix:
    def test_threshold_hits_quota_within_noise(self, spark):
        docs = _docs(spark, {"a": 2000, "b": 2000})
        out = mix_corpus(docs, {"a": 0.7, "b": 0.3}, 1000, exact=False)
        by_src = {r["source"]: r["n_samples"]
                  for r in mixture_report(out).collect()}
        # binomial noise ~ sqrt(700) ~ 26; allow 5 sigma
        assert abs(by_src["a"] - 700) < 130
        assert abs(by_src["b"] - 300) < 90

    def test_no_shuffle_of_corpus(self, spark):
        """The approximate path must not rank: no window Exchange over
        the corpus — only the tiny quota broadcast."""
        docs = _docs(spark, {"a": 100}, partitions=1)
        out = mix_corpus(docs, {"a": 1.0}, 30, exact=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
