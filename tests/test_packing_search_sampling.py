"""Tests for sequence packing, BM25 retrieval, and temperature sampling —
the training-data mixing/packing layer."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from nabu_spark.operators.packing import pack_chunked, pack_next_fit
from nabu_spark.operators.sampling import domain_rates, temperature_sample
from nabu_spark.operators.search import bm25_topk
from nabu_spark.session import driver_cap

CAP = 64


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


class TestPackChunked:
    def test_slices_cover_each_doc_exactly(self, spark, docs):
        packed = pack_chunked(docs, capacity=CAP, n_shards=4)
        per_doc = packed.groupBy("doc_id").agg(
            F.sum("slice_len").alias("covered"),
            F.min("slice_start").alias("first_start"),
        )
        toks = docs.select(
            "doc_id",
            F.size(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
                )
            ).alias("n_tokens"),
        ).filter(F.col("n_tokens") > 0)
        joined = per_doc.join(toks, "doc_id")
        assert joined.filter(F.col("covered") != F.col("n_tokens")).count() == 0
        assert joined.filter(F.col("first_start") != 0).count() == 0

    def test_windows_full_except_last_per_shard(self, spark, docs):
        packed = pack_chunked(docs, capacity=CAP, n_shards=4)
        per_seq = packed.groupBy("shard", "seq").agg(
            F.sum("slice_len").alias("fill")
        )
        last = per_seq.groupBy("shard").agg(F.max("seq").alias("last_seq"))
        partial = (
            per_seq.join(last, "shard")
            .filter(
                (F.col("seq") != F.col("last_seq")) & (F.col("fill") != CAP)
            )
            .count()
        )
        assert partial == 0

    def test_long_docs_span_windows(self, spark, docs):
        # capacity smaller than the longest doc forces at least one span
        packed = pack_chunked(docs, capacity=16, n_shards=4)
        spans = (
            packed.groupBy("doc_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert spans > 0

    def test_deterministic_across_partitionings(self, spark, docs):
        a = pack_chunked(docs, capacity=CAP, n_shards=4).collect()
        b = pack_chunked(
            docs.repartition(13), capacity=CAP, n_shards=4
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))


class TestPackNextFit:
    def test_bins_respect_capacity_unless_single_oversize(self, spark, docs):
        packed = pack_next_fit(docs, capacity=CAP, n_shards=4)
        bins = packed.groupBy("shard", "bin").agg(
            F.sum("n_tokens").alias("fill"), F.count("*").alias("n_docs")
        )
        bad = bins.filter(
            (F.col("fill") > CAP) & (F.col("n_docs") > 1)
        ).count()
        assert bad == 0

    def test_no_doc_split_and_all_docs_packed(self, spark, docs):
        packed = pack_next_fit(docs, capacity=CAP, n_shards=4)
        n_nonempty = docs.filter(
            F.size(
                F.filter(
                    F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
                )
            )
            > 0
        ).count()
        assert packed.count() == n_nonempty
        assert packed.select("doc_id").distinct().count() == n_nonempty

    def test_next_fit_is_greedy(self, spark):
        # 5 docs of 30 tokens, capacity 64 -> bins [0,0,1,1,2] in id order
        rows = [(i, " ".join(["tok"] * 30)) for i in range(5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        packed = pack_next_fit(df, capacity=64, n_shards=1)
        got = {
            r["doc_id"]: r["bin"]
            for r in packed.collect()
        }
        assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2}

    def test_oversized_doc_gets_own_bin(self, spark):
        rows = [
            (0, " ".join(["tok"] * 10)),
            (1, " ".join(["tok"] * 200)),  # > capacity
            (2, " ".join(["tok"] * 10)),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        packed = pack_next_fit(df, capacity=64, n_shards=1)
        got = {r["doc_id"]: r["bin"] for r in packed.collect()}
        assert got[0] == 0 and got[1] == 1 and got[2] == 2

    def test_every_shard_fills_its_bins(self, spark, docs):
        """Every shard gets documents, numbers its bins densely from 0, and
        fills them to between zero and ``capacity`` tokens on average."""
        packed = pack_next_fit(docs, capacity=CAP, n_shards=4)
        rows = packed.groupBy("shard").agg(
            F.countDistinct("bin").alias("n_bins"),
            F.max("bin").alias("last_bin"),
            F.sum("n_tokens").alias("tokens"),
        ).collect()
        assert {r["shard"] for r in rows} == {0, 1, 2, 3}
        for r in rows:
            assert r["n_bins"] == r["last_bin"] + 1
            assert 0.0 < r["tokens"] / (r["n_bins"] * CAP) <= 1.0


class TestBM25:
    def test_hand_computed_score(self, spark):
        rows = [
            (0, "apple banana apple"),
            (1, "banana cherry"),
            (2, "cherry cherry cherry"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: r["score"]
            for r in bm25_topk(df, ["apple"], k=3).collect()
        }
        # only doc 0 matches; N=3, df=1, tf=2, dl=3, avgdl=8/3
        idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
        k1, b = 1.2, 0.75
        expected = idf * (2 * (k1 + 1)) / (2 + k1 * (1 - b + b * 3 / (8 / 3)))
        assert out.keys() == {0}
        assert abs(out[0] - expected) < 1e-3

    def test_rank_order_and_k(self, spark, docs):
        out = bm25_topk(docs, ["spark", "join"], k=7).collect()
        assert len(out) == 7
        ranks = [r["rank"] for r in out]
        assert sorted(ranks) == list(range(1, 8))
        scores = [r["score"] for r in sorted(out, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)

    def test_missing_term_matches_nothing(self, spark, docs):
        assert bm25_topk(docs, ["zzzznotaterm"], k=5).count() == 0


class TestTemperatureSample:
    def _domained(self, docs):
        return docs.select(
            "doc_id",
            F.concat(
                F.lit("d"), F.length(F.col("doc_id").cast("string"))
            ).alias("domain"),
        )

    def test_rates_flatten_head(self, spark, docs):
        d = self._domained(docs)
        rates = {
            r["domain"]: r["rate"]
            for r in domain_rates(d, "domain", alpha=0.5, sample_frac=0.5).collect()
        }
        counts = {
            r["domain"]: r["count"]
            for r in d.groupBy("domain").count().collect()
        }
        # smaller domains get higher keep rates under alpha < 1
        ordered = sorted(counts, key=counts.get)
        for small, big in zip(ordered, ordered[1:]):
            assert rates[small] >= rates[big]
        assert all(0.0 < v <= 1.0 for v in rates.values())

    def test_alpha_one_is_proportional(self, spark, docs):
        d = self._domained(docs)
        rates = domain_rates(d, "domain", alpha=1.0, sample_frac=0.5).collect()
        for r in rates:
            assert abs(r["rate"] - 0.5) < 1e-9

    def test_deterministic_and_partition_independent(self, spark, docs):
        d = self._domained(docs)
        a = temperature_sample(d, "doc_id", "domain", seed=7)
        b = temperature_sample(d.repartition(17), "doc_id", "domain", seed=7)
        ida = sorted(r["doc_id"] for r in a.collect())
        idb = sorted(r["doc_id"] for r in b.collect())
        assert ida == idb and len(ida) > 0

    def test_seed_changes_selection(self, spark, docs):
        d = self._domained(docs)
        a = {r["doc_id"] for r in temperature_sample(d, "doc_id", "domain", seed=1).collect()}
        b = {r["doc_id"] for r in temperature_sample(d, "doc_id", "domain", seed=2).collect()}
        assert a != b

    def test_realized_keep_fraction_tracks_rates(self, spark, docs):
        d = self._domained(docs)
        s = temperature_sample(d, "doc_id", "domain", alpha=0.5, sample_frac=0.5)
        before = {r["domain"]: r["count"] for r in d.groupBy("domain").count().collect()}
        after = {r["domain"]: r["count"] for r in s.groupBy("domain").count().collect()}
        rates = {
            r["domain"]: r["rate"]
            for r in domain_rates(d, "domain", alpha=0.5, sample_frac=0.5).collect()
        }
        assert before.keys() == rates.keys() and after.keys() <= before.keys()
        for domain, n in before.items():
            # realized keep fraction tracks the target rate (binomial noise)
            assert abs(after.get(domain, 0) / n - rates[domain]) < 0.25


class TestPageRank:
    def _numpy_pagerank(self, edges, iters=5, d=0.85):
        import numpy as np

        nodes = sorted({s for s, _ in edges} | {t for _, t in edges})
        idx = {n: i for i, n in enumerate(nodes)}
        n = len(nodes)
        out_deg = {}
        for s, _ in edges:
            out_deg[s] = out_deg.get(s, 0) + 1
        r = np.full(n, 1.0 / n)
        for _ in range(iters):
            nxt = np.zeros(n)
            dangling = sum(r[idx[v]] for v in nodes if v not in out_deg)
            for s, t in edges:
                nxt[idx[t]] += r[idx[s]] / out_deg[s]
            r = (1 - d) / n + d * (nxt + dangling / n)
        return {v: r[idx[v]] for v in nodes}

    def test_matches_numpy_power_iteration(self, spark):
        from nabu_spark.operators.linkgraph import pagerank

        edges = [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
            ("d", "c"),  # e is dangling (only a target)
            ("d", "e"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}
        want = self._numpy_pagerank(edges)
        assert got.keys() == want.keys()
        for k in want:
            assert abs(got[k] - want[k]) < 1e-12
        assert abs(sum(got.values()) - 1.0) < 1e-9

    def test_driver_fast_path_agrees_with_distributed(self, spark):
        """The bounded in-memory mirror and the distributed rounds label
        identically at the contract's round(6) (r6 optimization: the fast
        path replaces ~10 jobs/round of checkpoint overhead)."""
        from nabu_spark.operators.linkgraph import pagerank

        edges = [
            ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
            ("d", "c"), ("d", "e"), ("f", "a"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        local = {r["node"]: round(r["rank"], 6)
                 for r in pagerank(df, iterations=5).collect()}
        with driver_cap(0):
            dist = {r["node"]: round(r["rank"], 6)
                    for r in pagerank(df, iterations=5).collect()}
        assert local == dist

    def test_self_loops_and_dup_edges_ignored(self, spark):
        from nabu_spark.operators.linkgraph import pagerank

        base = [("a", "b"), ("b", "a")]
        noisy = base + [("a", "a"), ("a", "b"), ("b", "a")]
        clean = {
            r["node"]: r["rank"]
            for r in pagerank(
                spark.createDataFrame(base, "src string, dst string")
            ).collect()
        }
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                spark.createDataFrame(noisy, "src string, dst string")
            ).collect()
        }
        assert got == clean


class TestStratifiedCap:
    def test_cap_and_determinism(self, spark, docs):
        from nabu_spark.operators.linkgraph import stratified_cap

        capped = stratified_cap(docs, "doc_id", "source", cap=7, seed=1)
        per = capped.groupBy("source").count().collect()
        assert all(r["count"] <= 7 for r in per)
        again = stratified_cap(
            docs.repartition(11), "doc_id", "source", cap=7, seed=1
        )
        a = sorted(r["doc_id"] for r in capped.collect())
        b = sorted(r["doc_id"] for r in again.collect())
        assert a == b

    def test_small_domains_kept_whole(self, spark):
        from nabu_spark.operators.linkgraph import stratified_cap

        rows = [(i, "big" if i < 50 else "small") for i in range(55)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        out = stratified_cap(df, "doc_id", "source", cap=10)
        per = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
        assert per == {"big": 10, "small": 5}


class TestBigramLM:
    def test_repetitive_text_scores_more_fluent(self, spark):
        from nabu_spark.operators.lm import perplexity, train_bigram_lm

        rows = [(0, "the cat sat on the mat " * 20)] + [
            (i, "the cat sat on the mat") for i in range(1, 8)
        ] + [(8, "zebra quark flux banjo omega prism")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        model = train_bigram_lm(df)
        ppl = {r["doc_id"]: r["ppl"] for r in perplexity(df, model).collect()}
        # the dominant pattern is fluent; the one-off word salad is not
        assert ppl[1] < ppl[8]

    def test_perplexity_exact_tiny_case(self, spark):
        import math

        from nabu_spark.operators.lm import perplexity, train_bigram_lm

        df = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
        model = train_bigram_lm(df)
        got = perplexity(df, model, alpha=0.1).collect()[0]
        # bigrams: (a,b) x2, (b,a) x1; c1: a->2, b->1; V=2
        p_ab = (2 + 0.1) / (2 + 0.1 * 2)
        p_ba = (1 + 0.1) / (1 + 0.1 * 2)
        want = math.exp(-(2 * math.log(p_ab) + math.log(p_ba)) / 3)
        assert got["n_bigrams"] == 3
        assert abs(got["ppl"] - want) < 1e-3

    def test_unseen_bigrams_fall_back_to_smoothing(self, spark):
        from nabu_spark.operators.lm import perplexity, train_bigram_lm

        train = spark.createDataFrame(
            [(0, "a b c d e")], "doc_id long, text string"
        )
        test = spark.createDataFrame(
            [(1, "x y z")], "doc_id long, text string"
        )
        model = train_bigram_lm(train)
        got = perplexity(test, model).collect()
        assert len(got) == 1 and got[0]["ppl"] > 0


class TestTokenDrift:
    def test_identical_corpora_zero(self, spark, docs):
        from nabu_spark.operators.lm import token_js_divergence

        row = token_js_divergence(docs, docs).collect()[0]
        assert row["js_divergence"] == 0.0
        assert row["vocab_a"] == row["vocab_b"] == row["vocab_shared"]

    def test_disjoint_corpora_ln2(self, spark):
        import math

        from nabu_spark.operators.lm import token_js_divergence

        a = spark.createDataFrame([(0, "aa bb cc")], "doc_id long, text string")
        b = spark.createDataFrame([(1, "xx yy zz")], "doc_id long, text string")
        row = token_js_divergence(a, b).collect()[0]
        assert abs(row["js_divergence"] - math.log(2)) < 1e-6
        assert row["vocab_shared"] == 0

    def test_symmetry(self, spark, docs):
        from nabu_spark.operators.lm import token_js_divergence

        a = docs.filter(F.col("doc_id") % 3 == 0)
        b = docs.filter(F.col("doc_id") % 3 != 0)
        ab = token_js_divergence(a, b).collect()[0]["js_divergence"]
        ba = token_js_divergence(b, a).collect()[0]["js_divergence"]
        assert abs(ab - ba) < 1e-9
        assert 0.0 < ab < math.log(2)


class TestLmEdgeCases:
    def test_short_and_empty_docs_survive(self, spark):
        from nabu_spark.operators.lm import perplexity, train_bigram_lm

        rows = [(0, "a b a b"), (1, ""), (2, "one"), (3, "   "), (4, "x y")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        model = train_bigram_lm(df)
        got = {r["doc_id"] for r in perplexity(df, model).collect()}
        # only docs with >= 2 tokens are scorable; the rest drop cleanly
        assert got == {0, 4}


class TestShardExport:
    def _docs(self, spark, n=400):
        from pyspark.sql import functions as F

        return spark.range(0, n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text "), F.col("id")).alias("text"),
            (F.col("id") % 97 + 10).alias("n_tokens"),
        )

    def test_assignment_matches_serial_cumsum(self, spark):
        from nabu_spark.operators.shards import assign_shards

        rows = assign_shards(
            self._docs(spark), target_tokens=1000
        ).orderBy("doc_id").collect()
        cum = 0
        for r in rows:
            cum += r["n_tokens"]
            assert r["shard"] == (cum - 1) // 1000

    def test_partition_count_invariance(self, spark):
        """The two-level prefix sum gives the SAME assignment at any
        parallelism — the cluster-size-independence a reproducible corpus
        build requires."""
        from nabu_spark.operators.shards import assign_shards

        docs = self._docs(spark)
        a = {(r["doc_id"], r["shard"]) for r in
             assign_shards(docs, target_tokens=777, num_partitions=1).collect()}
        b = {(r["doc_id"], r["shard"]) for r in
             assign_shards(docs, target_tokens=777, num_partitions=13).collect()}
        assert a == b

    def test_shard_fill_property(self, spark):
        from pyspark.sql import functions as F

        from nabu_spark.operators.shards import assign_shards

        out = assign_shards(self._docs(spark), target_tokens=1000)
        sums = (
            out.groupBy("shard").agg(F.sum("n_tokens").alias("t"))
            .orderBy("shard").collect()
        )
        max_doc = 97 + 10
        for r in sums[:-1]:  # every shard but the last is full
            assert 1000 - max_doc < r["t"] <= 1000 + max_doc

    def test_write_jsonl_roundtrip(self, spark, tmp_path):
        import gzip
        import glob
        import json

        from nabu_spark.operators.shards import write_jsonl_shards

        out = str(tmp_path / "shards")
        manifest = write_jsonl_shards(
            self._docs(spark, 120), out, target_tokens=1000
        )
        assert sum(s["rows"] for s in manifest["shards"]) == 120
        files = glob.glob(f"{out}/data/shard=*/*.txt.gz")
        assert files
        seen = []
        for f in files:
            with gzip.open(f, "rt") as fh:
                for line in fh:
                    seen.append(json.loads(line))
        assert len(seen) == 120
        assert {d["id"] for d in seen} == set(range(120))
        assert all(d["text"] == f"text {d['id']}" for d in seen)
