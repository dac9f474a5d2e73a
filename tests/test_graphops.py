"""Graph-level operators: sameAs closure, release diff,
referential-integrity QA, politeness scheduling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nabu_spark.operators.graphops import (
    OWL_SAMEAS,
    integrity_report,
    release_diff,
    sameas_closure,
    sameas_edges,
)


def _quads(spark, rows):
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, prov string"
    )


class TestSameAs:
    def test_closure(self, spark):
        quads = _quads(
            spark,
            [
                ("<a>", OWL_SAMEAS, "<b>", "<g1>"),
                ("<b>", OWL_SAMEAS, "<c>", "<g1>"),  # chain: a~b~c
                ("<x>", OWL_SAMEAS, "<y>", "<g2>"),
                ("<c>", "<p>", '"lit"', "<g1>"),
                ("<q>", "<p>", "<y>", "<g2>"),
                ("<q>", "<p>", '"<notaniri"', "<g2>"),
            ],
        )
        mapping = sameas_closure(sameas_edges(quads))
        m = {r["iri"]: r["canonical_iri"] for r in mapping.collect()}
        assert m == {
            "<a>": "<a>", "<b>": "<a>", "<c>": "<a>",
            "<x>": "<x>", "<y>": "<x>",
        }

    def test_sameas_to_literal_excluded(self, spark):
        quads = _quads(spark, [("<a>", OWL_SAMEAS, '"oops"', "<g>")])
        assert sameas_edges(quads).count() == 0


class TestReleaseDiff:
    def test_added_removed_and_unchanged(self, spark):
        old = _quads(
            spark,
            [
                ("<a>", "<p>", '"1"', "<g>"),
                ("<b>", "<p>", '"2"', "<g>"),
            ],
        )
        new = _quads(
            spark,
            [
                ("<a>", "<p>", '"1"', "<g>"),
                ("<c>", "<p>", '"3"', "<g>"),
            ],
        )
        d = {
            (r["change"], r["subj"]): True
            for r in release_diff(old, new).collect()
        }
        assert d == {("added", "<c>"): True, ("removed", "<b>"): True}

    def test_identical_releases_empty_diff(self, spark):
        q = _quads(spark, [("<a>", "<p>", '"1"', "<g>")])
        assert release_diff(q, q).count() == 0

    def test_duplicate_rows_respected(self, spark):
        # exceptAll is multiset semantics: a quad present twice in new and
        # once in old diffs as one added copy
        one = _quads(spark, [("<a>", "<p>", '"1"', "<g>")])
        two = one.union(one)
        out = release_diff(one, two).collect()
        assert len(out) == 1 and out[0]["change"] == "added"


class TestIntegrity:
    def test_dangling_objects_only(self, spark):
        quads = _quads(
            spark,
            [
                ("<a>", "<type>", "<Class>", "<g>"),  # Class dangling
                ("<a>", "<p>", "<b>", "<g>"),  # b defined below
                ("<b>", "<p>", '"lit"', "<g>"),  # literal never counted
                ("<c>", "<p>", "<missing>", "<g>"),
                ("<d>", "<p>", "<missing>", "<g>"),
            ],
        )
        rep = {r["obj"]: r["n_refs"] for r in integrity_report(quads).collect()}
        assert rep == {"<Class>": 1, "<missing>": 2}


class TestFetchSchedule:
    def test_one_fetch_per_host_per_tick(self, spark):
        from nabu_spark.operators.urls import fetch_schedule

        rows = [
            (f"https://h{i % 3}.org/p/{i}", f"h{i % 3}.org") for i in range(30)
        ]
        df = spark.createDataFrame(rows, "url string, host string")
        sched = fetch_schedule(df, per_host_delay_s=2)
        per_tick = sched.groupBy("host", "tick").count()
        assert per_tick.filter(F.col("count") > 1).count() == 0
        got = sched.filter(F.col("host") == "h0.org").orderBy("tick").collect()
        assert [r["tick"] for r in got] == list(range(1, 11))
        assert [r["not_before_s"] for r in got] == [2 * (t - 1) for t in range(1, 11)]

    def test_deterministic_across_partitionings(self, spark):
        from nabu_spark.operators.urls import fetch_schedule

        rows = [(f"https://h{i % 5}.org/p/{i:03d}", f"h{i % 5}.org") for i in range(50)]
        df = spark.createDataFrame(rows, "url string, host string")
        a = sorted(map(tuple, fetch_schedule(df).collect()))
        b = sorted(map(tuple, fetch_schedule(df.repartition(7)).collect()))
        assert a == b
