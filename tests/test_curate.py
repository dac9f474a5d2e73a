"""End-to-end webtext curation funnel: pages/docs -> curated corpus.

The flagship composition (nabu_spark/curate.py): main-text extraction,
mojibake repair, hygiene, language/quality gates, exact + near-dup dedup,
per-host cap — with a single-aggregation funnel report."""

from __future__ import annotations

import json
import random

import pytest
from pyspark.sql import functions as F

from nabu_spark.curate import curate_corpus, docs_from_pages
from nabu_spark.operators.encoding import corrupt_text

VOCAB = ["river", "mountain", "forest", "valley", "stream", "meadow",
         "canyon", "ridge", "lake", "marsh", "field", "grove"]


def _text(seed: int, n: int = 80) -> str:
    r = random.Random(seed)
    return " ".join(r.choice(VOCAB) for _ in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"https://site{i % 4}.example.org/p/{i}", _text(i))
            for i in range(20)]
    rows += [
        (100, "https://site0.example.org/p/100", _text(3)),   # exact dup of 3
        (101, "https://site1.example.org/p/101",
         _text(5) + " extra meadow words appended"),          # near dup of 5
        (102, "https://site2.example.org/p/102", "short text"),  # gopher fail
        (103, "https://site3.example.org/p/103",
         corrupt_text(_text(9) + " café voilà")),  # mojibake near-dup of 9
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


class TestCurateCorpus:
    def test_funnel_and_survivors(self, spark, corpus):
        out, report = curate_corpus(corpus)
        ids = sorted(r["doc_id"] for r in out.collect())
        assert ids == list(range(20))
        assert report["n_input"] == 24
        assert report["n_mojibake_repaired"] == 1
        assert report["n_quality_ok"] == 23          # 102 fails gopher
        assert report["n_exact_unique"] == 22        # 100 removed
        # 101 (textual near-dup) AND 103 (near-dup only AFTER mojibake
        # repair — the repair stage is what makes it findable)
        assert report["n_near_dup_removed"] == 2
        assert report["n_curated"] == 20
        assert report["lsh_dropped_buckets"] == 0

    def test_cap_per_host(self, spark, corpus):
        out, report = curate_corpus(corpus, cap_per_host=3)
        per_host = (
            out.withColumn("_h", F.parse_url(F.col("url"), F.lit("HOST")))
            .groupBy("_h").count().collect()
        )
        assert all(r["count"] <= 3 for r in per_host)
        assert report["n_curated"] == sum(r["count"] for r in per_host)

    def test_pages_path(self, spark):
        from nabu_spark.sources.documents import content_pages_from_documents

        pages = content_pages_from_documents(spark, "/root/testdata/sf0.001")
        out, report = curate_corpus(docs_from_pages(pages))
        assert report["n_input"] == out.sparkSession.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).count()
        # extraction keeps headline + body; ids are xxhash64(url), url kept
        assert {"doc_id", "url", "text"} <= set(out.columns)
        assert report["n_curated"] > 0


class TestCurateCli:
    def test_cli_roundtrip(self, spark, corpus, tmp_path, capsys):
        from nabu_spark.cli import main

        docs_path = str(tmp_path / "docs")
        corpus.write.parquet(docs_path)
        out = str(tmp_path / "curated_out")
        rc = main(["curate", "--docs", docs_path, "--out", out])
        assert rc == 0
        printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert printed["n_curated"] == 20
        curated = spark.read.parquet(f"{out}/curated")
        assert curated.count() == 20
        with open(f"{out}/curate_report.json") as fh:
            assert json.load(fh)["n_input"] == 24

    def test_cli_with_shard_export(self, spark, corpus, tmp_path, capsys):
        import glob

        from nabu_spark.cli import main

        docs_path = str(tmp_path / "docs2")
        corpus.write.parquet(docs_path)
        out = str(tmp_path / "curated_shards")
        rc = main(["curate", "--docs", docs_path, "--out", out,
                   "--shards-target-tokens", "500"])
        assert rc == 0
        printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert printed["n_shards"] >= 2
        files = glob.glob(f"{out}/shards/data/shard=*/*.txt.gz")
        assert files
        with open(f"{out}/shards/manifest.json") as fh:
            m = json.load(fh)
        assert sum(s["rows"] for s in m["shards"]) == 20


class TestCurateFunnelPlan:
    """The repair/hygiene/gate portion of the funnel must contain NO
    shuffle: one Arrow pass. (Joining the narrow stage outputs back on
    doc_id would shuffle the text column once per stage — the anti-pattern
    SCALING.md rules out.)"""

    def test_fused_stage_plan_direct(self, spark, corpus):
        """Direct probe: the cleaned+annotated frame (everything before
        dedup) executes with zero Exchange."""
        from nabu_spark.curate import _text_pass

        annotated = _text_pass(corpus, "text", fix=True, gate=True)
        plan = annotated._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert plan.count("MapInArrow") == 1


class TestC4Stage:
    @staticmethod
    def _rows():
        a = " ".join(
            f"The quick brown fox number {i} jumps over the lazy dog gracefully today."
            for i in range(8)
        )
        b = " ".join(
            f"Astronomers measured distant galaxy cluster {i} using careful spectra last winter."
            for i in range(8)
        )
        return [
            (0, a, "https://a.org/ok"),
            # distinct vocabulary, passes gopher, fails ONLY the C4 page verdict
            (1, b + " Lorem ipsum dolor sit amet placeholder.", "https://a.org/lorem"),
        ]

    def test_c4_gate_in_funnel(self, spark):
        from nabu_spark.curate import curate_corpus

        docs = spark.createDataFrame(
            self._rows(), "doc_id long, text string, url string"
        )
        out, report = curate_corpus(docs, c4=True)
        kept = {r.doc_id for r in out.collect()}
        assert kept == {0}
        assert report["n_c4_ok"] == 1
        assert report["n_curated"] == 1
        assert "c4_keep" not in out.columns

    def test_without_c4_both_survive(self, spark):
        from nabu_spark.curate import curate_corpus

        docs = spark.createDataFrame(
            self._rows(), "doc_id long, text string, url string"
        )
        out, report = curate_corpus(docs)
        assert {r.doc_id for r in out.collect()} == {0, 1}
        assert "n_c4_ok" not in report


# characters whose case mapping or length differs by engine: dotted capital I
# (lowers to i + U+0307), the Kelvin sign (lowers to ASCII k), final sigma,
# sharp s and its capital, a combining acute, fullwidth letters, a non-BMP
# letter (one code point, two UTF-16 units), a titlecase digraph, a ligature
ADVERSARIAL = [
    "\u0130", "\u0130N", "D\u0130E", "TH\u0130S", "\u212a", "\u212aELVIN",
    "\u212a\u212a\u212a", "\u039f\u0394\u039f\u03a3", "STRA\u00dfE", "\u1e9eAA",
    "e\u0301te", "CAFE\u0301", "\uff34\uff28\uff25", "the\uff41nd", "\U0001d400bc",
    "x\U0001f600yz", "\u01c5EMO", "\ufb01ne", "\u0131s", "ABC", "DIE",
]


def _adversarial_docs() -> list[str]:
    """Each adversarial word placed where one token, one character or one
    letter decides a gate: 50 tokens, mean word length 3, alpha ratio 0.8,
    symbol ratio 0.1, and a tie between two languages."""
    docs = []
    for w in ADVERSARIAL:
        docs.append(" ".join(["river"] * 49 + [w]))              # token count
        docs.append(" ".join(["abc"] * 49 + [w]))                # mean length
        docs.append(" ".join(["river"] * 39 + ["12345"] * 10 + [w]))  # alpha
        docs.append(" ".join(["the", "and", "der", "und"] + ["river"] * 46 + [w]))
        body = " ".join(["abc"] * 50 + [w]) + " " + "#" * 25
        for n_chars in (250, 249):  # symbol ratio exactly 0.1, and just over
            docs.append(body.ljust(n_chars))
    return docs


def test_gate_kernel_matches_expressions_on_non_ascii(spark):
    """curate.lang_gopher_kernel (the fused funnel's Python gates) gives the
    same (lang_pred, gopher_pass) as the JVM expressions of textstats."""
    from nabu_spark.curate import lang_gopher_kernel
    from nabu_spark.operators.textstats import gopher_exprs, lang_pred_expr, lang_scores

    docs = _adversarial_docs()
    df = spark.createDataFrame(list(enumerate(docs)), "id long, text string")
    got = {
        r.id: (r.lang_pred, r.gopher_pass)
        for r in df.select("id", "text", *lang_scores("text"))
        .select("id", lang_pred_expr().alias("lang_pred"),
                gopher_exprs("text")["gopher_pass"].alias("gopher_pass"))
        .collect()
    }
    want = {i: lang_gopher_kernel(t) for i, t in enumerate(docs)}
    diverged = {i: (docs[i], want[i], got[i]) for i in want if want[i] != got[i]}
    assert not diverged, diverged
    # the corpus sits on the gates' edges: both verdicts and several languages
    assert {g for _, g in want.values()} == {True, False}
    assert {p for p, _ in want.values()} == {"und", "en", "de"}


def test_c4_funnel_gates_post_c4_text_like_the_expressions(spark):
    """With ``c4=True`` the funnel gates the post-C4 text with the kernel:
    its survivors and their lang_pred are what textstats.lang_id and
    gopher_quality_flags give over the post-C4 text of the docs C4 keeps."""
    from nabu_spark.curate import fix_clean_kernel
    from nabu_spark.operators.c4 import c4_clean
    from nabu_spark.operators.textstats import gopher_quality_flags, lang_id

    suffix = " Aa aa aa aa aa. Bb bb bb bb bb. Cc cc cc cc cc."
    docs = [d + suffix for d in _adversarial_docs()]
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out, _ = curate_corpus(df, c4=True, near_dup_threshold=None, report=False)
    got = {r.doc_id: r.lang_pred for r in out.collect()}

    cleaned = spark.createDataFrame(
        [(i, fix_clean_kernel(t)[0]) for i, t in enumerate(docs)],
        "doc_id long, text string",
    )
    kept = (c4_clean(cleaned).filter("c4_keep")
            .select("doc_id", F.col("c4_text").alias("text")))
    langs = {r.doc_id: (r.lang_pred, r.text) for r in lang_id(kept).collect()}
    passed = {r.doc_id for r in gopher_quality_flags(kept, "doc_id", "text")
              .filter("gopher_pass").collect()}
    canon: dict[str, int] = {}  # the funnel's exact dedup: min id per text
    for i in sorted(passed):
        canon.setdefault(langs[i][1], i)
    want = {i: langs[i][0] for i in canon.values()}
    assert got == want
    # the gate decides here: C4 keeps every doc, Gopher drops some
    assert len(langs) == len(docs) and 0 < len(want) < len(docs)


def test_text_pass_carries_columns_and_null_text(spark):
    """The repair + gate pass keeps every other column, repairs and cleans
    the text, and maps a null text to (null, 0 rounds, "und", fail)."""
    from nabu_spark.curate import _text_pass

    df = spark.createDataFrame(
        [(1, "https://a.org/1", None),
         (2, "https://a.org/2", "  caf\u00c3\u00a9 \x07 bar  ")],
        "doc_id long, url string, text string",
    )
    out = {r.doc_id: r.asDict() for r in
           _text_pass(df, "text", fix=True, gate=True).collect()}
    assert out[1] == {"doc_id": 1, "url": "https://a.org/1", "text": None,
                      "repair_rounds": 0, "lang_pred": "und",
                      "gopher_pass": False}
    assert out[2]["url"] == "https://a.org/2"
    assert out[2]["text"] == "caf\u00e9 bar" and out[2]["repair_rounds"] >= 1


def test_gate_only_pass_leaves_text_and_appends_verdicts(spark):
    """Without ``fix`` the pass leaves the text as it is and appends only
    the kernel's (lang_pred, gopher_pass)."""
    from nabu_spark.curate import _text_pass, lang_gopher_kernel

    docs = _adversarial_docs() + ["  caf\u00c3\u00a9 \x07 bar  "]  # fix would change it
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    out = _text_pass(df, "text", fix=False, gate=True)
    assert out.columns == ["doc_id", "text", "lang_pred", "gopher_pass"]
    got = {r.doc_id: (r.text, r.lang_pred, r.gopher_pass) for r in out.collect()}
    assert got == {i: (t, *lang_gopher_kernel(t)) for i, t in enumerate(docs)}
