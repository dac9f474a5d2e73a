"""Trace/metrics export (nabu_spark/telemetry.py) — the reference's
observability surface (cmd/nabu/main.go:162-178 OTLP init + --trace file
artifact; internal/opentelemetry/trace.go span helpers), Spark-first.
The opentelemetry SDK is absent in this container, so what's pinned here
is the complete JSONL fallback plus the detect-and-route gate.
"""

from __future__ import annotations

import json

import pytest

from nabu_spark.telemetry import Span, Tracer, otel_available


class TestSpans:
    def test_nesting_and_attributes(self):
        tr = Tracer("svc")
        with tr.span("root", cmd="harvest") as root:
            with tr.span("extract") as ex:
                ex.set_attribute("urls_in", 120)
            with tr.span("quads") as q:
                q.set_attribute("triples_out", 990)
        assert [s.name for s in tr.spans] == ["root", "extract", "quads"]
        root_s, ex_s, q_s = tr.spans
        assert root_s.parent_span_id is None
        assert ex_s.parent_span_id == root_s.span_id
        assert q_s.parent_span_id == root_s.span_id
        assert ex_s.attributes == {"urls_in": 120}
        assert root_s.attributes == {"cmd": "harvest"}
        # every span closed, times monotone
        for s in tr.spans:
            assert s.end_time_unix_nano >= s.start_time_unix_nano
        assert {s.trace_id for s in tr.spans} == {tr.trace_id}

    def test_sibling_after_nested_gets_outer_parent(self):
        tr = Tracer()
        with tr.span("a"):
            with tr.span("b"):
                with tr.span("c"):
                    pass
            with tr.span("d"):
                pass
        a, b, c, d = tr.spans
        assert c.parent_span_id == b.span_id
        assert d.parent_span_id == a.span_id

    def test_exception_marks_status_and_closes(self):
        tr = Tracer()
        with pytest.raises(ValueError):
            with tr.span("boom"):
                raise ValueError("x")
        (s,) = tr.spans
        assert s.status == "ERROR: ValueError"
        assert s.end_time_unix_nano is not None
        # parent stack unwound: a following span is a root again
        with tr.span("after"):
            pass
        assert tr.spans[1].parent_span_id is None

    def test_export_jsonl_shape(self, tmp_path):
        tr = Tracer("nabu-spark")
        with tr.span("root"):
            with tr.span("child", k="v"):
                pass
        path = str(tmp_path / "trace.out")
        tr.export_jsonl(path)
        lines = [json.loads(l) for l in open(path)]
        header, *spans = lines
        assert header["resource"] == {"service.name": "nabu-spark"}
        assert header["n_spans"] == 2
        assert len(header["trace_id"]) == 32
        for s in spans:
            assert set(s) == {"name", "trace_id", "span_id",
                              "parent_span_id", "start_time_unix_nano",
                              "end_time_unix_nano", "attributes", "status"}
        assert spans[1]["attributes"] == {"k": "v"}
        assert spans[1]["parent_span_id"] == spans[0]["span_id"]

    def test_otel_gate_matches_import(self):
        try:
            import opentelemetry.trace  # noqa: F401

            expected = True
        except ImportError:
            expected = False
        assert otel_available() is expected
        # without the SDK the tracer must still work end-to-end (above
        # tests) and carry no otel handle
        if not expected:
            assert Tracer()._otel is None

    def test_span_dataclass_roundtrip(self):
        s = Span(name="n", span_id="1", parent_span_id=None, trace_id="t",
                 start_time_unix_nano=5, end_time_unix_nano=9,
                 attributes={"a": 1})
        assert s.to_dict()["attributes"] == {"a": 1}


class TestPipelineIntegration:
    def test_cli_trace_out(self, spark, tmp_path):
        """--trace-out writes the trace artifact around a real harvest
        (reference --trace -> trace.out parity)."""
        from nabu_spark.datagen import generate_pages
        from tests.test_cli import run_cli

        pages = str(tmp_path / "pages")
        generate_pages(spark, 30).write.parquet(pages)
        trace_path = str(tmp_path / "trace.out")
        rc, _ = run_cli([
            "--trace-out", trace_path,
            "harvest", "--pages", pages, "--out", str(tmp_path / "run"),
            "--no-salt",
        ])
        assert rc in (0, 3)
        lines = [json.loads(l) for l in open(trace_path)]
        header, *spans = lines
        assert header["n_spans"] == len(spans) == 3
        root, extract, stats = spans
        assert root["name"].startswith("nabu_")
        assert "harvest" in root["name"]
        assert root["attributes"]["exit_code"] == rc
        assert root["status"] == "OK"
        # stage spans nest under the root and carry the crawl totals
        assert extract["name"] == "harvest.extract"
        assert stats["name"] == "harvest.stats"
        assert extract["parent_span_id"] == root["span_id"]
        assert stats["parent_span_id"] == root["span_id"]
        assert stats["attributes"]["sites"] == 30
        assert stats["attributes"]["ok"] + stats["attributes"]["failed"] == 30

    def test_maybe_span_noop_without_tracer(self):
        from nabu_spark.telemetry import _ACTIVE, maybe_span, set_active

        set_active(None)
        assert _ACTIVE.get() is None
        with maybe_span("x") as s:
            assert s is None
        tr = Tracer()
        set_active(tr)
        try:
            with maybe_span("y", k=1) as s:
                assert s is not None
        finally:
            set_active(None)
        assert [sp.name for sp in tr.spans] == ["y"]
        assert tr.spans[0].attributes == {"k": 1}
