"""Trace/metrics export — the reference's observability surface, Spark-first.

The reference wires OpenTelemetry tracing around every pipeline stage
(cmd/nabu/main.go:162-178 initializes an OTLP exporter;
internal/opentelemetry/trace.go wraps each operation in
``SubSpanFromCtxWithName``) and can also dump a trace artifact to a file
(``--trace`` -> trace.out). The Spark port keeps the split the reference
has:

* the DATA plane is already observable — per-partition lineage rows
  (snapshots.run_pipeline_snapshots), Observation-counted drops (dedup), the
  ann_recall telemetry report, and Spark's own UI/event logs;
* this module adds the CONTROL plane: driver-side spans around stage
  boundaries with the aggregate counts an operator alerts on.

:class:`Tracer` records context-manager spans (name, wall-clock
nanoseconds, attributes, parent nesting) and exports them as
OTLP-field-shaped JSON lines — the file artifact mirrors the reference's
``trace.out`` path. When the real ``opentelemetry`` SDK is importable the
spans are ALSO mirrored through it (detect-and-route);
absent the SDK, the JSONL exporter is the complete fallback — nothing in
this repo requires the package.

Span identity is deterministic (sequential ids under one trace id derived
from the service name and epoch) so golden tests can pin the export shape.
"""

from __future__ import annotations

import contextlib
import contextvars
import hashlib
import json
import time
from dataclasses import dataclass, field

_PARENT: contextvars.ContextVar = contextvars.ContextVar(
    "nabu_span_parent", default=None)


def otel_available() -> bool:
    try:
        import opentelemetry.trace  # noqa: F401

        return True
    except ImportError:
        return False


@dataclass
class Span:
    name: str
    span_id: str
    parent_span_id: str | None
    trace_id: str
    start_time_unix_nano: int
    end_time_unix_nano: int | None = None
    attributes: dict = field(default_factory=dict)
    status: str = "OK"

    def set_attribute(self, key: str, value) -> None:
        self.attributes[key] = value

    def to_dict(self) -> dict:
        return {
            "name": self.name,
            "trace_id": self.trace_id,
            "span_id": self.span_id,
            "parent_span_id": self.parent_span_id,
            "start_time_unix_nano": self.start_time_unix_nano,
            "end_time_unix_nano": self.end_time_unix_nano,
            "attributes": dict(self.attributes),
            "status": self.status,
        }


class Tracer:
    """Driver-side span recorder with OTLP-shaped JSONL export.

    Usage::

        tracer = Tracer("nabu-spark")
        with tracer.span("harvest", sitemap="s1") as root:
            with tracer.span("extract") as s:
                ...
                s.set_attribute("urls_in", 1234)
        tracer.export_jsonl("trace.out")
    """

    def __init__(self, service: str = "nabu-spark"):
        self.service = service
        self.trace_id = hashlib.sha256(
            f"{service}:{time.time_ns()}".encode()).hexdigest()[:32]
        self.spans: list[Span] = []
        self._seq = 0
        self._otel = None
        if otel_available():  # pragma: no cover - SDK absent in this env
            from opentelemetry import trace as ot

            self._otel = ot.get_tracer(service)

    @contextlib.contextmanager
    def span(self, name: str, **attributes):
        self._seq += 1
        s = Span(
            name=name,
            span_id=f"{self._seq:016x}",
            parent_span_id=_PARENT.get(),
            trace_id=self.trace_id,
            start_time_unix_nano=time.time_ns(),
            attributes=dict(attributes),
        )
        self.spans.append(s)
        token = _PARENT.set(s.span_id)
        otel_cm = (self._otel.start_as_current_span(name)
                   if self._otel is not None else contextlib.nullcontext())
        try:
            with otel_cm as otel_span:
                try:
                    yield s
                finally:
                    if otel_span is not None and hasattr(
                            otel_span, "set_attribute"):
                        for k, v in s.attributes.items():
                            otel_span.set_attribute(k, v)
        except BaseException as e:
            s.status = f"ERROR: {type(e).__name__}"
            raise
        finally:
            s.end_time_unix_nano = time.time_ns()
            _PARENT.reset(token)

    def to_dicts(self) -> list[dict]:
        return [s.to_dict() for s in self.spans]

    def export_jsonl(self, path: str) -> None:
        """Write one OTLP-field-shaped JSON object per line — the
        ``trace.out`` artifact a collector-less run ships instead of a
        gRPC export (main.go:162-178's --trace branch)."""
        with open(path, "w") as fh:
            fh.write(json.dumps({
                "resource": {"service.name": self.service},
                "trace_id": self.trace_id,
                "n_spans": len(self.spans),
            }) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s.to_dict()) + "\n")


# --- ambient tracer (the CLI's span context) -------------------------------

_ACTIVE: contextvars.ContextVar = contextvars.ContextVar(
    "nabu_active_tracer", default=None)


def set_active(tracer: "Tracer | None"):
    """Install the process-ambient tracer (returns the reset token); the
    CLI sets it around command dispatch so stage code can open child
    spans without threading a tracer through every signature."""
    return _ACTIVE.set(tracer)


@contextlib.contextmanager
def maybe_span(name: str, **attributes):
    """Child span on the ambient tracer; a silent no-op (yields None)
    when tracing is off — stage code pays nothing by default."""
    tr = _ACTIVE.get()
    if tr is None:
        yield None
    else:
        with tr.span(name, **attributes) as s:
            yield s
