"""Spans around calls into the program's layers, recorded from outside.

A :class:`Tracer` wraps public functions where the calling module binds
them (``module.name = tracer.wrap(...)``) and keeps, per span name, the
call count, the inclusive time and the self time (inclusive minus the
time of spans opened inside it). :func:`patched` restores every binding
when the traced pass ends, so the untraced runs execute unmodified code.

This module also reads Spark's per-operator SQL metrics for the queries
an operation ran (:class:`SqlMetrics`).
"""

from __future__ import annotations

import contextlib
import hashlib
import re
import statistics
import time
from collections import defaultdict
from typing import Callable, Dict, Iterator, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.calls: Dict[str, int] = defaultdict(int)
        self.incl_s: Dict[str, float] = defaultdict(float)
        self.self_s: Dict[str, float] = defaultdict(float)
        self.counts: Dict[str, int] = defaultdict(int)
        self.samples: Dict[str, List[float]] = defaultdict(list)
        self._child_s: List[float] = []  # time of closed children, per open span

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        self._child_s.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            children = self._child_s.pop()
            self.calls[name] += 1
            self.incl_s[name] += dur
            self.self_s[name] += dur - children
            if self._child_s:
                self._child_s[-1] += dur

    def wrap(self, name: str, fn: Callable, on_result: Optional[Callable] = None) -> Callable:
        def traced(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, result)
            return result

        return traced

    def wrap_generator(self, name: str, fn: Callable, count: str) -> Callable:
        """Run the generator ``fn`` returns to completion inside one span
        (one span per call, not per item, keeps the overhead low), count
        its items and hand them to the caller."""

        def traced(*args, **kwargs):
            with self.span(name):
                items = list(fn(*args, **kwargs))
            self.counts[count] += len(items)
            return iter(items)

        return traced

    def attributed_s(self) -> float:
        return sum(self.self_s.values())


@contextlib.contextmanager
def patched(bindings: List[tuple]) -> Iterator[None]:
    """Temporarily set ``(obj, attr, value)`` bindings; always restore."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in bindings]
    try:
        for obj, attr, value in bindings:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


def extraction_bindings(tracer: Tracer) -> List[tuple]:
    """Bindings that trace the extraction hot path layer by layer.

    Names are wrapped where the caller looks them up: ``extract`` binds
    ``parse_pdf``/``extract_main_text``/``_extract_one``; ``document``
    binds ``ObjectStore``, ``decode_stream``, ``interpret_text`` and
    ``ToUnicodeCMap``; ``content`` and ``cmap`` bind
    ``tokenize_content``; ``document`` imports the font-program parsers
    from ``fontprog`` at call time. Each ``_extract_one`` call is one
    document; its inclusive time goes to ``samples["<doc_type>_doc_ms"]``.
    """
    from pdf_parser_spark import extract
    from pdf_parser_spark.pdfcore import cmap, content, document, fontprog, xref

    cmap_digests = set()
    cmap_doc_digests = set()
    doc_key = [0]
    real_one = extract._extract_one

    def traced_one(*args, **kwargs):
        doc_key[0] += 1
        t0 = time.perf_counter()
        with tracer.span("extract"):
            out = real_one(*args, **kwargs)
        tracer.samples[f"{out['doc_type']}_doc_ms"].append((time.perf_counter() - t0) * 1e3)
        return out

    def on_cmap(args, _result):
        digest = hashlib.sha1(args[0]).digest()
        cmap_digests.add(digest)
        cmap_doc_digests.add((doc_key[0], digest))
        tracer.counts["pdfcore.cmap.distinct_streams"] = len(cmap_digests)
        tracer.counts["pdfcore.cmap.distinct_per_doc"] = len(cmap_doc_digests)

    def on_decoded(_args, result):
        tracer.counts["pdfcore.filters.bytes_out"] += len(result)

    real_store = document.ObjectStore

    def traced_store(data):
        with tracer.span("pdfcore.xref"):
            store = real_store(data)
        store.resolve = tracer.wrap("pdfcore.xref", store.resolve)
        store.catalog = tracer.wrap("pdfcore.xref", store.catalog)
        return store

    real_cmap = document.ToUnicodeCMap

    class TracedCMap(real_cmap):
        parse = staticmethod(tracer.wrap("pdfcore.cmap", real_cmap.parse, on_cmap))

    decode = tracer.wrap("pdfcore.filters", document.decode_stream, on_decoded)
    tokens = tracer.wrap_generator("pdfcore.lexer", content.tokenize_content, "pdfcore.lexer.tokens")
    bindings = [
        (extract, "_extract_one", traced_one),
        (extract, "parse_pdf", tracer.wrap("pdfcore.document", extract.parse_pdf)),
        (extract, "extract_main_text", tracer.wrap("htmlcore", extract.extract_main_text)),
        (document, "ObjectStore", traced_store),
        (document, "ToUnicodeCMap", TracedCMap),
        (document, "decode_stream", decode),
        (xref, "decode_stream", decode),
        (document, "interpret_text", tracer.wrap("pdfcore.content", document.interpret_text)),
        (content, "tokenize_content", tokens),
        (cmap, "tokenize_content", tokens),
    ]
    for name in ("truetype_tounicode", "fontfile3_tounicode", "type1_builtin_encoding"):
        bindings.append((fontprog, name, tracer.wrap("pdfcore.fontprog", getattr(fontprog, name))))
    return bindings


# ----------------------------------------------------------------------
# Spark SQL per-operator metrics
# ----------------------------------------------------------------------
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
          "min": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(-?[\d,.]+)\s*([A-Za-zµ]*)")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def _parse_metric(text: str) -> float:
    """Parse Spark's formatted metric text: ``'8,000'``, ``'6.0 MiB'``,
    or ``'total (min, med, max ...)\\n37.1 s (...)'``. Sizes come back in
    bytes, times in seconds, sums as counts."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _TOTAL.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SqlMetrics:
    """Per-operator SQL metrics of the SQL executions an operation ran.
    Only parquet scans whose location contains ``scan_marker`` count."""

    def __init__(self, spark, scan_marker: str) -> None:
        self._spark = spark
        self._scan_marker = scan_marker
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._core = spark.sparkContext._jsc.sc().statusStore()
        self._seen = self._last_id()

    def _last_id(self) -> int:
        execs = self._store.executionsList()
        return execs.apply(execs.size() - 1).executionId() if execs.size() else -1

    def _value(self, metric, formatted) -> float:
        """Raw accumulator value when the driver still holds it, else the
        parsed text. Sizes in bytes, times in seconds."""
        kind = metric.metricType()
        acc = self._spark._jvm.org.apache.spark.util.AccumulatorContext.get(metric.accumulatorId())
        if acc.isDefined():
            raw = float(acc.get().value())
            return raw * {"timing": 1e-3, "nsTiming": 1e-9}.get(kind, 1.0)
        return _parse_metric(formatted)

    def collect(self) -> Dict[str, float]:
        """Metrics of the executions since the last call."""
        # the SQL listener aggregates an execution's metrics asynchronously
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        out = {"scan_tasks": 0, "mip_tasks": 0, "mip_skew": 0.0, "python_s": 0.0,
               "to_python": 0.0, "from_python": 0.0, "shuffle_bytes": 0.0}
        execs = self._store.executionsList()
        new_ids = [execs.apply(k).executionId() for k in range(execs.size())]
        new_ids = [i for i in new_ids if i > self._seen]
        if new_ids:
            self._seen = max(new_ids)
        for eid in new_ids:
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                name = node.name().strip()
                if name == "Scan parquet" and self._scan_marker not in node.desc():
                    continue
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    text = values.get(metric.accumulatorId())
                    text = text.get() if text.isDefined() else "0"
                    self._fold(out, name, metric, text)
        return out

    def _fold(self, out, node: str, metric, text: str) -> None:
        mname = metric.name()
        if node == "Scan parquet" and mname == "scan time":
            out["scan_tasks"] += self._stage_tasks(text)[0]
        elif node == "MapInPandas":
            if mname == "time to run Python workers":
                out["python_s"] += self._value(metric, text)
                tasks, skew = self._stage_tasks(text)
                out["mip_tasks"] += tasks
                out["mip_skew"] = max(out["mip_skew"], skew)
            elif mname == "data sent to Python workers":
                out["to_python"] += self._value(metric, text)
            elif mname == "data returned from Python workers":
                out["from_python"] += self._value(metric, text)
        elif node == "Exchange" and mname == "shuffle bytes written":
            out["shuffle_bytes"] += self._value(metric, text)

    def _stage_tasks(self, text: str):
        """(task count, max/median task duration) of the stage that the
        metric's max-task annotation names. Spark omits the annotation
        when a single task reported the metric."""
        m = _STAGE.search(text)
        if not m:
            return (1, 1.0) if _parse_metric(text) > 0 else (0, 0.0)
        stage, attempt = int(m.group(1)), int(m.group(2))
        tasks = self._core.taskList(stage, attempt, 1 << 30)
        durs = []
        for k in range(tasks.size()):
            d = tasks.apply(k).duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if not durs:
            return 0, 0.0
        med = statistics.median(durs)
        return len(durs), (max(durs) / med if med else 0.0)
