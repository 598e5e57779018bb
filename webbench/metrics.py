"""Metric names and units the benchmark prints (must equal BENCHMARK.json)."""

from __future__ import annotations

from .workloads import QUERY_NAMES

END_TO_END = [
    ("items_per_s_norm", "1/s"),
    ("setup_s", "s"),
]

PER_LAYER = [
    # pdfcore, from the single-thread in-process pass
    ("pdfcore.xref.self_s", "s"),
    ("pdfcore.document.self_s", "s"),
    ("pdfcore.cmap.parse_s", "s"),
    ("pdfcore.cmap.parse_calls", "count"),
    ("pdfcore.cmap.distinct_streams", "count"),
    ("pdfcore.cmap.distinct_per_doc", "count"),
    ("pdfcore.fontprog.s", "s"),
    ("pdfcore.filters.decode_s", "s"),
    ("pdfcore.filters.bytes_out", "B"),
    ("pdfcore.lexer.tokenize_s", "s"),
    ("pdfcore.lexer.tokens", "count"),
    ("pdfcore.content.self_s", "s"),
    ("htmlcore.extract_s", "s"),
    # extract: assembly, per-document times, the Spark stage around it
    ("extract.assembly_s", "s"),
    ("extract.pdf_doc_ms.p50", "ms"),
    ("extract.pdf_doc_ms.p99", "ms"),
    ("extract.html_doc_ms.p50", "ms"),
    ("extract.html_doc_ms.p99", "ms"),
    ("inproc.docs_per_s", "1/s"),
    ("spark.scan.tasks", "count"),
    ("spark.mapinpandas.tasks", "count"),
    ("spark.mapinpandas.task_s.max_over_p50", "ratio"),
    ("spark.mapinpandas.python_s", "s"),
    ("spark.arrow.bytes_to_python", "B"),
    ("spark.arrow.bytes_from_python", "B"),
    ("spark.exchange.shuffle_bytes", "B"),
    ("spark.efficiency", "ratio"),
    # record fields and validation, by cutting the pipeline
    ("fields.record_s", "s"),
    ("validate.s", "s"),
    # audited job phases
    ("audit.resume_check_s", "s"),
    ("audit.data_write_s", "s"),
    ("audit.commit_s", "s"),
    ("audit.totals_s", "s"),
    ("audit.files_written", "count"),
]
for _name in QUERY_NAMES:
    PER_LAYER += [(f"query.{_name}.build_s", "s"), (f"query.{_name}.exec_s", "s"),
                  (f"query.{_name}.cold_s", "s")]
PER_LAYER += [
    ("job.session_s", "s"),
    ("loop.first_op_s", "s"),
    ("items_per_s", "1/s"),
    ("probe_s", "s"),
    ("process.peak_rss_mb", "MB"),
    ("process.driver_peak_rss_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
    ("trace.unattributed_frac", "ratio"),
]

# per-layer metrics of the layers a workload does not run: they read 0
# there. Every other per-layer metric is measured in a traced run.
NOT_RUN = {
    "crawl_job": {"fields.record_s", "validate.s"},
    "pdf_records": {
        "htmlcore.extract_s", "extract.html_doc_ms.p50", "extract.html_doc_ms.p99",
        "audit.resume_check_s", "audit.data_write_s", "audit.commit_s", "audit.totals_s",
        "audit.files_written",
        *(name for name, _ in PER_LAYER if name.startswith("query.")),
    },
}
