"""The workloads: inputs, the timed operation, the cold gate operation
and the correctness gate of each; and the query layer.

Every workload is a closed loop with one client driving one Spark
session at ``local[nproc]``: the next operation starts when the previous
one has returned. The first, cold operation runs the same plan as the
timed ones but brings its output back for the correctness gate; the
gate itself is never timed.
"""

from __future__ import annotations

import concurrent.futures
import glob
import importlib.util
import multiprocessing
import os
import random
import shutil
import time
from typing import Dict, List

from . import inputs

QUERY_NAMES = [
    "capex_481a", "lifetime_reconcile", "remaining_basis_life",
    "depr_schedule", "depr_schedule_ads", "depr_schedule_totals", "depr_481a",
    "depr_legacy_v1",
    "pricing_engine_quote", "pricing_v1", "pricing_adjustments", "ladder_range_join",
    "whitetext_record", "validation_battery", "field_formatters",
]

# operation sizes: (full run, smoke test)
SIZES = {
    "crawl_job": {"full": {"pages": 1000}, "tiny": {"pages": 120}},
    "pdf_records": {"full": {"docs": 120, "pages": 20}, "tiny": {"docs": 8, "pages": 20}},
}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def in_child(fn, *args):
    """``fn(*args)`` in a forked child process, waited for. Inputs are
    generated there, so their memory does not count in the driver's
    peak RSS; only the result (the goldens) comes back."""
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(fn, *args).result()


class Workload:
    """One workload; its throughput counts documents."""

    name = ""

    def __init__(self, work: str, seed: int, tiny: bool, nproc: int):
        self.work = work
        self.seed = seed
        self.nproc = nproc
        self.size = SIZES[self.name]["tiny" if tiny else "full"]
        self.input = os.path.join(work, f"{self.name}.parquet")
        self.goldens: Dict[str, dict] = {}

    def write_inputs(self) -> Dict[str, dict]:
        """Write the seeded inputs to ``self.input``; return the goldens."""
        raise NotImplementedError

    def prepare(self) -> Dict[str, int]:
        """Write the seeded inputs; return their row and byte counts."""
        self.goldens = in_child(self.write_inputs)
        return {"rows": len(self.goldens), "bytes": inputs.tree_bytes(self.input)}

    def cold_op(self, spark):
        """The first operation, whose output the gate checks."""
        raise NotImplementedError

    def op(self, spark, k: int) -> int:
        """One timed operation; returns the items it processed."""
        raise NotImplementedError

    def before_op(self, k: int) -> None:
        """Untimed housekeeping before timed operation ``k``."""

    def gate(self, output) -> List[str]:
        """Correctness failures of the cold operation's output."""
        raise NotImplementedError


class CrawlJob(Workload):
    """``job.build_session`` + ``audit.run_extraction_with_audit`` on the
    mixed crawl table, into a fresh output directory per operation."""

    name = "crawl_job"
    n_buckets = 64  # job.py's --buckets default

    def write_inputs(self):
        return inputs.write_crawl_pages(self.input, self.seed, self.size["pages"])

    def _run(self, spark, out_dir: str) -> dict:
        from pdf_parser_spark.audit import run_extraction_with_audit

        return run_extraction_with_audit(
            spark, spark.read.parquet(self.input), out_dir=out_dir,
            run_id=os.path.basename(out_dir), n_buckets=self.n_buckets,
        )

    def cold_op(self, spark):
        out_dir = os.path.join(self.work, "out", "op0")
        result = self._run(spark, out_dir)
        return {"dir": out_dir, "result": result}

    def before_op(self, k):
        shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)

    def op(self, spark, k):
        out_dir = os.path.join(self.work, "out", f"op{k}")
        self.last_dir = out_dir
        self._run(spark, out_dir)
        return len(self.goldens)

    def gate(self, output):
        import pyarrow.dataset as ds

        fails = []
        out_dir, result = output["dir"], output["result"]
        table = ds.dataset(os.path.join(out_dir, "extracted"), format="parquet",
                           partitioning="hive").to_table(
            columns=["url", "doc_type", "text", "error_code"])
        rows = {r["url"]: r for r in table.to_pylist()}
        fails += check_crawl_rows(rows, self.goldens)
        audit = ds.dataset(os.path.join(out_dir, "audit"), format="parquet").to_table().to_pylist()
        fails += check_audit(audit, result, self.goldens, self.n_buckets)
        return fails

    def files_written(self) -> int:
        return len(glob.glob(os.path.join(self.last_dir, "**", "*.parquet"), recursive=True))


def check_crawl_rows(rows: Dict[str, dict], goldens: Dict[str, dict]) -> List[str]:
    """Every url present once; PDF and HTML text equal to the golden;
    corrupt blobs give typed error rows without text."""
    fails = []
    if set(rows) != set(goldens):
        fails.append(f"url set differs: {len(rows)} rows for {len(goldens)} inputs")
    for url, g in goldens.items():
        r = rows.get(url)
        if r is None:
            continue
        if g["kind"] == "corrupt":
            if not r["error_code"] or r["text"] is not None:
                fails.append(f"{url}: corrupt input without a typed error row")
        elif r["error_code"] is not None or r["text"] != g["text"]:
            fails.append(f"{url}: {g['kind']} text differs from golden "
                         f"(error_code={r['error_code']})")
    return fails


def check_audit(audit: List[dict], result: dict, goldens: Dict[str, dict],
                n_buckets: int) -> List[str]:
    fails = []
    kinds = [g["kind"] for g in goldens.values()]
    n_pdf = sum(k in ("pdf", "jumbo") for k in kinds) + kinds.count("corrupt")
    expect = {"docs": len(goldens), "failures": kinds.count("corrupt"),
              "pdf_docs": n_pdf, "html_docs": kinds.count("html")}
    data = [r for r in audit if r["partition_id"] != -1]
    for key, want in expect.items():
        got = sum(r[key] for r in data)
        if got != want:
            fails.append(f"audit {key} = {got}, expected {want}")
    markers = sorted(r["bucket"] for r in audit if r["partition_id"] == -1)
    if markers != list(range(n_buckets)):
        fails.append(f"audit has {len(markers)} bucket markers, expected one per bucket")
    m = result["metrics"]
    if m["docs"] != len(goldens) or m["failures"] != expect["failures"]:
        fails.append(f"job totals {m['docs']} docs / {m['failures']} failures, "
                     f"expected {len(goldens)} / {expect['failures']}")
    return fails


class PdfRecords(Workload):
    """The flagship ``bench.extraction_pipeline`` (extract, record fields,
    validation) on multi-page quote PDFs, into the noop sink."""

    name = "pdf_records"

    def write_inputs(self):
        return inputs.write_record_pages(
            self.input, self.seed, self.size["docs"], self.size["pages"])

    def pipeline(self, spark, stop: str = "validate"):
        """The bench pipeline, cut after ``extract``, ``fields`` or
        ``validate`` (the whole pipeline)."""
        import bench
        from pdf_parser_spark.extract import extract_documents, salted
        from pdf_parser_spark.fields import extract_record

        if stop == "validate":
            df = bench.extraction_pipeline(spark, self.input, parallelism=self.nproc)
        else:
            df = extract_documents(salted(spark.read.parquet(self.input), self.nproc))
            if stop == "fields":
                df = extract_record(df, mode="typed")
        return df.drop("meta_items", "spans")

    def cold_op(self, spark):
        cols = ["url", "text", "error_code", "meta_string", "is_valid", "Year_Built"]
        cols += inputs.text_record_fields()
        return [r.asDict() for r in self.pipeline(spark).select(*cols).collect()]

    def op(self, spark, k):
        noop(self.pipeline(spark))
        return len(self.goldens)

    def gate(self, output):
        return check_record_rows(output, self.goldens)


def check_record_rows(rows: List[dict], goldens: Dict[str, dict]) -> List[str]:
    """Text equal to the golden; the white-text record and its fields
    equal to ``quote_metadata_string`` of the document's index."""
    from pdf_parser_spark.synth.pdfgen import quote_metadata_string

    fails = []
    by_url = {r["url"]: r for r in rows}
    if len(rows) != len(goldens) or set(by_url) != set(goldens):
        fails.append(f"url set differs: {len(rows)} rows for {len(goldens)} inputs")
    for url, g in goldens.items():
        r = by_url.get(url)
        if r is None:
            continue
        if r["error_code"] is not None or r["text"] != g["text"]:
            fails.append(f"{url}: text differs from golden (error_code={r['error_code']})")
            continue
        if r["meta_string"] != quote_metadata_string(g["index"]):
            fails.append(f"{url}: meta_string differs from quote_metadata_string")
        fields = inputs.metadata_fields(g["index"])
        for key in inputs.text_record_fields():
            if r[key] != fields[key]:
                fails.append(f"{url}: {key} = {r[key]!r}, expected {fields[key]!r}")
        if r["Year_Built"] != float(fields["Year_Built"]):
            fails.append(f"{url}: Year_Built = {r['Year_Built']!r}, expected {fields['Year_Built']}")
        if r["is_valid"] is None:
            fails.append(f"{url}: validation produced no verdict")
    return fails


class QueryLayer:
    """The 15 plan-heavy ``queries()`` entries over seeded orders,
    lineitem and customer tables: one cold pass that collects every
    result for the oracle gate, then warm passes into the noop sink, each
    in a seed-determined order. It runs in ``crawl_job``'s traced run: a
    query workload of its own does not fit the benchmark's time budget.
    """

    def __init__(self, root: str, work: str, seed: int):
        self.root = root
        self.dir = os.path.join(work, "tables")
        self.seed = seed
        self.order = list(QUERY_NAMES)
        random.Random(seed).shuffle(self.order)
        self.build_s: Dict[str, float] = {}
        self.exec_s: Dict[str, float] = {}
        self.cold_s: Dict[str, float] = {}

    def prepare(self) -> int:
        return sum(in_child(inputs.write_query_tables, self.dir, self.seed).values())

    def _queries(self):
        import __spark_entry__

        qs = __spark_entry__.queries()
        return [(n, qs[n]) for n in self.order]

    def cold_pass(self, spark) -> dict:
        out = {}
        for name, q in self._queries():
            t0 = time.perf_counter()
            df = q(spark, self.dir)
            out[name] = (df.columns, [tuple(r) for r in df.collect()])
            self.cold_s[name] = time.perf_counter() - t0
        return out

    def warm_pass(self, spark) -> None:
        for name, q in self._queries():
            t0 = time.perf_counter()
            df = q(spark, self.dir)
            t1 = time.perf_counter()
            noop(df)
            self.build_s[name] = t1 - t0
            self.exec_s[name] = time.perf_counter() - t1

    def gate(self, output) -> List[str]:
        import duckdb

        import __spark_entry__

        norm_rows = _check_oracle_module(self.root).norm_rows
        sqls = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for t in ("customer", "orders", "lineitem"):
                path = os.path.join(self.dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            oracle = {}
            for name in QUERY_NAMES:
                res = con.execute(sqls[name])
                oracle[name] = ([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        return compare_query_results(output, oracle, norm_rows)


def compare_query_results(spark_out: dict, oracle: dict, norm_rows) -> List[str]:
    """Schema, row count and order-insensitive values of every query,
    normalised as ``scripts/check_oracle.py`` normalises them."""
    fails = []
    for name, (ocols, orows) in oracle.items():
        scols, srows = spark_out[name]
        if sorted(scols) != sorted(ocols):
            fails.append(f"{name}: schema {sorted(scols)} != oracle {sorted(ocols)}")
        elif len(srows) != len(orows):
            fails.append(f"{name}: {len(srows)} rows, oracle {len(orows)}")
        elif norm_rows(scols, srows) != norm_rows(ocols, orows):
            fails.append(f"{name}: values differ from the DuckDB oracle")
    return fails


def _check_oracle_module(root: str):
    path = os.path.join(root, "scripts", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("webbench_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


WORKLOADS = {w.name: w for w in (CrawlJob, PdfRecords)}
