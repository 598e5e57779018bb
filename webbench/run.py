"""Benchmark runner: one workload, one seed, one closed-loop run.

    python3 webbench/run.py --workload crawl_job --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The runner writes
the seeded inputs, builds the Spark session with ``job.build_session``
at ``local[nproc]``, runs the first (cold) operation and checks its
output against the goldens, then runs one untimed warm-up operation and
timed operations back to back until ``--seconds`` have passed. ``--trace 1`` adds the layer
measurements and prints per-layer metrics instead of end-to-end ones.

While the set-up and each timed operation run, a single-thread CPU probe
that runs no program code samples the host's speed, and /proc/stat gives
the time the hypervisor stole (:class:`Region`). Throughput is reported
at the probe's reference speed without the stolen time
(``docs/s * (probe_s / PROBE_REF_S) ** PROBE_EXPONENT / (1 - steal_frac)``,
the median over the run's operations) and set-up time likewise, because this host's
speed drifts by more than most code changes. The last line of standard output
is the result JSON; the line before it is the run record (settings
stamp, every metric, per-op samples) that ``webbench/compare.py``
reads. Everything the run writes stays under ``webbench/.work/`` and is
removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "webbench")

# probe: a pure-Python work unit of PROBE_UNIT iterations every
# PROBE_PERIOD_S (about 3% of one core); probe_s is reported per 200k
# iterations. PROBE_REF_S is probe_s on the reference host (4-vCPU Xeon
# VM, CPython 3.11); only the ratio probe_s / PROBE_REF_S enters the
# scaled metrics
PROBE_UNIT = 2_500
PROBE_PERIOD_S = 0.02
PROBE_SCALE = 200_000 / PROBE_UNIT
PROBE_REF_S = 0.05
# a slow host slows the program more than the probe: over sets of 20-45
# timed operations, log throughput fell 1.12-1.34 times as fast as log
# probe_s rose, so times are scaled by (PROBE_REF_S / probe_s) ** 1.2
PROBE_EXPONENT = 1.2


def log(msg: str) -> None:
    print(f"webbench: {msg}", file=sys.stderr, flush=True)


# ----------------------------------------------------------------------
# timed regions: the CPU probe and stolen time
# ----------------------------------------------------------------------
_PROBE_DATA = bytes(range(256)) * 64


def _probe_work(n: int) -> int:
    table: dict = {}
    acc = 0
    for i in range(n):
        acc = (acc * 33 + _PROBE_DATA[i & 16383]) & 0xFFFFFF
        key = acc & 255
        table[key] = table.get(key, 0) + 1
    return acc


def cpu_ticks():
    """(busy, steal) clock ticks of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class Region:
    """Times a region and records how fast the host ran meanwhile.

    ``wall_s`` is the region's wall time. ``probe_s`` is the host's
    single-thread CPU speed during it: a thread repeats a fixed
    pure-Python work unit every ``PROBE_PERIOD_S`` and records the thread
    CPU time it took; ``probe_s`` is the mean sample, scaled to 200,000
    iterations. ``steal_frac`` is the share of the CPU time the guest
    wanted in the region that the hypervisor gave to others (from
    /proc/stat); thread CPU time leaves it out, so the probe does not see
    it. ``webbench/probe_load.py`` measures how much the probe reads the
    program's own load on the cores instead of the host's speed.
    """

    def __enter__(self) -> "Region":
        self._samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._ticks = cpu_ticks()
        self._thread.start()
        self._t0 = time.perf_counter()
        return self

    def _sample(self) -> None:
        while True:
            t0 = time.thread_time()
            _probe_work(PROBE_UNIT)
            self._samples.append(time.thread_time() - t0)
            if self._stop.wait(PROBE_PERIOD_S):
                return

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        self._stop.set()
        self._thread.join()
        busy, steal = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.steal_frac = steal / (busy + steal) if busy + steal else 0.0
        self.probe_s = statistics.fmean(self._samples) * PROBE_SCALE

    def scale(self) -> float:
        """Factor that takes a time measured in the region to the probe's
        reference speed, without the stolen time."""
        return (1 - self.steal_frac) * (PROBE_REF_S / self.probe_s) ** PROBE_EXPONENT

    def ref_s(self) -> float:
        return self.wall_s * self.scale()


# ----------------------------------------------------------------------
# process tree
# ----------------------------------------------------------------------
def _proc_table() -> dict:
    """pid -> (ppid, state) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(entry)] = (int(fields[1]), fields[0])
    return out


def descendants(pid: int) -> list:
    table = _proc_table()
    children: dict = {}
    for p, (pp, _) in table.items():
        children.setdefault(pp, []).append(p)
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pids) -> list:
    table = _proc_table()
    return [p for p in pids if p in table and table[p][1] != "Z"]


def peak_rss_mb(pids) -> float:
    """Sum of per-process peak resident sets (VmHWM) over ``pids``."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started (JVM, Python daemon and workers) has ended."""
    started = descendants(os.getpid())
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while _alive(started) and time.monotonic() < deadline:
            time.sleep(0.2)
        for p in _alive(started):
            log(f"killing leftover process {p}")
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        deadline = time.monotonic() + 10
        while _alive(started) and time.monotonic() < deadline:
            time.sleep(0.1)
        if _alive(started):
            log(f"processes {_alive(started)} survived SIGKILL")


# ----------------------------------------------------------------------
# environment
# ----------------------------------------------------------------------
def bench_digest() -> str:
    """Digest of BENCHMARK.json and the benchmark's Python sources."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "BENCHMARK.json")]
    for d, dirs, files in os.walk(BENCH_DIR):
        dirs[:] = sorted(x for x in dirs if x not in (".work", "__pycache__"))
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def setup_env(work: str) -> None:
    """Confine every file Spark, the JVM and the Python workers write to
    ``work``; quiet the console; make the program importable."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": ROOT,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # every JVM (the launcher and the driver): no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
                             f" -Dderby.system.home={os.path.join(work, 'derby')}",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.enabled=false",
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]),
    })
    sys.dont_write_bytecode = True
    sys.path.insert(0, ROOT)


# ----------------------------------------------------------------------
# the run
# ----------------------------------------------------------------------
def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Run:
    def __init__(self, args, nproc: int, work: str):
        from webbench.workloads import WORKLOADS

        self.args = args
        self.nproc = nproc
        self.w = WORKLOADS[args.workload](work, args.seed, args.tiny, nproc)
        self.attempted = 0
        self.failed = 0
        self.layer: dict = {}
        self.ops: list = []  # per timed op: wall, items, probe, steal, scale

    def execute(self) -> dict:
        from pdf_parser_spark.job import build_session

        log(f"{self.w.name} seed={self.args.seed}: writing inputs")
        self.input_stamp = self.w.prepare()
        self.queries = None
        if self.args.trace and self.w.name == "crawl_job":
            from webbench.workloads import QueryLayer

            self.queries = QueryLayer(ROOT, self.w.work, self.args.seed)
            self.queries.prepare()

        spark = None
        try:
            with Region() as setup:
                t0 = time.perf_counter()
                spark = build_session(self.nproc)
                session_s = time.perf_counter() - t0
                log("cold operation")
                self.attempted += 1
                output = self.w.cold_op(spark)
            self.java = spark._jvm.System.getProperty("java.version")
            fails = self.w.gate(output)
            for f in fails[:20]:
                log(f"gate: {f}")
            self.correct = not fails
            self.setup_raw_s = setup.wall_s
            self.setup_steal_frac = setup.steal_frac
            self.setup_s = setup.ref_s()
            scale = setup.scale()
            self.layer["job.session_s"] = session_s * scale
            self.layer["loop.first_op_s"] = (setup.wall_s - session_s) * scale
            self.loop(spark)
            if self.args.trace:
                # the driver's peak before the benchmark's own in-process
                # and query passes; the JVM's and workers' at the end
                driver_mb = peak_rss_mb([os.getpid()])
                self.trace_extras(spark)
                self.layer["process.peak_rss_mb"] = peak_rss_mb(descendants(os.getpid()))
                self.layer["process.driver_peak_rss_mb"] = driver_mb
        finally:
            stop_spark(spark)
        return self.result()

    def loop(self, spark) -> None:
        """Operation 1 warms up (JIT, Python workers, caches) and is not
        timed; timed operations follow until ``--seconds`` have passed
        (at least one)."""
        from webbench.tracing import SqlMetrics, patched

        sql = SqlMetrics(spark, os.path.basename(self.w.input)) if self.args.trace else None
        audit_traces = []
        k = 0
        while True:
            k += 1
            warm_up = k == 1
            self.w.before_op(k)
            tracer, bindings = (None, []) if warm_up else self.op_tracing()
            self.attempted += 1
            try:
                with patched(bindings), Region() as op:
                    n = self.w.op(spark, k)
            except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
                self.failed += 1
                traceback.print_exc()
            else:
                op_sql = sql.collect() if sql is not None else None
                if not warm_up:
                    self.ops.append({"wall_s": op.wall_s, "items": n, "probe_s": op.probe_s,
                                     "steal_frac": op.steal_frac, "scale": op.scale(),
                                     "sql": op_sql})
                    if tracer is not None:
                        audit_traces.append((tracer, op.scale()))
            if warm_up:
                deadline = time.perf_counter() + self.args.seconds
            elif time.perf_counter() >= deadline:
                break
        if audit_traces:
            for name in ("resume_check", "data_write", "commit", "totals"):
                self.layer[f"audit.{name}_s"] = median(
                    [t.incl_s[f"audit.{name}"] * k for t, k in audit_traces])
            self.layer["audit.files_written"] = self.w.files_written()

    def op_tracing(self):
        """Spans around the audited job's phases (crawl_job, traced run)."""
        if not (self.args.trace and self.w.name == "crawl_job"):
            return None, []
        from pyspark.sql.readwriter import DataFrameWriter

        from pdf_parser_spark import audit
        from webbench.tracing import Tracer

        tracer = Tracer()
        real_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *a, **kw):
            phase = "audit.commit" if os.path.basename(path.rstrip("/")) == "audit" else "audit.data_write"
            with tracer.span(phase):
                return real_parquet(writer, path, *a, **kw)

        return tracer, [
            (audit, "committed_buckets", tracer.wrap("audit.resume_check", audit.committed_buckets)),
            (audit, "_totals_of", tracer.wrap("audit.totals", audit._totals_of)),
            (DataFrameWriter, "parquet", parquet),
        ]

    # -- traced-run layer measurements ---------------------------------
    def trace_extras(self, spark) -> None:
        ops = self.ops
        sqls = [o["sql"] for o in ops]
        self.layer.update({
            "spark.scan.tasks": median([s["scan_tasks"] for s in sqls]),
            "spark.mapinpandas.tasks": median([s["mip_tasks"] for s in sqls]),
            "spark.mapinpandas.task_s.max_over_p50": median([s["mip_skew"] for s in sqls]),
            "spark.mapinpandas.python_s": median(
                [s["python_s"] * o["scale"] for s, o in zip(sqls, ops)]),
            "spark.arrow.bytes_to_python": median([s["to_python"] for s in sqls]),
            "spark.arrow.bytes_from_python": median([s["from_python"] for s in sqls]),
            "spark.exchange.shuffle_bytes": median([s["shuffle_bytes"] for s in sqls]),
        })
        self.inproc_layers()
        if self.queries is not None:
            self.query_layer(spark)
        else:
            self.cut_pipeline(spark)

    def inproc_layers(self) -> None:
        """Single-thread in-process passes of the extraction mapper over
        the workload's own documents: untraced for the baseline, then
        traced for the layer split."""
        import pyarrow.parquet as pq

        from pdf_parser_spark import extract
        from webbench.tracing import Tracer, extraction_bindings, patched

        table = pq.read_table(self.w.input, columns=["url", "warc_ts", "html", "lang"])
        batches = [b.to_pandas() for b in table.to_batches(max_chunksize=64)]

        def one_pass() -> Region:
            mapper = extract._make_mapper("first_valid")
            with Region() as b:
                for _ in mapper(iter(batches)):
                    pass
            return b

        plain = one_pass()
        tracer = Tracer()
        with patched(extraction_bindings(tracer)):
            traced = one_pass()
        k = traced.scale()
        docs = table.num_rows
        c = tracer.counts
        s = {name: t * k for name, t in tracer.self_s.items()}
        incl = {name: t * k for name, t in tracer.incl_s.items()}
        pdf_ms = [t * k for t in tracer.samples["pdf_doc_ms"]]
        html_ms = [t * k for t in tracer.samples["html_doc_ms"]]
        inproc = docs / plain.ref_s()
        self.layer.update({
            "pdfcore.xref.self_s": s["pdfcore.xref"],
            "pdfcore.document.self_s": s["pdfcore.document"],
            "pdfcore.cmap.parse_s": incl["pdfcore.cmap"],
            "pdfcore.cmap.parse_calls": tracer.calls["pdfcore.cmap"],
            "pdfcore.cmap.distinct_streams": c["pdfcore.cmap.distinct_streams"],
            "pdfcore.cmap.distinct_per_doc": c["pdfcore.cmap.distinct_per_doc"],
            "pdfcore.fontprog.s": incl["pdfcore.fontprog"],
            "pdfcore.filters.decode_s": s["pdfcore.filters"],
            "pdfcore.filters.bytes_out": c["pdfcore.filters.bytes_out"],
            "pdfcore.lexer.tokenize_s": s["pdfcore.lexer"],
            "pdfcore.lexer.tokens": c["pdfcore.lexer.tokens"],
            "pdfcore.content.self_s": s["pdfcore.content"],
            "extract.assembly_s": s["extract"],
            "extract.pdf_doc_ms.p50": median(pdf_ms),
            "extract.pdf_doc_ms.p99": pct(pdf_ms, 0.99),
            "inproc.docs_per_s": inproc,
            "spark.efficiency": self.items_per_s_norm() / (self.nproc * inproc),
            "trace.overhead_frac": traced.ref_s() / plain.ref_s() - 1,
            "trace.unattributed_frac": 1 - tracer.attributed_s() / traced.wall_s,
        })
        if html_ms:
            self.layer.update({
                "htmlcore.extract_s": incl["htmlcore"],
                "extract.html_doc_ms.p50": median(html_ms),
                "extract.html_doc_ms.p99": pct(html_ms, 0.99),
            })

    def cut_pipeline(self, spark) -> None:
        """fields and validate cost: the bench pipeline cut after each
        public call, each cut run twice, alternating."""
        from webbench.workloads import noop

        walls = {"extract": [], "fields": [], "validate": []}
        for _ in range(2):
            for stop in walls:
                with Region() as b:
                    noop(self.w.pipeline(spark, stop))
                walls[stop].append(b.ref_s())
        m = {k: median(v) for k, v in walls.items()}
        self.layer["fields.record_s"] = m["fields"] - m["extract"]
        self.layer["validate.s"] = m["validate"] - m["fields"]

    def query_layer(self, spark) -> None:
        """Cold pass (collected, checked against the DuckDB oracles), then
        one warm pass into the noop sink."""
        q = self.queries
        with Region() as cold:
            output = q.cold_pass(spark)
        fails = q.gate(output)
        for f in fails[:20]:
            log(f"query gate: {f}")
        self.correct = self.correct and not fails
        with Region() as warm:
            q.warm_pass(spark)
        cold_k, warm_k = cold.scale(), warm.scale()
        for name in q.order:
            self.layer[f"query.{name}.build_s"] = q.build_s[name] * warm_k
            self.layer[f"query.{name}.exec_s"] = q.exec_s[name] * warm_k
            self.layer[f"query.{name}.cold_s"] = q.cold_s[name] * cold_k

    # -- results -------------------------------------------------------
    def items_per_s(self) -> float:
        return median([o["items"] / o["wall_s"] for o in self.ops])

    def items_per_s_norm(self) -> float:
        return median([o["items"] / (o["wall_s"] * o["scale"]) for o in self.ops])

    def result(self) -> dict:
        from webbench.metrics import END_TO_END, NOT_RUN, PER_LAYER

        if not self.ops:
            raise RuntimeError("no timed operation succeeded")
        all_metrics = {"items_per_s_norm": self.items_per_s_norm(), "setup_s": self.setup_s}
        layer = {name: 0.0 for name in NOT_RUN[self.w.name]}
        layer.update(self.layer)
        layer["items_per_s"] = self.items_per_s()
        layer["probe_s"] = median([o["probe_s"] for o in self.ops])
        missing = [n for n, _ in PER_LAYER if n not in layer]
        if self.args.trace and missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        names = PER_LAYER if self.args.trace else END_TO_END
        src = layer if self.args.trace else all_metrics
        metrics = {n: {"value": float(src[n]), "unit": u} for n, u in names}
        import pyspark

        record = {
            "stamp": {
                "workload": self.w.name, "seed": self.args.seed,
                "seconds": self.args.seconds, "trace": self.args.trace,
                "tiny": self.args.tiny, "nproc": self.nproc,
                "python": platform.python_version(), "spark": pyspark.__version__,
                "java": self.java, "bench_digest": bench_digest(),
                "input_rows": self.input_stamp["rows"],
                "input_bytes": self.input_stamp["bytes"],
            },
            "correct": self.correct and self.failed == 0,
            "attempted": self.attempted, "failed": self.failed,
            "metrics": {**all_metrics, "setup_raw_s": self.setup_raw_s,
                        "setup_steal_frac": self.setup_steal_frac, **layer},
            "ops": [{k: v for k, v in o.items() if k != "sql"} for o in self.ops],
        }
        return {
            "record": record,
            "final": {k: record[k] for k in ("correct", "attempted", "failed")}
            | {"metrics": metrics},
        }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl_job", "pdf_records"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = p.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "pdf_parser_spark", "job.py"))
            and os.path.isfile(os.path.join(ROOT, "bench.py"))):
        log(f"the program's sources are not in {ROOT}; run from a checkout of the repository")
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    # the JVM and the workers inherit fd 1: send their stray output to
    # stderr so the result stays the last line of standard output
    stdout_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        setup_env(work)
        out = Run(args, nproc, work).execute()
    finally:
        sys.stdout.flush()
        os.dup2(stdout_fd, 1)
        os.close(stdout_fd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it
    rec = out["record"]
    m = rec["metrics"]
    print(f"docs_per_s_norm = {m['items_per_s_norm']:.2f} docs/s "
          f"(raw {m['items_per_s']:.2f} docs/s); setup_s = {m['setup_s']:.2f} s "
          f"(raw {m['setup_raw_s']:.2f} s); correct = {rec['correct']}")
    print(json.dumps({"webbench_record": rec}))
    print(json.dumps(out["final"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
