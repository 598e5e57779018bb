"""The benchmark's own tests.

    python3 -m pytest webbench/tests -q

The gate and contract tests need no Spark. ``test_smoke_run`` runs each
workload at tiny input scale (the cold, the warm-up and one timed
operation) through the same command line the benchmark is driven with;
it takes a few minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from webbench import inputs, workloads  # noqa: E402
from webbench.metrics import END_TO_END, NOT_RUN, PER_LAYER  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_the_runner():
    b = bench_json()
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert (setup["unit"], setup["better"]) == ("s", "lower")


def _crawl_rows(goldens, path):
    """The crawl table extracted in-process: what a correct job writes."""
    import pyarrow.parquet as pq

    from pdf_parser_spark.extract import _extract_one

    rows = {}
    for r in pq.read_table(path).to_pylist():
        out = _extract_one(r["html"], "first_valid")
        rows[r["url"]] = {"text": out["text"], "error_code": out["error_code"]}
    return rows


def test_crawl_gate_rejects_a_planted_wrong_golden(tmp_path):
    path = str(tmp_path / "pages.parquet")
    goldens = inputs.write_crawl_pages(path, seed=5, n_pages=60)
    rows = _crawl_rows(goldens, path)
    assert workloads.check_crawl_rows(rows, goldens) == []
    url = next(u for u, g in goldens.items() if g["kind"] == "html" and g["text"])
    goldens[url] = dict(goldens[url], text=goldens[url]["text"] + " planted")
    fails = workloads.check_crawl_rows(rows, goldens)
    assert len(fails) == 1 and url in fails[0]


def test_record_gate_rejects_a_planted_wrong_golden():
    i = inputs.window_start(seed=5, n=4)
    blob, text = inputs.make_record_pdf(i, n_pages=3)
    fields = inputs.metadata_fields(i)
    from pdf_parser_spark.synth.pdfgen import quote_metadata_string

    row = {"url": inputs.PDF_URL.format(i), "text": text, "error_code": None,
           "meta_string": quote_metadata_string(i), "is_valid": True,
           "Year_Built": float(fields["Year_Built"]),
           **{k: fields[k] for k in inputs.text_record_fields()}}
    goldens = {row["url"]: {"kind": "pdf", "index": i, "text": text}}
    assert workloads.check_record_rows([row], goldens) == []
    assert workloads.check_record_rows([dict(row, text=text[:-1])], goldens)
    assert workloads.check_record_rows([dict(row, Name_of_Prospect="x")], goldens)


def test_query_gate_rejects_a_changed_row():
    norm_rows = workloads._check_oracle_module(ROOT).norm_rows
    oracle = {"q": (["a", "b"], [(1, 0.5), (2, 1.5)])}
    assert workloads.compare_query_results({"q": (["b", "a"], [(1.5, 2), (0.5, 1)])},
                                           oracle, norm_rows) == []
    assert workloads.compare_query_results({"q": (["b", "a"], [(1.5, 2), (0.25, 1)])},
                                           oracle, norm_rows)


def test_inputs_are_seeded_and_keep_the_mix():
    from pdf_parser_spark.synth.pages import row_kind

    a, b = inputs.window_start(1, 4000), inputs.window_start(2, 4000)
    assert a % inputs.MIX_PERIOD == 0 and b - a >= 4000
    mix = lambda s: sorted(row_kind(i) for i in range(s, s + 4000))  # noqa: E731
    assert mix(a) == mix(b)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "webbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


def test_without_the_program_it_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "webbench"), tmp_path / "webbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = _run(["--workload", "crawl_job", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path, timeout=170)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# differences of two timings: any sign, but never the 0 of a metric that
# was not measured
MAY_BE_NEGATIVE = {"fields.record_s", "validate.s", "trace.overhead_frac"}


@pytest.mark.parametrize("workload,trace", [("crawl_job", 0), ("crawl_job", 1), ("pdf_records", 1)])
def test_smoke_run(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "0", "--trace", str(trace),
              "--tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] == 3
    expect = PER_LAYER if trace else END_TO_END
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == expect
    assert all(isinstance(m["value"], float) for m in result["metrics"].values())
    for name, m in result["metrics"].items():
        if name in NOT_RUN[workload] and trace:
            assert m["value"] == 0, name
        elif name in MAY_BE_NEGATIVE:
            assert m["value"] != 0, name
        else:
            assert m["value"] > 0, name
    assert not os.path.exists(os.path.join(ROOT, "webbench", ".work"))


def test_compare_verdicts_follow_the_pair_rules():
    from webbench.compare import verdict

    base = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    assert verdict(base, [x * 1.10 for x in base], "higher", 0.24) == "better"
    assert verdict(base, [x * 0.70 for x in base], "higher", 0.24) == "worse"
    assert verdict(base, [x * 1.01 for x in base[::-1]], "higher", 0.24) == "same"
    noisy = [60.0, 140, 70, 130, 80, 120, 90, 110, 100, 100]
    assert verdict(noisy, noisy[::-1], "higher", 0.24) == "unresolved"
    assert verdict(base, [x * 1.10 for x in base], "lower", 0.24) == "worse"


def test_compare_refuses_runs_with_different_settings():
    from webbench.compare import settings_problems

    stamp = {"workload": "crawl_job", "seed": 1, "seconds": 15, "trace": 0, "nproc": 4,
             "bench_digest": "a", "input_rows": 2000, "input_bytes": 5}
    run = {"stamp": stamp, "correct": True, "failed": 0}
    assert settings_problems([run], [run]) == []
    other = {**run, "stamp": {**stamp, "nproc": 8}}
    assert settings_problems([run], [other])
    assert settings_problems([run], [{**run, "correct": False}])


def test_compare_accepts_two_workloads_per_side():
    from webbench.compare import settings_problems

    def run(workload, seed, rows):
        stamp = {"workload": workload, "seed": seed, "seconds": 15, "trace": 0, "nproc": 4,
                 "bench_digest": "a", "input_rows": rows, "input_bytes": seed * 7}
        return {"stamp": stamp, "correct": True, "failed": 0}

    side = [run("crawl_job", s, 2000) for s in (1, 2)] + [run("pdf_records", s, 160) for s in (1, 2)]
    assert settings_problems(side, side) == []
    odd = side[:-1] + [run("pdf_records", 2, 170)]
    assert settings_problems(side, odd)
