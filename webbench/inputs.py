"""Seeded benchmark inputs and their goldens.

Every input is a pure function of the workload, the seed and the size. The
program sees only the parquet files written here; the goldens stay in
the benchmark process.

Document-index windows. The synthetic corpus is index-keyed: page ``i``
is a PDF, HTML or corrupt blob by ``i % 20``, a jumbo PDF when
``i % 1000 == 999``, and a quote PDF's structure rotates with
``i % 8`` (variant), ``(i // 8) % 3`` (embedded TrueType style) and
``(i // 8) % 2`` (embedded Type1 flavour). The least common multiple of
those periods (20, 1000, 8, 24, 16) is 6,000, so a window that starts on
a multiple of 6,000 has the same document mix for every seed. Seed ``s``
takes window ``s``; windows never overlap.
"""

from __future__ import annotations

import datetime as dt
import os
from typing import Dict, List, Tuple

MIX_PERIOD = 6000


def window_start(seed: int, n: int) -> int:
    """First document index of seed ``seed``'s window of ``n`` documents."""
    stride = MIX_PERIOD * max(1, -(-n // MIX_PERIOD))
    return (seed % 100_000) * stride


# ----------------------------------------------------------------------
# crawl_job: the mixed crawl page table
# ----------------------------------------------------------------------
def write_crawl_pages(path: str, seed: int, n_pages: int) -> Dict[str, dict]:
    """Write ``n_pages`` crawl pages with the repo's default row-group
    layout and return ``url -> golden`` (kind, doc index, text)."""
    from pdf_parser_spark.synth.pages import (
        build_pages_rows,
        row_kind,
        write_pages_parquet,
    )

    start = window_start(seed, n_pages)
    write_pages_parquet(path, n_pages, start=start)
    goldens = {}
    for i, row in zip(range(start, start + n_pages), build_pages_rows(n_pages, start=start)):
        goldens[row["url"]] = {"kind": row_kind(i), "index": i, "text": row["text"]}
    return goldens


# ----------------------------------------------------------------------
# pdf_records: multi-page quote PDFs sharing one font resource set
# ----------------------------------------------------------------------
PDF_URL = "https://records.bench.test/doc/{}"


def make_record_pdf(i: int, n_pages: int) -> Tuple[bytes, str]:
    """Quote PDF ``i`` with ``n_pages`` pages. Every page draws with the
    /ToUnicode font F2, the embedded TrueType F3 and the embedded
    Type1/CFF F4, all from one /Resources set; page 1 carries the
    white-text metadata record. Returns (pdf bytes, golden text)."""
    from pdf_parser_spark.synth.pdfgen import PdfBuilder, quote_metadata_string

    variant = i % 8
    b = PdfBuilder(
        compress=variant in (1, 3, 5, 7),
        xref_stream=variant in (2, 5, 6),
        objstm=variant == 5,
        embedded_fonts={
            "tt_style": ("mac0", "sym4", "fmt6")[(i // 8) % 3],
            "tt_std_names": bool((i // 8) % 2),
            "t1_flavor": ("type1", "cff")[(i // 8) % 2],
        },
    )
    for p in range(n_pages):
        pg = b.new_page()
        pg.text(72, 740, f"RCG Valuation Quote #{i} page {p + 1} of {n_pages}")
        pg.text_lines(
            72, 712,
            [f"Prepared for Prospect {i} LLC", "Cost Segregation Analysis",
             f"Schedule section {p + 1}"],
            style=["TD", "Tstar", "quote"][(i + p) % 3],
        )
        pg.tj(72, 650, ["Quote", -250, "Summary", -40, ":", -250, f"#{i}"])
        pg.text(72, 620, f"Euro € and ﬁne ligature {i} page {p + 1}", font="F2")
        pg.text(72, 600, f"Embedded TrueType € run #{i} {p + 1}", font="F3")
        pg.text(72, 580, f"Embedded Type1 € run #{i} {p + 1}", font="F4")
        pg.text_lines(
            72, 550,
            [f"Line {ln} of page {p + 1} with depreciation detail {i}" for ln in range(6)],
        )
        if p == 0:
            pg.white_text(quote_metadata_string(i))
    return b.build(), b.golden_doc_text()


def write_record_pages(path: str, seed: int, n_docs: int, n_pages: int) -> Dict[str, dict]:
    """Write the pdf_records input table and return ``url -> golden``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    epoch = dt.datetime(2024, 1, 1)
    start = window_start(seed, n_docs)
    rows, goldens = [], {}
    for i in range(start, start + n_docs):
        blob, text = make_record_pdf(i, n_pages)
        url = PDF_URL.format(i)
        rows.append({"url": url, "warc_ts": epoch + dt.timedelta(seconds=i),
                     "html": blob, "text": text, "lang": "en"})
        goldens[url] = {"kind": "pdf", "index": i, "text": text}
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
    return goldens


# ----------------------------------------------------------------------
# the query layer: orders / lineitem / customer in the sf0.01 shape
# ----------------------------------------------------------------------
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _days(rng, first: str, n_days: int, size: int):
    import numpy as np

    base = np.datetime64(first, "us")
    return base + rng.integers(0, n_days + 1, size).astype("timedelta64[D]").astype("timedelta64[us]")


def write_query_tables(out_dir: str, seed: int) -> Dict[str, int]:
    """Write customer/orders/lineitem parquet files shaped like the
    repo's sf0.01 test data (1.5k/15k/60k rows). Returns the row count
    per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_ord, n_li, n_part, n_supp = 1_500, 15_000, 60_000, 2_000, 100
    keys = np.arange(n_cust, dtype=np.int64)
    customer = pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys.tolist()],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    os.makedirs(out_dir, exist_ok=True)
    tables = {"customer": customer, "orders": orders, "lineitem": lineitem}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def tree_bytes(path: str) -> int:
    """Total size of the files under ``path`` (or of the file itself)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def metadata_fields(i: int) -> Dict[str, str]:
    """``key -> value`` of quote ``i``'s white-text record, parsed here
    (not by the program) from ``quote_metadata_string``."""
    from pdf_parser_spark.synth.pdfgen import quote_metadata_string

    out = {}
    for part in quote_metadata_string(i).split("||"):
        if ":" in part:
            k, v = part.split(":", 1)
            out[k.strip()] = v.strip()
    return out


def text_record_fields() -> List[str]:
    return ["Name_of_Prospect", "Address_of_Property", "Type_of_Property_Quote",
            "Tax_Deadline_Quote"]
