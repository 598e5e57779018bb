"""White-text record extraction as native Catalyst expressions.

Operators P1, T1–T4 and scalar functions F1–F4 of SURVEY.md §2 — NO
Python UDFs. Everything here is a Column expression over the
``meta_items`` array produced by the extraction stage, so Catalyst
folds, prunes, and codegens it.

Two reference-faithful modes:

- ``typed``  — the current parser (``src/services/pdfParser/
  metadata.ts:35-95`` + ``formatters.ts``): white-text filter
  (transform[0] == 0), ``||`` split, ``:`` KV fold (last-wins,
  colon-in-value truncated), typed formatters, empty/zero → NULL
  (JS ``|| undefined``).
- ``legacy`` — the parser the app actually calls
  (``src/services/pdfParser.ts:31-70``): marker-substring item locate,
  JS ``parseFloat`` prefix semantics (commas NOT stripped), missing →
  0 / '' defaults.

Quirks preserved on purpose (each cited):
- colon-in-value truncation: ``metadata.ts:60`` / ``pdfParser.ts:36``
  destructure only the first two ``:``-parts;
- ``formatZipCode('') == '00000'`` (``formatters.ts:38-41``);
- numeric 0 → undefined in typed mode (``metadata.ts:85``:
  ``numValue || undefined``).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import RECORD_FIELDS

# JS parseFloat: longest valid numeric prefix (after leading whitespace)
_FLOAT_PREFIX = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"


# ----------------------------------------------------------------------
# scalar formatters (F1–F4, formatters.ts:1-46)
# ----------------------------------------------------------------------
def format_number(value: Column, decimals: int = 2) -> Column:
    """F1: strip ``[^0-9.-]``, parseFloat, NaN→0, toFixed(d)."""
    stripped = F.regexp_replace(value.cast("string"), r"[^0-9.\-]", "")
    num = F.regexp_extract(stripped, _FLOAT_PREFIX, 0).try_cast("double")
    return F.round(F.coalesce(num, F.lit(0.0)), decimals)


def format_currency(value: Column) -> Column:
    """F2: F1 with 2 decimals (formatters.ts:43-46)."""
    return format_number(value, 2)


def format_zipcode(value: Column) -> Column:
    """F3: digit-strip, first 5, left-pad '0' (formatters.ts:38-41)."""
    return F.lpad(F.substring(F.regexp_replace(value.cast("string"), r"\D", ""), 1, 5), 5, "0")


def format_date(value: Column) -> Column:
    """F4: MM/DD/YYYY passthrough; ISO rearrange; generic parse; else as-is."""
    iso = F.split(value, "-")
    generic = F.coalesce(
        F.try_to_timestamp(value),
        F.try_to_timestamp(value, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(value, F.lit("M/d/yyyy")),
        F.try_to_timestamp(value, F.lit("MMMM d, yyyy")),
        F.try_to_timestamp(value, F.lit("MMM d, yyyy")),
    )
    return (
        F.when(value.rlike(r"^\d{2}/\d{2}/\d{4}$"), value)
        .when(
            value.rlike(r"^\d{4}-\d{2}-\d{2}$"),
            F.concat_ws("/", iso.getItem(1), iso.getItem(2), iso.getItem(0)),
        )
        .when(generic.isNotNull(), F.date_format(generic, "MM/dd/yyyy"))
        .otherwise(value)
    )


def js_parsefloat_or_zero(value: Column) -> Column:
    """Legacy numeric: ``parseFloat(value) || 0`` (pdfParser.ts:63) —
    longest numeric prefix, commas terminate the parse, NaN→0."""
    num = F.regexp_extract(F.ltrim(value), _FLOAT_PREFIX, 0).try_cast("double")
    return F.coalesce(F.nullif(num, F.lit(0.0)), F.lit(0.0))


# ----------------------------------------------------------------------
# P1 + T1: white-text filter and concat (metadata.ts:37-51)
# ----------------------------------------------------------------------
def whitetext_concat(items: Column) -> Column:
    filtered = F.filter(
        items,
        lambda x: (F.trim(x["str"]) != "")
        & (F.element_at(x["transform"], 1) == F.lit(0.0)),
    )
    return F.array_join(F.transform(filtered, lambda x: x["str"]), "")


def marker_item_str(items: Column) -> Column:
    """P2: legacy marker locate (pdfParser.ts:108-116) — the FIRST item
    whose str contains '||Name_of_Prospect:'."""
    found = F.filter(items, lambda x: x["str"].contains("||Name_of_Prospect:"))
    return F.when(F.size(found) > 0, found.getItem(0)["str"])


# ----------------------------------------------------------------------
# T2 + T3: record split and KV fold
# ----------------------------------------------------------------------
def record_map_typed(meta: Column) -> Column:
    """metadata.ts:56-64: split '||', keep ':'-fields, trim both parts,
    last-wins fold (needs spark.sql.mapKeyDedupPolicy=LAST_WIN)."""
    fields = F.filter(F.split(meta, r"\|\|"), lambda f: f.contains(":"))
    entries = F.transform(
        fields,
        lambda f: F.struct(
            F.trim(F.split(f, ":").getItem(0)).alias("key"),
            F.trim(F.coalesce(F.split(f, ":").getItem(1), F.lit(""))).alias("value"),
        ),
    )
    entries = F.filter(entries, lambda e: e["key"] != "")
    return F.map_from_entries(entries)


def record_map_legacy(meta: Column) -> Column:
    """pdfParser.ts:33-37: filter(Boolean), no trim before the key/value
    split, require BOTH key and value truthy (pre-trim)."""
    fields = F.filter(F.split(meta, r"\|\|"), lambda f: f != "")
    entries = F.transform(
        fields,
        lambda f: F.struct(
            F.split(f, ":").getItem(0).alias("key"),
            F.split(f, ":").getItem(1).alias("value"),
        ),
    )
    entries = F.filter(
        entries,
        lambda e: e["key"].isNotNull()
        & (e["key"] != "")
        & e["value"].isNotNull()
        & (e["value"] != ""),
    )
    return F.map_from_entries(entries)


# ----------------------------------------------------------------------
# T4: typed projection
# ----------------------------------------------------------------------
_LEGACY_TEXT_KEYS = {
    "Name_of_Prospect", "Address_of_Property", "Zip_Code", "Date_of_Purchase",
    "Tax_Deadline_Quote", "Type_of_Property_Quote", "CapEx_Date",
}


def typed_field(fmap: Column, key: str, kind: str) -> Column:
    """metadata.ts:72-92 dispatch. ``fields[key] || ''`` then formatter,
    then JS falsy → NULL."""
    value = F.coalesce(F.element_at(fmap, F.lit(key)), F.lit(""))
    if kind == "text":
        return F.nullif(value, F.lit(""))
    if kind == "zipcode":
        return F.nullif(format_zipcode(value), F.lit(""))
    if kind in ("number", "currency"):
        num = format_currency(value) if kind == "currency" else format_number(value, 0)
        return F.nullif(num, F.lit(0.0))
    if kind == "date":
        return F.nullif(format_date(value), F.lit(""))
    raise ValueError(f"unknown field kind {kind}")


def legacy_field(fmap: Column, key: str, kind: str) -> Column:
    """pdfParser.ts:38-65: text keys trimmed, numerics parseFloat||0,
    missing → '' / 0 defaults (the pre-seeded record at :78-101)."""
    value = F.element_at(fmap, F.lit(key))
    if key in _LEGACY_TEXT_KEYS:
        return F.coalesce(F.trim(value), F.lit(""))
    return F.when(value.isNull(), F.lit(0.0)).otherwise(js_parsefloat_or_zero(value))


@lru_cache(maxsize=None)
def _record_columns(legacy: bool) -> Tuple[Column, Column, Tuple[Column, ...]]:
    """(meta_string, _fmap, the 22 record columns) for one mode, built
    once per process: building them costs hundreds of py4j round trips,
    and Columns are immutable, so every DataFrame can share them."""
    items = F.col("meta_items")
    if legacy:
        meta = marker_item_str(items)
        fmap = record_map_legacy(meta)
        cols = [legacy_field(F.col("_fmap"), k, kind).alias(k) for k, kind in RECORD_FIELDS]
    else:
        meta = whitetext_concat(items)
        fmap = record_map_typed(meta)
        cols = [typed_field(F.col("_fmap"), k, kind).alias(k) for k, kind in RECORD_FIELDS]
    return meta, fmap, tuple(cols)


def extract_record(extracted: DataFrame, mode: str = "typed") -> DataFrame:
    """EXTRACT_SCHEMA rows → + ``meta_string`` + the 22 record columns.

    Pure select over ``meta_items``; no shuffle, no Python.
    """
    meta, fmap, cols = _record_columns(mode == "legacy")
    base = extracted.withColumn("meta_string", meta).withColumn("_fmap", fmap)
    out = base.select("*", *cols).drop("_fmap")
    return out
