"""Validation battery as native ``F.when`` predicates (P6/P7, SURVEY §2.2).

Builds an ``errors: array<struct<field,message>>`` column plus an
``is_valid`` flag instead of throwing — the Spark-shaped equivalent of
the reference's throw/continue control flow
(``src/services/pdfParser/index.ts:45-83``).

Reference quirk reproduced behind a flag: ``validators.ts:7-14``
requires a field named ``Type_of_Property`` which does not exist in
the record schema (the real key is ``Type_of_Property_Quote``,
``src/types/index.ts:23``), so the strict validator ALWAYS emits that
error — with ``throwOnMissingFields`` every page fails and parsePDF
default options can never succeed. ``strict_quirk=True`` preserves
this observable behavior; ``False`` checks the real key.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# JS-falsy test per field type: strings '' / null, numbers 0 / null
_REQUIRED_TYPED = [
    "Name_of_Prospect",
    "Address_of_Property",
    "Zip_Code",
    "Purchase_Price",
    # 'Type_of_Property' handled via strict_quirk
    "CapEx_Date",
]

_NUMERIC_FIELDS = [
    "Purchase_Price", "Capital_Improvements_Amount", "Building_Value",
    "Know_Land_Value", "SqFt_Building", "Acres_Land", "Year_Built",
    "Bid_Amount_Original", "Pay_Upfront", "Pay_50_50_Amount",
    "Pay_Over_Time", "Rush_Fee", "Multiple_Properties_Quote",
    "First_Year_Bonus_Quote", "Tax_Year",
]

_REQUIRED_LEGACY = ["Name_of_Prospect", "Address_of_Property", "Purchase_Price"]


def _err(field: str, message: str) -> Column:
    return F.struct(F.lit(field).alias("field"), F.lit(message).alias("message"))


def _falsy(col: Column) -> Column:
    # typed-mode fields are already NULL when JS-falsy (fields.py), but
    # accept raw '' / 0 too so this works on any record source
    return col.isNull() | (col.cast("string") == "") | (col.try_cast("double") == 0.0)


def validation_errors(mode: str = "typed", strict_quirk: bool = True) -> Column:
    """Column expression: array of validation errors for a record row."""
    errs = []
    if mode == "legacy":
        # pdfParser.ts:127-133
        for f in _REQUIRED_LEGACY:
            errs.append(
                F.when(_falsy(F.col(f)), F.array(_err(f, f"Required fields missing: {f}")))
                .otherwise(F.array().cast("array<struct<field:string,message:string>>"))
            )
    else:
        # validateRequiredFields (validators.ts:5-26)
        for f in _REQUIRED_TYPED:
            errs.append(
                F.when(_falsy(F.col(f)), F.array(_err(f, f"{f} is required")))
                .otherwise(F.array().cast("array<struct<field:string,message:string>>"))
            )
        if strict_quirk:
            # 'Type_of_Property' is not a record key → always required-error
            errs.append(F.array(_err("Type_of_Property", "Type_of_Property is required")))
        else:
            errs.append(
                F.when(
                    _falsy(F.col("Type_of_Property_Quote")),
                    F.array(_err("Type_of_Property_Quote", "Type_of_Property_Quote is required")),
                ).otherwise(F.array().cast("array<struct<field:string,message:string>>"))
            )
        # validateFieldFormats (validators.ts:28-77)
        zip_col = F.col("Zip_Code")
        zip_clean = F.lpad(F.substring(F.regexp_replace(zip_col, r"\D", ""), 1, 5), 5, "0")
        errs.append(
            F.when(
                zip_col.isNotNull() & (zip_col != "") & (zip_clean != zip_col),
                F.array(_err("Zip_Code", "Invalid zip code format")),
            ).otherwise(F.array().cast("array<struct<field:string,message:string>>"))
        )
        for f in _NUMERIC_FIELDS:
            errs.append(
                F.when(
                    F.col(f).isNotNull() & (F.col(f) < 0),
                    F.array(_err(f, f"{f} cannot be negative")),
                ).otherwise(F.array().cast("array<struct<field:string,message:string>>"))
            )
        capex = F.col("CapEx_Date")
        capex_parsed = F.coalesce(
            F.try_to_timestamp(capex, F.lit("MM/dd/yyyy")),
            F.try_to_timestamp(capex),
        )
        errs.append(
            F.when(
                capex.isNotNull() & (capex != "") & capex_parsed.isNull(),
                F.array(_err("CapEx_Date", "Invalid date format for CapEx_Date")),
            ).otherwise(F.array().cast("array<struct<field:string,message:string>>"))
        )
    return F.flatten(F.array(*errs))


@lru_cache(maxsize=None)
def _validation_columns(mode: str, strict_quirk: bool) -> Tuple[Column, Column]:
    """(validation_errors, is_valid), built once per process per
    (mode, strict_quirk): Columns are immutable and rebuilding the
    battery costs hundreds of py4j round trips per call."""
    return validation_errors(mode, strict_quirk), F.size(F.col("validation_errors")) == 0


def with_validation(records: DataFrame, mode: str = "typed", strict_quirk: bool = True) -> DataFrame:
    errs, is_valid = _validation_columns(mode, strict_quirk)
    return records.withColumn("validation_errors", errs).withColumn("is_valid", is_valid)
