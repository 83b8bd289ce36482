"""Column-level constructors and accessors for the typed field-value struct.

All JVM-side (pyspark.sql.functions only) — these appear in every hot path,
so no Python UDFs here.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def fv(col: Column, vtype: str, lang: Column | None = None, quad: Column | None = None) -> Column:
    """Build one field-value struct from a source column.

    Keeps the lexical form in `value` and parses typed shadows so range
    predicates are type-correct (reference: `fieldType()` dispatch,
    FTSService.scala:280-300, and the ES dynamic templates that map mangle
    prefixes to typed index fields)."""
    lang_c = lang if lang is not None else F.lit(None).cast("string")
    quad_c = quad if quad is not None else F.lit(None).cast("string")
    if vtype in ("i", "l", "f", "w"):
        num = col.cast("double")
        ts = F.lit(None).cast("timestamp")
        boolean = F.lit(None).cast("boolean")
        value = col.cast("string")
    elif vtype == "d":
        num = F.lit(None).cast("double")
        ts = col.cast("timestamp")
        boolean = F.lit(None).cast("boolean")
        value = F.date_format(col.cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    elif vtype == "b":
        num = F.lit(None).cast("double")
        ts = F.lit(None).cast("timestamp")
        boolean = col.cast("boolean")
        value = col.cast("string")
    else:  # 's' — string / reference / external
        num = F.lit(None).cast("double")
        ts = F.lit(None).cast("timestamp")
        boolean = F.lit(None).cast("boolean")
        value = col.cast("string")
    return F.struct(
        value.alias("value"),
        F.lit(vtype).alias("vtype"),
        lang_c.alias("lang"),
        quad_c.alias("quad"),
        num.alias("num"),
        ts.alias("ts"),
        boolean.alias("bool"),
    )


def single(col: Column, vtype: str, lang: Column | None = None, quad: Column | None = None) -> Column:
    """A single-valued field: array of one value struct (values are SETS in
    the model — Infoton.scala:77 — so even scalars are arrays)."""
    return F.when(col.isNotNull(), F.array(fv(col, vtype, lang, quad))).otherwise(
        F.lit(None).cast(f"array<struct<value:string,vtype:string,lang:string,quad:string,num:double,ts:timestamp,bool:boolean>>")
    )


# ---- accessors (used by sort, projection, formatters) ----------------------


def field_values(name: str) -> Column:
    return F.col("fields").getItem(name)


def first_value(name: str) -> Column:
    """Lexical form of the first value of a field (single-valued access)."""
    return F.element_at(field_values(name), 1)["value"]


def first_num(name: str) -> Column:
    return F.element_at(field_values(name), 1)["num"]


def first_ts(name: str) -> Column:
    return F.element_at(field_values(name), 1)["ts"]
