"""Nested-data operators — the heart of the reference (SURVEY §2.4).

The reference hand-rolls an O(n²) per-row explode
(/root/reference/Form700.py:354-383) and a row-apply array-of-struct
stringifier (Form700.py:306-323).  Both are linear, codegen'd built-ins
in Spark: ``explode_outer`` and higher-order array functions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stringify_structs(col: str | Column, fields: list[str], pair_sep: str = ",", item_sep: str = "|") -> Column:
    """Reference N2 ``flatten_json`` (Form700.py:306-323): each struct in
    an array becomes ``"k:v,k:v"``; structs joined by ``"|"``; empty
    string values become NULL first (Form700.py:314-315) and NULL/empty
    pairs are dropped from the output.

    Py2 dict iteration order was arbitrary; the engine defines the
    canonical order as the struct's declared field order (``fields``).
    Pure higher-order functions — no UDF.
    """
    c = F.col(col) if isinstance(col, str) else col

    def one_struct(s: Column) -> Column:
        pairs = [
            F.when(
                s.getField(f).cast("string").isNotNull() & (s.getField(f).cast("string") != ""),
                F.concat(F.lit(f + ":"), s.getField(f).cast("string")),
            )
            for f in fields
        ]
        return F.array_join(F.array(*pairs), pair_sep)  # array_join skips NULLs

    return F.array_join(F.transform(c, one_struct), item_sep)


def explode_outer_flat(df: DataFrame, field: str, prefix: str = "") -> DataFrame:
    """Reference E1 ``explodeGiftsAndProperties`` (Form700.py:354-383):
    one output row per array element with parent columns repeated; a
    parent with an empty/NULL array keeps one row of NULL children (the
    reference achieves this with a left merge on a synthetic index_col —
    ``explode_outer`` gives the same semantics in one linear pass).

    ``prefix`` reproduces E2 ``renameRealPropertyCols``
    (Form700.py:356-362): child columns become ``prefix + UpperCamel``.
    """
    exploded = df.withColumn("__x", F.explode_outer(F.col(field))).drop(field)
    child_fields = [f.name for f in exploded.schema["__x"].dataType.fields]
    child_cols = [
        F.col("__x").getField(f).alias(prefix_rename(f, prefix)) for f in child_fields
    ]
    # backticked parent refs: schema-CSV-driven tables may carry literal
    # dotted column names (loan.address) that a bare col() would misparse
    parent_cols = [F.col("`" + c + "`") for c in exploded.columns if c != "__x"]
    return exploded.select(*parent_cols, *child_cols)


def prefix_rename(name: str, prefix: str) -> str:
    """E2 (Form700.py:356-362): upper-camel the first letter, prepend
    the prefix (``fairMarketValue`` -> ``realPropertyFairMarketValue``)."""
    if not prefix:
        return name
    return prefix + name[0].upper() + name[1:]
