"""Schema-driven cleaning/casting expressions — reference parity.

Rebuilds the reference's ``cleanDataSet`` column pipeline
(/root/reference/Form700.py:246-298) as composable Column expressions.
The reference interprets a per-column type map (text/number/checkbox/
date, SURVEY §1.3) and applies row-at-a-time pandas casts; here each
declared type compiles once into a Catalyst expression, so the whole
clean pass is a single projected ``select`` inside whole-stage codegen
— no Python per row, and the same expression tree scales to any number
of executors.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def qcol(name: str) -> Column:
    """Column ref for a LITERAL column name.  The reference's schema
    CSVs carry dotted field names (``loan.address``,
    /root/reference/form700_schemas/form700_scheduleB_schema.csv:20-30)
    — a bare ``F.col`` would parse the dot as struct access."""
    return F.col("`" + name + "`")


def number_cast(col: str | Column) -> Column:
    """Reference 'number' cast (Form700.py:261-273): stringify, replace
    every letter and ``%`` with ``'0'`` (letters become zeros *inside*
    the number — that is the reference's documented, if odd, semantics),
    then parse; unparseable values and NULLs become 0.

    The reference tries int first and falls back to a float column; we
    normalize the output type to double (one engine type per declared
    type).  DuckDB oracle mirror:
    ``coalesce(TRY_CAST(regexp_replace(CAST(x AS VARCHAR), '[a-zA-Z%]', '0', 'g') AS DOUBLE), 0.0)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(c.cast("string"), "[a-zA-Z%]", "0")
    # try_cast, not cast: Spark 4 runs ANSI mode, where a malformed cast
    # throws; the reference's semantics are "unparseable -> 0".
    return F.coalesce(cleaned.try_cast("double"), F.lit(0.0))


def text_cast(col: str | Column, ascii_compat: bool = False) -> Column:
    """Reference 'text' cast (Form700.py:274-279): NULL -> '' then
    stringify.  The Py2 ascii-backslashreplace fallback is moot on
    UTF-8-native Spark — UTF-8 text flows through unmangled by default;
    ``ascii_compat=True`` opts into the byte-faithful reference
    behavior via :func:`ascii_translit` for consumers that require the
    legacy escaped form."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.coalesce(c.cast("string"), F.lit(""))
    return ascii_translit(out) if ascii_compat else out


def ascii_translit(col: str | Column) -> Column:
    """Reference C6 ``castAscii`` (Form700.py:291-294): Python 2's
    ``unicode.encode('ascii', 'backslashreplace')`` — every non-ASCII
    code point becomes its ``\\xHH`` / ``\\uHHHH`` / ``\\UHHHHHHHH``
    escape, ASCII passes through.  Pure built-in expression (per-code-
    point transform + hex), codegen'd JVM-side; unit-tested char-exact
    against CPython's backslashreplace output, including astral-plane
    code points.  Off by default: Spark is UTF-8-native, so the engine
    only applies this when a consumer opts into the legacy bytes form
    (``text_cast(..., ascii_compat=True)``)."""
    c = F.col(col) if isinstance(col, str) else col

    def _escape(ch: Column) -> Column:
        cp = F.ascii(ch)  # full code point of the single-char element
        hx = F.lower(F.hex(cp))
        return (
            F.when(cp.between(0, 127), ch)
            .when(cp < 256, F.concat(F.lit("\\x"), F.lpad(hx, 2, "0")))
            .when(cp < 65536, F.concat(F.lit("\\u"), F.lpad(hx, 4, "0")))
            .otherwise(F.concat(F.lit("\\U"), F.lpad(hx, 8, "0")))
        )

    return F.concat_ws("", F.transform(F.split(c, ""), _escape))


def checkbox_cast(col: str | Column) -> Column:
    """Reference 'checkbox' cast (Form700.py:280-284): NULL -> False."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(c.cast("boolean"), F.lit(False))


def date_cast_yyyymmdd(col: str | Column, compat: bool = False) -> Column:
    """Reference 'date' cast.  The reference's date branch is commented
    out (Form700.py:285-288) so dates flow through as text; ``compat=True``
    reproduces that.  The engine default does the cast properly."""
    c = F.col(col) if isinstance(col, str) else col
    if compat:
        return text_cast(c)
    return F.to_date(c.cast("string"), "yyyyMMdd")


def strip_newlines(col: str | Column) -> Column:
    """Reference ``removeNewLines`` (Form700.py:296-298): whole-frame
    regex replace of ``\\n`` with ``''`` — applied per string column here."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, "\n", "")


_SNAKE_1 = re.compile(r"([A-Z]+)([A-Z][a-z])")
_SNAKE_2 = re.compile(r"([a-z\d])([A-Z])")


def snake_case(name: str) -> str:
    """Reference column rename (Form700.py:464-468): drop dots, then
    ``inflection.underscore`` camelCase -> snake_case.  Reimplemented
    from the published inflection algorithm (public PyPI package)."""
    name = name.replace(".", "")
    name = _SNAKE_1.sub(r"\1_\2", name)
    name = _SNAKE_2.sub(r"\1_\2", name)
    return name.replace("-", "_").lower()


def titleize(name: str) -> str:
    """C10 display-name titleize (Form700.py:201): the reference's
    schema bootstrap runs ``inflection.titleize`` over each inferred
    fieldName to propose a human column name.  Reimplemented from the
    published inflection algorithm (underscore -> humanize -> capitalize
    words).  Faithful quirk: humanize strips a trailing ``_id``, so
    ``filingId`` -> ``Filing`` — the reference's curated CSVs show a
    human later fixed those to e.g. ``Filing Id``; the CSV ``name``
    column stays authoritative for the sink DDL."""
    word = snake_case(name)  # inflection.underscore equivalent for our inputs
    word = re.sub(r"_id$", "", word).replace("_", " ")
    word = re.sub(r"^\w", lambda m: m.group(0).upper(), word)
    return re.sub(r"\b('?[a-z])", lambda m: m.group(1).capitalize(), word)


def schema_projection(df: DataFrame, fieldnames: list[str]) -> DataFrame:
    """Reference P1 (Form700.py:253): select exactly the declared schema
    columns, in schema order; extras dropped, missing columns raise."""
    missing = [f for f in fieldnames if f not in df.columns]
    if missing:
        raise KeyError(f"schema projection: missing columns {missing}")
    return df.select(*(qcol(f) for f in fieldnames))


def cast_column(col: str | Column, decl: str, date_compat: bool = False) -> Column:
    """Reference ``castFields`` (Form700.py:259-289) for one column: the
    cast its declared schema type (text/number/checkbox/date) calls for;
    ``date_compat`` keeps dates as text like the reference does."""
    if decl == "number":
        return number_cast(col)
    if decl == "text":
        return text_cast(col)
    if decl == "checkbox":
        return checkbox_cast(col)
    if decl == "date":
        return date_cast_yyyymmdd(col, compat=date_compat)
    raise ValueError(f"unknown declared type {decl!r}")
