"""Scalar column-expression layer — reference functions X1-X16 as native
Catalyst expressions (SURVEY.md §2.7).

Every helper returns a ``Column`` built from ``pyspark.sql.functions`` only —
no Python UDFs — so the expressions stay inside whole-stage codegen and cost
nothing extra at 100 TB. Each cites the reference behavior it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def strip_whitespace(col: Column | str) -> Column:
    """X1 — drop tabs/newlines (ref: data_seoul_1_category.py:72,82
    ``.replace("\\t","").replace("\\n","")``)."""
    return F.regexp_replace(F.col(col) if isinstance(col, str) else col, r"[\t\n]", "")


def zero_pad(col: Column | str, width: int) -> Column:
    """X2 — zero-pad to fixed width (ref: data_seoul_2_csv_noopenapi.py:68-69
    ``str(id).rjust(6, "0")``). Unlike bare ``lpad``, never truncates inputs
    longer than ``width`` (rjust semantics)."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    return F.when(F.length(c) >= width, c).otherwise(F.lpad(c, width, "0"))


def staging_table_name(id_col: Column | str, prefix: str = "NLDATA_", width: int = 6) -> Column:
    """X2+X3 — derive the per-dataset staging-table name
    (ref: data_seoul_2_csv_noopenapi.py:68-69 ``"NLDATA_" + str(id).rjust(6,"0")``)."""
    return F.concat(F.lit(prefix), zero_pad(id_col, width))


def col_name(ordinal: Column | str, width: int = 3) -> Column:
    """X2+X3 — synthetic column name ``COL_<nnn>``
    (ref: data_seoul_3_csv.py:138 ``"COL_" + str(i).rjust(3,"0")``)."""
    return F.concat(F.lit("COL_"), zero_pad(ordinal, width))


def _quote(sep: str) -> str:
    import re

    return re.escape(sep)


def split_after(col: Column | str, sep: str) -> Column:
    """X5 — take the segment after a literal separator
    (ref: data_seoul_3_csv.py:93 ``url.split('/sample/xml/')[1]``).

    ``split()`` takes a regex, so the literal separator is escaped.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, _quote(sep)).getItem(1)


def replace_literal(col: Column | str, old: str, new_col: Column) -> Column:
    """X6 — substring replace with a computed replacement
    (ref: data_seoul_3_csv.py:95,97 ``url.replace("/sample/", f"/{key}/")``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _quote(old), new_col)


def ensure_trailing_slash(col: Column | str) -> Column:
    """X7 — append '/' unless already present (ref: data_seoul_3_csv.py:98-99)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.endswith("/"), c).otherwise(F.concat(c, F.lit("/")))


def drop_last_path_segments(col: Column | str, k: int) -> Column:
    """X8 — ``url.rsplit('/', k)[0]`` (ref: data_seoul_3_csv.py:101-106)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, r"(/[^/]*){%d}$" % k, "")


def camel_to_snake_upper(col: Column | str) -> Column:
    """X9+X10 — CamelCase → SNAKE_CASE (ref: data_seoul_3_csv.py:110-111
    ``re.sub(r'(?<!^)(?=[A-Z])', '_', s).upper()``).

    Implemented without lookaround (``([a-z0-9])([A-Z])`` capture form) so the
    identical pattern runs on engines whose regex is RE2-based; equivalent for
    inputs without leading underscores or consecutive caps mid-token.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.upper(F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2"))


def format_timestamp(col: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """X11 — render a timestamp in the reference's client-side format
    (ref: data_seoul_2_csv_noopenapi.py:71-72 ``strftime('%Y-%m-%d %H:%M:%S')``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_format(c, fmt)
