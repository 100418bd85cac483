"""Display layer: per-dtype cell formatting + alignment + pagination.

Parity targets: the reference's cell formatter and alignment map
(reference: src/data_container.rs:466-543 render path, 508-543 decimal
formatting; src/data_format.rs:15-46 DEFAULT_ALIGNMENTS; NULL renders as
empty string per src/data_container.rs:522-523) and its O(visible-rows)
virtual scrolling (src/data_container.rs:666-671), whose distributed
analogue is offset/limit pagination — only the visible page crosses the
driver boundary, never the frame.

Strictly out of the data plane: formatting happens on already-collected
Row objects.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame

from polars_view_spark.config import Alignment, ViewConfig


def _base_type(simple: str) -> str:
    return simple.split("(")[0]


# format-special: columns whose NAME contains one of these markers render
# floats with 4 decimals and center-aligned, overriding the per-dtype rules
# (reference: src/decimal_and_layout_v2.rs:10-11 COL_SPECIAL/COL_DECIMAL,
# 20-50 get_decimal_and_layout).
SPECIAL_COLUMN_MARKERS = ("Alíq", "Aliq")
SPECIAL_COLUMN_DECIMALS = 4


def is_special_column(column_name: str) -> bool:
    return any(m in column_name for m in SPECIAL_COLUMN_MARKERS)


def format_value(value, dtype_simple: str, cfg: ViewConfig, column_name: str = "") -> str:
    """One cell → display string.  NULL → '' (reference behavior)."""
    if value is None:
        return ""
    base = _base_type(dtype_simple)
    if base in ("float", "double"):
        decimals = (
            SPECIAL_COLUMN_DECIMALS if is_special_column(column_name) else cfg.float_decimals
        )
        return f"{value:.{decimals}f}"
    if base == "timestamp" or base == "timestamp_ntz":
        return value.strftime("%Y-%m-%d %H:%M:%S") if isinstance(value, _dt.datetime) else str(value)
    if base == "date":
        return value.isoformat() if isinstance(value, _dt.date) else str(value)
    if base == "binary":
        return f"<{len(value)} bytes>"
    return str(value)


def alignment_for(dtype_simple: str, cfg: ViewConfig, column_name: str = "") -> Alignment:
    if is_special_column(column_name) and _base_type(dtype_simple) in ("float", "double"):
        return Alignment.CENTER
    return cfg.alignments.get(_base_type(dtype_simple), Alignment.LEFT)


def format_page(
    df: DataFrame,
    cfg: ViewConfig | None = None,
    offset: int = 0,
    limit: int = 50,
) -> list[list[str]]:
    """Collect ONE page of formatted cells (header row first).

    The offset/limit runs inside Spark (monotonic pagination via a windowed
    offset would shuffle; for a viewer page, ``offset`` + ``limit`` on the
    current plan is the right cost model — Spark pushes the limit down).
    """
    cfg = cfg or ViewConfig()
    dtypes = [f.dataType.simpleString() for f in df.schema.fields]
    page = df.offset(offset).limit(limit).collect() if offset else df.limit(limit).collect()
    rows = [[str(c) for c in df.columns]]
    for row in page:
        rows.append(
            [format_value(v, t, cfg, n) for v, t, n in zip(row, dtypes, df.columns)]
        )
    return rows
