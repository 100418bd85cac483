"""Cumulative multi-column sort with explicit null placement.

Parity target: reference src/data_container.rs:247-309 + src/sort.rs.
Each criterion carries {column, ascending, nulls_last}; precedence is list
order; the reference sorts with ``maintain_order=true`` (stable).

Spark's distributed sort is NOT stable, so stability is emulated by
appending a contiguous row index as the final tiebreaker key — the
documented approach from SURVEY.md §7.4 item 2.  A view that already carries
one (the viewer's pinned index) passes it as ``tiebreak``; otherwise one is
materialized when ``stable=True`` (the default, to match the reference).

Scale note: ``orderBy`` is a range-partitioned total sort — Spark samples
key ranges and shuffles once; AQE handles skewed ranges.  This is exactly
what you want at 100 TB; no custom partitioner needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_view_spark.config import SortBy
from polars_view_spark.operators.rowindex import add_row_index

_TIEBREAK = "__pvs_stable_order__"


def _key(sb: SortBy) -> Column:
    col = F.col(f"`{sb.column_name}`")
    if sb.ascending:
        return col.asc_nulls_last() if sb.nulls_last else col.asc_nulls_first()
    return col.desc_nulls_last() if sb.nulls_last else col.desc_nulls_first()


def apply_sort(
    df: DataFrame, criteria: list[SortBy], stable: bool = True, tiebreak: str | None = None
) -> DataFrame:
    """Sort ``df`` by ``criteria`` in precedence order; ``tiebreak`` names a
    column rising in ``df``'s row order (a pinned row index) that breaks
    ties without a re-index.  Empty criteria → ``df`` unchanged (the
    container handles the rebuild-from-original of the reference's reset).
    """
    if not criteria:
        return df
    keys = [_key(sb) for sb in criteria]
    if not stable:
        return df.orderBy(*keys)
    if tiebreak is not None:
        return df.orderBy(*keys, F.col(f"`{tiebreak}`").asc())
    tagged = add_row_index(df, _TIEBREAK, 0)
    return tagged.orderBy(*keys, F.col(f"`{_TIEBREAK}`").asc()).drop(_TIEBREAK)
