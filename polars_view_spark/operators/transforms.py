"""The six pipeline transforms + float rounding, as pure
``DataFrame -> DataFrame`` functions, plus the pipeline composer.

Parity targets: reference src/polars/{drop,normalize,replace,remove,add}.rs
and src/polars/transforms.rs.  Fixed pipeline order (reference:
src/data_container.rs:153-190):

    drop-columns → normalize → replace-nulls (always on) → SQL
    → remove-null-columns → add-row-index

Up to SQL everything composes into ONE lazy plan — unlike the reference,
which eagerly materializes between stages, Catalyst sees the whole pipeline
and pushes filters/projections into the file scan.  The row index pins the
view with one eager checkpoint, and the null-column drop rides on it.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from polars_view_spark.config import LoadConfig, validate_pattern
from polars_view_spark.errors import InvalidDataTypeForRegexError


def _matched_columns(columns: list[str], pattern: str) -> list[str]:
    """Columns matching the shared regex contract: ``*`` = all, else
    full-name match of an anchored ``^…$`` regex."""
    validate_pattern(pattern)
    if pattern == "*":
        return list(columns)
    compiled = re.compile(pattern)
    return [c for c in columns if compiled.fullmatch(c)]


def drop_columns_by_regex(df: DataFrame, pattern: str) -> DataFrame:
    """Drop columns whose full name matches ``pattern``.

    Reference 3-way semantics (src/polars/drop.rs:24-90): ``*`` drops ALL
    columns (a 0-column, 0-row frame); no match → unchanged; partial match →
    drop the matched ones.
    """
    matched = _matched_columns(df.columns, pattern)
    if not matched:
        return df
    if len(matched) == len(df.columns):
        # 0×0 frame: no columns AND no rows (src/polars/drop.rs:77-82).
        return df.select().limit(0)
    return df.drop(*matched)


def euro_to_double(col: F.Column) -> F.Column:
    """Euro-formatted number string → double.

    Strip ``.`` (thousands separators), swap ``,`` → ``.`` (decimal), cast;
    unparseable → null (reference expr chain: src/polars/normalize.rs:125-137).
    ``try_cast`` (not ``cast``) because Spark 4 runs ANSI mode by default,
    where a plain cast THROWS on malformed input instead of yielding null.
    """
    return F.replace(F.replace(col, F.lit("."), F.lit("")), F.lit(","), F.lit(".")).try_cast(
        "double"
    )


def normalize_float_strings_by_regex(df: DataFrame, pattern: str) -> DataFrame:
    """Normalize euro-number *string* columns matching ``pattern`` to double.

    A matched non-string column is an ERROR, not a skip (reference:
    src/polars/normalize.rs:100-107) — tested behavior.
    """
    matched = set(_matched_columns(df.columns, pattern))
    if not matched:
        return df
    types = dict(df.dtypes)
    for c in sorted(matched):
        if types[c] != "string":
            raise InvalidDataTypeForRegexError(c, types[c])
    return df.select(
        *[euro_to_double(F.col(c)).alias(c) if c in matched else F.col(c) for c in df.columns]
    )


def replace_values_with_null(
    df: DataFrame, markers: list[str], all_columns: bool = False
) -> DataFrame:
    """Trim each value and NULL it when it equals one of ``markers``.

    Two modes (reference: src/polars/replace.rs:37-135):

    - string mode (pipeline default): only StringType columns compared;
    - universal mode (``all_columns=True``): every column cast to string for
      the comparison, original value kept otherwise.  Note Spark's
      ``cast('string')`` of ``999.0`` is ``"999.0"`` (not ``"999"``) — same
      distinction the reference pins in src/polars/replace.rs:346-352.
    """
    if not markers:
        return df
    marker_lits = [F.lit(m) for m in markers]
    cols = []
    for c, dtype in df.dtypes:
        col = F.col(c)
        if dtype == "string":
            cond = F.trim(col).isin(*marker_lits)
        elif all_columns:
            cond = F.trim(col.cast("string")).isin(*marker_lits)
        else:
            cols.append(col)
            continue
        cols.append(F.when(cond, F.lit(None)).otherwise(col).alias(c))
    return df.select(*cols)


def remove_null_columns(df: DataFrame) -> DataFrame:
    """Keep only columns with at least one non-null value.

    One aggregate pass computes all counts simultaneously (map-side partial
    aggregation; no per-column jobs).  Reference edge pinned: a zero-row
    frame drops ALL columns (src/polars/remove.rs:157-180).
    """
    if not df.columns:
        return df
    counts = df.select(
        *[F.count(F.col(c)).alias(f"c{i}") for i, c in enumerate(df.columns)]
    ).first()
    keep = [c for i, c in enumerate(df.columns) if counts[f"c{i}"] > 0]
    if len(keep) == len(df.columns):
        return df
    if not keep:
        return df.select().limit(0)
    return df.select(*keep)


def run_sql(
    df: DataFrame, query: str, table_name: str = "AllData", spark: SparkSession | None = None
) -> DataFrame:
    """Register ``df`` as ``table_name`` and execute one SQL statement
    (reference: src/polars/transforms.rs:81-94), after passing the query
    through the dialect shim (SELECT * EXCEPT/RENAME/REPLACE, STRFTIME,
    ILIKE, double-quoted identifiers — SURVEY.md §2C flags)."""
    from polars_view_spark.plans.dialect import rewrite_query

    spark = spark or df.sparkSession
    df.createOrReplaceTempView(table_name)
    return spark.sql(rewrite_query(query, spark, table_name))


def round_float_columns(df: DataFrame, decimals: int) -> DataFrame:
    """Round every float/double column; HALF_UP = half-away-from-zero,
    matching the reference (src/traits.rs:344-359)."""
    return df.select(
        *[
            F.round(F.col(c), decimals).alias(c) if t in ("float", "double") else F.col(c)
            for c, t in df.dtypes
        ]
    )


def build_pipeline(cfg: LoadConfig) -> list[Callable[[DataFrame], DataFrame]]:
    """Assemble the transform list from config flags in the reference's
    fixed order (src/data_container.rs:153-190)."""
    stages: list[Callable[[DataFrame], DataFrame]] = []
    if cfg.drop and cfg.drop_regex:
        stages.append(lambda df: drop_columns_by_regex(df, cfg.drop_regex))
    if cfg.normalize and cfg.normalize_regex:
        stages.append(lambda df: normalize_float_strings_by_regex(df, cfg.normalize_regex))
    # Replace-nulls is ALWAYS on in the reference pipeline
    # (src/polars/transforms.rs:62-76), string-columns-only mode.
    stages.append(lambda df: replace_values_with_null(df, cfg.null_marker_list))
    if cfg.apply_sql and cfg.query.strip():
        stages.append(lambda df: run_sql(df, cfg.query, cfg.table_name))
    if cfg.add_row_index:
        from polars_view_spark.operators.rowindex import add_row_index

        # remove-null-columns rides on the index's aggregate: one pass, not two
        stages.append(
            lambda df: add_row_index(
                df, cfg.row_index_name, cfg.row_index_offset, cfg.exclude_null_cols
            )
        )
    elif cfg.exclude_null_cols:
        stages.append(remove_null_columns)
    return stages


def apply_pipeline(df: DataFrame, cfg: LoadConfig) -> DataFrame:
    """Fold the configured stages left-to-right over ``df``."""
    for stage in build_pipeline(cfg):
        df = stage(df)
    return df
