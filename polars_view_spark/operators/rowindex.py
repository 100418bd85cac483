"""Contiguous deterministic row index — the scale-aware way.

Reference semantics (src/polars/add.rs:18-42): add a counting column
``offset .. offset+n`` in current row order, with name conflicts resolved by
``_1``, ``_2``… suffixes and an error after 1000 attempts
(src/data_filter.rs:1195-1229).

Naive Spark ports either shuffle everything to one partition
(``row_number() OVER (ORDER BY ...)``) or round-trip through RDDs
(``zipWithIndex``).  Both are wrong at 100 TB.  This implementation stays in
the DataFrame plane:

1. tag rows with ``monotonically_increasing_id()`` — by contract
   ``partition_id * 2^33 + intra-partition offset`` with the intra-partition
   offset consecutive from 0 — and pin them with one eager local checkpoint;
2. aggregate per-partition row counts over the checkpoint (result size =
   #partitions, trivially collected), optionally with every column's
   non-null count so all-null columns drop in the same pass;
3. compute cumulative offsets on the driver and inline them as one array
   literal indexed by partition id;
4. ``index = cum_offset[pid] + local_offset + user_offset``.

No full shuffle, no single-partition bottleneck, no broadcast: the result
reads the checkpoint, so every later page, sort or save of the view reads
the pinned rows, never the lineage behind them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_view_spark.config import MAX_NAME_ATTEMPTS
from polars_view_spark.errors import ColumnNameConflictError

_MID = "__pvs_mid__"
_PID = "__pvs_pid__"

# monotonically_increasing_id() = partition_id << 33 | intra-partition offset
_PARTITION_SHIFT = 33
_LOCAL_MASK = (1 << _PARTITION_SHIFT) - 1


def resolve_unique_name(base: str, existing: list[str]) -> str:
    """Resolve name conflicts with ``_1``, ``_2``… suffixes; error after
    1000 attempts (reference: src/data_filter.rs:1195-1229)."""
    if base not in existing:
        return base
    taken = set(existing)
    for i in range(1, MAX_NAME_ATTEMPTS + 1):
        candidate = f"{base}_{i}"
        if candidate not in taken:
            return candidate
    raise ColumnNameConflictError(
        f"could not find a unique name for {base!r} after {MAX_NAME_ATTEMPTS} attempts"
    )


def add_row_index(
    df: DataFrame, name: str = "Row Number", offset: int = 1, drop_null_cols: bool = False
) -> DataFrame:
    """Add a contiguous row index in current row order, distributed.

    The returned index is exact and contiguous (``offset .. offset+n-1``)
    like the reference's, but computed without a global shuffle.
    ``drop_null_cols`` fuses ``remove_null_columns`` in: the index name is
    resolved against the surviving columns.
    """
    tagged = df.withColumn(_MID, F.monotonically_increasing_id())
    tagged = tagged.withColumn(_PID, F.shiftright(F.col(_MID), _PARTITION_SHIFT))

    # monotonically_increasing_id() is NON-deterministic: the count job below
    # and the final indexed plan would otherwise evaluate it in two
    # independent jobs, and any re-planning between them (AQE, task retry, a
    # non-deterministic source) could shift partition ids and silently
    # misalign rows.  Pin ONE evaluation.
    # localCheckpoint (not persist): it cuts the lineage, so the id can
    # never be recomputed, AND its RDD blocks are released by the
    # ContextCleaner once the result is unreachable — a DataFrame persist
    # would sit in the CacheManager for the session lifetime (one full
    # input copy leaked per call).
    tagged = tagged.localCheckpoint(eager=True)

    # Tiny aggregate: one row per partition, a few thousand even at 100 TB.
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if drop_null_cols:
        aggs += [F.count(F.col(c)).alias(f"c{i}") for i, c in enumerate(df.columns)]
    counts = sorted(tagged.groupBy(_PID).agg(*aggs).collect(), key=lambda r: r[_PID])
    columns = df.columns
    if drop_null_cols:
        columns = [c for i, c in enumerate(columns) if any(r[f"c{i}"] for r in counts)]
    resolved = resolve_unique_name(name, columns)

    if not counts or (drop_null_cols and df.columns and not columns):
        # Empty frame, or every column was all-null (remove_null_columns
        # then leaves no rows either): an empty long index column,
        # index-first like the reference (src/polars/add.rs).
        return df.limit(0).select(F.lit(None).cast("long").alias(resolved), *columns)

    # ONE array literal indexed by partition id: it ships in the task
    # binary, so no action on the view runs a broadcast job.  An id the
    # count did not see maps to NULL, and raise_error surfaces it.
    offsets: list[int | None] = [None] * (counts[-1][_PID] + 1)
    cum = 0
    for row in counts:
        offsets[row[_PID]] = cum
        cum += row["cnt"]
    literal = ", ".join("NULL" if o is None else f"{o}L" for o in offsets)
    cum_offset = F.try_element_at(F.expr(f"array({literal})"), (F.col(_PID) + 1).cast("int"))
    index = F.when(
        cum_offset.isNull(),
        F.expr(
            "raise_error('add_row_index: partition ids changed between "
            "the count and index jobs — persisted lineage was lost')"
        ).cast("long"),
    ).otherwise(cum_offset + F.col(_MID).bitwiseAND(F.lit(_LOCAL_MASK)) + F.lit(offset))
    # Reference places the index as the FIRST column (src/polars/add.rs).
    return tagged.select(index.cast("long").alias(resolved), *columns)
