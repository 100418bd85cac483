"""The benchmark's inputs, made from the repository's sf0.1 test tables.

The tables are read from a data root holding ``<name>.parquet`` files.
``perfbench/data`` is the default root; it holds a copy of the sf0.1
tables the workloads read, so the benchmark reads nothing outside the
checkout:

* ``documents.parquet`` and ``events.parquet``: byte copies of sf0.1;
* ``lineitem.parquet``: the first ``VIEWER_ROWS`` rows of sf0.1
  ``lineitem``, the only rows the viewer reads.

``python3 perfbench/datagen.py vendor <sf0.1 dir>`` remakes that copy.
Pointing ``--data-root`` at the full sf0.1 directory gives the same
inputs, so the pinned expected values hold for both.

``write_viewer_csv`` turns ``lineitem`` rows into the viewer's input: a
``;``-delimited CSV whose money columns are euro-formatted strings
(``1.234,56``) and whose cells carry the default null markers (empty,
``<N/D>``) plus an all-null column for ``remove_null_columns`` to drop.
``python3 perfbench/datagen.py viewer-csv <data root> <out.csv>`` writes
it; the benchmark runs that in a child process, so the memory it takes is
not counted as the program's.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DEFAULT_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
#: seeds the null markers and garbage cells of the viewer CSV; the
#: workload seed never reaches this module, so every operation the
#: benchmark runs has one pinned expected output (see ``gate.py``)
DATA_SEED = 20261016
#: rows of the viewer CSV: the head of ``lineitem``
VIEWER_ROWS = 200_000
#: tables the pipeline composites read
PIPELINE_TABLES = ("documents", "events")


def vendor(src: str, dst: str = DEFAULT_ROOT) -> None:
    """Copy the tables the benchmark reads from the sf0.1 directory ``src``."""
    os.makedirs(dst, exist_ok=True)
    for name in PIPELINE_TABLES:
        shutil.copyfile(os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet"))
    head = pq.read_table(os.path.join(src, "lineitem.parquet")).slice(0, VIEWER_ROWS)
    pq.write_table(head, os.path.join(dst, "lineitem.parquet"), compression="zstd")


def _euro(values: np.ndarray) -> pa.Array:
    """``1234.5`` -> ``"1.234,50"`` (thousands ``.``, decimal ``,``);
    vectorized for values below one million."""
    cents = np.round(values * 100).astype(np.int64)
    whole, frac = cents // 100, cents % 100
    hi, lo = whole // 1000, whole % 1000

    def s(a, width=0):
        out = pc.cast(pa.array(a), pa.string())
        return pc.utf8_lpad(out, width, "0") if width else out

    grouped = pc.binary_join_element_wise(s(hi), s(lo, 3), ".")
    head = pc.if_else(pa.array(hi > 0), grouped, s(lo))
    return pc.binary_join_element_wise(head, s(frac, 2), ",")


#: columns of the viewer CSV, in file order
VIEWER_COLUMNS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "Price EUR", "Discount EUR", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate", "l_comment", "scratch_a", "scratch_b",
)


def write_viewer_csv(path: str, lineitem: pa.Table) -> int:
    """Write the viewer's input CSV; returns its size in bytes.

    ``Price EUR`` / ``Discount EUR`` hold euro-number strings (5 % of them
    the ``<N/D>`` marker, 1 % garbage that normalizes to NULL);
    ``l_returnflag`` carries empty and ``<N/D>`` markers; ``l_comment`` is
    entirely empty (dropped by remove-null-columns); ``scratch_a`` and
    ``scratch_b`` are dropped by the drop regex.
    """
    rng = np.random.default_rng(DATA_SEED)
    n = lineitem.num_rows

    def marked(arr: pa.Array, marks: list[tuple[float, str]]) -> pa.Array:
        r = rng.random(n)
        lo = 0.0
        for share, marker in marks:
            arr = pc.if_else(pa.array((r >= lo) & (r < lo + share)), marker, arr)
            lo += share
        return arr

    price = lineitem["l_extendedprice"].to_numpy()
    disc = price * lineitem["l_discount"].to_numpy()

    def text(col: str) -> pa.Array:
        return pc.cast(lineitem[col].combine_chunks(), pa.string())

    table = pa.table(
        [
            text("l_orderkey"),
            text("l_partkey"),
            text("l_suppkey"),
            text("l_linenumber"),
            text("l_quantity"),
            marked(_euro(price), [(0.05, "<N/D>"), (0.01, "n/a")]),
            marked(_euro(disc), [(0.05, "<N/D>")]),
            text("l_tax"),
            marked(text("l_returnflag"), [(0.02, ""), (0.02, "<N/D>")]),
            text("l_linestatus"),
            pc.strftime(lineitem["l_shipdate"].combine_chunks(), "%Y-%m-%d"),
            pa.nulls(n, pa.string()),
            pc.cast(pa.array(rng.integers(0, 1000, n)), pa.string()),
            pa.array(np.full(n, "x", dtype=object), pa.string()),
        ],
        names=list(VIEWER_COLUMNS),
    )
    opts = pacsv.WriteOptions(include_header=False, delimiter=";", quoting_style="none")
    with open(path, "wb") as fh:
        fh.write((";".join(VIEWER_COLUMNS) + "\n").encode())
        pacsv.write_csv(table, fh, opts)
    return os.path.getsize(path)


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "vendor":
        vendor(argv[1])
        return 0
    if len(argv) == 3 and argv[0] == "viewer-csv":
        lineitem = pq.read_table(os.path.join(argv[1], "lineitem.parquet"))
        write_viewer_csv(argv[2], lineitem.slice(0, VIEWER_ROWS))
        return 0
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
