"""Regenerate ``expected.json``: the gate's pinned outputs.

    python3 perfbench/record_expected.py [--data-root DIR] [--work-dir DIR]

Catalog entries are pinned from the catalog's DuckDB oracle over the
data root's tables; an oracle that has not finished after
``ORACLE_TIMEOUT_S`` is interrupted, and that entry is pinned from the
Spark run instead (``"source": "reference"`` in ``expected.json``); the same entries also run on Spark here, and any
disagreement is printed and stops the recording.  Viewer operations are
pinned from this reference run, over every key a seed can draw.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ORACLE_TIMEOUT_S = 120


def run_oracle(con, sql: str):
    """The oracle's output table, or None if it ran out of time."""
    import duckdb

    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return con.sql(sql).arrow()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data-root", default=os.path.join(HERE, "data"))
    ap.add_argument("--work-dir", default=os.path.join(os.getcwd(), ".perfbench_work"))
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run

    data_root = os.path.abspath(args.data_root)
    work_root = os.path.abspath(args.work_dir)
    work = os.path.join(work_root, "record")
    run.prepare_env(work_root)
    os.makedirs(work, exist_ok=True)

    import duckdb

    import workloads
    from gate import EXPECTED_PATH, digest
    from polars_view_spark import get_spark
    from polars_view_spark.catalog import entries
    from tracing import Tracer

    spark = get_spark("perfbench-record")
    expected: dict[str, dict] = {}
    bad = []
    try:
        cat = entries()
        wl = workloads.PipelineComposites(spark, data_root, work, Tracer())
        con = duckdb.connect()
        for t in workloads.TABLES["pipeline_composites"]:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_root}/{t}.parquet')"
            )
        for name in wl.entries:
            op = workloads.Op("query", name)
            got = wl.digest(op, wl.execute(op))
            oracle = run_oracle(con, cat[name].oracle)
            if oracle is None:
                print(name, "oracle timed out; pinned from spark", got, flush=True)
                expected[name] = {**got, "source": "reference"}
                continue
            want = digest(oracle)
            print(name, want, "spark", got, flush=True)
            if got != want:
                bad.append(name)
            expected[name] = {**want, "source": "oracle"}
        con.close()

        v = workloads.ViewerSession(spark, data_root, work, Tracer())
        v.prepare()

        def record(op):
            out = v.execute(op)
            expected[op.key] = {**v.digest(op, out), "source": "reference"}
            print(op.key, expected[op.key], flush=True)

        record(workloads.Op("open", "open"))
        record(workloads.Op("reread", "reread", {"rows": workloads.REREAD_ROWS[0]}))
        for q in range(len(v._examples())):
            record(v._requery(q))
        record(v._requery(workloads.SAVE_VIEW))
        for fmt in workloads.SAVE_FORMATS:
            record(v._save(workloads.SAVE_VIEW, fmt))
        for col in workloads.SORT_COLUMNS:
            record(v._requery(workloads.BASE_QUERY))
            for _ in range(5):  # one full 5-state cycle
                record(workloads.Op("sort", "", {"col": col}))
    finally:
        spark.stop()
    if bad:
        print(f"Spark disagrees with the DuckDB oracle on {bad}; expected.json not written")
        return 1
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")
    print(f"wrote {len(expected)} expected values to {EXPECTED_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
