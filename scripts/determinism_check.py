"""Two-conf determinism cross-check for the 50 driver-window entries.

The driver's Spark conf is unknown; our oracle gate proves Spark == DuckDB
under OUR conf (local[32], 32 shuffle partitions, AQE on).  This script
re-runs every window entry under a deliberately different layout
(local[5], 7 shuffle partitions, AQE coalescing off) and asserts the
canonicalized result is byte-identical — catching any partitioning- or
parallelism-dependent output (unordered top-k ties, sample drift,
nondeterministic aggregation order) before the driver does.

Usage (each conf needs its own process for a fresh JVM):

    python scripts/determinism_check.py a        # conf A -> /tmp/det_a.json
    python scripts/determinism_check.py b        # conf B -> /tmp/det_b.json
    python scripts/determinism_check.py compare  # exit 1 on any mismatch

Last run (FINAL round-9 window: q_identifier_clause's +1e-6 re-stamp
and x_quality_classifier's execution-only descent change leading, the
seven round-8 below-window adds taking their first stamps — streaming
outer join, label propagation, streaming Count-Min, GROUP/ORDER BY ALL,
quantile normalization, retention vacuum, n-gram novelty — then the
five displaced r03 entries and 36 of the r04 cohort; sf0.01):
checked 50 entries, mismatches: 0.
"""

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

import pandas as pd
from oracle_util import _normalize

SF = "/root/testdata/sf0.01"


def canon_hash(pdf: pd.DataFrame) -> str:
    norm = _normalize(pdf)
    payload = repr([list(norm.columns)] + [tuple(r) for r in norm.itertuples(index=False)])
    return hashlib.sha256(payload.encode()).hexdigest()


def run_all(master: str, shuffle: str, coalesce: str, only: list[str] | None = None) -> dict:
    from polars_view_spark.catalog import DRIVER_PRIORITY
    n_window = len(DRIVER_PRIORITY)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(master)
        .appName("determinism_check")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", coalesce)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    from polars_view_spark.catalog import entries

    out = {}
    # the window length tracks DRIVER_PRIORITY so a rotation edit can
    # never silently desync this check from the real driver window;
    # explicit names (argv[2:]) sweep entries outside the window (e.g.
    # additions landing after the round's rotation was pinned)
    todo = (
        [(n, entries()[n]) for n in only]
        if only
        else list(entries().items())[:n_window]
    )
    for name, e in todo:
        try:
            out[name] = canon_hash(e.spark_fn(spark, SF).toPandas())
        except Exception as ex:  # noqa: BLE001
            out[name] = f"ERROR: {ex!r}"[:200]
    spark.stop()
    return out


if __name__ == "__main__":
    # each conf in its own process (fresh JVM); then `compare`
    mode = sys.argv[1]
    only = sys.argv[2:] or None
    if mode == "a":
        res = run_all("local[32]", "32", "true", only)
    elif mode == "b":
        res = run_all("local[5]", "7", "false", only)
    else:
        import json

        a = json.load(open("/tmp/det_a.json"))
        b = json.load(open("/tmp/det_b.json"))
        bad = [n for n in a if a[n] != b.get(n)]
        for n in bad:
            print(f"MISMATCH {n}\n  A={a[n]}\n  B={b[n]}")
        print(f"checked {len(a)} entries, mismatches: {len(bad)}")
        sys.exit(1 if bad else 0)
    import json

    json.dump(res, open(f"/tmp/det_{mode}.json", "w"), indent=1)
    errs = {n: v for n, v in res.items() if str(v).startswith("ERROR")}
    print(f"mode {mode}: {len(res)} entries, errors: {errs or 'none'}")
