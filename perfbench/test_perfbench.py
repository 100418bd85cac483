"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from gate import Gate, digest  # noqa: E402
from run import tail  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from polars_view_spark import get_spark

    s = get_spark("perfbench_tests")
    yield s
    s.stop()


def test_status_store_counts_one_shuffle_query(spark):
    """A 4-partition scan feeding one group-by: AQE runs the map stage as
    its own job (4 tasks), then the reduce side as a second job whose
    re-listed map stage is skipped (1 task after coalescing)."""
    from tracing import SparkCounters

    counters = SparkCounters(spark)
    df = spark.range(0, 100_000, 1, 4).selectExpr("id % 10 AS k").groupBy("k").count()
    j0 = counters.next_job_id()
    import time

    t0 = time.time()
    assert len(df.collect()) == 10
    c = counters.window(j0, counters.next_job_id(), t0, time.time())
    assert (c["jobs"], c["stages"], c["tasks"]) == (2, 2, 5)
    assert c["shuffle_write_mb"] > 0
    assert c["spill_mb"] == 0
    assert 0 <= c["driver_gap_s"] <= time.time() - t0


def test_counts_repeat_exactly_across_runs(spark, tmp_path):
    """After a warm-up run, the count-type layer metrics of one op (jobs,
    tasks, stream triggers) come out the same every time it runs on the
    same inputs.  (The very first run in a session submits one job more,
    which is why the benchmark only counts ops after its warm-up.)"""
    import time

    import datagen
    import workloads
    from tracing import SparkCounters, Tracer

    wl = workloads.PipelineComposites(spark, datagen.DEFAULT_ROOT, str(tmp_path), Tracer())
    wl.execute(workloads.Op("query", "e_streaming_dedup"))
    counters = SparkCounters(spark)
    seen = []
    for _ in range(2):
        n0, j0, t0 = len(wl.progress), counters.next_job_id(), time.time()
        wl.execute(workloads.Op("query", "e_streaming_dedup"))
        counters.drain()
        c = counters.window(j0, counters.next_job_id(), t0, time.time())
        seen.append((c["jobs"], c["tasks"], len(wl.progress) - n0))
    assert seen[0][2] > 0
    assert seen.count(seen[0]) == len(seen), seen


def test_digest_ignores_row_and_column_order():
    a = pa.table({"x": [1, 2, None], "y": ["a", "b", "c"]})
    b = pa.table({"y": ["c", "a", "b"], "x": [None, 1, 2]})
    assert digest(a) == digest(b)
    assert digest(a) != digest(pa.table({"x": [1, 2, 3], "y": ["a", "b", "c"]}))


def test_gate_fails_on_a_wrong_expected_value():
    t = pa.table({"x": [1, 2, 3]})
    right = digest(t)
    gate = Gate({"good": right, "bad_hash": {"rows": 3, "hash": "0" * 24},
                 "bad_rows": {"rows": 4, "hash": right["hash"]}})
    assert gate.check("good", right)
    assert not gate.check("bad_hash", right)
    assert not gate.check("bad_rows", right)
    assert not gate.check("unpinned", right)
    assert [k for k in gate.verdicts if gate.failed(k)] == ["bad_hash", "bad_rows", "unpinned"]


def test_tail_needs_ten_samples_above_it():
    xs = [float(i) for i in range(30)]
    assert tail(xs) == (19.0, 66.67, 30)
    assert tail(xs[:12]) == (11.0, 100.0, 12)
    assert tail(xs[:21]) == (20.0, 100.0, 21)  # the 11th of 21 is the median
