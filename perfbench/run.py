"""Repository benchmark: one closed-loop client driving polars_view_spark
through its public API on ``local[<cores>]``.

    python3 perfbench/run.py --workload viewer_session --seed 1 --seconds 12 --trace 0

Run from the repository root.  Workloads (see ``workloads.py``):
``viewer_session`` and ``pipeline_composites``.  ``baseline.json`` records
why each exists, which layer metric should move which end-to-end metric,
and baselines.  Inputs come from ``--data-root`` (default
``perfbench/data``, a copy of the sf0.1 test tables; see ``datagen.py``);
everything the run writes goes under ``--work-dir``.

A run: start the Spark session with the package's own settings, make the
inputs (three times, median reported), warm up with one round (see each
workload's ``warmup_ops``), then run seeded rounds until the timed
operations add up to ``--seconds``, and at least one.  The gate checks each distinct
operation's output once, with the timer paused.  Before each warm-up
operation the driver JVM's heap is collected and the peak-RSS counts are
reset; ``peak_rss_mb`` is the median over the warm-up operations of the
peak RSS (Python process plus driver JVM) each reached.

The timed figure on the result line is ``cpu_per_op_s``: the mean CPU
seconds per timed operation of the threads doing the program's work (the
Python process, the driver JVM and its Python workers, with the JVM's
JIT compiler and garbage collector threads left out; see
``tracing.ProcessCpu``, and ``jit_per_op_s`` and ``gc_per_op_s`` on the
detail line).  On a
shared host the time other tenants take from the cores moves wall-clock
figures by more than any bound a run this short could hold, and CPU time
leaves that wait out.  The wall-clock figures (``ops_per_s``,
``op_p50_s``, ``op_tail_s``) and the CPU median and tail
(``op_cpu_p50_s``, ``op_cpu_tail_s``) are on the detail line.  ``--trace 1``
runs the same rounds traced and prints the per-layer numbers instead of
the end-to-end metrics; its detail line carries its end-to-end figures,
and those minus an untraced run's are the tracing overhead.

The last stdout line is the result JSON; the line before it, prefixed
``perfbench-detail``, carries per-kind latencies, the tail percentile
and its sample count, set-up components and gate verdicts.  Spans are
written to ``<work-dir>/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

from tracing import (
    CONTAINER_METHODS,
    LAYER_FUNCTIONS,
    SparkCounters,
    Tracer,
    ProcessCpu,
    cpu_ticks,
    jvm_gc_s,
    peak_rss_mb,
    reset_peak_rss,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generation is repeated and its median reported

#: spans the benchmark opens itself, around steps that are not one package call
OWN_SPANS = ("arrow.first_page_collect", "catalog.spark_fn", "catalog.final_run")
STREAM_KEYS = {
    "stream.latest_offset_s": "latestOffset",
    "stream.query_planning_s": "queryPlanning",
    "stream.add_batch_s": "addBatch",
    "stream.wal_commit_s": "walCommit",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """``(value, percentile, samples)``: the highest nearest-rank
    percentile with at least ten samples above it.  Up to 21 samples that
    rank is at or under the median, so the maximum is reported instead
    (percentile 100)."""
    xs = sorted(xs)
    n = len(xs)
    if n <= 21:
        return (xs[-1] if xs else 0.0), 100.0, n
    return xs[n - 11], round(100.0 * (n - 10) / n, 2), n


def prepare_env(work_root: str) -> None:
    """Keep every file Spark and Python write inside ``work_root``.  The
    driver heap and every other session setting stay the package's own."""
    tmp = os.path.join(work_root, "tmp")
    local = os.path.join(work_root, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp}" pyspark-shell'
    )
    import tempfile

    tempfile.tempdir = tmp


class Runner:
    def __init__(self, args, spark, workload, gate, tracer) -> None:
        self.args = args
        self.spark = spark
        self.wl = workload
        self.gate = gate
        self.tracer = tracer
        self.warmup_failures: list[str] = []
        self.gc_s = 0.0
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.cpu = ProcessCpu(spark)

    def run_op(self, op, record: list, phase: str, counters=None) -> None:
        """Execute one op (timed), then check its key once (untimed).
        Warm-up ops start from a collected heap and a reset peak-RSS
        count, so each records the peak memory it reached by itself.  The
        timed ops run without the forced collection: starting from a
        shrunk heap slows an op down, unevenly."""
        err = out = None
        if phase == "warmup":
            gc0 = time.perf_counter()
            reset_peak_rss(self.spark)
            self.gc_s += time.perf_counter() - gc0
        j0 = counters.next_job_id() if counters else 0
        w0 = time.time()
        root = None
        if self.tracer.enabled:
            root = self.tracer.begin_op(f"op.{op.kind}", len(record))
        cpu0 = self.cpu.read()
        t0 = time.perf_counter()
        try:
            out = self.wl.execute(op)
        except Exception as exc:  # noqa: BLE001 - an op failure is a result
            err = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
            log(f"{phase} op {op.key or op.kind} failed: {err}")
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu1 = self.cpu.read()
        w1 = time.time()
        self.tracer.end(root)
        # let the engine's listeners catch up before the next op, traced
        # or not, so no op pays for the previous one's bookkeeping
        self.bus.waitUntilEmpty(60_000)
        rec = {"kind": op.kind, "key": op.key, "s": dt,
               "cpu_s": cpu1[0] - cpu0[0], "jit_s": cpu1[1] - cpu0[1], "gc_s": cpu1[2] - cpu0[2]}
        if phase == "warmup":
            rec["rss_mb"] = sum(peak_rss_mb(self.spark))
        if counters:
            rec["spark"] = counters.window(j0, counters.next_job_id(), w0, w1)
        key = op.key or op.kind
        if err is not None:
            self.gate.fail(key, err)
        elif not self.gate.checked(key):
            try:
                if not self.gate.check(key, self.wl.digest(op, out)):
                    log(f"{phase} op {key} mismatch: {self.gate.verdicts[key]}")
            except Exception as exc:  # noqa: BLE001 - a failed check fails the op
                self.gate.fail(key, f"check raised {type(exc).__name__}: {exc}")
                log(f"{phase} op {key} check raised: {exc}")
        rec["failed"] = self.gate.failed(key)
        if phase == "warmup" and rec["failed"]:
            self.warmup_failures.append(f"{key}: {self.gate.verdicts[key]}")
        record.append(rec)

    def timed_rounds(self, counters=None) -> tuple[list, int]:
        """Whole rounds, at least one, until the ops add up to
        ``--seconds``; round ``r`` draws its ops from
        ``Random(seed * 1000 + r)``.  With ``counters`` (``--trace 1``)
        the rounds run traced, at the same place in the run as an untraced
        run's, so the two runs' figures differ by the cost of tracing.
        Returns the record and the number of rounds."""
        record: list = []
        r = 0
        if counters is not None:
            self.tracer.enabled = True
            self.tracer.install()
        try:
            while r == 0 or sum(x["s"] for x in record) < self.args.seconds:
                for op in self.wl.round_ops(random.Random(self.args.seed * 1000 + r)):
                    self.run_op(op, record, "timed", counters)
                r += 1
        finally:
            if counters is not None:
                self.tracer.uninstall()
                self.tracer.enabled = False
        return record, r


def end_to_end(record: list) -> dict:
    """Wall-clock and CPU figures of the ops in ``record``.  ``cpu_s`` is
    the CPU an op's work used (``tracing.ProcessCpu``); ``jit_s`` and
    ``gc_s`` are the JIT compiler and garbage collector threads'."""
    lat = [x["s"] for x in record]
    cpu = [x["cpu_s"] for x in record]
    t, pct, n = tail(lat)
    ct, _, _ = tail(cpu)
    busy = sum(lat)
    by_kind: dict[str, list] = {}
    for x in record:
        by_kind.setdefault(x["kind"], []).append(x)
    return {
        "op_cpu_p50_s": median(cpu),
        "cpu_per_op_s": sum(cpu) / len(cpu),
        "op_cpu_tail_s": ct,
        "jit_per_op_s": sum(x["jit_s"] for x in record) / len(record),
        "gc_per_op_s": sum(x["gc_s"] for x in record) / len(record),
        "ops_per_s": len(lat) / busy if busy else 0.0,
        "op_p50_s": median(lat),
        "op_tail_s": t,
        "tail_percentile": pct,
        "samples": n,
        "by_kind": {
            k: {
                "p50_s": median([x["s"] for x in v]),
                "cpu_p50_s": median([x["cpu_s"] for x in v]),
                "samples": len(v),
            }
            for k, v in sorted(by_kind.items())
        },
    }


#: end-to-end metrics the result line carries (``--trace 0``)
GATED = {"setup_s": "s", "cpu_per_op_s": "s", "peak_rss_mb": "MB"}
#: end-to-end figures printed on the detail line only (see module doc)
DETAIL = (
    "op_cpu_p50_s", "op_cpu_tail_s", "jit_per_op_s", "gc_per_op_s",
    "ops_per_s", "op_p50_s", "op_tail_s",
)


def layer_metrics(tracer, wl, traced, n_stream: int, get_spark_s: float) -> tuple[dict, dict]:
    """Per-layer metrics of the traced ops.  Stream trigger numbers come
    from Spark's own progress events over the ``n_stream`` stream ops of
    the timed phase."""
    summ = tracer.layer_summary()
    metrics: dict[str, dict] = {
        "session.get_spark_s": {"value": get_spark_s, "unit": "s"},
    }
    for name in (*LAYER_FUNCTIONS, *CONTAINER_METHODS, *OWN_SPANS):
        s = summ.get(name)
        metrics[f"{name}_s"] = {
            "value": s["total_s"] / s["calls"] if s else 0.0,
            "unit": "s",
        }
    reuse = getattr(wl, "reuse", None)
    metrics["container.source_reuse_ratio"] = {
        "value": reuse["reused"] / reuse["requeries"] if reuse and reuse["requeries"] else 0.0,
        "unit": "ratio",
    }
    bytes_out = getattr(wl, "bytes_out", [])
    rows = sum(r for _, r in bytes_out)
    metrics["writers.bytes_out_per_row"] = {
        "value": sum(b for b, _ in bytes_out) / rows if rows else 0.0,
        "unit": "B/row",
    }
    progress = getattr(wl, "progress", [])
    for mname, key in STREAM_KEYS.items():
        vals = [p.get(key, 0) / 1e3 for p in progress]
        metrics[mname] = {"value": sum(vals) / len(vals) if vals else 0.0, "unit": "s"}
    metrics["stream.triggers"] = {
        "value": len(progress) / n_stream if n_stream else 0.0,
        "unit": "count",
    }
    units = {
        "jobs": "count", "stages": "count", "tasks": "count", "executor_run_s": "s",
        "executor_cpu_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
        "input_mb": "MB", "driver_gap_s": "s",
    }
    for f, unit in units.items():
        vals = [x["spark"][f] for x in traced]
        metrics[f"spark.{f}"] = {"value": sum(vals) / len(vals) if vals else 0.0, "unit": unit}
    return metrics, summ


def blocking_path(tracer, record, kind: str) -> dict:
    """Mean self time per layer over the ops of ``kind``: the pieces the
    op's wall time is made of (op.* self time is the benchmark's glue)."""
    ops = {i for i, x in enumerate(record) if x["kind"] == kind}
    if not ops:
        return {}
    summ = tracer.layer_summary(ops)
    per = {k: v["self_s"] / len(ops) for k, v in summ.items()}
    glue = sum(v for k, v in per.items() if k.startswith("op."))
    return {
        "ops": len(ops),
        "wall_mean_s": sum(record[i]["s"] for i in ops) / len(ops),
        "layers_self_s": sum(per.values()) - glue,
        "glue_s": glue,
        "self_s": dict(sorted(per.items(), key=lambda kv: -kv[1])),
    }


def requery_accounting(traced: list, tracer) -> dict:
    """The traced re-queries' wall time split into layer self times and
    the benchmark's own glue; the spans nest inside the op's span, so the
    two add up to the traced wall.  Set beside an untraced run's
    ``requery_p50_s``, the traced p50 minus that is what tracing added."""
    ids = [i for i, x in enumerate(traced) if x["kind"] == "requery"]
    if not ids:
        return {}
    layers, glue = [], []
    for i in ids:
        per = tracer.layer_summary({i})
        g = sum(v["self_s"] for k, v in per.items() if k.startswith("op."))
        glue.append(g)
        layers.append(sum(v["self_s"] for v in per.values()) - g)
    return {
        "traced_requery_p50_s": median([traced[i]["s"] for i in ids]),
        "layers_self_p50_s": median(layers),
        "glue_p50_s": median(glue),
    }


def main(argv=None) -> int:
    t_main = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--data-root",
        default=os.path.join(HERE, "data"),
        help="directory of <table>.parquet inputs (default: perfbench/data, a copy of sf0.1)",
    )
    ap.add_argument(
        "--work-dir",
        default=os.path.join(os.getcwd(), ".perfbench_work"),
        help="where the run writes (CSV, saves, Spark scratch, traces)",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "polars_view_spark", "__init__.py")):
        log(f"polars_view_spark not found under {ROOT}; run from a repository checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from gate import Gate

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2
    data_root = os.path.abspath(args.data_root)
    missing = [t for t in workloads.TABLES[args.workload]
               if not os.path.isfile(os.path.join(data_root, f"{t}.parquet"))]
    if missing:
        log(f"{data_root} lacks {missing}")
        return 2
    work_root = os.path.abspath(args.work_dir)
    work = os.path.join(work_root, "run")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work_root)
    os.makedirs(work)
    gate = Gate.load()

    from polars_view_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    spark_start_s = time.perf_counter() - t_main
    try:
        tracer = Tracer()
        wl = workloads.WORKLOADS[args.workload](spark, data_root, work, tracer)
        prep = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            prep.append(time.perf_counter() - t0)
        runner = Runner(args, spark, wl, gate, tracer)
        t0 = time.perf_counter()
        warm: list = []
        for op in wl.warmup_ops():
            runner.run_op(op, warm, "warmup")
        # the forced collections are the benchmark's, not the program's set-up
        warmup_s = time.perf_counter() - t0 - runner.gc_s
        setup_s = spark_start_s + median(prep) + warmup_s

        # stream trigger durations cover the timed phase only
        counters = SparkCounters(spark) if args.trace else None
        getattr(wl, "progress", []).clear()
        c0, gc0 = cpu_ticks(), jvm_gc_s(spark)
        record, rounds = runner.timed_rounds(counters)
        c1, gc1 = cpu_ticks(), jvm_gc_s(spark)
        rss = [x["rss_mb"] for x in warm]
        e2e = end_to_end(record)
        failed = sum(1 for x in record if x["failed"])
        kinds = e2e["by_kind"]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
            "rounds": rounds,
            "timed_s": sum(x["s"] for x in record),
            **{k: e2e[k] for k in ("cpu_per_op_s", *DETAIL)},
            "tail_percentile": e2e["tail_percentile"],
            "samples": e2e["samples"],
            "failed_ops_ratio": sum(1 for x in record if x["failed"]) / len(record),
            "host_steal_share": (c1[1] - c0[1]) / max(1, c1[0] - c0[0]),
            "jvm_gc_s": gc1 - gc0,
            "peak_rss_mb_per_op": {"median": median(rss), "min": min(rss), "max": max(rss)},
            "forced_gc_s": runner.gc_s,
            "by_kind": kinds,
            "setup": {
                "spark_start_s": spark_start_s,
                "get_spark_s": get_spark_s,
                "prepare_s": prep,
                "warmup_s": warmup_s,
                "warmup_ops": [[x["key"], round(x["s"], 3)] for x in warm],
                "timed_ops": [
                    [x["key"], *(round(x[k], 3) for k in ("s", "cpu_s", "jit_s", "gc_s"))]
                    for x in record
                ],
            },
            "warmup_failures": runner.warmup_failures,
            "gate_failures": {k: v for k, v in gate.verdicts.items() if v},
            "checked_ops": len(gate.verdicts),
        }
        detail.update(wl.kind_metrics(kinds))
        values = {**e2e, "setup_s": setup_s, "peak_rss_mb": median(rss)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in GATED.items()}
        if args.trace:
            n_stream = sum(1 for x in record if x["key"].startswith("e_streaming"))
            metrics, summ = layer_metrics(tracer, wl, record, n_stream, get_spark_s)
            detail["blocking_path"] = {
                k: blocking_path(tracer, record, k) for k in sorted({x["kind"] for x in record})
            }
            detail["requery_accounting"] = requery_accounting(record, tracer)
            os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
            trace_path = os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump(
                    {"detail": detail, "layers": summ, "ops": record, "spans": tracer.dump()}, fh
                )
            detail["trace_file"] = os.path.relpath(trace_path)
        result = {
            "correct": failed == 0 and not runner.warmup_failures,
            "attempted": len(record),
            "failed": failed,
            "metrics": metrics,
        }
        detail["wall_s"] = time.perf_counter() - t_main
        print("perfbench-detail " + json.dumps(detail, default=float), flush=True)
        print(json.dumps(result), flush=True)
        return 0
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leave it running
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
