"""Benchmark harness.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is timed to full materialization (noop sink) after a warm-up of
the session; input scans are NOT pre-cached — the measurement includes the
parquet scan, which is what matters at scale.  Per query the reported
number is the MEDIAN of 3 timed runs: single-run timings of sub-second
queries swing ±25% with co-tenant load, and the median is the honest
steady-state figure a long-lived cluster sees (min would flatter, mean
inherits outliers).

After the Spark runs, each entry's oracle SQL is timed ONCE on DuckDB
in-process over the same parquet (single run, not median — the DuckDB
pass exists to make the engine-vs-engine ratio self-documenting in the
JSON, and its heaviest query, the recursive-CTE corpus compaction, runs
~100 s at sf0.1; three medians would triple the bench budget for a
number that only needs one significant digit).  Set
SPARK_GRAFT_BENCH_DUCKDB=0 to skip it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q_window_topn",
    "q_rollup",
    "q_count_distinct",
    "q_filter_predicates",
    "q_cte_case_cast",
    # round-3 TPC-H completion set representatives: the 7-table two-role
    # snowflake and the double-EXISTS fact self-join — the two join shapes
    # the rest of the suite stresses hardest
    "q8_market_share",
    "q21_suppliers_kept_waiting",
]

EXT_HEADLINE = [
    "d_dedup_exact",
    "d_minhash_lsh_pairs",
    "s_ann_bruteforce_topk",
    "x_token_count",
    "e_sessionize",
    "e_asof_join",
    # the two flagship training-data pipelines: corpus compaction
    # (near-dup pairs → connected components → anti-join) and the
    # five-stage quality→dedup→decontam→mixture→pack composition —
    # the workloads a distributed engine exists for (DuckDB runs the
    # same oracle SQL 17× / 1.2× slower at sf0.1)
    "d_dedup_apply",
    "x_training_mix_e2e",
    # round 3: deterministic Lloyd k-means — the iterative-algorithm
    # representative (2 assignment+update rounds, exact-arithmetic oracle)
    "x_kmeans_clusters",
    # round 3 perf-sweep graduates: the vectorized IVF assignment and the
    # norm-hoisted LSH pair stage — the two ANN shapes that run at scan
    # speed after the interpreted-HOF fixes (SCALE.md expression-engine
    # findings); benched so a regression in either shows up per-round
    "s_ann_ivf_topk",
    "d_embedding_near_dup",
    # round 4: the single-shuffle window family representatives — SCD2
    # run-collapse over orders (two windows + aggregate sharing one
    # exchange) and the integer-exact trailing z-score screen over events
    "x_scd2_history",
    "e_anomaly_zscore",
    # round 5: the incremental MinHash path (new batch vs standing corpus,
    # batch bands broadcast, corpus never self-joined) — the operating
    # mode a 100 TB deployment actually runs, now with a headline number
    "d_minhash_incremental",
    # round 5: two-stage IVF (quantized shortlist -> exact rerank), the
    # production ANN shape, benched beside its exact baseline
    # s_ann_bruteforce_topk and the one-stage s_ann_ivf_topk
    "s_ann_ivf_rerank",
    # round 5: SimHash pigeonhole-band pair mining — the third dedup
    # candidate generator beside MinHash-LSH and embedding sign-LSH;
    # its DuckDB oracle is a true all-pairs O(n²) join, so this row is
    # where the banded-join-vs-brute-force gap shows directly
    "d_simhash_near_dup",
    # round 6: the retrieval tail — RRF fusion of the lexical and dense
    # legs (fusion cost corpus-size-independent) and the unrolled MMR
    # greedy chain (k sequential bounded stages; benches the fixed
    # multi-stage barrier cost the same way d_dedup_apply does).  Both
    # LOSE to DuckDB at sf0.1 — the documented job-barrier floor, not a
    # plan defect: measured on the 10× corpus the gap closes to parity
    # for MMR (Spark 7.56 s vs DuckDB 7.65 s; Spark ratio 1.1 vs
    # DuckDB's 2.0) and halves for RRF (3.48 vs 1.86 s) — the fixed
    # barriers amortize while both engines' scan legs grow linearly.
    "s_hybrid_rrf_topk",
    "s_mmr_rerank",
    # round 7: the persisted-MinHash build/query split — the entry times
    # build + query together at sf0.1 (its oracle recomputes everything,
    # so the DuckDB column doubles as the recompute-mode contrast); the
    # standalone query-only economics are in SCALE.md (12.96 s recompute
    # → 4.67 s per lookup at 10× corpus vs a 500-doc batch)
    "d_minhash_index_query",
    # round 7 (late): the trained quality classifier — the iterative-ML
    # representative beside x_kmeans_clusters (10 one-row-aggregate
    # epochs over a pinned feature frame + a projection-only scoring
    # pass; its oracle replays the full trajectory, so the DuckDB column
    # is the same 10-epoch replay)
    "x_quality_classifier",
]

# Drift watchlist (VERDICT r09 task 7): queries whose r8→r9 medians moved
# beyond their recorded min–max spread while DuckDB stayed flat and git
# showed their code unchanged — ambiguous between harness drift and a real
# regression two rounds running.  For these the bench itself decides: n=5
# Spark runs with a CHEAP DuckDB control probe interleaved before every
# run (the full MinHash oracles cost ~34 s each — 5 interleaved copies
# would triple the bench budget, so the control is a fixed ~0.3 s lineitem
# aggregate instead: a same-box load signal, not an engine comparison).
# `control_ratio` = spark_median / control_median — if the box slows down,
# both inflate and the ratio holds; a moved ratio with a flat control
# median is a Spark-side regression, decided inside ONE bench run instead
# of across rounds.
DRIFT_WATCH = (
    "s_ann_bruteforce_topk",
    "d_minhash_incremental",
    "d_minhash_lsh_pairs",
)
DRIFT_CONTROL_SQL = (
    "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev "
    "FROM read_parquet('{sf_dir}/lineitem.parquet') "
    "GROUP BY 1 ORDER BY 1"
)


def _noop_run(spark, cat, name: str, sf_dir: str) -> float:
    """Seconds to build one entry's frame on ``sf_dir`` and materialize it
    into a noop sink — the one timed unit every bench block repeats."""
    t0 = time.perf_counter()
    cat[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _warm_up(spark, cat, name: str, warm_dir: str) -> None:
    """Run one entry into a noop sink on the warm-up SF; a failure only
    costs the warm-up, so it is logged to stderr and the bench goes on."""
    try:
        _noop_run(spark, cat, name, warm_dir)
    except Exception as ex:  # noqa: BLE001 - the timed runs surface real errors
        print(f"warm-up {name} on {warm_dir} failed: {ex!r}"[:300], file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    from polars_view_spark.catalog import entries
    from polars_view_spark.session import get_spark

    spark = get_spark("polars_view_spark_bench")
    cat = entries()
    names = [n for n in HEADLINE + EXT_HEADLINE if n in cat]
    # Local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q1,d_minhash runs the
    # matching headliners only (comma-separated name prefixes).  Sidecar
    # files are NOT written for filtered runs — a partial total must never
    # masquerade as a round's headline number.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    partial = bool(only)
    if partial:
        prefixes = [p for p in only.split(",") if p]
        names = [n for n in names if any(n.startswith(p) for p in prefixes)]

    # JVM/session warm-up on the smallest SF so the timed queries do not
    # pay classloading/codegen costs that a long-lived cluster never sees;
    # each headline query is warmed so its generated code is JIT'd.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    for name in names:
        _warm_up(spark, cat, name, warm_dir)

    import duckdb

    ctrl_con = duckdb.connect()
    ctrl_sql = DRIFT_CONTROL_SQL.format(sf_dir=sf_dir)
    ctrl_con.sql(ctrl_sql).fetchall()  # warm the parquet cache once

    timings: dict[str, float] = {}
    spread: dict[str, dict] = {}
    for name in names:
        # n=5 for the round-3 drift watchlist (e_sessionize +11%,
        # q_window_topn +9% round-over-round — VERDICT r03 asked whether
        # that is noise; the recorded min/max answers it per-round) and
        # for DRIFT_WATCH (interleaved control, see above);
        # n=3 elsewhere (median already absorbs single-run swings)
        drift = name in DRIFT_WATCH
        n_runs = 5 if drift or name in ("e_sessionize", "q_window_topn") else 3
        runs = []
        ctrl_runs = []
        for _ in range(n_runs):
            if drift:
                t0 = time.perf_counter()
                ctrl_con.sql(ctrl_sql).fetchall()
                ctrl_runs.append(time.perf_counter() - t0)
            runs.append(_noop_run(spark, cat, name, sf_dir))
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 4)
        spread[name] = {
            "n": n_runs,
            "min": round(runs[0], 4),
            "max": round(runs[-1], 4),
        }
        if drift:
            ctrl_runs.sort()
            ctrl_med = ctrl_runs[len(ctrl_runs) // 2]
            spread[name]["control_median"] = round(ctrl_med, 4)
            spread[name]["control_ratio"] = (
                round(timings[name] / ctrl_med, 2) if ctrl_med else None
            )
    ctrl_con.close()

    total = round(sum(timings.values()), 4)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    if os.environ.get("SPARK_GRAFT_BENCH_SCALING", "1") != "0":
        # 10× scaling block (VERDICT r03 task 8): time the scale-critical
        # pipelines on the synthetic 10× instance (scripts/scale_sweep.py's
        # replicated-keys build) and record the wall-clock growth ratio —
        # ≤ ~10 on 10× rows is linear or better; the sub-linearity claim
        # becomes driver-visible instead of living in commit messages.
        # One timed run per query (the ratio needs one significant digit).
        try:
            from scripts.scale_sweep import BIG, build

            if not os.path.exists(f"{BIG}/lineitem.parquet"):
                build()
            # entries whose ratio legitimately exceeds 10 at FIXED
            # hyperparameters, with the measured SCALE.md answer: the
            # replicated 10× corpus gives every vector ~10 identical twins,
            # so the TRUE pair set grows ~×100 (output-driven), and a real
            # deployment scales the granularity knob with the corpus
            KNOWN_NOTES = {
                "d_embedding_near_dup": (
                    "output-driven: replicas multiply true pairs ~x100; "
                    "n_bits now defaults from the corpus count "
                    "(adaptive_lsh_bits: 4 bits at sf0.1, 6 at 10x), the "
                    "configuration SCALE.md measured at 2.8x with "
                    "identical recall"
                ),
                "s_ann_quantized_topk": (
                    "compute-bound O(N*Q) with Q PINNED at 25: replica "
                    "vec_ids are shifted by 10M so `vec_id < 25` never "
                    "grows, and output stays top-k per query — the scoring "
                    "kernel itself is exactly 10x work, so a ratio near 8 "
                    "IS the honest linear-compute growth (scan-bound "
                    "entries land 1.3-2.0 only because fixed job overhead "
                    "dominates their toy-scale base, not because their "
                    "compute grows slower)"
                ),
                "x_ngram_novelty": (
                    "sub-linear by construction: both candidate and "
                    "reference SLICES grow 10x (key shift preserves "
                    "doc_id%5), but the join's build side is the DISTINCT "
                    "reference shingle set, which is replica-INVARIANT "
                    "(identical text -> identical shingles), so only the "
                    "candidate scan/aggregate legs scale and 3.9 reflects "
                    "that flat build side plus overhead amortization"
                ),
            }
            scaling: dict[str, dict] = {}
            for name in (
                "q1_pricing_summary",
                "d_minhash_lsh_pairs",
                "d_dedup_apply",
                "x_training_mix_e2e",
                "s_ann_ivf_topk",
                "d_embedding_near_dup",
                # round 9 (VERDICT r08 task 6): the new heavy entries —
                # iterative LPA, the novelty equi-join, and the quantized
                # ANN broadcast — their 10× ratios make the toy-scale
                # overhead story measurable per operator
                "x_label_propagation",
                "x_ngram_novelty",
                "s_ann_quantized_topk",
                # round 9 (late): the two-stage PQ flagship — codes scan
                # scales linearly, the rerank join stays O(queries×50)
                "s_ann_pq_rerank",
                # round 10: the IVF-PQ composition — ADC work is
                # ~n_probe/n_cells of the codes (the seed cap fills 55→64
                # cells at 10x, so the probed fraction tightens to 2/64)
                # where flat PQ scans ALL codes; the ratio row makes the
                # claimed constant-factor advantage measurable per round
                "s_ann_ivfpq_topk",
            ):
                if name not in cat:
                    continue
                if name not in timings:
                    # not a headliner: measure its base-SF floor here
                    # (min-of-2, same statistic as the 10× numerator)
                    base_runs = [_noop_run(spark, cat, name, sf_dir) for _ in range(2)]
                    spread[name] = {
                        "n": 2,
                        "min": round(min(base_runs), 4),
                        "max": round(max(base_runs), 4),
                    }
                # min-of-2: the ratio is the linearity evidence, and a
                # single run lets one JVM warmup hiccup or GC pause skew
                # it (ADVICE r04).  The denominator uses the base run's
                # MIN too (recorded in spread) — min/min is symmetric, so
                # the statistic can't one-sidedly discard upward noise in
                # the numerator while keeping it in the denominator and
                # bias the ratio toward the favorable conclusion.
                big = min(_noop_run(spark, cat, name, BIG) for _ in range(2))
                scaling[name] = {
                    "x10_sec": round(big, 4),
                    "ratio": round(big / spread[name]["min"], 2),
                }
                if name in KNOWN_NOTES:
                    scaling[name]["note"] = KNOWN_NOTES[name]
            out["scaling_x10"] = scaling
        except Exception as ex:  # noqa: BLE001 - scaling is additive info
            out["scaling_x10_error"] = str(ex)[:200]

    if not partial and os.environ.get("SPARK_GRAFT_BENCH_STREAMING", "1") != "0":
        # Streaming micro-bench block (VERDICT r10 task 2): the availableNow
        # streaming operators were optimized in r10 (one-slice literal
        # frames, shared index-lookup path) but no bench measured them —
        # their wins were invisible to the driver.  This times a
        # representative set END TO END (trigger → checkpointed sink →
        # read-back), min-of-3 after a sf0.001 warm-up, and records them in
        # a SIDE block like scaling_x10 — deliberately NOT added to
        # `queries`/`value`, so the headline total stays round-over-round
        # comparable (additions-only contract).
        STREAMING = (
            "e_streaming_tumbling",      # windowed aggregate, the baseline
            "e_streaming_anomaly",       # sentinel/literal-frame family
            "e_streaming_dedup",         # stateful dropDuplicates path
            "e_streaming_upsert",        # foreachBatch merge-upsert
            "e_streaming_outer_join",    # watermarked stream-stream join
            "e_streaming_minhash_lookup",  # persisted MinHash index lookup
            "e_streaming_ann_lookup",    # persisted IVF index lookup
            "e_streaming_containment",   # containment screen vs index
        )
        streaming: dict[str, dict] = {}
        for name in STREAMING:
            if name not in cat:
                continue
            _warm_up(spark, cat, name, warm_dir)
            s_runs = [_noop_run(spark, cat, name, sf_dir) for _ in range(3)]
            streaming[name] = {
                "min": round(min(s_runs), 4),
                "max": round(max(s_runs), 4),
            }
        out["streaming"] = streaming

    if os.environ.get("SPARK_GRAFT_BENCH_DUCKDB", "1") != "0":
        import duckdb

        con = duckdb.connect()
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        duck: dict[str, float] = {}
        for name in names:
            sql = cat[name].oracle
            if not sql:
                continue
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            duck[name] = round(time.perf_counter() - t0, 4)
        con.close()
        out["duckdb_queries"] = duck
        out["duckdb_total"] = round(sum(duck.values()), 4)
        out["spark_over_duckdb"] = (
            round(total / out["duckdb_total"], 4) if out["duckdb_total"] else None
        )

    # Dual emission, ASYMMETRIC on purpose: the driver captures only a
    # bounded TAIL of stdout (~2000 bytes — BENCH_r04 and BENCH_r05 both
    # arrived with parsed:null because the full line with spread /
    # scaling_x10 / duckdb_queries detail was 3.8 KB and the tail cut off
    # its head).  So stdout gets a COMPACT line — totals + per-query
    # medians + the engine ratio, ~1.1 KB for the 26 headliners — and the
    # full detail goes to BENCH_local.json for human/judge audit.
    full_line = json.dumps(out)
    repo = os.path.dirname(os.path.abspath(__file__))
    if partial:
        # filtered run: full detail to stdout, no sidecars (see above)
        print(full_line)
        spark.stop()
        return
    with open(os.path.join(repo, "BENCH_local.json"), "w") as f:
        f.write(full_line + "\n")
    # Per-round detail sidecar (VERDICT r07 task 3): the judge audits
    # per-query engine ratios from duckdb_queries / scaling_x10, which the
    # compact stdout line sheds.  The round label comes from an explicit
    # `--round N` argument when given (ADVICE r08: lets the driver pin the
    # label even if BENCH_r{N}.json already exists); otherwise it is
    # inferred as 1 + the newest recorded BENCH_r{N}.json — correct when
    # the driver runs bench.py at end-of-round N before writing
    # BENCH_r{N}.json.  Local iteration runs just keep overwriting the
    # same upcoming-round file, which is the freshest-data behavior we
    # want anyway.
    import glob
    import re as _re

    rnd = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--round" and i + 1 < len(argv) and argv[i + 1].isdigit():
            rnd = int(argv[i + 1])
        elif (m := _re.fullmatch(r"--round=(\d+)", a)):
            rnd = int(m.group(1))
    if rnd is None:
        stamped = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo, "BENCH_r[0-9]*.json"))
            if (m := _re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        rnd = (max(stamped) if stamped else 0) + 1
    with open(os.path.join(repo, f"BENCH_detail_r{rnd:02d}.json"), "w") as f:
        f.write(full_line + "\n")
    try:
        from scripts.bench_trend import write_trend

        write_trend(repo)
    except Exception as ex:  # noqa: BLE001 - trend is additive info
        print(f"bench_trend skipped: {ex}", file=sys.stderr)
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "queries", "sf",
            "duckdb_total", "spark_over_duckdb",
        )
        if k in out
    }
    compact_line = json.dumps(compact)
    # Belt and braces: if the headliner list ever grows past the tail
    # budget, shed the per-query detail rather than go parse-blind again.
    if len(compact_line) > 1800:
        compact.pop("queries", None)
        compact_line = json.dumps(compact)
    print(compact_line)
    spark.stop()


if __name__ == "__main__":
    main()
