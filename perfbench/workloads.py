"""The benchmark's workloads.

Each workload is one closed-loop client.  ``round_ops(rng)`` returns the
operations of one round; the workload seed picks their order and the
viewer's parameters, never the kinds or counts of operations, so every
round does the same amount of work of each kind.  ``warmup_ops()`` is
fixed and seed-free.  ``execute(op)`` is the timed part; ``digest(op,
out)`` turns its output into the row count and value hash the gate
compares, outside the timed window.
"""

from __future__ import annotations

import os
import random
import statistics
import subprocess
import sys
from dataclasses import dataclass, field

import datagen
from gate import digest
from tracing import make_progress_listener

#: rows per viewer page (the first page is fetched after every action)
PAGE_ROWS = 50


@dataclass
class Op:
    kind: str  # what the op is, for the per-kind latency metrics
    key: str  # distinct operation: the gate checks each key once per run
    params: dict = field(default_factory=dict)


class PipelineComposites:
    """The training-data composites plus one availableNow stream: the
    multi-job catalog entries whose time sits in driver-side checkpoints,
    job barriers and per-trigger fixed cost.  Each runs over lazy parquet
    scans of the data root and is materialized in full through Arrow."""

    entries = (
        "x_training_mix_e2e",
        "d_dedup_apply",
        "d_minhash_index_query",
        "x_quality_classifier",
        "e_streaming_dedup",
    )

    def __init__(self, spark, data_root: str, work_dir: str, tracer) -> None:
        from polars_view_spark.catalog import entries

        self.spark = spark
        self.tracer = tracer
        self.data_dir = data_root
        self.catalog = entries()
        self.progress = make_progress_listener(spark)

    def prepare(self) -> None:
        """The entries read the data root as it is."""

    def warmup_ops(self) -> list[Op]:
        return [Op("query", e) for e in self.entries]

    def round_ops(self, rng: random.Random) -> list[Op]:
        names = list(self.entries)
        rng.shuffle(names)
        return [Op("query", n) for n in names]

    def execute(self, op: Op):
        entry = self.catalog[op.key]
        sp = self.tracer.begin("catalog.spark_fn")
        try:
            df = entry.spark_fn(self.spark, self.data_dir)
        finally:
            self.tracer.end(sp)
        sp = self.tracer.begin("catalog.final_run")
        try:
            return df.toArrow()
        finally:
            self.tracer.end(sp)

    def digest(self, op: Op, out) -> dict:
        return digest(out)

    def kind_metrics(self, by_kind: dict) -> dict:
        trig = [p.get("triggerExecution", 0) / 1e3 for p in self.progress]
        p50 = statistics.median(trig) if trig else 0.0
        return {"batch_p50_s": {"value": p50, "unit": "s", "samples": len(trig)}}


# -- the viewer session -------------------------------------------------

#: indices into ``generate_sql_examples`` of the viewer's schema
BASE_QUERY = 0
#: the re-query every round runs: EXCEPT, REPLACE and RENAME in one
#: statement.  One fixed view, not a seeded pick: the examples' CPU costs
#: differ by up to 2x, which would make the seed move the figures.
REQUERY_VIEW = 7
SAVE_VIEW = 14  # the BETWEEN filter: the view every round saves
SORT_COLUMNS = ("l_quantity", "Price EUR", "l_returnflag", "l_shipdate")
SAVE_FORMATS = ("parquet", "csv", "ndjson")
REREAD_ROWS = (100, 300)  # infer_schema_rows values that force a re-read


class ViewerSession:
    """The paper's interactive loop over a 200k-row euro-formatted CSV:
    open, re-query with the generated SQL examples, cycle header sorts,
    save as parquet / csv / ndjson, and change a reader option that forces
    a re-read.  Every action is followed by a first-page fetch."""

    def __init__(self, spark, data_root: str, work_dir: str, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.data_root = data_root
        self.csv_path = os.path.join(work_dir, "viewer.csv")
        self.out_dir = os.path.join(work_dir, "saved")
        self.container = None
        self.cfg = None
        self.view = None  # example index of the current view
        self.sort_state: dict[str, int] = {}
        self.queries: list[str] = []
        self.reuse = {"requeries": 0, "reused": 0}
        self.bytes_out: list[tuple[int, int]] = []  # (bytes, rows) per save

    def prepare(self) -> None:
        """Write the CSV in a child process (see ``datagen.py``)."""
        subprocess.run(
            [sys.executable, datagen.__file__, "viewer-csv", self.data_root, self.csv_path],
            check=True,
        )

    def base_cfg(self):
        from polars_view_spark import LoadConfig

        return LoadConfig(
            path=self.csv_path,
            drop=True,
            drop_regex="^scratch_.*$",
            normalize=True,
            normalize_regex="^.* EUR$",
            exclude_null_cols=True,
            apply_sql=True,
            add_row_index=True,
        )

    def _examples(self) -> list[str]:
        if not self.queries:
            from polars_view_spark.operators.transforms import apply_pipeline
            from polars_view_spark.plans.examples import generate_sql_examples
            from polars_view_spark.sources.readers import read_any

            cfg = self.base_cfg().with_(
                apply_sql=False, exclude_null_cols=False, add_row_index=False
            )
            src, _, cfg = read_any(self.spark, cfg)
            self.queries = generate_sql_examples(apply_pipeline(src, cfg).schema)
        return self.queries

    # -- operation lists --------------------------------------------------
    def warmup_ops(self) -> list[Op]:
        """One round drawn from a seed-free generator: every op the timed
        round runs has run once before it."""
        return self.round_ops(random.Random(-1))
    def round_ops(self, rng: random.Random) -> list[Op]:
        """open, one header click on each sort column of the opened view in
        seeded order, then in seeded order: a re-query, a re-query followed
        by saves in all three formats, and a reader change that forces a
        re-read.  Every round runs the same ops; the seed picks their order
        and the re-read's sample size."""
        cols = list(SORT_COLUMNS)
        rng.shuffle(cols)
        clicks = [Op("sort", "", {"col": c}) for c in cols]
        fmts = list(SAVE_FORMATS)
        rng.shuffle(fmts)
        episodes = [
            [self._requery(REQUERY_VIEW)],
            [self._requery(SAVE_VIEW)] + [self._save(SAVE_VIEW, f) for f in fmts],
            [Op("reread", "reread", {"rows": rng.choice(REREAD_ROWS)})],
        ]
        rng.shuffle(episodes)
        return [Op("open", "open")] + clicks + [op for ep in episodes for op in ep]

    def _requery(self, q: int) -> Op:
        return Op("requery", f"requery:{q}", {"q": q})

    def _save(self, q: int, fmt: str) -> Op:
        return Op("save", f"save:{q}:{fmt}", {"fmt": fmt})

    # -- execution ----------------------------------------------------------
    def _page(self):
        sp = self.tracer.begin("arrow.first_page_collect")
        try:
            return self.container.df.limit(PAGE_ROWS).toArrow()
        finally:
            self.tracer.end(sp)

    def execute(self, op: Op):
        from polars_view_spark import DataContainer, SortBy
        from polars_view_spark.config import SortState
        from polars_view_spark.sources import writers

        if op.kind == "open":
            self.cfg = self.base_cfg().with_(query=self._examples()[BASE_QUERY])
            self.container = DataContainer.load_data(self.spark, self.cfg)
            self.view, self.sort_state = BASE_QUERY, {}
        elif op.kind in ("requery", "reread"):
            if op.kind == "reread":
                q = BASE_QUERY
                self.cfg = self.cfg.with_(infer_schema_rows=op.params["rows"])
            else:
                q = op.params["q"]
            self.cfg = self.cfg.with_(query=self._examples()[q])
            self.container = self.container.requery(self.spark, self.cfg)
            self.reuse["requeries"] += 1
            # requery() clears read_data_from_file when it reuses the source
            self.reuse["reused"] += not self.container.cfg.read_data_from_file
            self.view, self.sort_state = q, {}
        elif op.kind == "sort":
            col = op.params["col"]
            state = SortState((self.sort_state.get(col, 0) + 1) % 5)
            self.sort_state = {col: state.value}
            sb = SortBy.from_state(col, state)
            self.container = self.container.with_sort([sb] if sb else [])
            op.key = f"sort:{self.view}:{col}:{state.value}"
        elif op.kind == "save":
            path = os.path.join(self.out_dir, f"view.{op.params['fmt']}")
            os.makedirs(self.out_dir, exist_ok=True)
            writers.save_as(self.container.df, path)
            return path
        return self._page()

    def digest(self, op: Op, out) -> dict:
        if op.kind != "save":
            return digest(out)
        import pyarrow.csv as pacsv
        import pyarrow.json as pajson
        import pyarrow.parquet as pq

        fmt = op.params["fmt"]
        if fmt == "parquet":
            table = pq.read_table(out)
        elif fmt == "csv":
            table = pacsv.read_csv(out, parse_options=pacsv.ParseOptions(delimiter=";"))
        else:
            table = pajson.read_json(out)
        self.bytes_out.append((os.path.getsize(out), table.num_rows))
        return digest(table)

    def kind_metrics(self, by_kind: dict) -> dict:
        names = {"open": "open_first_page_s", "requery": "requery_p50_s",
                 "sort": "sort_p50_s", "save": "save_p50_s"}
        return {
            m: {"value": by_kind[k]["p50_s"], "unit": "s", "samples": by_kind[k]["samples"]}
            for k, m in names.items()
            if k in by_kind
        }


#: tables each workload reads from the data root
TABLES = {
    "viewer_session": ("lineitem",),
    "pipeline_composites": datagen.PIPELINE_TABLES,
}
WORKLOADS = {
    "viewer_session": ViewerSession,
    "pipeline_composites": PipelineComposites,
}
