"""Sort cycle + container lifecycle tests (reference: src/sort.rs:39-61
5-state cycle, src/data_container.rs:247-309 sort, 122-129 fast path),
plus the pinned view's job budget and the fused null-column drop."""

import itertools

import pytest

from polars_view_spark.config import LoadConfig, SortBy, SortState
from polars_view_spark.container import DataContainer
from polars_view_spark.operators.rowindex import add_row_index
from polars_view_spark.operators.sort import apply_sort
from polars_view_spark.operators.transforms import remove_null_columns

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """Run ``fn``; return its result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestSortCycle:
    def test_five_states(self):
        s = SortState.NOT_SORTED
        seq = []
        for _ in range(5):
            s = s.next_state()
            seq.append(s)
        assert seq == [
            SortState.DESC_NULLS_FIRST,
            SortState.ASC_NULLS_FIRST,
            SortState.DESC_NULLS_LAST,
            SortState.ASC_NULLS_LAST,
            SortState.NOT_SORTED,
        ]

    def test_from_state_roundtrip(self):
        for s in SortState:
            sb = SortBy.from_state("c", s)
            if s == SortState.NOT_SORTED:
                assert sb is None
            else:
                assert sb.state == s


class TestApplySort:
    @pytest.fixture()
    def df(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, 5.0), (3, 1.0), (4, None), (5, 3.0)], "id int, v double"
        )

    def test_nulls_first_desc(self, df):
        out = apply_sort(df, [SortBy("v", ascending=False, nulls_last=False)])
        vals = [r["v"] for r in out.collect()]
        assert vals == [None, None, 5.0, 3.0, 1.0]

    def test_nulls_last_asc(self, df):
        out = apply_sort(df, [SortBy("v", ascending=True, nulls_last=True)])
        assert [r["v"] for r in out.collect()] == [1.0, 3.0, 5.0, None, None]

    def test_stability_tiebreaker(self, spark):
        # equal keys keep the frame's CURRENT order (reference
        # maintain_order=true); spark.range over 8 partitions has a
        # deterministic ascending layout
        df = spark.range(0, 100, 1, 8).selectExpr("CAST(id AS INT) AS id", "CAST(id % 2 AS INT) AS k")
        out = apply_sort(df, [SortBy("k")])
        ids = [r["id"] for r in out.collect()]
        evens = [i for i in ids if i % 2 == 0]
        odds = [i for i in ids if i % 2 == 1]
        assert evens == sorted(evens) and odds == sorted(odds)

    def test_multi_key_precedence(self, spark):
        df = spark.createDataFrame(
            [("b", 1), ("a", 2), ("a", 1), ("b", 2)], "g string, n int"
        )
        out = apply_sort(df, [SortBy("g"), SortBy("n", ascending=False)])
        assert [(r["g"], r["n"]) for r in out.collect()] == [
            ("a", 2),
            ("a", 1),
            ("b", 2),
            ("b", 1),
        ]

    def test_empty_criteria_noop(self, df):
        assert apply_sort(df, []) is df


class TestContainer:
    @pytest.fixture()
    def csv(self, tmp_path):
        p = tmp_path / "data.csv"
        p.write_text("id;name;v\n2;b;20\n1;a;10\n3;<N/D>;30\n")
        return str(p)

    def test_load_and_pipeline(self, spark, csv):
        c = DataContainer.load_data(
            spark,
            LoadConfig(path=csv, apply_sql=True, query="SELECT * FROM AllData WHERE id <= 2"),
        )
        assert c.shape() == (2, 3)
        # null markers applied: '<N/D>' -> NULL (filtered row not in view)
        assert c.loaded_format == "csv"

    def test_sort_and_reset(self, spark, csv):
        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        sorted_c = c.with_sort([SortBy("id", ascending=False)])
        assert [r["id"] for r in sorted_c.df.collect()] == [3, 2, 1]
        reset = sorted_c.with_sort([])
        assert reset.sort == []
        assert {r["id"] for r in reset.df.collect()} == {1, 2, 3}

    def test_requery_fast_path(self, spark, csv):
        import os

        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        os.remove(csv)  # file gone -> any re-read would now fail
        c2 = c.requery(
            spark, c.cfg.with_(apply_sql=True, query="SELECT COUNT(*) AS n FROM AllData")
        )
        assert c2.df.first()["n"] == 3  # served from cache, no re-read

    def test_schema_listing(self, spark, csv):
        c = DataContainer.load_data(spark, LoadConfig(path=csv))
        listing = c.schema_listing()
        assert [(i, n) for i, n, _ in listing] == [(0, "id"), (1, "name"), (2, "v")]


class TestPinnedView:
    """An indexed view is pinned once by the index's checkpoint: sorts,
    pages and saves read that pin instead of re-indexing or re-broadcasting."""

    @pytest.fixture()
    def csv(self, tmp_path):
        p = tmp_path / "view.csv"
        rows = "".join(f"{i};{i % 7};{i % 3},5;\n" for i in range(2000))
        p.write_text("id;k;Price EUR;empty\n" + rows)
        return str(p)

    @pytest.fixture()
    def cfg(self, csv):
        return LoadConfig(
            path=csv,
            normalize=True,
            normalize_regex="^.* EUR$",
            exclude_null_cols=True,
            apply_sql=True,
            query="SELECT * FROM AllData",
            add_row_index=True,
        )

    def test_sort_and_first_page_job_budget(self, spark, cfg):
        c = DataContainer.load_data(spark, cfg)
        assert c.df.columns == ["Row Number", "id", "k", "Price EUR"]
        _, n = _jobs(spark, lambda: c.df.limit(50).toArrow())
        assert n == 1
        s, n = _jobs(spark, lambda: c.with_sort([SortBy("k", ascending=False)]))
        assert n == 0
        page, n = _jobs(spark, lambda: s.df.limit(50).toArrow())
        assert n == 1
        assert page.num_rows == 50

    def test_requery_job_budget(self, spark, cfg):
        c = DataContainer.load_data(spark, cfg)
        q = cfg.with_(query="SELECT id, k, empty FROM AllData WHERE k > 2")
        c2, n = _jobs(spark, lambda: c.requery(spark, q))
        assert n <= 3
        assert c2.df.columns == ["Row Number", "id", "k"]

    def test_conflicted_index_is_the_tiebreaker(self, spark, tmp_path):
        # the view's own column takes the index name, so the index is
        # "Row Number_1"; sorting on it must equal a fresh re-index
        p = tmp_path / "conflict.csv"
        p.write_text("Row Number;k\n" + "".join(f"{i};{i % 3}\n" for i in range(300)))
        cfg = LoadConfig(path=str(p), add_row_index=True, exclude_null_cols=True)
        c = DataContainer.load_data(spark, cfg)
        assert c.df.columns[0] == "Row Number_1"
        criteria = [SortBy("k", ascending=False)]
        pinned = c.with_sort(criteria).df.collect()
        assert pinned == apply_sort(c.df_original, criteria).collect()
        assert [r["Row Number"] for r in pinned[:3]] == [2, 5, 8]


class TestFusedNullDrop:
    """``add_row_index(drop_null_cols=True)`` equals remove-null-columns
    followed by the index, frame for frame."""

    @staticmethod
    def _same(df, name="Row Number", offset=1):
        fused = add_row_index(df, name, offset, drop_null_cols=True)
        unfused = add_row_index(remove_null_columns(df), name, offset)
        assert fused.columns == unfused.columns
        assert fused.dtypes == unfused.dtypes
        assert fused.orderBy(fused.columns[0]).collect() == unfused.orderBy(
            unfused.columns[0]
        ).collect()
        return fused

    def test_zero_rows(self, spark):
        out = self._same(spark.createDataFrame([], "a int, b string"))
        assert out.columns == ["Row Number"] and out.count() == 0

    def test_all_null_column(self, spark):
        df = spark.range(0, 1000, 1, 8).selectExpr(
            "id", "CASE WHEN id = 999 THEN 'x' END AS rare", "CAST(NULL AS INT) AS gone"
        )
        out = self._same(df)
        assert out.columns == ["Row Number", "id", "rare"]

    def test_every_column_null(self, spark):
        out = self._same(spark.createDataFrame([(None,), (None,)], "a int"))
        assert out.columns == ["Row Number"] and out.count() == 0

    def test_all_null_column_named_like_the_index(self, spark):
        df = spark.createDataFrame([(None, "a"), (None, "b")], "`Row Number` int, v string")
        out = self._same(df)
        assert out.columns == ["Row Number", "v"]

    def test_offset_other_than_one(self, spark):
        df = spark.createDataFrame([(1, None), (2, None), (3, None)], "v int, n int")
        out = self._same(df, "idx", 100)
        assert [r["idx"] for r in out.orderBy("idx").collect()] == [100, 101, 102]
