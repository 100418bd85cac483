"""Dialect shim unit tests: strftime translation, dquote identifiers,
comment stripping, star-modifier expansion (SURVEY.md §2C flags)."""

import pytest

from polars_view_spark.errors import SqlDialectError
from polars_view_spark.plans.dialect import (
    double_quotes_to_backticks,
    rewrite_query,
    rewrite_strftime,
    strip_comments,
    translate_strftime_pattern,
)


class TestStrftime:
    @pytest.mark.parametrize(
        "src,want",
        [
            ("%d/%m/%Y", "dd/MM/yyyy"),
            ("%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss"),
            ("%Y-%m", "yyyy-MM"),
            ("%H:%M", "HH:mm"),
            ("%d %B %Y", "dd MMMM yyyy"),
            ("%F", "yyyy-MM-dd"),
            ("%%", "%"),
        ],
    )
    def test_tokens(self, src, want):
        assert translate_strftime_pattern(src) == want

    def test_literal_letters_quoted(self):
        # alphabetic literals must be quoted for the JVM formatter
        assert translate_strftime_pattern("%Yyr") == "yyyy'yr'"

    def test_unknown_token_errors(self):
        with pytest.raises(SqlDialectError):
            translate_strftime_pattern("%Q")

    def test_escaped_quote_format_translates(self):
        assert (
            rewrite_strftime("SELECT STRFTIME(ts, '%Y''x') FROM t")
            == "SELECT DATE_FORMAT(ts, 'yyyy''''x''') FROM t"
        )

    @pytest.mark.parametrize("fmt", ["'%Y' || '-%m'", "'%Y' || x || '%m'"])
    def test_format_must_be_one_complete_literal(self, fmt):
        # a concatenation used to be glued into one literal, printing
        # ' || ' into every value
        with pytest.raises(SqlDialectError, match="string literal"):
            rewrite_strftime(f"SELECT STRFTIME(ts, {fmt}) FROM t")


class TestDquote:
    def test_identifier(self):
        assert double_quotes_to_backticks('SELECT "a b" FROM t') == "SELECT `a b` FROM t"

    def test_single_quoted_untouched(self):
        q = "SELECT 'say \"hi\"' FROM t"
        assert double_quotes_to_backticks(q) == q

    def test_escaped_dquote(self):
        assert double_quotes_to_backticks('SELECT "a""b" FROM t') == 'SELECT `a"b` FROM t'

    @pytest.mark.parametrize("q", ['SELECT "abc', 'SELECT "ab""', 'SELECT "'])
    def test_unterminated_copied_verbatim(self, q):
        # closing it would silently name a shorter column (`ab`)
        assert double_quotes_to_backticks(q) == q


class TestComments:
    def test_line_and_block(self):
        q = "SELECT a, -- comment\n b /* block */ FROM t"
        s = strip_comments(q)
        assert "comment" not in s and "block" not in s
        assert "SELECT a," in s and "FROM t" in s

    def test_comment_chars_in_string(self):
        q = "SELECT '--not a comment' FROM t"
        assert strip_comments(q) == q


class TestStarModifiers:
    @pytest.fixture(scope="class", autouse=True)
    def table(self, spark):
        spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", 2.5)], "id int, name string, val double"
        ).createOrReplaceTempView("AllData")

    def test_rename(self, spark):
        df = spark.sql(rewrite_query("SELECT * RENAME (val AS v2) FROM AllData", spark))
        assert df.columns == ["id", "name", "v2"]

    def test_replace(self, spark):
        df = spark.sql(
            rewrite_query("SELECT * REPLACE (val * 2 AS val) FROM AllData", spark)
        )
        assert sorted(r["val"] for r in df.collect()) == [3.0, 5.0]

    def test_combined_order(self, spark):
        # EXCEPT applies first, then REPLACE, then RENAME — reference
        # example shape (src/sqls.rs:192-217)
        q = """SELECT *
        EXCEPT (id)
        REPLACE (upper(name) AS name)
        RENAME (name AS loud_name)
        FROM AllData ORDER BY loud_name"""
        df = spark.sql(rewrite_query(q, spark))
        assert df.columns == ["loud_name", "val"]
        assert [r["loud_name"] for r in df.collect()] == ["A", "B"]

    def test_cte_with_modifiers_and_where(self, spark):
        # the full testes-sqls.txt:63-104 shape: CTE + EXCEPT + REPLACE +
        # RENAME + WHERE on a CTE column + ORDER BY the renamed column
        q = """
        WITH extended AS (
          SELECT *, id * 10 AS big FROM AllData
        )
        SELECT *
        EXCEPT ("val")
        REPLACE (SubStr("name", 1, 1) AS "name")
        RENAME ("name" AS "initial")
        FROM extended
        WHERE big >= 10
        ORDER BY "initial" DESC
        """
        df = spark.sql(rewrite_query(q, spark))
        assert df.columns == ["id", "initial", "big"]
        assert [r["initial"] for r in df.collect()] == ["b", "a"]

    def test_replace_unknown_target_errors(self, spark):
        with pytest.raises(SqlDialectError):
            rewrite_query("SELECT * REPLACE (1 AS nope) FROM AllData", spark)

    def test_unmatched_paren_before_star_is_typed_error(self, spark):
        with pytest.raises(SqlDialectError, match="unbalanced"):
            rewrite_query("SELECT id) SELECT * RENAME (id AS k) FROM AllData", spark)

    def test_strftime_in_query(self, spark):
        spark.sql("SELECT timestamp'2024-03-05 01:02:03' AS ts").createOrReplaceTempView(
            "T1"
        )
        df = spark.sql(
            rewrite_query("SELECT STRFTIME(ts, '%d/%m/%Y') AS d FROM T1", spark)
        )
        assert df.first()["d"] == "05/03/2024"

    def test_setop_except_untouched(self, spark):
        # EXCEPT as a set operation must NOT be treated as the star modifier
        q = (
            "SELECT id FROM AllData EXCEPT SELECT id FROM AllData WHERE id = 1"
        )
        out = spark.sql(rewrite_query(q, spark))
        assert [r["id"] for r in out.collect()] == [2]

    def test_trailing_semicolon(self, spark):
        df = spark.sql(rewrite_query("SELECT * FROM AllData;", spark))
        assert df.count() == 2


class TestStarVsMultiplication:
    """The star-modifier parser must only fire on select-list stars — a
    ``*`` used as multiplication followed by the REPLACE string *function*
    is valid SQL and must pass through untouched (regression)."""

    @pytest.fixture(scope="class", autouse=True)
    def table(self, spark):
        spark.createDataFrame(
            [(2, "NA"), (3, "aN")], "qty int, flag string"
        ).createOrReplaceTempView("MulData")

    def test_multiplication_then_replace_function(self, spark):
        q = "SELECT qty * LENGTH(REPLACE(flag, 'N', 'XX')) AS v FROM MulData ORDER BY v"
        df = spark.sql(rewrite_query(q, spark))
        assert [r["v"] for r in df.collect()] == [6, 9]

    def test_multiplication_then_rename_like_call(self, spark):
        # no RENAME function exists; the point is the rewriter must not
        # consume it after an arithmetic star and corrupt the query text
        q = "SELECT qty * 2 AS v FROM MulData ORDER BY v"
        df = spark.sql(rewrite_query(q, spark))
        assert [r["v"] for r in df.collect()] == [4, 6]

    def test_count_star_untouched(self, spark):
        q = "SELECT COUNT(*) AS n FROM MulData"
        assert spark.sql(rewrite_query(q, spark)).collect()[0]["n"] == 2

    def test_qualified_star_modifier_still_fires(self, spark):
        q = "SELECT m.* RENAME (flag AS f) FROM MulData m"
        df = spark.sql(rewrite_query(q, spark))
        assert df.columns == ["qty", "f"]


class TestStarAfterHint:
    def test_hint_then_star_modifier(self, spark):
        """A /*+ hint */ between SELECT and * must not demote the star to
        multiplication — the RENAME modifier still expands."""
        from polars_view_spark.plans.dialect import rewrite_query

        df = spark.createDataFrame([(1, "x")], ["a", "b"])
        df.createOrReplaceTempView("HintData")
        q = rewrite_query(
            'SELECT /*+ REPARTITION(2) */ * RENAME (a AS k) FROM HintData', spark
        )
        out = spark.sql(q)
        assert out.columns == ["k", "b"], out.columns


class TestQualify:
    def test_alias_predicate_with_tail(self, spark):
        from polars_view_spark.plans.dialect import rewrite_query

        spark.read.parquet("/root/testdata/sf0.001/nation.parquet").createOrReplaceTempView("nation")
        q = ("SELECT n_name, n_regionkey, ROW_NUMBER() OVER "
             "(PARTITION BY n_regionkey ORDER BY n_name) AS r "
             "FROM nation QUALIFY r <= 2 ORDER BY n_regionkey, r LIMIT 4")
        rows = spark.sql(rewrite_query(q, spark)).collect()
        assert [r["r"] for r in rows] == [1, 2, 1, 2]

    def test_raw_window_predicate(self, spark):
        from polars_view_spark.plans.dialect import rewrite_query

        spark.read.parquet("/root/testdata/sf0.001/nation.parquet").createOrReplaceTempView("nation")
        q = ("SELECT n_name, n_regionkey FROM nation QUALIFY "
             "ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_name) = 1")
        rows = spark.sql(rewrite_query(q, spark)).collect()
        # one winner per region, no helper column in the output
        assert len(rows) == len({r["n_regionkey"] for r in rows})
        assert sorted(rows[0].asDict()) == ["n_name", "n_regionkey"]

    def test_string_literal_untouched(self, spark):
        from polars_view_spark.plans.dialect import rewrite_qualify

        q = "SELECT 'no QUALIFY here' AS s FROM t"
        assert rewrite_qualify(q) == q

    def test_empty_predicate_raises(self):
        import pytest as _pytest

        from polars_view_spark.plans.dialect import SqlDialectError, rewrite_qualify

        with _pytest.raises(SqlDialectError):
            rewrite_qualify("SELECT a FROM t QUALIFY ")

    def test_set_op_after_qualify_refused(self):
        """A top-level set op after the predicate would be swallowed into
        the predicate and emit malformed SQL — must refuse, not rewrite
        (ADVICE r03)."""
        import pytest as _pytest

        from polars_view_spark.plans.dialect import SqlDialectError, rewrite_qualify

        for op in ("UNION ALL", "UNION", "INTERSECT", "EXCEPT", "MINUS"):
            with _pytest.raises(SqlDialectError, match="set operation"):
                rewrite_qualify(
                    "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rk FROM t "
                    f"QUALIFY rk = 1 {op} SELECT b, 1 FROM u"
                )

    def test_set_op_inside_subquery_still_rewrites(self):
        """EXCEPT/UNION inside parens (e.g. an IN-subquery in the
        predicate) is not a top-level set op and must not trip the guard."""
        from polars_view_spark.plans.dialect import rewrite_qualify

        q = (
            "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rk FROM t "
            "QUALIFY rk IN (SELECT x FROM u EXCEPT SELECT y FROM v)"
        )
        out = rewrite_qualify(q)
        assert "__pvs_qualify__" in out

    def test_select_distinct_qualify_refused(self):
        """DuckDB/Snowflake evaluate QUALIFY BEFORE DISTINCT; the wrap
        would evaluate it after — refuse rather than silently diverge
        (ADVICE r03)."""
        import pytest as _pytest

        from polars_view_spark.plans.dialect import SqlDialectError, rewrite_qualify

        with _pytest.raises(SqlDialectError, match="DISTINCT"):
            rewrite_qualify(
                "SELECT DISTINCT a FROM t "
                "QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
            )

    def test_cte_prefix_does_not_bypass_distinct_guard(self):
        """The DISTINCT guard anchors on the MAIN select (first depth-0
        SELECT), so a WITH/CTE prefix cannot bypass it — the rewrite would
        evaluate the window after DISTINCT and silently diverge (r04
        review finding)."""
        import pytest as _pytest

        from polars_view_spark.plans.dialect import SqlDialectError, rewrite_qualify

        with _pytest.raises(SqlDialectError, match="DISTINCT"):
            rewrite_qualify(
                "WITH base AS (SELECT 1 AS a UNION ALL SELECT 1) "
                "SELECT DISTINCT a FROM base "
                "QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
            )

    def test_set_op_before_qualify_refused(self):
        """In DuckDB/Snowflake QUALIFY binds to the final SELECT branch of
        a set operation; the wrap would filter the whole union.  Refuse
        rather than silently diverge (r04 review finding)."""
        import pytest as _pytest

        from polars_view_spark.plans.dialect import SqlDialectError, rewrite_qualify

        with _pytest.raises(SqlDialectError, match="set operation"):
            rewrite_qualify(
                "SELECT a, 1 AS rk FROM t UNION ALL "
                "SELECT a, ROW_NUMBER() OVER (ORDER BY a) AS rk FROM u "
                "QUALIFY rk = 1"
            )

    def test_star_modifier_except_does_not_trip_setop_guard(self):
        """`SELECT * EXCEPT (…)` before QUALIFY is the polars star
        modifier (rewritten in a later pass), not a set operation — the
        head scan must skip an EXCEPT immediately preceded by a star."""
        from polars_view_spark.plans.dialect import rewrite_qualify

        for head in ("SELECT * EXCEPT (b)", "SELECT t.* EXCEPT (b)"):
            out = rewrite_qualify(
                f"{head} FROM t QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
            )
            assert "__pvs_qualify__" in out

    def test_set_op_inside_cte_body_does_not_trip_guard(self):
        """A set op inside a CTE's parens is not top-level; the guard must
        not refuse it and the non-DISTINCT main select still rewrites."""
        from polars_view_spark.plans.dialect import rewrite_qualify

        out = rewrite_qualify(
            "WITH c AS (SELECT 1 AS a UNION ALL SELECT 2) "
            "SELECT a FROM c QUALIFY ROW_NUMBER() OVER (ORDER BY a) = 1"
        )
        assert "__pvs_qualify__" in out


class TestStarModifierCteScope:
    """r04 review finding: a modifier star inside a CTE body (or a FROM
    subquery) must resolve against the OUTER scope's CTEs too — the
    analysis text needs a merged WITH prefix, not just the star's own
    scope."""

    def test_star_in_cte_body_references_earlier_cte(self, spark):
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH a AS (SELECT 1 AS x, 2 AS y), "
            "b AS (SELECT * REPLACE (x+1 AS x) FROM a) SELECT * FROM b",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 2, "y": 2}]

    def test_star_in_from_subquery_references_outer_cte(self, spark):
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH c AS (SELECT 3 AS x, 4 AS y) "
            "SELECT * FROM (SELECT * RENAME (x AS z) FROM c) s",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"z": 3, "y": 4}]

    def test_star_two_scopes_deep_references_top_cte(self, spark):
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH a AS (SELECT 1 AS x), "
            "b AS (SELECT * FROM (SELECT * REPLACE (x*10 AS x) FROM a) t) "
            "SELECT * FROM b",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 10}]

    def test_star_in_backtick_named_cte_body(self, spark):
        """The dangling `name AS` strip must handle backtick-quoted CTE
        names (which double-quoted identifiers become after the quote
        rewrite) — otherwise the merged prefix is malformed and a legal
        statement fails resolution."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            'WITH a AS (SELECT 1 AS x, 2 AS y), '
            '"b c" AS (SELECT * RENAME (y AS w) FROM a) '
            'SELECT * FROM "b c"',
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 1, "w": 2}]

    def test_star_in_cte_named_with_embedded_backtick(self, spark):
        """An identifier containing a literal backtick becomes a doubled
        backtick after the quote rewrite; the dangling-name strip must
        consume the whole quoted name, not stop at the first backtick
        pair (r04 review finding)."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            'WITH a AS (SELECT 1 AS x, 2 AS y), '
            '"b`c" AS (SELECT * RENAME (y AS w) FROM a) '
            'SELECT * FROM "b`c"',
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 1, "w": 2}]

    def test_inner_cte_shadows_outer_same_name(self, spark):
        """ADVICE r04: an inner scope redefining an outer CTE name must
        not produce a duplicate name in the merged WITH prefix — inner
        shadows outer, the statement is legal, and the star resolves
        against the INNER definition."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH a AS (SELECT 1 AS x, 2 AS y) "
            "SELECT * FROM (WITH a AS (SELECT 10 AS x, 20 AS z) "
            "SELECT * RENAME (z AS w) FROM a) s",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 10, "w": 20}]

    def test_shadowed_name_still_referenced_refuses_loudly(self, spark):
        """Review r05: dropping a shadowed outer CTE that ANOTHER
        surviving CTE references would forward-reference the inner
        redefinition — or silently bind to a same-named catalog view.
        Must refuse with a clear message, never resolve wrong."""
        from polars_view_spark.errors import SqlDialectError
        from polars_view_spark.plans.dialect import rewrite_query

        with pytest.raises(SqlDialectError, match="shadowed"):
            rewrite_query(
                "WITH a AS (SELECT 1 AS x, 2 AS y), "
                "b AS (SELECT * FROM a) "
                "SELECT * FROM (WITH a AS (SELECT 3 AS z) "
                "SELECT * RENAME (x AS w) FROM b) s",
                spark,
            )

    def test_reference_after_redefinition_is_legal(self, spark):
        """ADVICE r05: a CTE defined AFTER the inner redefinition that
        references the redefined name resolves to the redefinition —
        legal SQL, must not trip the forward-reference refusal (which
        only applies to definitions preceding the redefinition in
        merged order)."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH a AS (SELECT 1 AS x, 2 AS y) "
            "SELECT * FROM (WITH a AS (SELECT 10 AS x, 20 AS z), "
            "c AS (SELECT * FROM a), "
            "b AS (SELECT * RENAME (z AS w) FROM c) "
            "SELECT * FROM b) s",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 10, "w": 20}]

    def test_reference_before_redefinition_still_refuses(self, spark):
        """The positional narrowing must not weaken the true-positive:
        an outer sibling CTE (which lands BEFORE the inner redefinition
        in merged order) referencing the shadowed name still refuses."""
        from polars_view_spark.errors import SqlDialectError
        from polars_view_spark.plans.dialect import rewrite_query

        with pytest.raises(SqlDialectError, match="shadowed"):
            rewrite_query(
                "WITH a AS (SELECT 1 AS x), "
                "keep AS (SELECT x + 1 AS x FROM a) "
                "SELECT * FROM (WITH a AS (SELECT 7 AS x) "
                "SELECT * REPLACE (x*2 AS x) FROM keep) s",
                spark,
            )

    def test_backquoted_shadowing_def_no_false_positive(self, spark):
        """Review r05 second pass: the reference check must strip a
        BACKQUOTED definition's own name cleanly — a fixed-length slice
        left backtick residue that self-matched and refused this legal
        query."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            'WITH a AS (SELECT 1 AS x) '
            'SELECT * FROM (WITH z AS (SELECT 2 AS y), '
            '"a" AS (SELECT 3 AS w) '
            'SELECT * RENAME (w AS v) FROM "a") s',
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"v": 3}]

    def test_inner_shadowing_cte_body_star(self, spark):
        """Shadowing where the star sits inside the INNER redefinition's
        sibling CTE body: the merged prefix keeps exactly one `a`."""
        from polars_view_spark.plans.dialect import rewrite_query

        out = rewrite_query(
            "WITH a AS (SELECT 1 AS x) "
            "SELECT * FROM (WITH a AS (SELECT 5 AS x, 6 AS y), "
            "b AS (SELECT * REPLACE (x*2 AS x) FROM a) SELECT * FROM b) s",
            spark,
        )
        assert [r.asDict() for r in spark.sql(out).collect()] == [{"x": 10, "y": 6}]


class TestQuotedTextNeverRewritten:
    """Quoted text is data, not dialect: STRFTIME inside a literal, a
    LIMIT/OFFSET word inside a literal or a quoted identifier in the ORDER
    BY tail, and a keyword directly after a backticked name must all reach
    Spark with Spark's own meaning.  Each statement matches its plain
    Spark SQL equivalent row for row."""

    @pytest.fixture(scope="class", autouse=True)
    def table(self, spark):
        spark.createDataFrame(
            [(1, "x", 30), (2, "offset", 20), (3, "y", 10)],
            "a int, c string, offset int",
        ).createOrReplaceTempView("QuoteData")

    @pytest.mark.parametrize(
        "dialect_sql,native_sql",
        [
            (
                "SELECT 'strftime(a, b)' AS s FROM QuoteData",
                "SELECT 'strftime(a, b)' AS s FROM QuoteData",
            ),
            (
                "SELECT 'use strftime(ts, ''%Y'')' AS hint FROM QuoteData",
                "SELECT 'use strftime(ts, ''%Y'')' AS hint FROM QuoteData",
            ),
            (
                "SELECT * RENAME (a AS b) FROM QuoteData "
                "ORDER BY CASE WHEN c = 'offset' THEN 0 ELSE 1 END, a",
                "SELECT a AS b, c, `offset` FROM QuoteData "
                "ORDER BY CASE WHEN c = 'offset' THEN 0 ELSE 1 END, a",
            ),
            (
                'SELECT * RENAME (a AS b) FROM QuoteData ORDER BY "offset"',
                "SELECT a AS b, c, `offset` FROM QuoteData ORDER BY `offset`",
            ),
            (
                "SELECT * RENAME (`a`AS b) FROM QuoteData ORDER BY b",
                "SELECT a AS b, c, `offset` FROM QuoteData ORDER BY b",
            ),
        ],
        ids=["strftime-literal", "strftime-escaped-literal", "offset-literal",
             "offset-identifier", "backtick-then-as"],
    )
    def test_matches_native(self, spark, dialect_sql, native_sql):
        got = spark.sql(rewrite_query(dialect_sql, spark))
        want = spark.sql(native_sql)
        assert got.columns == want.columns
        assert got.collect() == want.collect()
