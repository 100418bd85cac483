"""Dialect-shim robustness: arbitrary garbage must never hang or crash the
rewriter with a non-engine exception — it either returns a string or raises
SqlDialectError (the typed error surface)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from polars_view_spark.errors import SqlDialectError
from polars_view_spark.plans.dialect import (
    double_quotes_to_backticks,
    rewrite_strftime,
    strip_comments,
)


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_lexer_helpers_total(q):
    # comment stripping and quote conversion are total functions
    s = strip_comments(q)
    assert isinstance(s, str)
    b = double_quotes_to_backticks(q)
    assert isinstance(b, str)


@settings(max_examples=300, deadline=None)
@given(
    st.text(
        alphabet="SELECT FROMstrftime()'%dmyY,\"` \n*;-",
        max_size=120,
    )
)
def test_strftime_rewrite_never_hangs(q):
    try:
        out = rewrite_strftime(q)
        assert isinstance(out, str)
    except SqlDialectError:
        pass  # typed error is the contract


@settings(max_examples=300, deadline=None)
@given(
    st.text(alphabet="ab%Y'(), \"`", max_size=30),
    st.sampled_from(["strftime(", "STRFTIME(", "StrFTime ("]),
    st.text(alphabet="ab%Y'(), \"`", max_size=30),
)
def test_strftime_inside_literal_untouched(pre, call, post):
    """A single-quoted literal (quotes escaped by doubling) that spells a
    STRFTIME call is data: the rewrite returns it byte for byte."""
    literal = "'" + (pre + call + post).replace("'", "''") + "'"
    q = f"SELECT {literal} AS s"
    assert rewrite_strftime(q) == q


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=150))
def test_full_rewrite_total_without_engine(q):
    """Full rewrite on random text: no modifier present → pure string work;
    must terminate with a string or SqlDialectError."""
    from polars_view_spark.plans.dialect import rewrite_query
    from polars_view_spark.session import get_spark

    try:
        out = rewrite_query(q, get_spark("fuzz"))
        assert isinstance(out, str)
    except SqlDialectError:
        pass
