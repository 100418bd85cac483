"""SQL dialect shim.

The reference delegates SQL to Polars SQL (reference:
src/polars/transforms.rs:86-94); its demonstrated dialect (SURVEY.md §2C)
includes constructs Spark SQL doesn't parse.  This module rewrites a query
string into Spark SQL *before* ``spark.sql`` sees it:

- double-quoted identifiers → backticks (Polars/ANSI treats ``"x"`` as an
  identifier; Spark default treats it as a string literal);
- ``STRFTIME(expr, '%d/%m/%Y')`` → ``DATE_FORMAT(expr, 'dd/MM/yyyy')`` with
  a chrono-token → JVM-pattern translator;
- ``SELECT * REPLACE (expr AS col)`` / ``SELECT * RENAME (col AS new)``
  (Polars SELECT-modifier extensions) → an explicit select list.  The star's
  column set is obtained by *analyzing* (not executing) the query with the
  modifier groups stripped — ``spark.sql(q).schema`` is a catalyst-only
  round trip, so this costs no cluster work;
- ``SELECT * EXCEPT (…)``, ``ILIKE``, HAVING-on-alias are native in
  Spark ≥4 (probed) and pass through untouched.

Everything here is driver-side string/AST work — zero effect on the
distributed plan beyond the query it produces.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from polars_view_spark.errors import SqlDialectError

# --- chrono strftime → java.time.DateTimeFormatter tokens -------------------

_STRFTIME_TOKENS = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%d": "dd",
    "%e": "d",
    "%H": "HH",
    "%k": "H",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%j": "DDD",
    "%b": "MMM",
    "%B": "MMMM",
    "%a": "EEE",
    "%A": "EEEE",
    "%p": "a",
    "%F": "yyyy-MM-dd",
    "%T": "HH:mm:ss",
    "%%": "%",
}

_LETTERS = re.compile(r"[A-Za-z]+")


def translate_strftime_pattern(fmt: str) -> str:
    """Translate a chrono strftime pattern to a JVM datetime pattern.

    Literal alphabetic runs are single-quote-escaped (JVM patterns treat
    letters as field specifiers).
    """
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            token = fmt[i : i + 2]
            mapped = _STRFTIME_TOKENS.get(token)
            if mapped is None:
                raise SqlDialectError(f"unsupported strftime token {token!r} in {fmt!r}")
            out.append(mapped)
            i += 2
        else:
            j = i
            while j < len(fmt) and not (fmt[j] == "%"):
                j += 1
            literal = fmt[i:j]
            # quote alphabetic runs so the JVM formatter treats them literally
            literal = _LETTERS.sub(lambda m: f"'{m.group(0)}'", literal)
            out.append(literal)
            i = j
    return "".join(out)


# --- lexer-ish helpers -------------------------------------------------------


def _scan_string(q: str, i: int, quote: str) -> int:
    """Return index just past a quoted region starting at ``i`` (q[i]==quote),
    or ``len(q) + 1`` if the region is unterminated.  Doubled quotes escape
    themselves (SQL style)."""
    i += 1
    n = len(q)
    while i < n:
        if q[i] == quote:
            if i + 1 < n and q[i + 1] == quote:
                i += 2
                continue
            return i + 1
        i += 1
    return n + 1


def strip_comments(q: str) -> str:
    """Remove ``-- …`` and ``/* … */`` comments outside quoted regions."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        if ch in ("'", '"', "`"):
            j = _scan_string(q, i, ch)
            out.append(q[i:j])
            i = j
        elif ch == "-" and q[i : i + 2] == "--":
            j = q.find("\n", i)
            i = n if j == -1 else j  # keep the newline
        elif ch == "/" and q[i : i + 2] == "/*":
            j = q.find("*/", i)
            i = n if j == -1 else j + 2
            out.append(" ")
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def double_quotes_to_backticks(q: str) -> str:
    """Rewrite ``"identifier"`` → `` `identifier` `` outside single-quoted
    strings, matching Polars/ANSI identifier semantics.  An unterminated
    ``"…`` is copied verbatim, so Spark's parser rejects the statement."""
    out: list[str] = []
    i, n = 0, len(q)
    while i < n:
        ch = q[i]
        if ch == "'":
            j = _scan_string(q, i, "'")
            out.append(q[i:j])
            i = j
        elif ch == "`":
            j = _scan_string(q, i, "`")
            out.append(q[i:j])
            i = j
        elif ch == '"':
            j = _scan_string(q, i, '"')
            if j > n:
                out.append(q[i:])
            else:
                inner = q[i + 1 : j - 1].replace('""', '"').replace("`", "``")
                out.append(f"`{inner}`")
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _code(q: str, start: int = 0, stop: int | None = None):
    """Yield ``(i, depth)`` for each character of ``q[start:stop]`` outside
    ``'…'``, ``"…"`` and `` `…` `` regions — the one scanner every
    structural helper below is built on.  ``depth`` counts the parens
    opened since ``start``; a paren and its match share the outer depth,
    so an unmatched ``)`` reads -1."""
    n = len(q) if stop is None else stop
    i, depth = start, 0
    while i < n:
        ch = q[i]
        if ch in ("'", '"', "`"):
            i = _scan_string(q, i, ch)
            continue
        if ch == ")":
            depth -= 1
        yield i, depth
        if ch == "(":
            depth += 1
        i += 1


def _kw_at(q: str, i: int, kw: str) -> bool:
    """Whole-token keyword match at position ``i``."""
    k = len(kw)
    return (
        q[i : i + k].upper() == kw
        and (i == 0 or not (q[i - 1].isalnum() or q[i - 1] == "_"))
        and (i + k >= len(q) or not (q[i + k].isalnum() or q[i + k] == "_"))
    )


def _find_matching_paren(q: str, open_idx: int) -> int:
    for i, depth in _code(q, open_idx):
        if depth == 0 and q[i] == ")":
            return i
    raise SqlDialectError("unbalanced parentheses in query")


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parens, strings and quoted identifiers."""
    parts: list[str] = []
    start = 0
    for i, depth in _code(s):
        if depth == 0 and s[i] == sep:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def _split_last_as(item: str) -> tuple[str, str]:
    """Split ``expr AS name`` on the LAST top-level AS."""
    last = -1
    for i, depth in _code(item):
        if depth == 0 and _kw_at(item, i, "AS"):
            last = i
    if last == -1:
        raise SqlDialectError(f"expected 'expr AS name' in modifier item: {item!r}")
    return item[:last].strip(), item[last + 2 :].strip()


def _unquote_ident(name: str) -> str:
    name = name.strip()
    if len(name) >= 2 and name[0] == "`" and name[-1] == "`":
        return name[1:-1].replace("``", "`")
    return name


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


_STRFTIME_CALL = re.compile(r"STRFTIME\s*\(", re.IGNORECASE)
_MODIFIER_KW = re.compile(r"^\s*(EXCEPT|REPLACE|RENAME)\s*\(", re.IGNORECASE)


def rewrite_strftime(q: str) -> str:
    """Rewrite every STRFTIME(expr, 'fmt') call to DATE_FORMAT.  Text
    inside string literals and quoted identifiers is never rewritten."""
    while True:
        for at, _ in _code(q):
            if _kw_at(q, at, "STRFTIME") and _STRFTIME_CALL.match(q, at):
                break
        else:
            return q
        open_idx = q.index("(", at)
        close_idx = _find_matching_paren(q, open_idx)
        args = _split_top_level(q[open_idx + 1 : close_idx])
        if len(args) != 2:
            raise SqlDialectError(f"STRFTIME expects 2 args, got {len(args)}")
        fmt_arg = args[1].strip()
        if not (fmt_arg[:1] == "'" and _scan_string(fmt_arg, 0, "'") == len(fmt_arg)):
            raise SqlDialectError("STRFTIME format must be a string literal")
        fmt = fmt_arg[1:-1].replace("''", "'")
        translated = translate_strftime_pattern(fmt).replace("'", "''")
        q = q[:at] + f"DATE_FORMAT({args[0]}, '{translated}')" + q[close_idx + 1 :]


def _parse_star_modifiers(q: str, star_idx: int):
    """From a ``*`` at ``star_idx``, parse trailing EXCEPT/REPLACE/RENAME
    groups.  Returns (end_index, except_src, replace_items, rename_pairs)
    where except_src is the raw EXCEPT group text (kept native)."""
    i = star_idx + 1
    except_src: str | None = None
    replace_items: list[tuple[str, str]] = []
    rename_pairs: list[tuple[str, str]] = []
    while True:
        m = _MODIFIER_KW.match(q[i:])
        if m is None:
            break
        kw = m.group(1).upper()
        open_idx = i + m.end() - 1
        close_idx = _find_matching_paren(q, open_idx)
        body = q[open_idx + 1 : close_idx]
        if kw == "EXCEPT":
            except_src = body
        elif kw == "REPLACE":
            for item in _split_top_level(body):
                expr, name = _split_last_as(item)
                replace_items.append((_unquote_ident(name), expr))
        else:  # RENAME
            for item in _split_top_level(body):
                old, new = _split_last_as(item)
                rename_pairs.append((_unquote_ident(old), _unquote_ident(new)))
        i = close_idx + 1
        while i < len(q) and q[i].isspace():
            i += 1
    return i, except_src, replace_items, rename_pairs


def _scan_top_level_keyword(q: str, keywords: tuple[str, ...], start: int = 0) -> int:
    """Index of the first depth-0, outside-string occurrence of any keyword
    (case-insensitive, word-bounded) at or after ``start``, or -1."""
    for i, depth in _code(q, start):
        if depth == 0 and any(_kw_at(q, i, kw) for kw in keywords):
            return i
    return -1


_SET_OP_KEYWORDS = ("UNION", "INTERSECT", "EXCEPT", "MINUS")


def _scan_top_level_setop(q: str) -> int:
    """Index of the first depth-0 set-operation keyword in ``q``, or -1.
    UNION/INTERSECT/MINUS always count; EXCEPT counts only when NOT
    immediately preceded by a select-list ``*`` (that form is the polars
    star modifier ``SELECT * EXCEPT (…)``, which is not a set op and is
    rewritten in a later pass)."""
    start = 0
    while True:
        i = _scan_top_level_keyword(q, _SET_OP_KEYWORDS, start)
        if i < 0 or not _kw_at(q, i, "EXCEPT") or not q[:i].rstrip().endswith("*"):
            return i
        start = i + len("EXCEPT")


def rewrite_qualify(q: str) -> str:
    """Rewrite a top-level ``QUALIFY <pred>`` (window-function filtering
    sugar — DuckDB/BigQuery/Snowflake dialects; Spark has no native form)
    into a wrapped filter:

    ``SELECT … QUALIFY p [tail]`` →
    ``SELECT * EXCEPT (__pvs_qualify__) FROM (SELECT *, (p) AS
    __pvs_qualify__ FROM (SELECT …) …) … WHERE __pvs_qualify__ [tail]``

    The predicate's window functions evaluate over the inner query's
    OUTPUT rows, so it may reference select-list aliases or windows over
    projected columns — the standard QUALIFY contract.  (A window over a
    column the select list drops is not resolvable post-projection; Spark's
    analyzer reports it by name.)  ``ORDER BY``/``LIMIT`` after the clause
    stay in the outer query where output aliases remain visible.  The
    emitted ``* EXCEPT`` is Spark-native (not the polars modifier — the
    shim leaves bare EXCEPT untouched).  Occurrences inside strings or
    subqueries are left alone; Spark's parser rejects an unrewritten inner
    QUALIFY loudly rather than this shim guessing nesting semantics.
    """
    i = _scan_top_level_keyword(q, ("QUALIFY",))
    if i < 0:
        return q
    head = q[:i].rstrip()
    rest = q[i + len("QUALIFY") :]
    # a top-level set operation anywhere in the statement cannot be
    # wrapped.  After the predicate it would swallow `UNION ALL SELECT …`
    # into the predicate and emit malformed SQL; BEFORE the QUALIFY the
    # wrap would filter the whole union while the dialects bind QUALIFY to
    # the final SELECT branch only.  Refuse loudly instead of mis-rewriting
    # (ADVICE r03); a caller can parenthesize each branch to scope its
    # QUALIFY.  The head scan must ignore the star-modifier `* EXCEPT (…)`
    # (qualify rewriting runs before star-modifier rewriting), which is the
    # only place a non-set-op EXCEPT can sit at depth 0 — distinguished by
    # the `*` immediately preceding it.
    if (
        _scan_top_level_keyword(rest, _SET_OP_KEYWORDS) >= 0
        or _scan_top_level_setop(head) >= 0
    ):
        raise SqlDialectError(
            "QUALIFY cannot be combined with a top-level set operation; "
            "parenthesize the branch that uses QUALIFY"
        )
    # DuckDB/Snowflake evaluate QUALIFY BEFORE DISTINCT; the wrap filters
    # AFTER it, which changes results whenever DISTINCT collapses rows the
    # window counted.  Refuse rather than silently diverge (ADVICE r03).
    # Anchor on the statement's MAIN select — the first depth-0 SELECT —
    # so a WITH/CTE prefix cannot bypass the guard (CTE bodies live inside
    # parens and are skipped by the top-level scan; set-ops were refused
    # above, so the first depth-0 SELECT is the main block).
    s = _scan_top_level_keyword(head, ("SELECT",))
    if s >= 0 and re.match(r"SELECT\s+DISTINCT\b", head[s:], re.IGNORECASE):
        raise SqlDialectError(
            "QUALIFY with SELECT DISTINCT is not supported: the rewrite "
            "would evaluate the window after DISTINCT, diverging from the "
            "QUALIFY-before-DISTINCT dialect semantics; deduplicate in an "
            "outer query instead"
        )
    j = _scan_top_level_keyword(rest, ("ORDER", "LIMIT", "OFFSET"))
    pred, tail = (rest, "") if j < 0 else (rest[:j], rest[j:])
    pred = pred.strip().rstrip(";").strip()
    if not pred:
        raise SqlDialectError("QUALIFY requires a predicate")
    return (
        "SELECT * EXCEPT (__pvs_qualify__) FROM "
        f"(SELECT *, ({pred}) AS __pvs_qualify__ FROM ({head}) __pvs_qsub) "
        f"__pvs_qwrap WHERE __pvs_qualify__ {tail}".rstrip()
    )


_ORDER_BY = re.compile(r"ORDER\s+BY\b", re.IGNORECASE)


def _strip_order_by(q: str) -> str:
    """Remove a top-level ORDER BY … (up to LIMIT/OFFSET or end) — used only
    for the schema-analysis copy, where ORDER BY may reference aliases the
    modifier-stripped query doesn't have yet.  The tail keyword counts only
    outside quotes and at the ORDER BY's own depth."""
    for i, depth in _code(q):
        if depth == 0 and _kw_at(q, i, "ORDER") and _ORDER_BY.match(q, i):
            end = _scan_top_level_keyword(q, ("LIMIT", "OFFSET"), i)
            return q[:i] + ("" if end < 0 else q[end:])
    return q


def _is_select_list_star(q: str, star_idx: int) -> bool:
    """A ``*`` is a select-list star (not multiplication) iff the preceding
    non-space token is SELECT/DISTINCT/ALL, a comma, an opening paren, or a
    ``.`` (qualified star).  Anything else — an identifier, a literal, a
    closing paren — makes it an arithmetic operator, and the modifier
    keywords that may follow (e.g. the REPLACE *function*) must be left
    alone."""
    j = star_idx - 1
    while j >= 0 and q[j].isspace():
        j -= 1
    if j < 0:
        return False
    if q[j] in (",", "(", "."):
        return True
    end = j + 1
    while j >= 0 and (q[j].isalnum() or q[j] == "_"):
        j -= 1
    return q[j + 1 : end].upper() in ("SELECT", "DISTINCT", "ALL")


def _modifier_stars(q: str):
    """All select-list stars carrying REPLACE/RENAME modifiers, each as
    ``(depth, star_idx, mod_end, except_src, replace_items, rename_pairs)``."""
    out = []
    skip = 0  # end of the last parsed modifier chain
    for i, depth in _code(q):
        if i < skip or q[i] != "*" or not _is_select_list_star(q, i):
            continue
        skip, except_src, replace_items, rename_pairs = _parse_star_modifiers(q, i)
        if replace_items or rename_pairs:
            out.append((depth, i, skip, except_src, replace_items, rename_pairs))
    return out


def _select_block(q: str, star_idx: int, mod_end: int):
    """Bounds of the star's OWN select statement: ``(select_start,
    block_end, with_prefix)``.

    The star's column set must be resolved against the SELECT it sits in —
    not the whole statement, whose output schema diverges from the star's
    expansion whenever the statement composes (a set-op's schema is branch
    1's even for a branch-2 star; a QUALIFY/CTE wrapper adds aliases the
    inner star must not absorb).  The block runs from the nearest
    preceding SELECT at the star's paren depth to the first set-op
    keyword / closing paren at that depth; a WITH clause opening the
    star's scope is returned as a prefix so ``FROM <cte>`` resolves.
    """
    stack: list[int] = []  # open-paren indices enclosing the star
    for i, _ in _code(q, 0, star_idx):
        if q[i] == "(":
            stack.append(i)
        elif q[i] == ")":
            if not stack:
                raise SqlDialectError("unbalanced parentheses in query")
            stack.pop()
    # SELECTs at the star's own depth within its scope
    scope = stack[-1] + 1 if stack else 0
    selects = [
        i for i, depth in _code(q, scope, star_idx)
        if depth == 0 and _kw_at(q, i, "SELECT")
    ]
    if not selects:
        raise SqlDialectError("star modifiers outside any SELECT")
    # block end: from the end of the modifier chain to the scope's close
    # or the next set-op keyword at the star's depth
    block_end = next(
        (
            i
            for i, depth in _code(q, mod_end)
            if depth < 0
            or (depth == 0 and any(_kw_at(q, i, kw) for kw in _SET_OP_KEYWORDS))
        ),
        len(q),
    )
    return selects[-1], block_end, _enclosing_with_prefix(q, stack, selects[0])


def _enclosing_with_prefix(q: str, stack: list[int], first_select_in_scope: int) -> str:
    """Merged ``WITH …`` prefix of every CTE visible at the star's select
    block — from the star's own scope AND every enclosing scope.

    A modifier star inside a CTE body (or a FROM-subquery) may reference
    CTEs defined earlier in an OUTER scope's WITH clause; resolving the
    block without them fails ("could not resolve star columns") even
    though the full statement is legal.  For each scope on the paren path
    to the star, the CTEs defined before the path continues inward are
    collected: up to the scope's main SELECT when the path descends
    through a subquery, or up to the star's own CTE definition (trailing
    ``name AS`` stripped) when it descends through a CTE body.  Fragments
    are merged outermost-first into a single WITH clause (Spark rejects
    stacked WITH keywords).  ``stack`` holds the open-paren indices
    enclosing the star, outermost first.
    """
    starts = [0] + [p + 1 for p in stack]
    children = stack + [first_select_in_scope]
    frags: list[str] = []
    for s, c in zip(starts, children):
        text = q[s:c]
        m = re.match(r"\s*WITH\b", text, re.IGNORECASE)
        if not m:
            continue
        sel = _scan_top_level_keyword(text, ("SELECT",))
        if sel >= 0:
            # path descends through a subquery after this scope's main
            # SELECT — the whole WITH clause is visible
            clause = text[:sel]
        else:
            # path descends into a CTE body — keep the CTEs defined
            # before it, dropping the dangling `name AS` (and an optional
            # column-alias list) that opens the star's own CTE
            clause = re.sub(
                r",?\s*(?:[A-Za-z_]\w*|`(?:[^`]|``)+`)\s*(\([^()]*\))?\s+AS\s*$",
                "",
                text,
                flags=re.IGNORECASE,
            )
        body = clause[m.end() :].strip().rstrip(",").strip()
        if body:
            frags.append(body)
    if not frags:
        return ""
    # Inner scopes shadow outer ones: if an inner fragment redefines a CTE
    # name, the outer definition is dropped instead of emitted twice —
    # Spark rejects a WITH clause with duplicate names, which would turn a
    # legal statement into a spurious SqlDialectError (ADVICE r04).  Order
    # stays outermost-first so cross-references to earlier CTEs resolve.
    per_frag = [
        [(_cte_def_name(d), d) for d in _split_top_level(body)]
        for body in frags
    ]
    merged: list[tuple[str, str]] = []
    dropped: list[str] = []
    for fi, defs in enumerate(per_frag):
        inner_names = {
            name for later in per_frag[fi + 1 :] for name, _ in later if name
        }
        for n, d in defs:
            if n and n in inner_names:
                dropped.append(n)
            else:
                merged.append((n, d))
    # A surviving definition that references a dropped outer name BEFORE
    # the inner redefinition appears would forward-reference it (Spark
    # CTEs cannot) or — worse — silently bind to a same-named catalog
    # table/view, resolving the star against the wrong schema.  Refuse
    # loudly instead (review r05 finding; the word-boundary check is
    # conservative on purpose: a false positive is a clear refusal,
    # never a wrong result).  Only definitions that PRECEDE the
    # redefinition in merged order are suspect — a definition at or
    # after it legally resolves to the redefinition (ADVICE r05: inner
    # `WITH a AS (...), c AS (... FROM a), b AS (star FROM c)` under an
    # outer `WITH a` is fine; c binds to the inner a).
    redef_at = {n: i for i, (n, _) in enumerate(merged) if n}
    for name in dropped:
        pat = re.compile(
            rf"(?:\b{re.escape(name)}\b|`{re.escape(name)}`)", re.IGNORECASE
        )
        for other_name, d in merged[: redef_at.get(name, len(merged))]:
            # strip the definition's own leading (possibly backquoted)
            # name token so it can't self-match — a fixed-length slice
            # would leave backtick residue and false-positive
            body_only = re.sub(
                r"^\s*(?:`(?:[^`]|``)+`|[A-Za-z_]\w*)", "", d, count=1
            )
            if pat.search(body_only):
                raise SqlDialectError(
                    f"star modifier cannot be resolved: outer CTE "
                    f"{name!r} is shadowed by an inner redefinition but "
                    f"still referenced by CTE {other_name or d[:30]!r} — "
                    "rename one of the CTEs or expand the star manually"
                )
    return "WITH " + ", ".join(d for _, d in merged) + " "


def _cte_def_name(defn: str) -> str:
    """Normalized (lowercased, unquoted) leading CTE name of one
    ``name [(cols)] AS (...)`` definition; '' when unparseable."""
    m = re.match(r"\s*(`(?:[^`]|``)+`|[A-Za-z_]\w*)", defn)
    if not m:
        return ""
    name = m.group(1)
    if name.startswith("`"):
        return name[1:-1].replace("``", "`").lower()
    return name.lower()


def rewrite_star_modifiers(q: str, spark: SparkSession) -> str:
    """Expand ``SELECT * [EXCEPT(…)] [REPLACE(…)] [RENAME(…)]`` into an
    explicit select list.  EXCEPT alone is Spark-native and left untouched;
    REPLACE/RENAME require expansion, for which the star's column set is
    resolved by analyzing the star's OWN select block with the modifiers
    stripped (schema-only, no job) — see :func:`_select_block` for why the
    whole statement is the wrong resolution scope.  Stars are expanded
    deepest/rightmost first so that by the time an outer star is analyzed,
    every nested modifier star in its block is already plain SQL.
    """
    while True:
        stars = _modifier_stars(q)
        if not stars:
            return q
        depth, i, end, except_src, replace_items, rename_pairs = max(
            stars, key=lambda s: (s[0], s[1])
        )
        select_start, block_end, prefix = _select_block(q, i, end)
        star_block = "*" if except_src is None else f"* EXCEPT ({except_src})"
        analysis = (
            prefix + q[select_start:i] + star_block + " " + q[end:block_end]
        )
        analysis = _strip_order_by(analysis).rstrip().rstrip(";")
        try:
            star_cols = [f.name for f in spark.sql(analysis).schema.fields]
        except Exception as exc:
            raise SqlDialectError(
                "could not resolve star columns for modifier rewrite "
                "(note: the star's select block is analyzed standalone, so "
                "star modifiers inside correlated/LATERAL subqueries that "
                "reference outer columns are unsupported — rewrite the "
                f"modifier star as an explicit column list): {exc}"
            ) from exc
        replace_map = dict(replace_items)
        rename_map = dict(rename_pairs)
        items = []
        for col in star_cols:
            expr = replace_map.pop(col, None)
            alias = rename_map.pop(col, col)
            if expr is not None:
                items.append(f"{expr} AS {_quote_ident(alias)}")
            elif alias != col:
                items.append(f"{_quote_ident(col)} AS {_quote_ident(alias)}")
            else:
                items.append(_quote_ident(col))
        if replace_map:
            raise SqlDialectError(
                f"REPLACE targets not in star columns: {sorted(replace_map)}"
            )
        if rename_map:
            raise SqlDialectError(
                f"RENAME targets not in star columns: {sorted(rename_map)}"
            )
        q = q[:i] + ",\n    ".join(items) + " " + q[end:]


def rewrite_query(query: str, spark: SparkSession, table_name: str = "AllData") -> str:
    """Full dialect pipeline: strip comments → `"x"` → backticks →
    STRFTIME → QUALIFY → star-modifier expansion → trailing-semicolon
    strip.  QUALIFY runs before star expansion so the wrapped inner query
    still gets its polars modifiers expanded."""
    q = strip_comments(query)
    q = double_quotes_to_backticks(q)
    q = rewrite_strftime(q)
    q = rewrite_qualify(q)
    q = rewrite_star_modifiers(q, spark)
    return q.strip().rstrip(";").strip()
