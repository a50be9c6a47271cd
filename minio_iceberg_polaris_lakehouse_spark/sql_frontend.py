"""SQL-string front-end for the warehouse — the way the reference is
actually operated.

The reference drives everything through ``spark.sql`` strings against an
Iceberg catalog: DDL (CREATE NAMESPACE/TABLE, getting_started.ipynb:87-92,
iceberg_queries.ipynb:93-100), DML (INSERT INTO ... VALUES,
getting_started.ipynb:96), metadata statements (SHOW NAMESPACES / TABLES /
TBLPROPERTIES, DESCRIBE [EXTENDED]), metadata tables (t.history,
t.snapshots, getting_started.ipynb:166-169), and time travel
(VERSION AS OF / TIMESTAMP AS OF, warehouse_helpers.py:134-136). This
module lets those exact statements run against the engine:

- **Catalog statements** are parsed here (a deliberately small, regex-based
  statement grammar — the reference surface, not a full SQL dialect) and
  executed against :class:`Warehouse`, returning DataFrames shaped like
  Spark's own (SHOW TABLES → namespace/tableName/isTemporary, ...).
- **Queries** (SELECT/WITH) are NOT parsed here: warehouse table
  references are rewritten to registered temp views and the statement is
  handed to ``spark.sql`` — Catalyst does all analysis/optimization, so
  the full Spark SQL SELECT dialect works, with snapshot isolation per
  statement (each view pins the manifest resolved at rewrite time).
- **VALUES literals** in INSERT are parsed by Spark itself (the statement
  is rewritten to ``SELECT * FROM (VALUES ...)``), then store-assigned to
  the table schema — so CAST literals, string→DATE coercion
  (iceberg_queries.ipynb:125-129) and DECIMAL(10,2) literals behave like
  Spark ANSI INSERT.

Scale note: this layer only manipulates STRINGS and few-KB metadata; every
data-moving operation is the same executor-side DataFrame plan the Python
API produces. Time travel / metadata views resolve manifests driver-side
in O(commits), as Iceberg does.

DIALECT RESERVED-WORD CONTRACT — the dialect rewrites (QUALIFY, ASOF
JOIN, star EXCLUDE/REPLACE) run on EVERY front-end statement, so each
keyword is contextually reserved no wider than in the dialect that
defines it, and every guard FAILS OPEN (the statement passes through to
Spark's parser untouched) rather than mangling valid SQL:

- ``QUALIFY`` reads as a clause only when the text before it contains a
  depth-0 FROM and does not end in an expression-expecting position
  (after SELECT/WHERE/AND/BY/AS/comma/operator an identifier must
  follow) — `SELECT qualify FROM t`, `WHERE qualify = 3`,
  `ORDER BY qualify` all keep the identifier meaning. Residual
  reservation, same as DuckDB: an IMPLICIT alias named qualify directly
  after a FROM-bearing head (`SELECT a, b qualify FROM …` ends in an
  identifier) reads as the clause — use ``AS qualify``.
- ``ASOF`` is reserved only directly before ``JOIN``; an alias literally
  named asof just before JOIN reads as the clause in DuckDB too.
- ``EXCLUDE`` / ``REPLACE`` are star modifiers only directly after a
  star PROJECTION (``*`` / ``alias.*`` at a select-list position) —
  never after a multiplication star, and REPLACE( the string function
  is untouched.
- ``DISTINCT ON`` triggers only as the exact sequence ``SELECT DISTINCT
  ON (`` — a column named on (`SELECT DISTINCT on_hand`, `SELECT
  DISTINCT ON FROM t`) keeps the identifier meaning, as does the text
  inside strings and comments.
- FROM-first applies only where a QUERY can start: the statement head
  (after a WITH prefix), a set-operation branch, or a paren group whose
  preceding token legally introduces a subquery — a function-argument
  FROM (``trim(BOTH ' ' FROM x)``, ``extract(YEAR FROM ts)``,
  ``substring(s FROM 2)``) passes through byte-identical
  (_recurse_query_parens classifies the paren by its preceding token).

Regression pins: tests/test_review_fixes_r10.py (star/ASOF guards),
tests/test_review_fixes_r11.py (QUALIFY guards, DISTINCT ordering,
chained ASOF), tests/test_review_fixes_r12.py (DISTINCT ON /
FROM-first probe classes); runnable tour: examples/sql_dialect_tour.py.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import types as T

from minio_iceberg_polaris_lakehouse_spark.session import local_frame
from minio_iceberg_polaris_lakehouse_spark.warehouse import (
    SnapshotNotFoundError,
    Table,
    Warehouse,
    WarehouseError,
)

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"

# The ONLY exception types REFRESH MATERIALIZED VIEW may downgrade to a
# full recompute on (recorded in the result's downgrade_reason column):
# - SnapshotNotFoundError: the synced base snapshot expired out of the
#   changelog window;
# - NotIncrementallyMaintainable: the window cannot be folded (delete in
#   a MIN/MAX view's window), or base schema drift made the stored spec
#   unbindable (probed EXPLICITLY via matview.probe_binds[_join] on a
#   LIMIT-0 plan before the delta runs — r8 postmortem: a blanket
#   AnalysisException catch turned ANY analysis error anywhere in the
#   delta path into a silent mode='full', which hashes differently from
#   'incremental' with err:null — undiagnosable).
# Everything else propagates — a blanket catch here would mask a genuine
# bug in the delta path forever (the fallback is always "correct").
def _mv_downgrade_types() -> tuple[type[BaseException], ...]:
    from minio_iceberg_polaris_lakehouse_spark.matview import (
        NotIncrementallyMaintainable,
    )

    return (SnapshotNotFoundError, NotIncrementallyMaintainable)


_MV_DOWNGRADE = _mv_downgrade_types()


def _fullmatch(pattern: str, s: str) -> re.Match | None:
    return re.fullmatch(pattern, s, re.IGNORECASE | re.DOTALL)


def _split_top_level(text: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` at paren depth 0, OUTSIDE string literals
    (DECIMAL(10,2) and `SET note = 'a,b'` both stay intact; '' is the
    SQL escape for a quote inside a literal)."""
    parts, depth, cur, in_str = [], 0, [], False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    cur.append("''")
                    i += 2
                    continue
                in_str = False
            cur.append(ch)
        elif ch == "'":
            in_str = True
            cur.append(ch)
        else:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == sep and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
            else:
                cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


def _split_at_top_level_where(text: str) -> tuple[str, str] | None:
    """(before, after) around the first WHERE keyword outside string
    literals and parens — the regex alternative would split inside
    `SET note = 'x where y'`."""
    depth, in_str = 0, False
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < n and text[i + 1] == "'":
                    i += 2
                    continue
                in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0 and text[i : i + 5].upper() == "WHERE":
            before_ok = i == 0 or text[i - 1].isspace()
            after = text[i + 5 : i + 6]
            if before_ok and (after == "" or after.isspace()):
                return text[:i].strip(), text[i + 5 :].strip()
        i += 1
    return None


def _balanced_paren_group(text: str) -> tuple[str, str]:
    """(inside-of-first-balanced-group, remainder-after-it)."""
    start = text.index("(")
    depth = 0
    for i in range(start, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[start + 1 : i], text[i + 1 :]
    raise WarehouseError(f"unbalanced parentheses in: {text[:80]}")


_QUALIFY_RE = re.compile(r"(?i)(?<![\w.])QUALIFY(?!\w)")
_SETOP_RE = re.compile(r"(?i)(?<![\w.])(?:UNION|INTERSECT|EXCEPT|MINUS)(?!\w)")
_QTAIL_RE = re.compile(
    r"(?i)(?<![\w.])(?:ORDER\s+BY|SORT\s+BY|DISTRIBUTE\s+BY|CLUSTER\s+BY"
    r"|WINDOW|LIMIT|OFFSET)(?!\w)"
)
_SELECT_RE = re.compile(r"(?i)(?<![\w.])SELECT(?!\w)")

# a QUALIFY token is only a CLAUSE when the text before it could be a
# complete SELECT core: it must not end at a position that still expects
# an expression or a name (r10 review: `SELECT qualify FROM t` and
# `... WHERE qualify = 3` were hijacked into mangled SQL). These are the
# tokens after which an identifier — not a clause keyword — must follow.
_EXPR_EXPECTING_WORD_RE = re.compile(
    r"(?i)(?<![\w.])(?:SELECT|DISTINCT|ALL|WHERE|AND|OR|NOT|ON|BY|AS|THEN"
    r"|WHEN|ELSE|CASE|IN|LIKE|ILIKE|RLIKE|REGEXP|BETWEEN|IS|FROM|JOIN"
    r"|HAVING|SET|ESCAPE|OVER|PARTITION|INTERVAL|EXISTS|UNION|INTERSECT"
    r"|EXCEPT|MINUS|DIV)$"
)
_EXPR_EXPECTING_CHARS = set("+-*/%=<>|&^,(.")


def _qualify_plausible(head: str) -> bool:
    """True iff a depth-0 QUALIFY token after ``head`` reads as the
    clause rather than an identifier named qualify: the head must
    contain a depth-0 FROM (a select core to filter) and must not end
    in an expression-expecting position (SELECT/WHERE/AND/operator/
    comma…, where only an identifier can legally follow)."""
    head = head.rstrip()
    if not head or head[-1] in _EXPR_EXPECTING_CHARS:
        return False
    # a head ending in `BY ALL` (GROUP BY ALL) is a complete core — the
    # ALL is the grouping shorthand, not a quantifier awaiting an
    # expression (r11 advice: `GROUP BY ALL … QUALIFY` never rewrote)
    if _EXPR_EXPECTING_WORD_RE.search(head) and not re.search(
        r"(?i)(?<![\w.])BY\s+ALL$", head
    ):
        return False
    return bool(_depth0_positions(head, _FROM_RE))


# identifier-looking tokens inside a QUALIFY predicate that are SQL
# syntax, not column references (window/frame/boolean/case keywords) —
# the unprojected-column injection must never project these
_QPRED_KEYWORDS = frozenset(
    """AND OR NOT IN IS NULL TRUE FALSE LIKE ILIKE RLIKE REGEXP BETWEEN
    CASE WHEN THEN ELSE END CAST TRY_CAST AS OVER PARTITION BY ORDER SORT
    ASC DESC NULLS FIRST LAST ROWS RANGE GROUPS UNBOUNDED PRECEDING
    FOLLOWING CURRENT ROW INTERVAL DISTINCT ALL EXISTS ANY SOME ESCAPE
    LIMIT OFFSET DISTRIBUTE CLUSTER
    DIV DATE TIMESTAMP FILTER IGNORE RESPECT CURRENT_DATE
    CURRENT_TIMESTAMP WINDOW YEAR YEARS MONTH MONTHS WEEK WEEKS DAY DAYS
    HOUR HOURS MINUTE MINUTES SECOND SECONDS MILLISECOND MICROSECOND""".split()
)
_QPRED_TOKEN_RE = re.compile(r"[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*")

_GROUPBY_ALL_RE = re.compile(r"(?i)(?<![\w.])GROUP\s+BY\s+ALL(?!\w)")

# a depth-0 `WINDOW name AS (` in the head is the named-window clause
# (standard clause order puts it between HAVING and QUALIFY); the
# `name AS (` tail keeps identifiers named window out of this
_WINDOW_CLAUSE_RE = re.compile(r"(?i)(?<![\w.])WINDOW(?=\s+[A-Za-z_]\w*\s+AS\s*\()")


def _select_list_span(head: str) -> tuple[int, int] | None:
    """(start, end) of the select list of ``head``'s MAIN select — the
    last depth-0 SELECT (skips a WITH prologue) up to its depth-0 FROM."""
    selects = _depth0_positions(head, _SELECT_RE)
    if not selects:
        return None
    start = selects[-1].end()
    froms = [f for f in _depth0_positions(head, _FROM_RE) if f.start() > start]
    if not froms:
        return None
    return start, froms[0].start()


def _select_output_names(select_list: str) -> set[str] | None:
    """Output column names of a select list (casefolded — Spark resolves
    identifiers case-insensitively under the default
    spark.sql.caseSensitive=false, so the injection check must too), or
    None when it contains a star projection (every base column already
    visible to QUALIFY)."""
    names: set[str] = set()
    for item in _split_top_level(select_list):
        if item == "*" or re.fullmatch(r"[A-Za-z_]\w*\s*\.\s*\*", item):
            return None
        if re.match(r"(?is)^\*\s*(?:EXCEPT|EXCLUDE|REPLACE)\b", item):
            return None
        m = re.search(r"(?is)\s+AS\s+([A-Za-z_]\w*)\s*$", item)
        if m:
            names.add(m.group(1).casefold())
            continue
        if re.fullmatch(r"[A-Za-z_]\w*(?:\s*\.\s*[A-Za-z_]\w*)*", item):
            names.add(item.split(".")[-1].strip().casefold())
            continue
        m = re.search(r"(?s)\s([A-Za-z_]\w*)\s*$", item)
        if m and not _EXPR_EXPECTING_WORD_RE.search(item[: m.start(1)].rstrip()):
            prefix = item[: m.start(1)].rstrip()
            if prefix and prefix[-1] not in _EXPR_EXPECTING_CHARS:
                names.add(m.group(1).casefold())  # implicit alias: `expr name`
    return names


def _qualify_injections(
    pred: str, select_list: str, wclause: str = "", tail: str = ""
) -> tuple[str, str, str, list[str], list[str]]:
    """Support the standard dialect idiom of QUALIFY predicates over
    base columns NOT in the select list (DuckDB docs' first example):
    collect identifiers from the predicate, any relocated named-WINDOW
    clause, AND the trailing clauses (r12: `… QUALIFY p ORDER BY ts`
    with ts unprojected is valid dialect — Spark resolves the rewritten
    sort reference against the subquery child even through `* EXCEPT`)
    that are neither SQL keywords, nor function calls, nor select-list
    output names, project each into the inner subquery under a fresh
    ``_lh_qc{i}`` alias, and rewrite all three texts to reference the
    alias. Returns (new_pred, new_wclause, new_tail, projected_exprs,
    helper_names); unchanged/empty when nothing to inject."""
    outputs = _select_output_names(select_list)
    if outputs is None:  # star projection: base columns already visible
        return pred, wclause, tail, [], []
    candidates: list[str] = []
    scan = pred + " " + wclause + " " + tail
    for m in _QPRED_TOKEN_RE.finditer(scan):
        tok = re.sub(r"\s*\.\s*", ".", m.group(0))
        before = scan[m.start() - 1] if m.start() > 0 else ""
        after = scan[m.end() : m.end() + 8].lstrip()
        if before == "\x00" or after.startswith("\x00"):
            continue  # masked string literal marker
        if after.startswith("("):
            continue  # function call
        if "." not in tok and (
            tok.upper() in _QPRED_KEYWORDS or tok.casefold() in outputs
        ):
            continue
        if "." in tok and tok.upper() in ("CURRENT_DATE", "CURRENT_TIMESTAMP"):
            continue
        if re.search(r"(?i)(?<![\w.])OVER\s*$", scan[: m.start()]):
            continue  # `OVER w`: a named-window reference, never a column
        if tok not in candidates:
            candidates.append(tok)
    if wclause:
        # names DEFINED by the window clause (`WINDOW w AS (...)`) are
        # not column references — nor are `OVER w` uses in the predicate
        defined = {
            d.casefold()
            for d in re.findall(r"(?i)(?:WINDOW|,)\s*([A-Za-z_]\w*)\s+AS\s*\(", wclause)
        }
        candidates = [c for c in candidates if c.casefold() not in defined]
    if not candidates:
        return pred, wclause, tail, [], []
    exprs, helpers = [], []
    for i, tok in enumerate(sorted(candidates, key=len, reverse=True)):
        helper = f"_lh_qc{i}"
        pattern = re.compile(
            r"(?<![\w.])" + r"\s*\.\s*".join(re.escape(p) for p in tok.split(".")) + r"(?![\w.(])"
        )
        pred = pattern.sub(helper, pred)
        wclause = pattern.sub(helper, wclause)
        tail = pattern.sub(helper, tail)
        exprs.append(f"{tok} AS {helper}")
        helpers.append(helper)
    return pred, wclause, tail, exprs, helpers


def _depth0_positions(s: str, word_re: re.Pattern) -> list[re.Match]:
    """Matches of ``word_re`` at parenthesis depth 0 (callers mask string
    literals first, so literal text carries no parens/keywords)."""
    return [
        m
        for m in word_re.finditer(s)
        if s.count("(", 0, m.start()) == s.count(")", 0, m.start())
    ]


def _rewrite_qualify_masked(s: str) -> str:
    """Rewrite a top-level QUALIFY clause (the window-filter sugar of
    DuckDB/Snowflake/BigQuery that Spark SQL lacks) into standard SQL
    Catalyst runs unchanged:

        SELECT <list> FROM … [WHERE …] [GROUP BY …] QUALIFY <pred>
            [ORDER BY …] [LIMIT …]
    →   SELECT * EXCEPT (_lh_qualify) FROM (
            SELECT __q.*, (<pred>) AS _lh_qualify FROM (<core>) AS __q
        ) WHERE _lh_qualify [ORDER BY …] [LIMIT …]

    Window functions in <pred> evaluate over the result of
    FROM/WHERE/GROUP BY — QUALIFY's defined semantics — and may reference
    select-list aliases (they are columns of __q). Predicates over base
    columns NOT in the select list — the standard dialect idiom — are
    supported by projecting them into __q under _lh_qc{i} helper aliases
    and folding the helpers into the outer EXCEPT (_qualify_injections).
    Scope: one QUALIFY per top-level SELECT; set-operation branches must
    wrap in subqueries. QUALIFY is contextually reserved exactly as far
    as the guard (_qualify_plausible) requires: a token is only treated
    as the clause when the text before it contains a depth-0 FROM and
    does not end in an expression-expecting position, so identifiers
    named qualify (`SELECT qualify FROM t`, `WHERE qualify = 3`,
    `ORDER BY qualify`) pass through untouched. Top-level DISTINCT
    composes with the dialect's defined order (QUALIFY BEFORE DISTINCT):
    the DISTINCT keyword is stripped from the inner core — window
    functions in the predicate evaluate over the pre-DISTINCT rows — and
    re-applied on the OUTER projection, after the helper columns fold
    away, so duplicates are collapsed only among qualify-surviving rows.
    Expects string literals already masked (no QUALIFY-in-literal traps)."""
    hits = [
        m
        for m in _depth0_positions(s, _QUALIFY_RE)
        if _qualify_plausible(s[: m.start()])
    ]
    if not hits:
        return s
    if len(hits) > 1:
        raise WarehouseError("multiple top-level QUALIFY clauses — wrap subqueries")
    m = hits[0]
    head, rest = s[: m.start()].rstrip(), s[m.end() :]
    sel_span = _select_list_span(head)
    # dialect order is QUALIFY BEFORE DISTINCT: strip the keyword from the
    # inner core (windows see pre-DISTINCT rows) and re-apply it on the
    # outer projection, where the helpers have already folded away
    outer_distinct = ""
    if sel_span is not None:
        dm = re.match(r"(?is)^\s*DISTINCT(?!\w)", head[sel_span[0] :])
        if dm:
            outer_distinct = "DISTINCT "
            head = head[: sel_span[0]] + head[sel_span[0] + dm.end() :]
            sel_span = (sel_span[0], sel_span[1] - dm.end())
    setops = [
        so
        for so in _depth0_positions(head, _SETOP_RE)
        # the star modifier '* EXCEPT (…)' (native, or emitted by this
        # module's own EXCLUDE/REPLACE sugar) is a projection, not a
        # set operation — don't reject QUALIFY over it
        if not (
            so.group(0).upper() == "EXCEPT"
            and re.search(r"\*\s*$", head[: so.start()])
        )
    ]
    if setops:
        raise WarehouseError(
            "QUALIFY on a set-operation branch — wrap each branch in a subquery"
        )
    tails = _depth0_positions(rest, _QTAIL_RE)
    cut = tails[0].start() if tails else len(rest)
    pred, tail = rest[:cut].strip(), rest[cut:].strip()
    if not pred:
        raise WarehouseError("QUALIFY requires a predicate")
    # standard clause order puts a named-WINDOW clause between HAVING and
    # QUALIFY, i.e. at the head's tail — relocate it to the middle select
    # so `OVER w` in the predicate resolves (inside the subquery the
    # definition would be out of the predicate's scope)
    wclause = ""
    if sel_span is not None:
        wins = [
            w
            for w in _depth0_positions(head, _WINDOW_CLAUSE_RE)
            if w.start() > sel_span[1]
        ]
        if wins:
            head, wclause = head[: wins[0].start()].rstrip(), head[wins[0].start() :]
    helpers = ["_lh_qualify"]
    # under GROUP BY ALL the grouping IS the select list — injecting a
    # helper projection would silently add a grouping key, so predicates
    # there may only reference output columns (as in the source dialect)
    if sel_span is not None and not _depth0_positions(head, _GROUPBY_ALL_RE):
        select_list = head[sel_span[0] : sel_span[1]]
        pred, wclause, tail, exprs, qc_helpers = _qualify_injections(
            pred, select_list, wclause, tail
        )
        if exprs:
            head = (
                head[: sel_span[1]].rstrip()
                + ", "
                + ", ".join(exprs)
                + " "
                + head[sel_span[1] :]
            )
            helpers += qc_helpers
    return (
        f"SELECT {outer_distinct}* EXCEPT ({', '.join(helpers)}) FROM ("
        f"SELECT __q.*, ({pred}) AS _lh_qualify FROM ({head}) AS __q {wclause}"
        f") WHERE _lh_qualify {tail}"
    )


_ASOF_RE = re.compile(r"(?i)(?<![\w.])ASOF\s+(?P<left>LEFT\s+)?JOIN(?!\w)")
_FROM_RE = re.compile(r"(?i)(?<![\w.])FROM(?!\w)")
_ASOF_TAIL_RE = re.compile(
    r"(?is)^\s*(?:AS\s+)?(?P<alias>[A-Za-z_]\w*)?\s*ON(?!\w)\s*(?P<cond>.*)$"
)
_ASOF_INEQ_RE = re.compile(
    r"^\s*(?P<lq>[A-Za-z_]\w*)\.(?P<lc>[A-Za-z_]\w*)\s*(?P<op>>=|<=|>|<)\s*"
    r"(?P<rq>[A-Za-z_]\w*)\.(?P<rc>[A-Za-z_]\w*)\s*$"
)
# the right term + ON condition run to the next depth-0 clause keyword —
# INCLUDING a chained join (r10 advice: without JOIN here, `ASOF JOIN B
# ON … JOIN C ON …` swallowed the second join into the ON condition and
# failed with a misleading inequality-conjunct error)
_ASOF_END_RE = re.compile(
    r"(?i)(?<![\w.])(?:WHERE|GROUP\s+BY|HAVING|WINDOW|QUALIFY|ORDER\s+BY"
    r"|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT|MINUS"
    r"|(?:(?:LEFT|RIGHT|FULL|INNER|CROSS|SEMI|ANTI)\s+(?:OUTER\s+)?)?JOIN)(?!\w)"
)


def _asof_right_side(join_part: str) -> tuple[str, str | None, str]:
    """Parse ``B [AS] b ON cond`` — the ASOF right side. The relation is
    a dotted name or an arbitrarily nested parenthesized subquery
    (parsed with _balanced_paren_group; the old regex capped nesting at
    two levels and rejected valid deeper subqueries)."""
    jp = join_part.strip()
    if jp.startswith("("):
        inside, rem = _balanced_paren_group(jp)
        rel = f"({inside})"
    else:
        nm = re.match(r"(?s)^([A-Za-z_][\w.]*)(.*)$", jp)
        if nm is None:
            raise WarehouseError(f"unsupported ASOF JOIN right side: {jp[:80]}")
        rel, rem = nm.group(1), nm.group(2)
    tm = _ASOF_TAIL_RE.match(rem)
    if tm is None:
        raise WarehouseError(f"unsupported ASOF JOIN right side: {jp[:80]}")
    return rel, tm.group("alias"), tm.group("cond").strip()


_MATCH_COND_RE = re.compile(r"(?i)(?<![\w.])MATCH_CONDITION(?=\s*\()")


def _desugar_asof_match_condition(join_part: str) -> str:
    """Snowflake's other as-of spelling desugars to the ON form the
    rewriter already handles:

        B [AS] b MATCH_CONDITION (l.ts >= b.ts) USING (k1, k2)
            → B [AS] b ON l.k1 = b.k1 AND l.k2 = b.k2 AND l.ts >= b.ts
        B [AS] b MATCH_CONDITION (cond) ON eqs
            → B [AS] b ON (eqs) AND (cond)

    The USING variant derives the two qualifiers from the match
    condition's inequality (it must be the single `a.ts >= b.ts` shape
    the ON form requires anyway). Divergence from Snowflake, documented:
    USING here does NOT coalesce the key columns into one — both sides
    keep theirs, so use explicit select lists (`SELECT *` would carry
    both). Identifiers named match_condition never trigger (the token
    must be directly followed by a parenthesized condition in relation
    position, which is not valid SQL for an alias reference)."""
    m = _MATCH_COND_RE.search(join_part)
    if m is None:
        return join_part
    prefix = join_part[: m.start()].rstrip()  # "B [AS] b"
    cond, rest = _balanced_paren_group(join_part[m.end() :])
    cond, rest = cond.strip(), rest.strip()
    um = re.match(r"(?is)^USING\s*\(", rest)
    if um:
        cols_text, tail = _balanced_paren_group(rest)
        im = _ASOF_INEQ_RE.match(cond)
        if im is None:
            raise WarehouseError(
                "ASOF MATCH_CONDITION with USING must be a single "
                "inequality comparing the two sides' ordering columns "
                "(e.g. a.ts >= b.ts) so the key equalities can qualify"
            )
        lq, rq = im.group("lq"), im.group("rq")
        cols = [c.strip() for c in cols_text.split(",") if c.strip()]
        if not cols:
            raise WarehouseError("ASOF JOIN USING () requires column names")
        eqs = [f"{lq}.{c} = {rq}.{c}" for c in cols]
        return f"{prefix} ON {' AND '.join(eqs)} AND {cond} {tail}"
    om = re.match(r"(?is)^ON(?!\w)(?P<eqs>.*)$", rest)
    if om:
        return f"{prefix} ON ({om.group('eqs').strip()}) AND ({cond})"
    return f"{prefix} ON {cond} {rest}".rstrip()


def _rewrite_asof_masked(s: str) -> str:
    """Rewrite DuckDB-style ``A ASOF [LEFT] JOIN B [AS] b ON <conds>``
    into a LATERAL top-1 Spark runs natively:

        a , LATERAL (SELECT * FROM B AS b WHERE <conds>
                     ORDER BY b.<ts> DESC|ASC LIMIT 1) AS b        -- inner
        a LEFT JOIN LATERAL (…) AS b ON true                       -- left

    Semantics match the dialect that defines the clause: per left row,
    the single right row with the extreme timestamp satisfying the one
    inequality conjunct (DESC for ``l.ts >= r.ts`` forms, ASC for
    ``l.ts <= r.ts``), equality conjuncts applied inside. Catalyst
    decorrelates into join + WindowGroupLimit; note its decorrelation
    builds a domain join over DISTINCT left correlation values — exact,
    but for billion-row-by-billion-row as-of at 100 TB use the engine's
    union+carry operator (operators/relational2.rel_asof_join: one
    shuffle, no inequality join). One ASOF per statement, right side a
    named relation or aliased subquery; unsupported shapes raise.

    ASOF is contextually reserved before JOIN, exactly as in DuckDB: a
    table ALIAS literally named ``asof`` directly before JOIN reads as
    the clause in both engines (rename the alias to get a plain join)."""
    hits = _depth0_positions(s, _ASOF_RE)
    if not hits:
        return s
    if len(hits) > 1:
        raise WarehouseError("multiple ASOF JOINs — wrap subqueries")
    m = hits[0]
    is_left = bool(m.group("left"))
    froms = [f for f in _depth0_positions(s[: m.start()], _FROM_RE)]
    if not froms:
        raise WarehouseError("ASOF JOIN without a FROM clause")
    f = froms[-1]
    left_term = s[f.end() : m.start()].strip()
    rest = s[m.end() :]
    ends = _depth0_positions(rest, _ASOF_END_RE)
    cut = ends[0].start() if ends else len(rest)
    join_part, tail = rest[:cut], rest[cut:]
    join_part = _desugar_asof_match_condition(join_part)
    rel, alias, cond = _asof_right_side(join_part)
    if alias is None:
        if rel.startswith("("):
            raise WarehouseError("ASOF JOIN subquery needs an alias")
        alias = rel.split(".")[-1]
    def unwrap(t: str) -> str:
        """Strip whole-expression parentheses: 'ON (a AND b)' and
        parenthesized conjuncts '(a.ts >= b.ts)' are common styles."""
        t = t.strip()
        while t.startswith("(") and t.endswith(")"):
            depth, close = 0, -1
            for i, ch in enumerate(t):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        close = i
                        break
            if close != len(t) - 1:
                break
            t = t[1:-1].strip()
        return t

    cond_inner = unwrap(cond)
    and_re = re.compile(r"(?i)(?<!\w)AND(?!\w)")
    cuts = [a.span() for a in _depth0_positions(cond_inner, and_re)]
    conjuncts, prev = [], 0
    for a, b in cuts:
        conjuncts.append(cond_inner[prev:a])
        prev = b
    conjuncts.append(cond_inner[prev:])
    ineq = None
    for conj in conjuncts:
        im = _ASOF_INEQ_RE.match(unwrap(conj))
        if im is None:
            continue
        on_right = (im.group("lq") == alias) != (im.group("rq") == alias)
        if on_right and im.group("op") in (">=", "<=", ">", "<"):
            if ineq is not None:
                raise WarehouseError("ASOF JOIN needs exactly ONE inequality conjunct")
            ineq = im
    if ineq is None:
        raise WarehouseError(
            "ASOF JOIN requires one inequality conjunct comparing the two "
            "sides' ordering columns (e.g. a.ts >= b.ts)"
        )
    # direction: keep the EXTREME right value satisfying the bound —
    # right below left (r.ts <= l.ts forms) → latest (DESC), else ASC
    rq_is_right = ineq.group("rq") == alias
    op = ineq.group("op")
    right_is_lower = (rq_is_right and op in (">=", ">")) or (
        not rq_is_right and op in ("<=", "<")
    )
    ts_col = ineq.group("rc") if rq_is_right else ineq.group("lc")
    order = "DESC" if right_is_lower else "ASC"
    lateral = (
        f"LATERAL (SELECT * FROM {rel} AS {alias} WHERE {cond} "
        f"ORDER BY {alias}.{ts_col} {order} LIMIT 1) AS {alias}"
    )
    # explicit JOIN … ON true (not the comma form) for BOTH variants so a
    # chained join in the tail associates left-deep — `A ASOF JOIN B ON …
    # JOIN C ON …` must group as (A⋈B)⋈C, and the comma operator's lower
    # precedence would instead group (B⋈C) and break the correlation scope
    joined = (
        f"{left_term} {'LEFT' if is_left else 'INNER'} JOIN {lateral} ON true"
    )
    return f"{s[: f.end()]} {joined} {tail}"


_EXCLUDE_PAREN_RE = re.compile(r"(?is)((?:[A-Za-z_]\w*\.)?\*\s*)EXCLUDE(?=\s*\()")
_EXCLUDE_BARE_RE = re.compile(r"(?is)((?:[A-Za-z_]\w*\.)?\*\s*)EXCLUDE\s+([A-Za-z_]\w*)(?!\s*\()")
_REPLACE_RE = re.compile(
    r"(?is)((?:[A-Za-z_]\w*\.)?\*\s*)(?:EXCEPT\s*\((?P<exc>[^()]*)\)\s*)?REPLACE(?=\s*\()"
)
_REPLACE_ITEM_RE = re.compile(r"(?is)^(?P<expr>.*\S)\s+AS\s+(?P<col>[A-Za-z_]\w*)\s*$")
_STAR_PREFIX_RE = re.compile(
    r"(?is)(?:^|[,(]|(?<![\w.])(?:SELECT|DISTINCT|ALL))\s*(?:[A-Za-z_]\w*\s*\.\s*)?$"
)
_SQL_KEYWORD_RE = re.compile(
    r"(?i)^(?:FROM|WHERE|GROUP|HAVING|WINDOW|QUALIFY|ORDER|LIMIT|OFFSET|UNION"
    r"|INTERSECT|EXCEPT|MINUS|JOIN|ON|AS|AND|OR)$"
)


def _is_projection_star(s: str, star_pos: int) -> bool:
    """True iff the ``*`` at ``star_pos`` is a star PROJECTION (start of
    select list, after a comma or '(', or after SELECT/DISTINCT/ALL —
    optionally qualified ``alias.*``), NOT the multiplication operator.
    Guards the EXCLUDE/REPLACE sugar from hijacking arithmetic like
    ``price * REPLACE(sku, '-', '')``."""
    return _STAR_PREFIX_RE.search(s, 0, star_pos) is not None


def _rewrite_star_sugar_masked(s: str) -> str:
    """DuckDB/Snowflake star modifiers Spark lacks:

    - ``* EXCLUDE (a, b)`` / ``* EXCLUDE a`` → Spark's native
      ``* EXCEPT (a, b)``.
    - ``* REPLACE (expr AS c, …)`` → ``* EXCEPT (c, …), expr AS c, …``
      (replaced columns move to the end of the row — the driver's
      column-name-sorted comparison and any name-based consumer are
      unaffected; positional consumers should list columns). The
      combined ``* EXCLUDE (a) REPLACE (…)`` form merges both column
      lists into one EXCEPT.

    Keyword EXCLUDE/REPLACE only rewrites after a star PROJECTION
    (_is_projection_star) — a multiplication star followed by the
    REPLACE() string function or an identifier named exclude is
    untouched."""

    def sub_guarded(pattern: re.Pattern, repl, text: str, keyword_guard=None) -> str:
        out, last = [], 0
        for m in pattern.finditer(text):
            if not _is_projection_star(text, m.start(1)):
                continue
            if keyword_guard is not None and _SQL_KEYWORD_RE.match(m.group(keyword_guard)):
                continue  # '* EXCLUDE FROM t' etc: leave Spark's own parse error
            out.append(text[last : m.start()])
            out.append(m.expand(repl))
            last = m.end()
        out.append(text[last:])
        return "".join(out)

    s = sub_guarded(_EXCLUDE_PAREN_RE, r"\1EXCEPT", s)
    s = sub_guarded(_EXCLUDE_BARE_RE, r"\1EXCEPT (\2)", s, keyword_guard=2)
    while True:
        m = None
        for cand in _REPLACE_RE.finditer(s):
            if _is_projection_star(s, cand.start(1)):
                m = cand
                break
        if m is None:
            return s
        inside, rest = _balanced_paren_group(s[m.end() :])
        cols, exprs = [], []
        for item in _split_top_level(inside):
            im = _REPLACE_ITEM_RE.match(item.strip())
            if im is None:
                raise WarehouseError(
                    f"* REPLACE items must be 'expr AS column': {item.strip()[:60]}"
                )
            cols.append(im.group("col"))
            exprs.append(f"{im.group('expr')} AS {im.group('col')}")
        if m.group("exc"):  # merge an EXCLUDE/EXCEPT list preceding REPLACE
            cols = [c.strip() for c in m.group("exc").split(",") if c.strip()] + cols
        s = (
            s[: m.start()]
            + f"{m.group(1)}EXCEPT ({', '.join(cols)}), {', '.join(exprs)}"
            + rest
        )


_DISTINCT_ON_RE = re.compile(r"(?is)(?<![\w.])SELECT\s+DISTINCT\s+ON\s*(?=\()")
_DON_TAIL_RE = re.compile(
    r"(?i)(?<![\w.])(?:ORDER\s+BY|SORT\s+BY|DISTRIBUTE\s+BY|CLUSTER\s+BY"
    r"|LIMIT|OFFSET)(?!\w)"
)
_DON_LIMIT_RE = re.compile(r"(?i)(?<![\w.])(?:LIMIT|OFFSET)(?!\w)")


def _rewrite_distinct_on_masked(s: str) -> str:
    """DuckDB/Postgres ``SELECT DISTINCT ON (keys) list … ORDER BY ord``
    — keep the first row per key group in ORDER BY order — desugars to
    the QUALIFY clause this module already rewrites:

        SELECT list … QUALIFY ROW_NUMBER() OVER (
            PARTITION BY keys ORDER BY ord) = 1 ORDER BY ord

    Reusing QUALIFY buys its scoping machinery for free: ord/keys over
    base columns absent from the select list inject as helper
    projections, select aliases resolve, and the tail carries through.
    Without an ORDER BY the window orders by the keys alone — any row of
    the group may win, exactly the dialect's documented
    arbitrary-row-without-ORDER-BY semantics. A statement that also
    spells its own QUALIFY fails loudly downstream (two QUALIFYs at one
    level); identifiers named ``on`` never trigger (the token must be
    DISTINCT ON directly followed by a parenthesized list)."""
    hits = _depth0_positions(s, _DISTINCT_ON_RE)
    if not hits:
        return s
    if len(hits) > 1:
        raise WarehouseError("multiple DISTINCT ON at one level — wrap subqueries")
    m = hits[0]
    keys, rest = _balanced_paren_group(s[m.end() :])
    keys = keys.strip()
    if not keys:
        raise WarehouseError("DISTINCT ON () requires at least one expression")
    tails = _depth0_positions(rest, _DON_TAIL_RE)
    cut = tails[0].start() if tails else len(rest)
    core, tail = rest[:cut].rstrip(), rest[cut:].strip()
    ob = re.match(r"(?is)^ORDER\s+BY(?!\w)(?P<rest>.*)$", tail)
    if ob:
        lims = _depth0_positions(ob.group("rest"), _DON_LIMIT_RE)
        ord_txt = (
            ob.group("rest")[: lims[0].start()] if lims else ob.group("rest")
        ).strip()
    else:
        ord_txt = keys
    return (
        f"{s[: m.start()]}SELECT {core} "
        f"QUALIFY ROW_NUMBER() OVER (PARTITION BY {keys} ORDER BY {ord_txt}) = 1 "
        f"{tail}"
    ).rstrip()


_FROM_FIRST_HEAD_RE = re.compile(r"(?is)^\s*(?:WITH|FROM)(?![\w.])")
_FROM_BODY_RE = re.compile(r"(?is)^\s*FROM(?![\w.])")
_WITH_HEAD_RE = re.compile(r"(?is)^\s*WITH\s+(?:RECURSIVE\s+)?")
_CTE_ITEM_RE = re.compile(r"(?is)^\s*[A-Za-z_]\w*\s*(?:\([^()]*\)\s*)?AS\s*(?=\()")
# End of a SELECT list in FROM-first form: the clause keywords that may
# follow it. GROUP/ORDER/… require their BY so identifiers named `group`
# in the list never cut; WINDOW requires its `name AS (` head.
_FF_CLAUSE_RE = re.compile(
    r"(?i)(?<![\w.])(?:WHERE|HAVING|QUALIFY|GROUP\s+BY|ORDER\s+BY|SORT\s+BY"
    r"|DISTRIBUTE\s+BY|CLUSTER\s+BY|LIMIT|OFFSET|WINDOW(?=\s+[A-Za-z_]\w*\s+AS\s*\())(?!\w)"
)
# Tokens that may legally precede a parenthesized SUBQUERY; a trailing
# identifier outside this set marks a function call (`trim(FROM x)` must
# not be mistaken for a FROM-first query level).
_SUBQUERY_PREV = frozenset(
    """FROM JOIN IN EXISTS AS ON AND OR NOT WHERE HAVING THEN ELSE WHEN
    SELECT UNION ALL DISTINCT INTERSECT EXCEPT MINUS USING LATERAL BY
    VALUES ANY SOME CROSS INNER LEFT RIGHT FULL OUTER SEMI ANTI ASOF
    QUALIFY LIKE RETURNING""".split()
)


def _from_first_body(body: str) -> str:
    """Rewrite ONE set-operation branch: ``FROM x … [SELECT list …]`` →
    ``SELECT list FROM x … …`` (``SELECT *`` when the clause is absent).
    Clauses written before the SELECT stay attached to the FROM segment,
    clauses after it re-attach behind, so both documented orderings
    (`FROM t SELECT x WHERE p` and `FROM t WHERE p SELECT x`) land on
    the identical canonical statement."""
    if not _FROM_BODY_RE.match(body):
        return body
    sel = _depth0_positions(body, _SELECT_RE)
    if not sel:
        return f"SELECT * {body.strip()}"
    before = body[: sel[0].start()].strip()
    selpart = body[sel[0].end() :]
    cuts = _depth0_positions(selpart, _FF_CLAUSE_RE)
    cut = cuts[0].start() if cuts else len(selpart)
    sel_list, sel_tail = selpart[:cut].strip(), selpart[cut:].strip()
    if not sel_list:
        raise WarehouseError("FROM-first SELECT clause requires a select list")
    return f"SELECT {sel_list} {before} {sel_tail}".rstrip()


def _rewrite_from_first_masked(s: str) -> str:
    """DuckDB's FROM-first syntax at one query level: ``FROM tbl`` runs
    as ``SELECT * FROM tbl`` and an optional ``SELECT`` clause may follow
    the FROM clause. Set-operation branches rewrite independently
    (``FROM a UNION FROM b``), skipping `* EXCEPT` star sugar when
    locating branch splits; a leading WITH prefix is walked item-by-item
    (CTE bodies were already rewritten by the recursion) so
    ``WITH c AS (FROM t) FROM c`` composes."""
    if not _FROM_FIRST_HEAD_RE.match(s):
        has_setop = any(
            s[: m.start()].rstrip()[-1:] != "*"
            for m in _depth0_positions(s, _SETOP_RE)
        )
        if not has_setop:
            return s
    prefix = ""
    wm = _WITH_HEAD_RE.match(s)
    if wm:
        pos = wm.end()
        while True:
            im = _CTE_ITEM_RE.match(s[pos:])
            if not im:
                return s  # not a CTE list this rewrite understands
            _, rest = _balanced_paren_group(s[pos + im.end() :])
            pos = len(s) - len(rest)
            cm = re.match(r"\s*,", s[pos:])
            if cm:
                pos += cm.end()
            else:
                break
        prefix, s = s[:pos], s[pos:]
    splits = [
        m
        for m in _depth0_positions(s, _SETOP_RE)
        if s[: m.start()].rstrip()[-1:] != "*"  # `* EXCEPT (…)` is star sugar
    ]
    out, start, changed = [], 0, False
    for m in splits:
        branch = s[start : m.start()]
        new = _from_first_body(branch)
        changed = changed or new != branch
        out.append(new)
        out.append(" " + m.group(0))
        tail_m = re.match(r"\s*(?:ALL|DISTINCT)(?!\w)", s[m.end() :], re.I)
        end = m.end() + (tail_m.end() if tail_m else 0)
        out.append(s[m.end() : end] + " ")
        start = end
    branch = s[start:]
    new = _from_first_body(branch)
    changed = changed or new != branch
    if not changed:
        return prefix + s
    out.append(new)
    return prefix + (" " if prefix and not prefix[-1].isspace() else "") + "".join(out)


def _recurse_query_parens(s: str, fn, is_query: bool = True) -> str:
    """Like ``_recurse_parens`` but context-aware: ``fn`` applies to a
    level's own text only when that level can BE a query — the top level,
    or a paren group whose preceding token legally introduces a subquery.
    Function-call argument lists (`trim(FROM x)`, `extract(… FROM ts)`)
    recurse INTO (their args may hold genuine subqueries one level down)
    but never rewrite at their own level, so a leading FROM there is
    argument syntax, not FROM-first SQL."""
    out: list[str] = []
    rest = s
    while "(" in rest:
        idx = rest.index("(")
        out.append(rest[:idx])
        prev = "".join(out).rstrip()
        tw = re.search(r"([A-Za-z_]\w*)$", prev)
        child_is_query = (
            not prev
            or not tw
            and prev[-1] not in ")]"
            or bool(tw)
            and tw.group(1).upper() in _SUBQUERY_PREV
        )
        inside, rest = _balanced_paren_group(rest[idx:])
        out.append("(")
        out.append(_recurse_query_parens(inside, fn, child_is_query))
        out.append(")")
    out.append(rest)
    text = "".join(out)
    return fn(text) if is_query else text


def _recurse_parens(s: str, fn) -> str:
    """Apply a masked-level rewrite ``fn`` at EVERY subquery depth,
    innermost-first: each parenthesized group's contents rewrite
    recursively, then the reassembled text's own depth-0 clauses rewrite.
    The depth-sensitive rewrites (QUALIFY, ASOF JOIN) previously only
    fired at depth 0, so the clause inside a derived table or CTE body
    passed through unrewritten and died at Spark's parser (r11 advice) —
    recursion makes `WITH c AS (… QUALIFY …)` and `FROM (… QUALIFY …)`
    first-class. Non-subquery paren groups (function args, IN lists,
    window specs) contain no depth-0 clause token with a FROM-bearing
    head, so ``fn`` leaves them byte-identical."""
    out: list[str] = []
    rest = s
    while "(" in rest:
        idx = rest.index("(")
        out.append(rest[:idx])
        inside, rest = _balanced_paren_group(rest[idx:])
        out.append("(")
        out.append(_recurse_parens(inside, fn))
        out.append(")")
    out.append(rest)
    return fn("".join(out))


def _rewrite_dialect_joins_masked(s: str) -> str:
    """DISTINCT ON + ASOF JOIN + QUALIFY at every subquery depth.
    Per-level order matters: DISTINCT ON desugars INTO a QUALIFY clause
    so it must run before the QUALIFY rewrite, and ASOF runs before
    QUALIFY because the QUALIFY rewrite wraps the statement in a
    subquery, which would hide a same-level ASOF from its depth-0
    scan."""
    return _recurse_parens(
        s,
        lambda t: _rewrite_qualify_masked(
            _rewrite_asof_masked(_rewrite_distinct_on_masked(t))
        ),
    )


def _masked_rewrite(statement: str, fn) -> str:
    """Apply a masked-level rewrite with string literals protected."""
    literals: list[str] = []

    def mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00L{len(literals) - 1}\x00"

    masked = re.sub(r"'(?:[^']|'')*'", mask, statement)
    out = fn(masked)
    return re.sub(r"\x00L(\d+)\x00", lambda m: literals[int(m.group(1))], out)


def qualify_sql(statement: str) -> str:
    """Standalone QUALIFY rewrite (all subquery depths) for plain
    spark.sql callers."""
    return _masked_rewrite(
        statement, lambda s: _recurse_parens(s, _rewrite_qualify_masked)
    )


def asof_sql(statement: str) -> str:
    """Standalone ASOF JOIN rewrite (all subquery depths) for plain
    spark.sql callers."""
    return _masked_rewrite(
        statement, lambda s: _recurse_parens(s, _rewrite_asof_masked)
    )


def canonical_query(statement: str) -> str:
    """FROM-first → canonical SELECT-first text (no other rewrites).
    Applied before PERSISTING view / materialized-view definitions so
    later re-parsers of the stored SQL (the MV delta deriver, SHOW
    CREATE) always see standard clause order."""
    return _masked_rewrite(
        statement, lambda s: _recurse_query_parens(s, _rewrite_from_first_masked)
    )


_UBN_RE = re.compile(r"(?i)(?<![\w.])UNION\s+(?P<all>ALL\s+)?BY\s+NAME(?!\w)")
_UBN_TAIL_RE = re.compile(r"(?i)(?<![\w.])(?:ORDER\s+BY|LIMIT|OFFSET)(?!\w)")


def _same_len_mask(s: str) -> str:
    """Blank string literals without shifting character positions, so
    depth-0 scan indices taken on the masked text slice the original."""
    return re.sub(
        r"'(?:[^']|'')*'", lambda m: "'" + "_" * (len(m.group(0)) - 2) + "'", s
    )


def has_union_by_name(statement: str) -> bool:
    """True when a depth-0 ``UNION [ALL] BY NAME`` separator is present
    (string literals ignored)."""
    return bool(_depth0_positions(_same_len_mask(statement), _UBN_RE))


def union_by_name_df(
    spark: SparkSession, statement: str, rewrite=None
) -> DataFrame:
    """Execute ``q1 UNION [ALL] BY NAME q2 … [ORDER BY …] [LIMIT …]`` —
    the dialect's name-aligned set union (columns match by NAME, not
    position; a column absent from one side fills with NULL). Spark
    exposes this semantic only through the DataFrame API
    (``unionByName(allowMissingColumns=True)``), so the separator routes
    to DataFrame composition instead of a SQL→SQL rewrite: each branch
    runs through the normal query path (``rewrite`` is the per-branch
    SQL hook, default :func:`dialect_sql`, so FROM-first / QUALIFY /
    star sugar compose inside branches), branches fold
    left-associatively with the plain (non-ALL) separator deduplicating
    the accumulated result — the dialect's set semantics — and a
    trailing ORDER BY / LIMIT / OFFSET applies over the folded union.

    Loud-failure contract: a WITH prefix (CTEs scope across branches a
    split cannot preserve), a plain set operator mixed at the same
    level, and a BY NAME inside a subquery are all rejected with a named
    error rather than mis-folded."""
    rewrite = rewrite or dialect_sql
    masked = _same_len_mask(statement)
    hits = _depth0_positions(masked, _UBN_RE)
    if not hits:
        raise WarehouseError("no depth-0 UNION BY NAME in statement")
    if _WITH_HEAD_RE.match(statement):
        raise WarehouseError(
            "WITH … UNION BY NAME is unsupported — move the CTE into each "
            "branch or wrap the compound query in a subquery"
        )
    plain = [
        m
        for m in _depth0_positions(masked, _SETOP_RE)
        if not any(h.start() <= m.start() < h.end() for h in hits)
        and masked[: m.start()].rstrip()[-1:] != "*"
    ]
    if plain:
        raise WarehouseError(
            "mixing UNION BY NAME with a plain set operator at one level "
            "is ambiguous — parenthesize the plain set operation"
        )
    branches, start = [], 0
    for h in hits:
        branches.append(statement[start : h.start()])
        start = h.end()
    last = statement[start:]
    tails = _depth0_positions(_same_len_mask(last), _UBN_TAIL_RE)
    cut = tails[0].start() if tails else len(last)
    branches.append(last[:cut])
    tail = last[cut:].strip()

    def run(branch: str) -> DataFrame:
        b = branch.strip()
        while b.startswith("("):
            inside, rest = _balanced_paren_group(b)
            if rest.strip():
                break
            b = inside.strip()
        if not b:
            raise WarehouseError("empty UNION BY NAME branch")
        return spark.sql(rewrite(b))

    df = run(branches[0])
    for h, btxt in zip(hits, branches[1:]):
        df = df.unionByName(run(btxt), allowMissingColumns=True)
        if not h.group("all"):
            df = df.dropDuplicates()
    if tail:
        df.createOrReplaceTempView("_lh_ubn")
        df = spark.sql(f"SELECT * FROM _lh_ubn {tail}")
    return df


_TRAILING_COMMA_RE = re.compile(
    r",\s*(?=(?:FROM|WHERE|GROUP|HAVING|ORDER|SORT|DISTRIBUTE"
    r"|CLUSTER|LIMIT|OFFSET|UNION|INTERSECT|MINUS)(?![\w.])|$)",
    re.IGNORECASE,
)


def _strip_trailing_commas_masked(s: str) -> str:
    """The dialect tolerates a trailing comma before the next clause
    (``SELECT a, b, FROM t``; ``GROUP BY a, b,`` at statement end) —
    drop it. Safe because every keyword in the set is fully reserved in
    clause position IN BOTH ENGINES; string literals are already masked.
    QUALIFY and WINDOW are deliberately absent: both are identifier-legal
    (``SELECT x, qualify FROM t`` is a valid projection in Spark and the
    dialect — the r10/r11 pass-through contract), so a comma before them
    is ambiguous and stripping it silently turned the identifier into an
    alias (wrong columns, found by test_review_fixes_r11 this round). A
    trailing comma directly before a QUALIFY/WINDOW clause stays a parse
    error — loud, never wrong rows."""
    return _TRAILING_COMMA_RE.sub(" ", s)


_COLUMNS_RE = re.compile(r"(?i)(?<![\w.])COLUMNS\s*(?=\()")


def expand_columns_sql(statement: str, columns_of) -> str:
    """The dialect's ``COLUMNS(…)`` star expression in the select list:
    ``COLUMNS('regex')`` (unanchored search), ``COLUMNS(*)``, and
    ``COLUMNS(* EXCLUDE (…))`` expand — in schema order — to one copy
    of the CONTAINING item per matched column, each aliased to the bare
    column name (the dialect's naming even under function application:
    ``min(COLUMNS('l_.*'))`` yields columns named l_a, l_b, …).

    Pure text expansion against the schema of the statement's single
    depth-0 FROM table (``columns_of(name)`` resolves it); statements
    whose FROM is a join/subquery, items with multiple COLUMNS, and
    explicit aliases on a COLUMNS item are rejected loudly. No matching
    column is an error, as in the dialect. Statements without a
    COLUMNS( token pass through byte-identical."""
    masked = _same_len_mask(statement)
    if not _COLUMNS_RE.search(masked):
        return statement
    froms = _depth0_positions(masked, _FROM_RE)
    if not froms:
        raise WarehouseError("COLUMNS(…) requires a FROM clause")
    after = statement[froms[0].end() :]
    nm = re.match(rf"\s*((?:{_IDENT}\.)*{_IDENT})\s*", after)
    rest_after = after[nm.end() :].lstrip() if nm else ""
    if not nm or re.match(
        r"(?i)^(?:JOIN|INNER|LEFT|RIGHT|FULL|CROSS|ASOF|,|LATERAL)", rest_after
    ):
        raise WarehouseError(
            "COLUMNS(…) expands against a single named FROM table — "
            "materialize joins/subqueries first"
        )
    cols = list(columns_of(nm.group(1)))
    sel = _select_list_span(masked)
    if sel is None:
        raise WarehouseError("COLUMNS(…) belongs in a select list")
    items_text = statement[sel[0] : sel[1]]
    out_items: list[str] = []
    expanded_any = False
    for item in _split_top_level(items_text):
        m = _COLUMNS_RE.search(_same_len_mask(item))
        if not m:
            out_items.append(item.strip())
            continue
        depth = item[: m.start()].count("(") - item[: m.start()].count(")")
        if depth > 0 and re.search(
            r"(?is)\(\s*SELECT(?![\w.])", _same_len_mask(item[: m.start()])
        ):
            raise WarehouseError(
                "COLUMNS(…) inside a scalar subquery is unsupported"
            )
        expanded_any = True
        arg, rest = _balanced_paren_group(item[m.end() :])
        if _COLUMNS_RE.search(_same_len_mask(rest)) or _COLUMNS_RE.search(
            _same_len_mask(item[: m.start()])
        ):
            raise WarehouseError("one COLUMNS(…) per select item")
        if re.search(r"(?is)\s+AS\s+[A-Za-z_\"']", rest) or re.match(
            r"(?is)^\s*[A-Za-z_]\w*\s*$", rest
        ):
            raise WarehouseError(
                "COLUMNS(…) expands to many columns — an explicit alias "
                "cannot name them"
            )
        arg = arg.strip()
        if arg == "*":
            matched = cols
        else:
            # EXCLUDE is the dialect spelling; EXCEPT arrives when the
            # star-sugar rewrite already ran over the statement
            em = re.match(r"(?is)^\*\s*(?:EXCLUDE|EXCEPT)\s*(?=\()", arg)
            if em:
                exc_text, exc_rest = _balanced_paren_group(arg[em.end() :])
                if exc_rest.strip():
                    raise WarehouseError(f"unparsed COLUMNS argument: {arg[:40]!r}")
                excluded = {c.strip() for c in _split_top_level(exc_text)}
                unknown = excluded - set(cols)
                if unknown:
                    raise WarehouseError(
                        f"COLUMNS EXCLUDE names unknown columns: {sorted(unknown)}"
                    )
                matched = [c for c in cols if c not in excluded]
            else:
                lm = _SQL_STR_RE.match(arg)
                if not lm:
                    raise WarehouseError(
                        f"unsupported COLUMNS argument: {arg[:40]!r}"
                    )
                pat = lm.group("s").replace("''", "'")
                matched = [c for c in cols if re.search(pat, c)]
                if not matched:
                    raise WarehouseError(
                        f"no columns match COLUMNS regex {pat!r}"
                    )
        head_txt = item[: m.start()]
        for c in matched:
            out_items.append(f"{head_txt}{c}{rest} AS {c}".strip())
    if not expanded_any:  # COLUMNS only in subqueries: leave untouched
        return statement
    return statement[: sel[0]] + " " + ", ".join(out_items) + " " + statement[sel[1] :]


_PIVOT_CLAUSE_RE = re.compile(
    r"(?i)(?<![\w.])(?:GROUP\s+BY|ORDER\s+BY|LIMIT|OFFSET)(?!\w)"
)
_SQL_STR_RE = re.compile(r"^'(?P<s>(?:[^']|'')*)'$")


def _pivot_literal(tok: str):
    """A SQL literal from an IN value list → the Python value Spark's
    ``pivot(values=…)`` expects."""
    tok = tok.strip()
    m = _SQL_STR_RE.match(tok)
    if m:
        return m.group("s").replace("''", "'")
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            raise WarehouseError(f"unsupported PIVOT IN literal: {tok!r}")


def _statement_dataset(spark, text: str, rewrite) -> tuple[DataFrame, str]:
    """The ⟨dataset⟩ head of a PIVOT/UNPIVOT statement: a (possibly
    qualified) table name or a parenthesized subquery. Returns the
    DataFrame and the remaining statement text."""
    text = text.lstrip()
    if text.startswith("("):
        inside, rest = _balanced_paren_group(text)
        inside = inside.strip()
        ih = inside.split(None, 1)[0].upper() if inside else ""
        if ih == "PIVOT":  # nested statement forms compose
            return pivot_statement_df(spark, inside, rewrite), rest
        if ih == "UNPIVOT":
            return unpivot_statement_df(spark, inside, rewrite), rest
        return spark.sql(rewrite(inside)), rest
    nm = re.match(rf"((?:{_IDENT}\.)*{_IDENT})", text)
    if not nm:
        raise WarehouseError(f"cannot parse PIVOT/UNPIVOT dataset: {text[:60]!r}")
    return spark.sql(rewrite(f"SELECT * FROM {nm.group(1)}")), text[nm.end() :]


def _apply_tail(spark, df: DataFrame, tail: str) -> DataFrame:
    if tail.strip():
        df.createOrReplaceTempView("_lh_pv")
        df = spark.sql(f"SELECT * FROM _lh_pv {tail.strip()}")
    return df


def pivot_statement_df(spark: SparkSession, statement: str, rewrite=None) -> DataFrame:
    """The dialect's standalone PIVOT statement::

        PIVOT ⟨dataset⟩ ON col [IN (v, …)] [USING agg(x) [AS a], …]
            [GROUP BY rows] [ORDER BY …] [LIMIT …]

    → ``groupBy(rows).pivot(col[, values]).agg(…)``. Dialect parity
    shims on top of Spark's pivot (both pinned empirically against the
    oracle engine): COUNT cells with no input rows read 0 (Spark yields
    NULL — coalesced per count-aggregate column); a SINGLE aliased
    aggregate still suffixes ``_alias`` onto each value column (Spark
    drops the alias for single-agg pivots; multi-agg naming
    ``{value}_{alias}`` already agrees). Omitted USING = COUNT(*)
    (unaliased); omitted GROUP BY = every remaining source column.
    Multi-agg without aliases and multiple ON columns are rejected
    loudly (their default column names are engine-specific)."""
    from pyspark.sql import functions as F

    rewrite = rewrite or dialect_sql
    s = _same_len_mask(statement)
    m = re.match(r"(?is)^\s*PIVOT(?![\w.])", s)
    if not m:
        raise WarehouseError("not a PIVOT statement")
    src, rest = _statement_dataset(spark, statement[m.end() :], rewrite)
    onm = re.match(r"(?is)^\s*ON\s+", rest)
    if not onm:
        raise WarehouseError("PIVOT requires an ON clause")
    rest = rest[onm.end() :]
    cm = re.match(rf"({_IDENT})", rest)
    if not cm:
        raise WarehouseError(f"cannot parse PIVOT ON column: {rest[:40]!r}")
    on_col, rest = cm.group(1), rest[cm.end() :]
    values = None
    inm = re.match(r"(?is)^\s*IN\s*(?=\()", rest)
    if inm:
        vals_text, rest = _balanced_paren_group(rest[inm.end() :])
        values = [_pivot_literal(v) for v in _split_top_level(vals_text)]
    if re.match(r"(?is)^\s*,", rest):
        raise WarehouseError("PIVOT supports a single ON column — pre-concat")
    cuts = _depth0_positions(_same_len_mask(rest), _PIVOT_CLAUSE_RE)
    cut = cuts[0].start() if cuts else len(rest)
    head, tail = rest[:cut], rest[cut:]
    um = re.match(r"(?is)^\s*USING\s+(?P<aggs>.+)$", head) if head.strip() else None
    aggs: list[tuple[str, str | None]] = []
    if um and um.group("aggs").strip():
        for item in _split_top_level(um.group("aggs")):
            am = re.match(
                r"(?is)^(?P<body>.+?)(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?\s*$",
                item.strip(),
            )
            aggs.append((am.group("body").strip(), am.group("alias")))
    elif head.strip():
        raise WarehouseError(f"unparsed PIVOT clause: {head.strip()[:40]!r}")
    if not aggs:
        aggs = [("COUNT(*)", None)]
    if len(aggs) > 1 and any(a is None for _, a in aggs):
        raise WarehouseError(
            "multi-aggregate PIVOT requires AS aliases (default names are "
            "engine-specific)"
        )
    gbm = re.match(r"(?is)^\s*GROUP\s+BY\s+(?P<rows>.+)$", tail)
    if gbm:
        inner = gbm.group("rows")
        cuts2 = _depth0_positions(_same_len_mask(inner), _PIVOT_CLAUSE_RE)
        cut2 = cuts2[0].start() if cuts2 else len(inner)
        group = [c.strip() for c in _split_top_level(inner[:cut2])]
        tail = inner[cut2:]
    else:
        used = {
            t.group(0)
            for body, _a in aggs
            for t in re.finditer(rf"{_IDENT}", body)
        }
        group = [c for c in src.columns if c != on_col and c not in used]
    gp = src.groupBy(*group).pivot(on_col, values)
    if len(aggs) == 1:
        out = gp.agg(F.expr(aggs[0][0]))
    else:
        out = gp.agg(*[F.expr(b).alias(a) for b, a in aggs])
    pivot_cols = [c for c in out.columns if c not in group]
    is_count = {a or "": re.match(r"(?is)^count\s*\(", b) is not None for b, a in aggs}
    sel = [out[c] for c in group]
    for c in pivot_cols:
        alias = c
        count_here = False
        if len(aggs) == 1:
            count_here = next(iter(is_count.values()))
            if aggs[0][1]:  # single aliased agg: dialect suffixes _alias
                alias = f"{c}_{aggs[0][1]}"
        else:
            suffix = c.rsplit("_", 1)[-1]
            count_here = is_count.get(suffix, False)
        expr = F.coalesce(out[c], F.lit(0)) if count_here else out[c]
        sel.append(expr.alias(alias))
    return _apply_tail(spark, out.select(*sel), tail)


def unpivot_statement_df(
    spark: SparkSession, statement: str, rewrite=None
) -> DataFrame:
    """The dialect's standalone UNPIVOT statement::

        UNPIVOT ⟨dataset⟩ ON c1, c2, … | COLUMNS(* EXCLUDE (…))
            INTO NAME n VALUE v [ORDER BY …] [LIMIT …]

    → ``DataFrame.unpivot(ids, ons, n, v)`` with NULL value rows
    dropped (the dialect excludes them; Spark keeps them)."""
    rewrite = rewrite or dialect_sql
    m = re.match(r"(?is)^\s*UNPIVOT(?![\w.])", statement)
    if not m:
        raise WarehouseError("not an UNPIVOT statement")
    src, rest = _statement_dataset(spark, statement[m.end() :], rewrite)
    onm = re.match(r"(?is)^\s*ON\s+", rest)
    if not onm:
        raise WarehouseError("UNPIVOT requires an ON clause")
    rest = rest[onm.end() :]
    intom = re.search(
        r"(?is)(?<![\w.])INTO\s+NAME\s+(?P<n>[A-Za-z_]\w*)\s+VALUE\s+"
        r"(?P<v>[A-Za-z_]\w*)",
        rest,
    )
    if not intom:
        raise WarehouseError("UNPIVOT requires INTO NAME <n> VALUE <v>")
    cols_text, tail = rest[: intom.start()], rest[intom.end() :]
    colm = re.match(r"(?is)^\s*COLUMNS\s*\(\s*\*\s*EXCLUDE\s*(?=\()", cols_text)
    if colm:
        exc_text, after = _balanced_paren_group(cols_text[colm.end() :])
        if after.strip().rstrip(")").strip():
            raise WarehouseError(f"unparsed UNPIVOT ON tail: {after[:40]!r}")
        excluded = {c.strip() for c in _split_top_level(exc_text)}
        ons = [c for c in src.columns if c not in excluded]
    else:
        ons = [c.strip() for c in _split_top_level(cols_text) if c.strip()]
        unknown = [c for c in ons if c not in src.columns]
        if unknown:
            raise WarehouseError(f"UNPIVOT ON names unknown columns: {unknown}")
    ids = [c for c in src.columns if c not in ons]
    name, value = intom.group("n"), intom.group("v")
    out = src.unpivot(ids, ons, name, value).filter(f"{value} IS NOT NULL")
    return _apply_tail(spark, out, tail)


def dialect_sql(statement: str) -> str:
    """All dialect rewrites (star sugar + ASOF JOIN + QUALIFY, the joins
    at every subquery depth) for plain spark.sql callers — the same chain
    LakehouseSQL applies."""

    def chain(s: str) -> str:
        s = _strip_trailing_commas_masked(s)
        s = _recurse_query_parens(s, _rewrite_from_first_masked)
        return _rewrite_dialect_joins_masked(_rewrite_star_sugar_masked(s))

    return _masked_rewrite(statement, chain)


class LakehouseSQL:
    """SQL entry point bound to one warehouse directory, mirroring the
    reference's ``spark.sql`` usage with catalog ``polaris`` and 2-part
    default-catalog names (iceberg_queries.ipynb:151, `SELECT * FROM
    my_warehouse.users`)."""

    def __init__(self, spark: SparkSession, warehouse_dir: str, catalog: str = "polaris"):
        self.spark = spark
        self.wh = Warehouse(spark, warehouse_dir)
        self.catalog = catalog
        # write-audit-publish session state (`SET spark.wap.branch = '...'`)
        self._wap_branch: str | None = None
        # the wap.id variant: INSERTs stage on a hidden per-id branch,
        # published by CALL system.publish_changes(wap_id => ...)
        self._wap_id: str | None = None
        # view-expansion recursion guard (views over views; cycles raise)
        self._view_stack: set[str] = set()
        self.rest = None  # set by from_rest

    @classmethod
    def from_rest(
        cls,
        spark: SparkSession,
        url: str,
        client_id: str,
        client_secret: str,
        catalog_name: str = "my_catalog",
        catalog: str = "polaris",
    ) -> "LakehouseSQL":
        """Connect the way the reference connects to Polaris (OAuth2
        client-credentials → catalog lookup, setup-polaris.sh:17-75 /
        getting_started.ipynb's spark.sql.catalog.* conf): resolve the
        named catalog's default-base-location over the REST management
        API and bind the SQL session to it. The returned session keeps
        the authenticated client at ``.rest`` for pointer commits and
        loadTable calls."""
        from minio_iceberg_polaris_lakehouse_spark.rest_catalog import RestCatalogClient

        cli = RestCatalogClient(url, client_id, client_secret)
        rec = next(
            (
                c
                for c in cli._request("GET", "/api/management/v1/catalogs")["catalogs"]
                if c["name"] == catalog_name
            ),
            None,
        )
        if rec is None:
            raise WarehouseError(f"no catalog {catalog_name!r} at {url}")
        base = rec["properties"].get("default-base-location")
        if not base:
            raise WarehouseError(f"catalog {catalog_name!r} has no default-base-location")
        inst = cls(spark, base, catalog=catalog)
        inst.rest = cli
        return inst

    # ------------------------------------------------------------------ API
    def sql(self, statement: str) -> DataFrame:
        s = statement.strip().rstrip(";").strip()
        head = s.split(None, 1)[0].upper() if s else ""
        # FROM-first statements (Q8) are queries; `FROM` can't open any
        # DDL/DML statement so the head token alone is unambiguous.
        # Desugar HERE so the metadata fast path and scan-hint pruning
        # below see the canonical SELECT-first text (idempotent — the
        # rewrite inside _rewrite_query then passes through unchanged).
        if head == "FROM":
            s = canonical_query(s)
            head = s.split(None, 1)[0].upper()
        if head == "PIVOT":
            return pivot_statement_df(self.spark, s, rewrite=self._rewrite_query)
        if head == "UNPIVOT":
            return unpivot_statement_df(self.spark, s, rewrite=self._rewrite_query)
        if head in ("SELECT", "WITH", "VALUES", "TABLE"):
            if head != "VALUES" and has_union_by_name(s):
                return union_by_name_df(self.spark, s, rewrite=self._rewrite_query)
            fast = self._metadata_count(s) if head == "SELECT" else None
            if fast is not None:
                return fast
            hints = self._scan_hints(s) if head == "SELECT" else None
            return self.spark.sql(self._rewrite_query(s, hints))
        for matcher, handler in self._STATEMENTS:
            m = _fullmatch(matcher, s)
            if m:
                return handler(self, m)
        raise WarehouseError(f"unsupported SQL statement: {s[:120]}")

    def table(self, name: str) -> DataFrame:
        """``spark.table("my_warehouse.users")`` equivalent
        (iceberg_queries.ipynb:233). Resolves registered foreign Iceberg
        tables too (CALL system.register_table)."""
        ns, t = self._resolve_table_name(name)
        tab = self.wh.table(ns, t)
        if not tab.exists() and f"{ns}.{t}" in self.wh.foreign_tables():
            return self.wh.read_foreign_table(ns, t)
        df = tab.read()
        if f"{ns}.{t}" in self.wh.matviews():
            df = df.drop(*[c for c in df.columns if c.startswith("_lh_")])
        return df

    # ------------------------------------------------------- name handling
    def _resolve_table_name(self, name: str) -> tuple[str, str]:
        parts = [p.strip() for p in name.split(".")]
        if len(parts) == 3:
            if parts[0].lower() != self.catalog.lower():
                raise WarehouseError(f"unknown catalog {parts[0]} (expected {self.catalog})")
            return parts[1], parts[2]
        if len(parts) == 2:
            return parts[0], parts[1]
        raise WarehouseError(f"table name must be [catalog.]namespace.table: {name}")

    def _session_tzinfo(self) -> datetime.tzinfo:
        """tzinfo for spark.sql.session.timeZone — the zone Spark itself
        uses for naive TIMESTAMP literals."""
        from minio_iceberg_polaris_lakehouse_spark.warehouse import _tzinfo_of

        return _tzinfo_of(self.spark.conf.get("spark.sql.session.timeZone"))

    def _resolve_ns_name(self, name: str) -> str:
        parts = [p.strip() for p in name.split(".")]
        if len(parts) == 2:
            if parts[0].lower() != self.catalog.lower():
                raise WarehouseError(f"unknown catalog {parts[0]} (expected {self.catalog})")
            return parts[1]
        if len(parts) == 1:
            return parts[0]
        raise WarehouseError(f"namespace must be [catalog.]namespace: {name}")

    def _existing_table(self, name: str) -> Table:
        ns, t = self._resolve_table_name(name)
        tab = self.wh.table(ns, t)
        if not tab.exists():
            raise WarehouseError(f"table {ns}.{t} does not exist")
        return tab

    # --------------------------------------------- metadata-only COUNT(*)
    def _metadata_count(self, s: str) -> DataFrame | None:
        """`SELECT COUNT(*) [AS alias] FROM t` — the reference's
        count_rows helper shape (warehouse_helpers.py:85) — answered from
        the commit-time footer stats: no Spark job, no data read, O(dirs)
        driver work. Fires only for this exact single-table shape with no
        WHERE/time-travel; anything else (or a table with unrecorded
        legacy stats) falls through to the real plan."""
        m = _fullmatch(
            rf"SELECT\s+COUNT\s*\(\s*\*\s*\)(?:\s+AS\s+({_IDENT}))?\s+FROM\s+"
            rf"(?:{re.escape(self.catalog)}\.)?({_IDENT})\.({_IDENT})",
            s,
        )
        if m is None:
            return None
        alias, ns, tbl = m.group(1), m.group(2), m.group(3)
        tab = self.wh.table(ns, tbl)
        if not tab.exists():
            return None
        n = tab.row_count()
        if n is None:
            return None
        col = alias or "count(1)"  # Spark's COUNT(*) output name
        schema = T.StructType([T.StructField(col, T.LongType(), False)])
        return local_frame(self.spark, [(n,)], schema)

    # --------------------------------------------- SELECT manifest pruning
    def _scan_hints(self, s: str) -> dict[tuple[str, str], dict] | None:
        """Extract eq/between predicates a SELECT provably applies as
        TOP-LEVEL conjuncts to a SINGLE table, so the view can be backed
        by Table.scan() and manifest-level file skipping fires for plain
        SQL — `SELECT … FROM t WHERE id BETWEEN 5 AND 9 AND v = 'x'`
        plans only the files whose manifest bounds can match.

        Soundness over coverage: hints only fire when the statement shape
        GUARANTEES the predicate is a required conjunct of that one
        table's scan — one dotted table in FROM (no joins/commas), no
        subqueries (the WHERE segment may not contain parentheses), no
        top-level OR. Unrecognized conjuncts are simply not used (skipping
        by a subset of conjuncts is still sound). Anything else → None,
        and the view falls back to the full snapshot read."""
        literals: list[str] = []
        masked = re.sub(
            r"'(?:[^']|'')*'", lambda m: (literals.append(m.group(0)), f"\x00L{len(literals)-1}\x00")[1], s
        )
        m = re.match(
            rf"(?is)^\s*SELECT\s+(?P<proj>.*?)\s+FROM\s+"
            rf"(?:(?P<cat>{re.escape(self.catalog)})\.)?(?P<ns>{_IDENT})\.(?P<tbl>{_IDENT})"
            rf"(?:\s+(?:AS\s+)?(?P<alias>{_IDENT}))?\s+WHERE\s+(?P<rest>.*)$",
            masked,
        )
        if m is None or re.search(r"(?i)\bfrom\b", m.group("proj")):
            return None
        ns, tbl, alias = m.group("ns"), m.group("tbl"), m.group("alias")
        if alias and alias.upper() in ("GROUP", "ORDER", "LIMIT", "HAVING", "UNION", "WHERE"):
            return None
        # the hint-backed view replaces EVERY reference of the table in
        # the statement, but soundness was only established for this
        # first WHERE-guarded one — a second reference (UNION arm, IN
        # subquery after the tail cut, self-join) would silently read
        # the pre-filtered view and lose rows. One reference only.
        if len(re.findall(rf"(?i)\b{re.escape(ns)}\s*\.\s*{re.escape(tbl)}\b", masked)) != 1:
            return None
        tab = self.wh.table(ns, tbl)
        fields: set[str] | None = None
        if not tab.exists():
            # registered FOREIGN table: same hint soundness rules; the
            # field set comes from the open metadata's current schema
            # (driver-side metadata read), and the rewrite passes the
            # hints to read_iceberg_table for manifest-level pruning
            floc = self.wh.foreign_tables().get(f"{ns}.{tbl}")
            if floc is None:
                return None
            try:
                import json as _json

                from minio_iceberg_polaris_lakehouse_spark import fsio
                from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
                    resolve_metadata_path,
                )

                md = _json.loads(fsio.read_text(resolve_metadata_path(floc)))
                cur = next(
                    s
                    for s in md.get("schemas", [])
                    if s["schema-id"] == md.get("current-schema-id")
                )
                fields = {f["name"] for f in cur.get("fields", [])}
            except (OSError, ValueError, StopIteration, KeyError):
                return None
        rest = m.group("rest")
        tail = re.search(r"(?i)\b(GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|WINDOW|UNION|EXCEPT|INTERSECT)\b", rest)
        pred = rest[: tail.start()] if tail else rest
        if "(" in pred or ")" in pred or re.search(r"(?i)\bor\b", pred):
            return None
        if fields is None:
            fields = set(tab.schema().fieldNames())
        prefixes = {p.lower() for p in (alias, tbl, f"{ns}.{tbl}") if p}

        def col_of(token: str) -> str | None:
            t = token.strip()
            for p in sorted(prefixes, key=len, reverse=True):
                if t.lower().startswith(p + "."):
                    t = t[len(p) + 1 :]
                    break
            return t if re.fullmatch(_IDENT, t) and t in fields else None

        # a literal token, typed string literals (DATE '2025-01-02') included
        lit_re = r"(?:(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?)\s+)?\S+"

        def lit_of(token: str):
            t = re.sub(r"(?i)^(?:DATE|TIMESTAMP(?:_NTZ|_LTZ)?)\s+(?=\x00L)", "", token.strip())
            lm = re.fullmatch(r"\x00L(\d+)\x00", t)
            if lm:
                return literals[int(lm.group(1))][1:-1].replace("''", "'")
            if re.fullmatch(r"-?\d+", t):
                return int(t)
            if re.fullmatch(r"-?\d+\.\d+", t):
                return float(t)
            return None

        eq: dict[str, object] = {}
        between: dict[str, tuple] = {}

        def tighten(c: str, lo, hi) -> None:
            """Merge a one-sided/closed range into `between` (max of lows,
            min of highs — only comparable values tighten)."""
            plo, phi = between.get(c, (None, None))
            try:
                nlo = lo if plo is None else (plo if lo is None else max(plo, lo))
                nhi = hi if phi is None else (phi if hi is None else min(phi, hi))
            except TypeError:
                return
            between[c] = (nlo, nhi)

        def grab_between(bm: re.Match) -> str:
            c, lo, hi = col_of(bm.group(1)), lit_of(bm.group(2)), lit_of(bm.group(3))
            if c is not None and lo is not None and hi is not None:
                tighten(c, lo, hi)
            return "\x00B\x00"  # consumed — keeps the AND split clean

        pred = re.sub(
            rf"(?i)({_IDENT}(?:\.{_IDENT})?)\s+BETWEEN\s+({lit_re})\s+AND\s+({lit_re})",
            grab_between,
            pred,
        )
        for conjunct in re.split(r"(?i)\s+AND\s+", pred):
            em = re.fullmatch(
                rf"(?i)\s*({_IDENT}(?:\.{_IDENT})?)\s*(=|>=|<=|>|<)\s*({lit_re})\s*", conjunct
            )
            if not em:
                continue
            c, op, v = col_of(em.group(1)), em.group(2), lit_of(em.group(3))
            if c is None or v is None:
                continue
            if op == "=":
                if c not in eq:
                    eq[c] = v
            elif op in (">", ">="):
                # strict ops relax to inclusive for the view: the statement
                # re-applies its full WHERE, so a superset view is sound
                tighten(c, v, None)
            else:
                tighten(c, None, v)
        if not eq and not between:
            return None
        return {(ns, tbl): {"eq": eq or None, "between": between or None}}

    # ------------------------------------------------------- SELECT rewrite
    def _rewrite_query(self, s: str, hints: dict | None = None) -> str:
        """Replace warehouse table references (2/3-part names, optional
        .history/.snapshots metadata suffix, optional VERSION AS OF /
        TIMESTAMP AS OF) with temp views over the resolved snapshot, then
        let Catalyst handle the rest of the statement untouched. Unknown
        qualified names (column refs like ``u.name``) are left alone —
        only names that resolve to existing warehouse tables rewrite.
        String literals are masked first so a table-like name INSIDE a
        literal (`WHERE note = 'see my_warehouse.users'`) never
        rewrites.

        Iceberg metadata columns: when the statement references any of
        `_spec_id/_partition/_file/_pos/_deleted`, table views are
        registered WITH metadata columns so `SELECT _file, COUNT(*) ...
        GROUP BY _file` works (the per-file debugging workflow behind the
        reference's DESCRIBE EXTENDED listing,
        getting_started.ipynb:128-132). Divergence from Iceberg proper:
        in such a statement `SELECT *` also surfaces the metadata columns
        (views cannot hide individual columns)."""
        literals: list[str] = []

        def mask(m: re.Match) -> str:
            literals.append(m.group(0))
            return f"\x00L{len(literals) - 1}\x00"

        s = re.sub(r"'(?:[^']|'')*'", mask, s)
        # trailing-comma tolerance, then FROM-first desugars to canonical
        # SELECT-first form, then star sugar (EXCLUDE/REPLACE appear
        # anywhere, incl. inside subqueries), then ASOF + QUALIFY at
        # every subquery depth
        s = _strip_trailing_commas_masked(s)
        s = _recurse_query_parens(s, _rewrite_from_first_masked)
        s = _rewrite_star_sugar_masked(s)
        s = _rewrite_dialect_joins_masked(s)
        wants_metadata_cols = bool(
            re.search(r"(?<!\w)_(?:spec_id|partition|file|pos|deleted)(?!\w)", s)
        )
        # Iceberg v3 row lineage: `SELECT _row_id, …` /
        # `_last_updated_sequence_number` register the table view with the
        # lineage read (derived ids for appended rows, materialized ids
        # carried through rewrites)
        wants_lineage = bool(
            re.search(r"(?<!\w)_(?:row_id|last_updated_sequence_number)(?!\w)", s)
        )
        cat = re.escape(self.catalog)
        pattern = re.compile(
            rf"(?<![A-Za-z0-9_.'])"
            rf"(?:(?P<cat>{cat})\.)?(?P<ns>{_IDENT})\.(?P<tbl>{_IDENT})"
            rf"(?P<meta>\.(?:history|snapshots|files|manifests|refs|partitions|entries"
            rf"|metadata_log_entries|all_data_files|all_manifests|delete_files"
            rf"|position_deletes|statistics))?"
            rf"(?P<tt>\s+VERSION\s+AS\s+OF\s+(?:(?P<ver>\d+)|\x00L(?P<verref>\d+)\x00)"
            rf"|\s+TIMESTAMP\s+AS\s+OF\s+\x00L(?P<ts>\d+)\x00)?"
            rf"(?![A-Za-z0-9_.])",
            re.IGNORECASE,
        )

        # one catalog read per STATEMENT, not per unresolved qualified
        # name — a join with aliased columns hits repl() for every
        # `alias.column` reference, and each miss would otherwise re-read
        # the registry files
        foreign_regs = self.wh.foreign_tables()
        view_defs = self.wh.views()
        matview_defs = self.wh.matviews()

        def repl(m: re.Match) -> str:
            ns, tbl = m.group("ns"), m.group("tbl")
            tab = self.wh.table(ns, tbl)
            if not tab.exists():
                floc = foreign_regs.get(f"{ns}.{tbl}")
                if floc is not None:
                    # registered FOREIGN Iceberg table: resolved through
                    # the open metadata reader at every reference, so
                    # foreign-writer commits are visible. Time travel
                    # rides the reader's own snapshot/timestamp support;
                    # .history/.snapshots/.files derive from the metadata
                    # document + manifest Avros (column-compatible with
                    # the native metadata views); branch/tag refs and the
                    # remaining metadata tables are private snapshot-log
                    # concepts the open metadata lacks.
                    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
                        read_iceberg_files,
                        read_iceberg_history,
                        read_iceberg_partitions,
                        read_iceberg_refs,
                        read_iceberg_snapshots,
                        read_iceberg_statistics,
                        read_iceberg_table,
                    )

                    # '__' also occurs inside identifiers (a__b.c vs
                    # a.b__c would share a name); a digest of the exact
                    # (ns, tbl) pair makes the view collision-proof
                    import hashlib as _hl

                    pair = _hl.sha1(f"{ns}\x00{tbl}".encode()).hexdigest()[:8]
                    view = f"_lh_foreign_{ns}__{tbl}_{pair}"
                    if m.group("meta"):
                        fmeta = m.group("meta").lstrip(".").lower()
                        readers = {
                            "history": read_iceberg_history,
                            "snapshots": read_iceberg_snapshots,
                            "files": read_iceberg_files,
                            "refs": read_iceberg_refs,
                            "statistics": read_iceberg_statistics,
                            "partitions": read_iceberg_partitions,
                        }
                        if fmeta not in readers:
                            raise WarehouseError(
                                f".{fmeta} is not available on foreign table "
                                f"{ns}.{tbl} (open metadata exposes history/"
                                "snapshots/files/refs/statistics/partitions)"
                            )
                        df = readers[fmeta](self.spark, floc)
                        view += f"__{fmeta}"
                        df.createOrReplaceTempView(view)
                        return view
                    if m.group("ver") is not None:
                        df = read_iceberg_table(
                            self.spark, floc, snapshot_id=int(m.group("ver"))
                        )
                        view += f"__v{m.group('ver')}"
                    elif m.group("verref") is not None:
                        # named ref from the metadata document's refs map
                        refname = literals[int(m.group("verref"))].strip("'")
                        df = read_iceberg_table(self.spark, floc, ref=refname)
                        view += f"__r{abs(hash(refname)) % 10**8}"
                    elif m.group("ts") is not None:
                        lit = literals[int(m.group("ts"))].strip("'")
                        ts = datetime.datetime.fromisoformat(lit)
                        if ts.tzinfo is None:
                            ts = ts.replace(tzinfo=self._session_tzinfo())
                        ms = int(ts.timestamp() * 1000)
                        df = read_iceberg_table(self.spark, floc, as_of_ms=ms)
                        view += f"__ts{ms}"
                    else:
                        # Iceberg v3 row-lineage columns work on the
                        # registered foreign name too (derived from the
                        # open metadata's first-row-ids)
                        hint = (hints or {}).get((ns, tbl))
                        if hint and not wants_metadata_cols and not wants_lineage:
                            # provably-conjunct predicates (_scan_hints):
                            # manifest-level file pruning over the open
                            # metadata — partition values + bounds; the
                            # statement still applies its full WHERE
                            df = read_iceberg_table(
                                self.spark,
                                floc,
                                eq=hint["eq"],
                                between=hint["between"],
                            )
                        else:
                            df = read_iceberg_table(
                                self.spark, floc, row_lineage=wants_lineage
                            )
                        if wants_lineage:
                            view += "__lin"
                    df.createOrReplaceTempView(view)
                    return view
                vsql = view_defs.get(f"{ns}.{tbl}")
                if vsql is None:
                    return m.group(0)  # not a warehouse object (e.g. alias.column)
                # catalog VIEW: expand by re-resolving its stored SQL
                # against CURRENT table state (recursively — views over
                # views work; cycles raise)
                if m.group("tt"):
                    raise WarehouseError(f"time travel is not supported on view {ns}.{tbl}")
                key = f"{ns}.{tbl}"
                if key in self._view_stack:
                    raise WarehouseError(f"view cycle detected at {key}")
                self._view_stack.add(key)
                try:
                    df = self.spark.sql(self._rewrite_query(vsql))
                finally:
                    self._view_stack.discard(key)
                vname = f"_lh_view_{ns}__{tbl}"
                df.createOrReplaceTempView(vname)
                return vname
            meta = (m.group("meta") or "").lstrip(".").lower()
            view = f"_lh_{ns}__{tbl}"
            if meta:
                # history/snapshots/files/manifests/refs/partitions;
                # .partitions is the stats-bearing Iceberg metadata table,
                # not the SHOW PARTITIONS listing; .statistics decodes the
                # Puffin theta-sketch stats (statistics_table — Table
                # .statistics() is the engine-private dict)
                if meta == "partitions":
                    df = tab.partitions_table()
                elif meta == "statistics":
                    df = tab.statistics_table()
                else:
                    df = getattr(tab, meta)()
                view += f"__{meta}"
            elif m.group("ver") is not None:
                version = int(m.group("ver"))
                df = tab.read(version=version)
                view += f"__v{version}"
            elif m.group("verref") is not None:
                # VERSION AS OF 'branch-or-tag' (Iceberg ref time travel)
                ref = literals[int(m.group("verref"))].strip("'")
                df = tab.read(version=ref)
                view += f"__r{abs(hash(ref)) % 10**8}"
            elif m.group("ts") is not None:
                lit = literals[int(m.group("ts"))].strip("'")
                ts = datetime.datetime.fromisoformat(lit)
                if ts.tzinfo is None:
                    # naive literals follow spark.sql.session.timeZone
                    ts = ts.replace(tzinfo=self._session_tzinfo())
                ms = int(ts.timestamp() * 1000)
                df = tab.read(as_of_ms=ms)
                view += f"__ts{ms}"
            else:
                hint = (hints or {}).get((ns, tbl))
                if hint and not wants_metadata_cols and not wants_lineage:
                    # single-table SELECT with provably-conjunct predicates
                    # (_scan_hints): back the view with the bounds-pruned
                    # scan so manifest file skipping fires for plain SQL;
                    # the statement still applies its full WHERE on top
                    df = tab.scan(eq=hint["eq"], between=hint["between"])
                else:
                    df = tab.read(
                        metadata_columns=wants_metadata_cols, lineage=wants_lineage
                    )
                    if wants_metadata_cols:
                        view += "__meta"
                    if wants_lineage:
                        view += "__lin"
            if f"{ns}.{tbl}" in matview_defs:
                # materialized-view storage: the hidden maintenance
                # columns (row count, AVG components) are never
                # query-visible
                df = df.drop(*[c for c in df.columns if c.startswith("_lh_")])
            df.createOrReplaceTempView(view)
            return view

        out = pattern.sub(repl, s)
        out = re.sub(r"\x00L(\d+)\x00", lambda m: literals[int(m.group(1))], out)
        # COLUMNS(…) expands AFTER table-name rewriting: the FROM name is
        # now a registered temp view, so spark.table resolves its schema
        if _COLUMNS_RE.search(_same_len_mask(out)):
            out = expand_columns_sql(out, lambda n: self.spark.table(n).columns)
        return out

    # --------------------------------------------------------- DDL handlers
    def _show_catalogs(self, m: re.Match) -> DataFrame:
        return local_frame(self.spark, [Row(catalog=self.catalog)], "catalog string")

    def _show_namespaces(self, m: re.Match) -> DataFrame:
        if m.group(1) and m.group(1).lower() != self.catalog.lower():
            raise WarehouseError(f"unknown catalog {m.group(1)}")
        rows = [Row(namespace=ns) for ns in self.wh.list_namespaces()]
        return local_frame(self.spark, rows, "namespace string")

    def _show_tables(self, m: re.Match) -> DataFrame:
        ns = self._resolve_ns_name(m.group(1))
        names = set(self.wh.list_tables(ns))
        names.update(  # registered foreign tables list alongside natives
            k.split(".", 1)[1]
            for k in self.wh.foreign_tables()
            if k.split(".", 1)[0] == ns
        )
        rows = [Row(namespace=ns, tableName=t, isTemporary=False) for t in sorted(names)]
        schema = "namespace string, tableName string, isTemporary boolean"
        return local_frame(self.spark, rows, schema)

    def _create_namespace(self, m: re.Match) -> DataFrame:
        self.wh.create_namespace(self._resolve_ns_name(m.group(1)))
        return self._empty()

    def _drop_namespace(self, m: re.Match) -> DataFrame:
        if_exists, name, cascade = m.group(1), m.group(2), m.group(3)
        ns = self._resolve_ns_name(name)
        if ns not in self.wh.list_namespaces() and if_exists:
            return self._empty()
        self.wh.drop_namespace(ns, cascade=bool(cascade))
        return self._empty()

    def _create_table(self, m: re.Match) -> DataFrame:
        if_not_exists, rest = bool(m.group(1)), m.group(2)
        name_m = re.match(rf"\s*((?:{_IDENT}\.)*{_IDENT})\s*\(", rest)
        if not name_m:
            raise WarehouseError(f"cannot parse CREATE TABLE: {rest[:80]}")
        ns, t = self._resolve_table_name(name_m.group(1))
        cols_text, tail = _balanced_paren_group(rest)
        schema_ddl = ", ".join(_split_top_level(cols_text))

        partition_by, transform = None, "identity"
        props: dict[str, str] = {}
        tail = tail.strip()
        using_m = re.match(r"USING\s+(\w+)\s*", tail, re.IGNORECASE)
        if using_m:  # USING ICEBERG — the engine's native format IS the
            tail = tail[using_m.end() :].strip()  # snapshot/parquet format
        part_m = re.match(r"PARTITIONED\s+BY\s*\(", tail, re.IGNORECASE)
        if part_m:
            part_text, tail = _balanced_paren_group(tail)
            partition_by, transform = self._parse_partition_expr(part_text.strip())
            tail = tail.strip()
        props_m = re.match(r"TBLPROPERTIES\s*\(", tail, re.IGNORECASE)
        if props_m:
            props_text, tail = _balanced_paren_group(tail)
            for kv in _split_top_level(props_text):
                k, v = kv.split("=", 1)
                props[k.strip().strip("'\"")] = v.strip().strip("'\"")
        if tail.strip():
            raise WarehouseError(f"unparsed CREATE TABLE clause: {tail[:80]}")
        self.wh.create_table(
            ns,
            t,
            schema_ddl,
            partition_by=partition_by,
            transform=transform,
            properties=props or None,
            if_not_exists=if_not_exists,
        )
        return self._empty()

    @staticmethod
    def _parse_partition_expr(expr: str) -> tuple[str, str]:
        """The reference's partition transforms: a bare column (identity,
        iceberg_queries.ipynb:100), CAST(col AS DATE) — the day transform
        (warehouse_helpers.py:48) — and Iceberg's named transforms."""
        m = _fullmatch(rf"CAST\s*\(\s*({_IDENT})\s+AS\s+DATE\s*\)", expr)
        if m:
            return m.group(1), "day"
        m = _fullmatch(rf"(days?|months?|years?|hours?)\s*\(\s*({_IDENT})\s*\)", expr)
        if m:
            return m.group(2), m.group(1).lower().rstrip("s")
        m = _fullmatch(rf"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*({_IDENT})\s*\)", expr)
        if m:
            return m.group(3), f"{m.group(1).lower()}{int(m.group(2))}"
        m = _fullmatch(_IDENT, expr)
        if m:
            return expr, "identity"
        raise WarehouseError(f"unsupported partition transform: {expr}")

    def _drop_table(self, m: re.Match) -> DataFrame:
        ns, t = self._resolve_table_name(m.group(2))
        if f"{ns}.{t}" in self.wh.foreign_tables() and not self.wh.table(ns, t).exists():
            # dropping a foreign REGISTRATION detaches it from the
            # catalog; the foreign writer owns the files (never deleted)
            self.wh.unregister_foreign_table(ns, t)
            return self._empty()
        self.wh.drop_table(ns, t, if_exists=bool(m.group(1)))
        return self._empty()

    def _describe(self, m: re.Match) -> DataFrame:
        extended = bool(m.group(1)) and m.group(1).strip().upper() == "EXTENDED"
        ns, t = self._resolve_table_name(m.group(2))
        floc = self.wh.foreign_tables().get(f"{ns}.{t}")
        if floc is not None and not self.wh.table(ns, t).exists():
            # foreign registration: schema from the metadata DOCUMENT
            # alone (read_iceberg_schema) — building the reader's scan
            # plan would walk every manifest Avro just to print dtypes
            from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
                read_iceberg_schema,
            )

            rows = [
                Row(col_name=f.name, data_type=f.dataType.simpleString(), comment=None)
                for f in read_iceberg_schema(floc).fields
            ]
            if extended:
                rows += [
                    Row(col_name="", data_type="", comment=None),
                    Row(col_name="# Detailed Table Information", data_type="", comment=None),
                    Row(col_name="Name", data_type=f"{self.catalog}.{ns}.{t}", comment=None),
                    Row(col_name="Location", data_type=floc, comment=None),
                    Row(col_name="Provider", data_type="iceberg", comment=None),
                    Row(col_name="Registration", data_type="foreign (read-only)", comment=None),
                ]
            return local_frame(
                self.spark, rows, "col_name string, data_type string, comment string"
            )
        tab = self._existing_table(m.group(2))
        is_matview = f"{ns}.{t}" in self.wh.matviews()
        rows = [
            Row(col_name=c, data_type=d, comment=None)
            for c, d in tab.describe()
            # a materialized view's hidden maintenance columns stay hidden
            if not (is_matview and c.startswith("_lh_"))
        ]
        spec = tab.partition_spec()
        if spec.source is not None:
            rows += [
                Row(col_name="", data_type="", comment=None),
                Row(col_name="# Partitioning", data_type="", comment=None),
                Row(
                    col_name="Part 0",
                    data_type=(
                        spec.source
                        if spec.transform == "identity"
                        else f"{spec.transform}({spec.source})"
                    ),
                    comment=None,
                ),
            ]
        if extended:
            rows += [
                Row(col_name="", data_type="", comment=None),
                Row(col_name="# Metadata Columns", data_type="", comment=None),
                Row(col_name="_spec_id", data_type="int", comment=None),
                Row(col_name="_partition", data_type="struct<>", comment=None),
                Row(col_name="_file", data_type="string", comment=None),
                Row(col_name="_pos", data_type="bigint", comment=None),
                Row(col_name="_deleted", data_type="boolean", comment=None),
                Row(col_name="", data_type="", comment=None),
                Row(col_name="# Detailed Table Information", data_type="", comment=None),
                Row(col_name="Name", data_type=f"{self.catalog}.{tab.ns}.{tab.name}", comment=None),
                Row(col_name="Location", data_type=tab.path, comment=None),
                Row(col_name="Provider", data_type="iceberg", comment=None),
                Row(
                    col_name="Table Properties",
                    data_type="["
                    + ",".join(f"{k}={v}" for k, v in sorted(tab.properties().items()))
                    + "]",
                    comment=None,
                ),
            ]
            stats = tab.statistics()
            if stats is not None:
                rows.append(
                    Row(
                        col_name="Statistics",
                        data_type=(
                            f"{stats['size_in_bytes']} bytes, "
                            f"{stats['row_count']} rows"
                            + (" (stale)" if stats["stale"] else "")
                        ),
                        comment=None,
                    )
                )
        return local_frame(
            self.spark, rows, "col_name string, data_type string, comment string"
        )

    # --------------------------------------------------------- DML handlers
    def _foreign_for_write(self, name: str) -> tuple[str, str] | None:
        """(ns, table) when ``name`` is a registered foreign table (and
        no native table shadows it) — INSERT INTO then appends through
        the open metadata (sources/iceberg_writer.py) instead of the
        engine's private log."""
        ns, t = self._resolve_table_name(name)
        if f"{ns}.{t}" in self.wh.foreign_tables() and not self.wh.table(ns, t).exists():
            return ns, t
        return None

    def _append_foreign_positional(self, ns: str, t: str, src: DataFrame) -> None:
        names = self.wh.read_foreign_table(ns, t).columns
        if len(src.columns) != len(names):
            raise WarehouseError(
                f"INSERT column count {len(src.columns)} != table arity {len(names)}"
            )
        if self._wap_branch:
            raise WarehouseError(
                "WAP branches are engine-log concepts; foreign table "
                f"{ns}.{t} cannot stage branch writes"
            )
        self.wh.append_foreign_table(
            ns, t, src.toDF(*names)  # positional INSERT semantics
        )

    def _insert_named(self, m: re.Match) -> DataFrame:
        """INSERT INTO t (a, b) VALUES … | SELECT … — column-list INSERT:
        listed columns bind by name, omitted columns fill with their
        declared DEFAULT (Iceberg v3 write-defaults) or NULL."""
        cols = [c.strip() for c in m.group(2).split(",") if c.strip()]
        body = m.group(3).strip()
        vm = re.match(r"(?is)^VALUES\s+(.*)$", body)
        if vm:
            src = self.spark.sql(f"SELECT * FROM (VALUES {vm.group(1)})")
        elif re.match(r"(?is)^(SELECT|WITH|FROM)\b", body):
            src = self.spark.sql(self._rewrite_query(body))
        else:
            raise WarehouseError(
                f"column-list INSERT expects VALUES or SELECT, got: {body[:40]!r}"
            )
        tab = self._dml_table(m.group(1))
        schema = tab.schema()
        unknown = [c for c in cols if c not in schema.fieldNames()]
        if unknown:
            raise WarehouseError(f"INSERT column list names unknown columns: {unknown}")
        if len(set(cols)) != len(cols):
            raise WarehouseError("INSERT column list repeats a column")
        if len(src.columns) != len(cols):
            raise WarehouseError(
                f"INSERT column count {len(src.columns)} != column list arity {len(cols)}"
            )
        from pyspark.sql import functions as F

        named = src.toDF(*cols).select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in cols]
        )
        tab.append(named, branch=self._stage_branch(tab))
        return self._empty()

    def _insert_by_name(self, m: re.Match) -> DataFrame:
        """INSERT INTO t BY NAME <query> — the dialect's name-aligned
        insert: the source query's OWN output names pick the target
        columns (any order, any subset); omitted columns fill with their
        declared DEFAULT (Iceberg v3 write-defaults) or NULL. Sugar over
        column-list INSERT with the list read from the source schema."""
        body = m.group(2).strip()
        # the dialect's documented form parenthesizes the query:
        # INSERT INTO t BY NAME (SELECT …)
        while body.startswith("("):
            inside, rest = _balanced_paren_group(body)
            if rest.strip():
                break
            body = inside.strip()
        if not re.match(r"(?is)^(SELECT|WITH|FROM)\b", body):
            raise WarehouseError(
                f"INSERT BY NAME expects a query body, got: {body[:40]!r}"
            )
        src = self.spark.sql(self._rewrite_query(body))
        tab = self._dml_table(m.group(1))
        schema = tab.schema()
        unknown = [c for c in src.columns if c not in schema.fieldNames()]
        if unknown:
            raise WarehouseError(
                f"INSERT BY NAME source names unknown columns: {unknown}"
            )
        if len(set(src.columns)) != len(src.columns):
            raise WarehouseError("INSERT BY NAME source repeats a column")
        from pyspark.sql import functions as F

        named = src.select(
            *[F.col(c).cast(schema[c].dataType).alias(c) for c in src.columns]
        )
        tab.append(named, branch=self._stage_branch(tab))
        return self._empty()

    def _insert_values(self, m: re.Match) -> DataFrame:
        values_sql = m.group(2)
        # Spark's own parser handles the literal rows (CAST literals,
        # string→DATE coercion, decimals) — we never tokenize values.
        src = self.spark.sql(f"SELECT * FROM (VALUES {values_sql})")
        foreign = self._foreign_for_write(m.group(1))
        if foreign:
            self._append_foreign_positional(*foreign, src)
            return self._empty()
        self._append_positional(self._dml_table(m.group(1)), src)
        return self._empty()

    def _insert_select(self, m: re.Match) -> DataFrame:
        src = self.spark.sql(self._rewrite_query(m.group(2)))
        foreign = self._foreign_for_write(m.group(1))
        if foreign:
            self._append_foreign_positional(*foreign, src)
            return self._empty()
        self._append_positional(self._dml_table(m.group(1)), src)
        return self._empty()

    @staticmethod
    def _align_positional(tab: Table, src: DataFrame) -> DataFrame:
        schema = tab.schema()
        if len(src.columns) != len(schema.fields):
            raise WarehouseError(
                f"INSERT column count {len(src.columns)} != table arity {len(schema.fields)}"
            )
        from pyspark.sql import functions as F

        return src.select(
            *[
                F.col(c).cast(f.dataType).alias(f.name)
                for c, f in zip(src.columns, schema.fields)
            ]
        )

    def _stage_branch(self, tab: Table) -> str | None:
        """Effective staging target for an INSERT: `spark.wap.branch` if
        set, else — under `spark.wap.id` — a hidden per-id branch
        (auto-created at the table's current head) that
        CALL system.publish_changes(wap_id => ...) later cherry-picks to
        main and drops. Both set at once is ambiguous, as in Iceberg."""
        if self._wap_branch and self._wap_id:
            raise WarehouseError(
                "spark.wap.branch and spark.wap.id are both set — "
                "RESET one (ambiguous WAP staging target)"
            )
        if self._wap_branch:
            return self._wap_branch
        if self._wap_id:
            b = f"__wap_{self._wap_id}"
            if b not in tab._meta().get("refs", {}):
                tab.create_ref(b, "branch")
            return b
        return None

    def _append_positional(self, tab: Table, src: DataFrame) -> None:
        # an active `SET spark.wap.branch = '...'` routes INSERTs to that
        # branch (Iceberg's write-audit-publish session knob): staged,
        # auditable via VERSION AS OF 'branch', invisible to main until
        # CALL system.fast_forward publishes; `SET spark.wap.id` stages
        # on a hidden per-id branch for CALL system.publish_changes
        tab.append(self._align_positional(tab, src), branch=self._stage_branch(tab))

    def _insert_overwrite_values(self, m: re.Match) -> DataFrame:
        """INSERT OVERWRITE TABLE t VALUES ... — replace-the-table
        semantics under one snapshot (Spark's INSERT OVERWRITE on an
        unpartitioned-spec write: full overwrite). Like every write
        statement, an active `SET spark.wap.branch` routes it to the
        branch (Iceberg's session-wide WAP write routing)."""
        tab = self._dml_table(m.group(1))
        src = self.spark.sql(f"SELECT * FROM (VALUES {m.group(2)})")
        tab.overwrite(self._align_positional(tab, src), branch=self._wap_branch)
        return self._empty()

    def _insert_overwrite_select(self, m: re.Match) -> DataFrame:
        tab = self._dml_table(m.group(1))
        src = self.spark.sql(self._rewrite_query(m.group(2)))
        tab.overwrite(self._align_positional(tab, src), branch=self._wap_branch)
        return self._empty()

    def _delete_from(self, m: re.Match) -> DataFrame:
        foreign = self._foreign_for_write(m.group(1))
        if foreign:
            if self._wap_branch:
                raise WarehouseError(
                    "WAP branches are engine-log concepts; foreign table "
                    f"{foreign[0]}.{foreign[1]} cannot stage branch writes"
                )
            self.wh.delete_foreign_table_where(*foreign, m.group(2))
            return self._empty()
        tab = self._dml_table(m.group(1))
        tab.delete_where(m.group(2), branch=self._wap_branch)
        return self._empty()

    def _update(self, m: re.Match) -> DataFrame:
        """UPDATE t SET col = expr [, ...] WHERE cond — copy-on-write
        rewrite of matching rows (Iceberg row-level UPDATE semantics).
        An active `SET spark.wap.branch` stages it on the branch."""
        split = _split_at_top_level_where(m.group(2))
        if split is None:
            raise WarehouseError("UPDATE requires a WHERE clause")
        set_list, cond = split
        assignments: dict[str, str] = {}
        for part in _split_top_level(set_list):
            if "=" not in part:
                raise WarehouseError(f"malformed SET assignment: {part!r}")
            col, expr = part.split("=", 1)
            assignments[col.strip()] = expr.strip()
        foreign = self._foreign_for_write(m.group(1))
        if foreign:
            if self._wap_branch:
                raise WarehouseError(
                    "WAP branches are engine-log concepts; foreign table "
                    f"{foreign[0]}.{foreign[1]} cannot stage branch writes"
                )
            self.wh.update_foreign_table_where(*foreign, assignments, cond)
            return self._empty()
        tab = self._dml_table(m.group(1))
        tab.update_where(assignments, cond, branch=self._wap_branch)
        return self._empty()

    def _create_view(self, m: re.Match) -> DataFrame:
        """CREATE [OR REPLACE] VIEW [IF NOT EXISTS] ns.v AS <query> —
        catalog views (the Iceberg/Polaris view concept): the SQL text is
        stored and re-resolved against current table state on every
        query, so a view over a table sees later INSERTs."""
        replace, ine = bool(m.group(1)), bool(m.group(2))
        ns, v = self._resolve_table_name(m.group(3))
        query = canonical_query(m.group(4))
        # validate now: the body must analyze against current tables
        self.spark.sql(self._rewrite_query(query)).schema  # noqa: B018
        self.wh.create_view(ns, v, query, replace=replace, if_not_exists=ine)
        return self._empty()

    def _drop_view(self, m: re.Match) -> DataFrame:
        ns, v = self._resolve_table_name(m.group(2))
        self.wh.drop_view(ns, v, if_exists=bool(m.group(1)))
        return self._empty()

    def _alter_view_as(self, m: re.Match) -> DataFrame:
        """ALTER VIEW ns.v AS <query> — redefine an existing view's body
        (validated against current tables now, like CREATE VIEW)."""
        ns, v = self._resolve_table_name(m.group(1))
        query = canonical_query(m.group(2))
        self.spark.sql(self._rewrite_query(query)).schema  # noqa: B018
        self.wh.alter_view(ns, v, query)
        return self._empty()

    def _alter_view_rename(self, m: re.Match) -> DataFrame:
        ns, v = self._resolve_table_name(m.group(1))
        new = m.group(2).strip()
        if "." in new:
            new_ns, new_v = self._resolve_table_name(new)
            # Iceberg/Spark reject cross-namespace view renames; silently
            # dropping the qualifier would rename a.v to a.w when the
            # user asked for b.w
            if new_ns != ns:
                raise WarehouseError(
                    f"cannot rename view across namespaces: {ns}.{v} -> {new_ns}.{new_v}"
                )
        else:
            new_v = new  # bare name: stays in the source namespace
        self.wh.rename_view(ns, v, new_v)
        return self._empty()

    def _show_views(self, m: re.Match) -> DataFrame:
        ns = self._resolve_ns_name(m.group(1)) if m.group(1) else None
        rows = [
            Row(namespace=k.split(".", 1)[0], viewName=k.split(".", 1)[1])
            for k in sorted(self.wh.views())
            if ns is None or k.split(".", 1)[0] == ns
        ]
        schema = "namespace string, viewName string"
        return local_frame(self.spark, rows, schema)

    def _show_tblproperties(self, m: re.Match) -> DataFrame:
        """SHOW TBLPROPERTIES t [('key')] — all properties, or one key's
        value (Spark's single-key form returns just the value column)."""
        tab = self._existing_table(m.group(1))
        props = tab.properties()
        key = m.group(2)
        if key is not None:
            key = key.strip("'\"")
            val = props.get(key)
            if val is None:
                raise WarehouseError(f"property {key!r} not set on {m.group(1)}")
            return local_frame(self.spark, [Row(value=str(val))], "value string")
        rows = [Row(key=k, value=str(v)) for k, v in sorted(props.items())]
        schema = "key string, value string"
        return local_frame(self.spark, rows, schema)

    def _create_table_like(self, m: re.Match) -> DataFrame:
        """CREATE TABLE [IF NOT EXISTS] t2 LIKE t1 — schema, partition
        spec (source + transform), table properties, identifier fields,
        and write order copy (everything declarative about the template,
        Iceberg's LIKE contract); no data."""
        src = self._existing_table(m.group(3))
        ns, name = self._resolve_table_name(m.group(2))
        meta = src._meta()
        part = meta.get("partition", {})
        existed = Table(self.wh, ns, name).exists()
        new = self.wh.create_table(
            ns,
            name,
            src.schema(),
            partition_by=part.get("source"),
            transform=part.get("transform", "identity"),
            properties=dict(meta.get("properties", {})),
            if_not_exists=bool(m.group(1)),
        )
        if not existed:
            ident = meta.get("identifier_fields") or []
            if ident:
                new.set_identifier_fields(*ident)
            order = meta.get("sort_order") or []
            if order:
                new.set_write_order(*order)
        return self._empty()

    # ------------------------------------------------ materialized views
    def _dml_table(self, name: str) -> Table:
        """DML target resolution: refuses materialized-view storage
        (system-maintained — direct writes would silently desync it from
        its definition) and otherwise behaves as _existing_table."""
        ns, t = self._resolve_table_name(name)
        if f"{ns}.{t}" in self.wh.matviews():
            raise WarehouseError(
                f"{ns}.{t} is a materialized view and cannot be written "
                "directly (use REFRESH MATERIALIZED VIEW)"
            )
        return self._existing_table(name)

    def _create_matview(self, m: re.Match) -> DataFrame:
        """CREATE MATERIALIZED VIEW [IF NOT EXISTS] ns.mv AS <query> —
        materializes the query into a real warehouse table and records
        the definition. A single-table SUM/COUNT grouped aggregate is
        registered incrementally-maintainable: its materialization is
        pinned to the base snapshot read, so REFRESH can later apply the
        changelog from exactly that point (no gap, no double count)."""
        from minio_iceberg_polaris_lakehouse_spark import matview as MV

        ine, name, query = (
            bool(m.group(1)),
            m.group(2),
            canonical_query(m.group(3).strip()),
        )
        ns, v = self._resolve_table_name(name)
        key = f"{ns}.{v}"
        if key in self.wh.matviews():
            if ine:
                return self._empty()
            raise WarehouseError(f"materialized view {key} exists")
        rec = {"sql": query, "incremental": False, "base": None, "synced": None}
        df = None
        jspec = MV.parse_incremental_join(query)
        if jspec is not None:
            try:
                lns, lt = self._resolve_table_name(jspec.left_text)
                rns, rt = self._resolve_table_name(jspec.right_text)
            except WarehouseError:
                jspec = None
            else:
                lbase, rbase = self.wh.table(lns, lt), self.wh.table(rns, rt)
                if lbase.exists() and rbase.exists():
                    # pin BOTH base snapshots so refresh's delta-join
                    # window starts exactly where materialization read
                    lsid, rsid = lbase.current_snapshot_id(), rbase.current_snapshot_id()
                    from pyspark.errors import AnalysisException

                    try:
                        df = MV.materialize_join(
                            lbase.read(version=lsid) if lsid else lbase.read(),
                            rbase.read(version=rsid) if rsid else rbase.read(),
                            jspec,
                        )
                    except AnalysisException:
                        # an unqualified column the rewrite can't bind —
                        # the generic full-recompute path below still
                        # materializes the query correctly; any other
                        # failure is a real bug and propagates
                        df, jspec = None, None
                    else:
                        rec.update(
                            incremental=True,
                            join=True,
                            base=f"{lns}.{lt},{rns}.{rt}",
                            bases=[f"{lns}.{lt}", f"{rns}.{rt}"],
                            synced_join=[lsid, rsid],
                        )
                else:
                    jspec = None
        spec = None if df is not None else MV.parse_incremental(query)
        if spec is not None:
            try:
                bns, bt = self._resolve_table_name(spec.table_text)
            except WarehouseError:
                spec = None
            else:
                base = self.wh.table(bns, bt)
                floc = self.wh.foreign_tables().get(f"{bns}.{bt}")
                if base.exists():
                    sid = base.current_snapshot_id()
                    df = MV.materialize(
                        base.read(version=sid) if sid else base.read(), spec
                    )
                    rec.update(incremental=True, base=f"{bns}.{bt}", synced=sid)
                elif floc and not floc.endswith(".metadata.json"):
                    # FOREIGN base (registered Iceberg table): pin the
                    # materialization to its current snapshot; refresh
                    # later reads only the incremental manifest diff
                    from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
                        read_iceberg_table,
                        resolve_metadata_path,
                    )

                    import json as _json

                    from minio_iceberg_polaris_lakehouse_spark import fsio

                    fmd = _json.loads(fsio.read_text(resolve_metadata_path(floc)))
                    sid = fmd.get("current-snapshot-id")
                    base_df = read_iceberg_table(
                        self.spark, floc, snapshot_id=sid if sid else None
                    )
                    df = MV.materialize(base_df, spec)
                    rec.update(
                        incremental=True, base=f"{bns}.{bt}", synced=sid, foreign=True
                    )
                else:
                    spec = None  # base is a view / pinned name: full mode
        if spec is None and df is None:
            df = self.spark.sql(self._rewrite_query(query))
            bad = [c for c in df.columns if c.startswith("_lh_")]
            if bad:
                raise WarehouseError(
                    f"materialized view query must not produce reserved _lh_ columns: {bad}"
                )
        # storage first, record second: a crash in between leaves an
        # ordinary droppable table, never a record pointing at nothing
        tab = self.wh.create_table(ns, v, df.schema)
        tab.append(df)
        self.wh.put_matview(ns, v, rec)
        return self._empty()

    def _drop_matview(self, m: re.Match) -> DataFrame:
        ns, v = self._resolve_table_name(m.group(2))
        self.wh.drop_matview(ns, v, if_exists=bool(m.group(1)))
        return self._empty()

    def _refresh_matview(self, m: re.Match) -> DataFrame:
        """REFRESH MATERIALIZED VIEW ns.mv — incremental when the
        definition qualifies and the synced base snapshot is still
        reachable (reads ONLY base.changes(synced→current), folds signed
        deltas into the stored groups); otherwise a full recompute,
        pinned to the base snapshot it records. Returns one row
        (view, mode, synced_snapshot, downgrade_reason, synced_bases);
        mode ∈ noop|incremental|full."""
        from minio_iceberg_polaris_lakehouse_spark import matview as MV

        ns, v = self._resolve_table_name(m.group(1))
        key = f"{ns}.{v}"
        rec = self.wh.matviews().get(key)
        if rec is None:
            raise WarehouseError(f"materialized view {key} does not exist")
        storage = self.wh.table(ns, v)

        def result(
            mode: str, synced, reason: str | None = None, bases: str | None = None
        ) -> DataFrame:
            # synced_bases: per-base 'name=snapshot' pairs for MULTI-base
            # (join) views, whose single synced_snapshot is necessarily
            # NULL — without it the refresh telemetry cannot prove which
            # changelog windows were folded (r9 driver-diagnosis gap)
            return local_frame(
                self.spark,
                [
                    Row(
                        view=key,
                        mode=mode,
                        synced_snapshot=synced,
                        downgrade_reason=reason,
                        synced_bases=bases,
                    )
                ],
                "view string, mode string, synced_snapshot bigint, "
                "downgrade_reason string, synced_bases string",
            )

        if rec["incremental"] and rec.get("foreign"):
            return self._refresh_matview_foreign(key, rec, storage, result)
        if rec["incremental"] and rec.get("join"):
            return self._refresh_matview_join(key, rec, storage, result)
        if rec["incremental"]:
            bns, bt = rec["base"].split(".", 1)
            base = self.wh.table(bns, bt)
            if not base.exists():
                raise WarehouseError(
                    f"base table {rec['base']} of materialized view {key} no longer exists"
                )
            spec = MV.parse_incremental(rec["sql"])
            cur = base.current_snapshot_id()
            if cur == rec["synced"]:
                return result("noop", cur)
            downgrade: str | None = None
            if rec["synced"] is not None and spec is not None:
                from pyspark.sql import functions as F

                try:
                    # schema-drift is the one analysis failure that may
                    # downgrade; probe it explicitly so any OTHER
                    # AnalysisException in the delta path propagates
                    MV.probe_binds(base.read(), spec)
                    chg = base.changes(from_version=rec["synced"], to_version=cur)
                    if any(k in ("min", "max") for k, *_r in spec.aggs) and (
                        chg.filter(F.col("_change_type") == "delete").limit(1).count()
                    ):
                        # MIN/MAX are not invertible under deletes: a
                        # deleted extremum forces a rescan. Insert-only
                        # windows (the common append-only case) still
                        # maintain incrementally.
                        raise MV.NotIncrementallyMaintainable(
                            "delete in window of a MIN/MAX view"
                        )
                    new = MV.apply_delta(storage.read(), MV.delta(chg, spec), spec)
                    storage.overwrite(new)
                    rec["synced"] = cur
                    self.wh.put_matview(ns, v, rec)
                    return result("incremental", cur)
                except _MV_DOWNGRADE as e:
                    # ONLY the expected recoverable causes (synced
                    # snapshot expired; MIN/MAX window with a delete;
                    # base schema drift) downgrade to the full
                    # recompute — anything else raises so a genuine
                    # bug in the delta path cannot hide behind the
                    # always-correct fallback.
                    downgrade = f"{type(e).__name__}: {e}"
            cur = base.current_snapshot_id()
            df = MV.materialize(base.read(version=cur) if cur else base.read(), spec)
            storage.overwrite(self._cast_to(storage, df))
            rec["synced"] = cur
            self.wh.put_matview(ns, v, rec)
            return result("full", cur, downgrade)
        df = self.spark.sql(self._rewrite_query(rec["sql"]))
        storage.overwrite(self._cast_to(storage, df))
        return result("full", None)

    def _refresh_matview_join(self, key: str, rec: dict, storage: Table, result):
        """Refresh a TWO-TABLE JOIN MV by the delta-join rule:
        ``Δ(A⋈B) = ΔA⋈B_new ∪ A_old⋈ΔB`` with each delta row carrying
        its changelog sign — exact for SUM/COUNT under arbitrary churn
        (inserts AND deletes on either base); MIN/MAX additionally
        require both windows insert-only (a deleted extremum forces the
        full recompute).  Reads: the two changelog windows (churned dirs
        only), ONE pinned read of each base, and the MV itself — never a
        joint rescan of both bases.  The result row's synced_snapshot is
        NULL for join views (two bases, two snapshots); the per-base
        pair is surfaced in synced_bases as 'lbase=snap,rbase=snap' so
        telemetry can prove which changelog windows were folded."""
        from pyspark.sql import functions as F

        from minio_iceberg_polaris_lakehouse_spark import matview as MV

        ns, v = key.split(".", 1)
        lkey, rkey = rec["bases"]
        lns, lt = lkey.split(".", 1)
        rns, rt = rkey.split(".", 1)
        lbase, rbase = self.wh.table(lns, lt), self.wh.table(rns, rt)
        for bkey, b in ((lkey, lbase), (rkey, rbase)):
            if not b.exists():
                raise WarehouseError(
                    f"base table {bkey} of materialized view {key} no longer exists"
                )
        jspec = MV.parse_incremental_join(rec["sql"])
        lcur, rcur = lbase.current_snapshot_id(), rbase.current_snapshot_id()

        def bases_str(lsnap, rsnap) -> str:
            return f"{lkey}={lsnap},{rkey}={rsnap}"

        ls, rs = rec["synced_join"]
        if (lcur, rcur) == tuple(rec["synced_join"]):
            return result("noop", None, bases=bases_str(lcur, rcur))
        downgrade: str | None = None
        if ls is not None and rs is not None and jspec is not None:
            try:
                # explicit drift probe (see _mv_downgrade_types)
                MV.probe_binds_join(lbase.read(), rbase.read(), jspec)
                lchg = lbase.changes(from_version=ls, to_version=lcur)
                rchg = rbase.changes(from_version=rs, to_version=rcur)
                if any(k in ("min", "max") for k, *_r in jspec.aggs):
                    deletes = lchg.filter(
                        F.col("_change_type") == "delete"
                    ).limit(1).count() or rchg.filter(
                        F.col("_change_type") == "delete"
                    ).limit(1).count()
                    if deletes:
                        raise MV.NotIncrementallyMaintainable(
                            "delete in window of a MIN/MAX join view"
                        )
                d = MV.delta_join(
                    lchg,
                    rbase.read(version=rcur) if rcur else rbase.read(),
                    lbase.read(version=ls) if ls else lbase.read(),
                    rchg,
                    jspec,
                )
                new = MV.apply_delta(storage.read(), d, jspec)
                storage.overwrite(new)
                rec["synced_join"] = [lcur, rcur]
                self.wh.put_matview(ns, v, rec)
                return result("incremental", None, bases=bases_str(lcur, rcur))
            except _MV_DOWNGRADE as e:
                # typed downgrade only (expired snapshot / MIN-MAX
                # delete window / schema drift) — see _MV_DOWNGRADE
                downgrade = f"{type(e).__name__}: {e}"
        lcur, rcur = lbase.current_snapshot_id(), rbase.current_snapshot_id()
        if jspec is not None:
            df = MV.materialize_join(
                lbase.read(version=lcur) if lcur else lbase.read(),
                rbase.read(version=rcur) if rcur else rbase.read(),
                jspec,
            )
        else:  # record says join but the stored SQL no longer parses
            df = self.spark.sql(self._rewrite_query(rec["sql"]))
        storage.overwrite(self._cast_to(storage, df))
        rec["synced_join"] = [lcur, rcur]
        self.wh.put_matview(ns, v, rec)
        return result("full", None, downgrade, bases=bases_str(lcur, rcur))

    def _refresh_matview_foreign(self, key: str, rec: dict, storage: Table, result):
        """Refresh an MV whose base is a REGISTERED FOREIGN table: the
        incremental path reads only the changelog of snapshots synced →
        current through the open metadata (changes_iceberg_table) and
        folds SIGNED deltas exactly like the native path — so windows
        carrying positional deletes or Flink-style upsert commits
        (equality delete + data in one snapshot) still maintain
        incrementally. MIN/MAX gate to full recompute when the window
        has deletes (not invertible); a copy-on-write rewrite reads as
        delete + insert of the rows it carries over and compaction emits
        nothing, so both fold incrementally too."""
        import json as _json

        from pyspark.sql import functions as F

        from minio_iceberg_polaris_lakehouse_spark import fsio, matview as MV
        from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
            changes_iceberg_table,
            read_iceberg_table,
            resolve_metadata_path,
        )

        ns, v = key.split(".", 1)
        floc = self.wh.foreign_tables().get(rec["base"])
        if floc is None:
            raise WarehouseError(
                f"base table {rec['base']} of materialized view {key} is no "
                "longer registered"
            )
        fmd = _json.loads(fsio.read_text(resolve_metadata_path(floc)))
        cur = fmd.get("current-snapshot-id")
        spec = MV.parse_incremental(rec["sql"])
        if cur == rec["synced"]:
            return result("noop", cur)
        downgrade: str | None = None
        if rec["synced"] is not None and spec is not None:
            try:
                # explicit drift probe against the foreign schema
                # DOCUMENT (see _mv_downgrade_types) — a zero-row frame
                # from read_iceberg_schema, not a full scan plan, so the
                # probe costs no second metadata walk
                from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_reader import (
                    read_iceberg_schema,
                )

                MV.probe_binds(
                    local_frame(self.spark, [], read_iceberg_schema(floc)),
                    spec,
                )
                chg = changes_iceberg_table(self.spark, floc, rec["synced"], cur)
                if any(k in ("min", "max") for k, *_r in spec.aggs):
                    # the gate + fold would otherwise evaluate the (possibly
                    # expensive: eq-delete commits re-read parent state)
                    # changelog plan twice — materialize the window once
                    chg = chg.localCheckpoint()
                    if chg.filter(F.col("_change_type") == "delete").limit(1).count():
                        raise MV.NotIncrementallyMaintainable(
                            "delete in window of a MIN/MAX view"
                        )
                new = MV.apply_delta(storage.read(), MV.delta(chg, spec), spec)
                storage.overwrite(new)
                rec["synced"] = cur
                self.wh.put_matview(ns, v, rec)
                return result("incremental", cur)
            except (*_MV_DOWNGRADE, ValueError) as e:
                # changes_iceberg_table raises ValueError for exactly
                # the foreign recoverable causes: the synced snapshot
                # expired out of the metadata or lineage diverged —
                # plus the shared typed causes in _MV_DOWNGRADE.
                # Anything else propagates.
                downgrade = f"{type(e).__name__}: {e}"
        base_df = read_iceberg_table(self.spark, floc, snapshot_id=cur if cur else None)
        df = MV.materialize(base_df, spec)
        storage.overwrite(self._cast_to(storage, df))
        rec["synced"] = cur
        self.wh.put_matview(ns, v, rec)
        return result("full", cur, downgrade)

    @staticmethod
    def _cast_to(storage: Table, df: DataFrame) -> DataFrame:
        """Align a recompute to the storage schema (repeated refreshes
        must not widen SUM types); unknown/missing columns fail loudly."""
        from pyspark.sql import functions as F

        return df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in storage.schema().fields
            ]
        )

    def _show_matviews(self, m: re.Match) -> DataFrame:
        ns = self._resolve_ns_name(m.group(1)) if m.group(1) else None
        mvs = self.wh.matviews()
        rows = [
            Row(
                namespace=k.split(".", 1)[0],
                viewName=k.split(".", 1)[1],
                incremental=bool(r["incremental"]),
                base=r["base"],
                synced_snapshot=r["synced"],
            )
            for k, r in sorted(mvs.items())
            if ns is None or k.split(".", 1)[0] == ns
        ]
        schema = (
            "namespace string, viewName string, incremental boolean, "
            "base string, synced_snapshot bigint"
        )
        return local_frame(self.spark, rows, schema)

    def _create_table_as_select(self, m: re.Match) -> DataFrame:
        """CREATE TABLE t AS SELECT ... (CTAS): schema inferred from the
        query result, data landed as the first snapshot. CTAS IF NOT
        EXISTS on an EXISTING table is a no-op (Spark/Iceberg semantics) —
        appending the query result on re-run would duplicate rows."""
        if_not_exists, name, query = bool(m.group(1)), m.group(2), m.group(3)
        ns, t = self._resolve_table_name(name)
        if if_not_exists and self.wh.table(ns, t).exists():
            return self._empty()
        src = self.spark.sql(self._rewrite_query(query))
        tab = self.wh.create_table(ns, t, src.schema, if_not_exists=if_not_exists)
        tab.append(src)
        return self._empty()

    def _create_or_replace_table_as_select(self, m: re.Match) -> DataFrame:
        """CREATE OR REPLACE TABLE t AS <query> (RTAS). When the target
        exists with the SAME schema (names + types), this is a single
        atomic overwrite commit — table identity and history survive,
        like Iceberg's REPLACE TABLE. On a schema CHANGE the result is
        staged to a scratch parquet dir before the drop+create swap, so
        a self-referencing replace (`… AS SELECT … FROM t`) never reads
        files the drop just deleted."""
        import shutil
        import tempfile

        if self._wap_branch:
            raise WarehouseError(
                "CREATE OR REPLACE TABLE cannot stage on a WAP branch"
            )
        name, query = m.group(1), m.group(2)
        ns, t = self._resolve_table_name(name)
        src = self.spark.sql(self._rewrite_query(query))
        tab = self.wh.table(ns, t)
        if tab.exists():
            existing = [(f.name, f.dataType) for f in tab.schema().fields]
            new = [(f.name, f.dataType) for f in src.schema.fields]
            if existing == new:
                tab.overwrite(src)
                return self._empty()
            stage = tempfile.mkdtemp(prefix="lh_rtas_")
            try:
                src.write.mode("overwrite").parquet(stage)
                staged = self.spark.read.schema(src.schema).parquet(stage)
                self.wh.drop_table(ns, t)
                tab = self.wh.create_table(ns, t, src.schema)
                tab.append(staged)
            finally:
                shutil.rmtree(stage, ignore_errors=True)
            return self._empty()
        tab = self.wh.create_table(ns, t, src.schema)
        tab.append(src)
        return self._empty()

    def _create_or_replace_table(self, m: re.Match) -> DataFrame:
        """CREATE OR REPLACE TABLE t (cols …) — drop any existing table,
        then the plain CREATE path (schema, PARTITIONED BY,
        TBLPROPERTIES all as in CREATE TABLE)."""
        rest = m.group(1)
        name_m = re.match(rf"\s*((?:{_IDENT}\.)*{_IDENT})\s*\(", rest)
        if not name_m:
            raise WarehouseError(f"cannot parse CREATE OR REPLACE TABLE: {rest[:80]}")
        ns, t = self._resolve_table_name(name_m.group(1))
        if self.wh.table(ns, t).exists():
            self.wh.drop_table(ns, t)
        fake = re.match(r"(?s)()(.*)", rest)
        return self._create_table(fake)

    def _merge_into(self, m: re.Match) -> DataFrame:
        """MERGE INTO t [t_alias] USING src [s_alias] ON a.k = b.k
        WHEN MATCHED [AND <cond>] THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        [WHEN NOT MATCHED BY SOURCE THEN DELETE] —
        the upsert form the reference points at for dedup remediation
        (SETUP_GUIDE_WIN.md:368 'Use MERGE or DELETE + INSERT'). ``src``
        is a warehouse table name or a parenthesized SELECT; execution is
        the warehouse's copy-on-write merge (one full outer join). The
        conditional arm references the two sides by the statement's own
        aliases (defaulting to t/s when none are written); matched rows
        failing it carry over unchanged. It requires the engine merge
        path — a FOREIGN target refuses rather than silently updating
        every match."""
        cond = m.group(7).strip() if m.group(7) else None
        foreign = self._merge_foreign_target(m)
        if foreign:
            if cond:
                raise WarehouseError(
                    "WHEN MATCHED AND <cond> is not supported on a foreign "
                    "MERGE target (key-only matching) — apply it via the "
                    "engine table path"
                )
            src, key = self._merge_src_key(m)
            self.wh.merge_foreign_table(
                *foreign,
                src,
                key,
                when_matched="update",
                insert_not_matched=True,
                not_matched_by_source_delete=bool(m.group(8)),
            )
            return self._empty()
        tab, src, key = self._merge_parts(m)
        tab.merge_into(
            src,
            on=key,
            not_matched_by_source_action="delete" if m.group(8) else None,
            branch=self._wap_branch,
            matched_condition=cond,
            target_alias=m.group(2) or "t",
            source_alias=m.group(4) or "s",
        )
        return self._empty()

    def _merge_general(self, m: re.Match) -> DataFrame:
        """The full MERGE matrix (Spark 3.5 / Iceberg): any number of
        ordered `WHEN MATCHED [AND c] THEN UPDATE SET (*|a=expr,…)|DELETE`
        arms (first matching arm fires per row), a conditional
        `WHEN NOT MATCHED [BY TARGET] [AND c] THEN INSERT *`, and
        `WHEN NOT MATCHED BY SOURCE [AND c] THEN DELETE|UPDATE SET …`.
        Statements the two simpler patterns above already cover never
        reach here (first-match dispatch); foreign targets support
        key-only matching and refuse the rich forms."""
        if self._merge_foreign_target(m):
            raise WarehouseError(
                "multi-arm / assignment MERGE is not supported on a foreign "
                "target (key-only matching) — use the engine table path"
            )
        tab, src, key = self._merge_parts(m)
        clauses = [
            c.strip()
            for c in re.split(
                r"(?i)(?=WHEN\s+(?:MATCHED|NOT\s+MATCHED)\b)", m.group(7)
            )
            if c.strip()
        ]
        matched_arms: list[dict] = []
        insert_arm = nbs_arm = None

        def parse_assigns(text: str) -> dict[str, str]:
            out: dict[str, str] = {}
            for part in _split_top_level(text):
                am = re.match(rf"(?is)^\s*(?:{_IDENT}\.)?({_IDENT})\s*=\s*(.+)$", part)
                if am is None:
                    raise WarehouseError(f"cannot parse MERGE assignment: {part!r}")
                out[am.group(1)] = am.group(2).strip()
            return out

        for cl in clauses:
            mm = re.fullmatch(
                r"(?is)WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+"
                r"(?:UPDATE\s+SET\s+(\*|.+)|(DELETE))",
                cl,
            )
            if mm:
                if insert_arm or nbs_arm:
                    raise WarehouseError(
                        "WHEN MATCHED arms must precede NOT MATCHED clauses"
                    )
                action = "delete" if mm.group(3) else "update"
                set_map = None
                if action == "update" and mm.group(2).strip() != "*":
                    set_map = parse_assigns(mm.group(2))
                matched_arms.append(
                    {
                        "cond": mm.group(1).strip() if mm.group(1) else None,
                        "action": action,
                        "set": set_map,
                    }
                )
                continue
            mi = re.fullmatch(
                r"(?is)WHEN\s+NOT\s+MATCHED(?:\s+BY\s+TARGET)?(?:\s+AND\s+(.+?))?"
                r"\s+THEN\s+INSERT\s+\*",
                cl,
            )
            if mi:
                if insert_arm is not None:
                    raise WarehouseError("duplicate WHEN NOT MATCHED … INSERT arm")
                insert_arm = {"cond": mi.group(1).strip() if mi.group(1) else None}
                continue
            ms = re.fullmatch(
                r"(?is)WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE(?:\s+AND\s+(.+?))?\s+THEN\s+"
                r"(?:UPDATE\s+SET\s+(.+)|(DELETE))",
                cl,
            )
            if ms:
                if nbs_arm is not None:
                    raise WarehouseError("duplicate WHEN NOT MATCHED BY SOURCE arm")
                nbs_arm = {
                    "cond": ms.group(1).strip() if ms.group(1) else None,
                    "action": "delete" if ms.group(3) else "update",
                    "set": parse_assigns(ms.group(2)) if ms.group(2) else None,
                }
                continue
            raise WarehouseError(f"cannot parse MERGE clause: {cl[:80]!r}")
        if not (matched_arms or insert_arm or nbs_arm):
            raise WarehouseError("MERGE needs at least one WHEN clause")
        tab.merge_into_arms(
            src,
            on=key,
            matched_arms=matched_arms,
            insert_arm=insert_arm,
            not_matched_by_source_arm=nbs_arm,
            branch=self._wap_branch,
            target_alias=m.group(2) or "t",
            source_alias=m.group(4) or "s",
        )
        return self._empty()

    def _merge_foreign_target(self, m: re.Match) -> tuple[str, str] | None:
        """(ns, table) when the MERGE target is a registered foreign
        table — routed through the open-metadata merge writer (WAP
        branch sessions refuse, as for every foreign write)."""
        foreign = self._foreign_for_write(m.group(1))
        if foreign and self._wap_branch:
            raise WarehouseError(
                "WAP branches are engine-log concepts; foreign table "
                f"{foreign[0]}.{foreign[1]} cannot stage branch writes"
            )
        return foreign

    def _merge_src_key(self, m: re.Match):
        """Source frame + join key for the MERGE forms (group layout:
        1 target, 2 target alias?, 3 source, 4 source alias?, 5/6 ON
        sides, 7 condition?, 8 trailing arm?)."""
        src_text, on_l, on_r = m.group(3).strip(), m.group(5), m.group(6)
        if src_text.startswith("("):
            inner, _rest = _balanced_paren_group(src_text)
            src = self.spark.sql(self._rewrite_query(inner.strip()))
        else:
            name = src_text.split()[0]
            src = self.table(name)
        kl, kr = on_l.split(".")[-1], on_r.split(".")[-1]
        if kl != kr:
            raise WarehouseError(f"MERGE ON must equate the same column name: {on_l} = {on_r}")
        return src, kl

    def _merge_parts(self, m: re.Match):
        """Shared target/source/key resolution for the MERGE forms."""
        tab = self._dml_table(m.group(1))
        src, key = self._merge_src_key(m)
        return tab, src, key

    def _merge_into_delete(self, m: re.Match) -> DataFrame:
        """MERGE INTO t USING src ON ... WHEN MATCHED [AND <cond>] THEN
        DELETE [WHEN NOT MATCHED THEN INSERT *] — the dedup-remediation
        form the reference's troubleshooting guide reaches for
        (SETUP_GUIDE_WIN.md:368 'Use MERGE or DELETE + INSERT'): matched
        target rows (passing the optional condition) drop; source rows
        with no match optionally insert."""
        cond = m.group(7).strip() if m.group(7) else None
        foreign = self._merge_foreign_target(m)
        if foreign:
            if cond:
                raise WarehouseError(
                    "WHEN MATCHED AND <cond> is not supported on a foreign "
                    "MERGE target (key-only matching) — apply it via the "
                    "engine table path"
                )
            src, key = self._merge_src_key(m)
            self.wh.merge_foreign_table(
                *foreign,
                src,
                key,
                when_matched="delete",
                insert_not_matched=bool(m.group(8)),
            )
            return self._empty()
        tab, src, key = self._merge_parts(m)
        tab.merge_into(
            src,
            on=key,
            matched_action="delete",
            insert_missing=bool(m.group(8)),
            branch=self._wap_branch,
            matched_condition=cond,
            target_alias=m.group(2) or "t",
            source_alias=m.group(4) or "s",
        )
        return self._empty()

    # ------------------------------------------------------- ALTER handlers
    def _alter_add_column(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t ADD COLUMN[S] name TYPE [DEFAULT <literal>], ...
        — DEFAULT adds Iceberg v3 default-value semantics (initial +
        write defaults, metadata-only; warehouse.Table.add_column)."""
        tab = self._existing_table(m.group(1))
        cols_text = m.group(2).strip()
        if cols_text.startswith("("):
            cols_text = _balanced_paren_group(cols_text)[0]
        for col_def in _split_top_level(cols_text):
            dm = re.match(
                r"(?is)^(\S+)\s+(.+?)(?:\s+DEFAULT\s+(.+))?$", col_def.strip()
            )
            if dm is None:
                raise WarehouseError(f"cannot parse column definition: {col_def!r}")
            tab.add_column(dm.group(1), dm.group(2).strip(), default=dm.group(3))
        return self._empty()

    def _alter_drop_column(self, m: re.Match) -> DataFrame:
        self._existing_table(m.group(1)).drop_column(m.group(2))
        return self._empty()

    def _alter_rename_table(self, m: re.Match) -> DataFrame:
        """ALTER TABLE a.b RENAME TO c.d — Iceberg catalog rename:
        metadata-pointer only, the table directory never moves (valid for
        native tables and foreign registrations; cross-namespace OK)."""
        ns, name = self._resolve_table_name(m.group(1))
        new_ns, new_name = self._resolve_table_name(m.group(2))
        self.wh.rename_table(ns, name, new_ns, new_name)
        return self._empty()

    def _alter_rename_column(self, m: re.Match) -> DataFrame:
        self._existing_table(m.group(1)).rename_column(m.group(2), m.group(3))
        return self._empty()

    def _alter_column_set_default(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t ALTER COLUMN c SET DEFAULT <lit> | DROP DEFAULT
        — Iceberg v3 write-default change (initial-default stays fixed;
        warehouse.Table.set_column_default)."""
        tab = self._existing_table(m.group(1))
        if m.group(3) is not None:
            tab.set_column_default(m.group(2), m.group(3).strip())
        else:
            tab.set_column_default(m.group(2), None)
        return self._empty()

    def _alter_column_type(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t ALTER COLUMN c TYPE <dtype> — Iceberg type
        widening (metadata-only; warehouse validates the promotion)."""
        self._existing_table(m.group(1)).alter_column_type(m.group(2), m.group(3).strip())
        return self._empty()

    def _alter_add_partition_field(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t ADD PARTITION FIELD <transform> — Iceberg's
        partition-spec evolution DDL (reference README.md:129-130: specs
        evolve without rewrites; old data keeps pruning under its own
        spec)."""
        tab = self._existing_table(m.group(1))
        source, transform = self._parse_partition_expr(m.group(2).strip())
        tab.evolve_partition_spec(source, transform)
        return self._empty()

    def _alter_drop_partition_field(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t DROP PARTITION FIELD <transform> — future writes
        land unpartitioned; existing directories keep their spec."""
        tab = self._existing_table(m.group(1))
        tab.evolve_partition_spec(None)
        return self._empty()

    def _alter_create_ref(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t CREATE BRANCH|TAG name [AS OF VERSION n]"""
        tab = self._existing_table(m.group(1))
        ref_type, name, ver = m.group(2).lower(), m.group(3), m.group(4)
        tab.create_ref(name, ref_type, int(ver) if ver else None)
        return self._empty()

    def _alter_drop_ref(self, m: re.Match) -> DataFrame:
        tab = self._existing_table(m.group(1))
        tab.drop_ref(m.group(3))
        return self._empty()

    def _alter_set_tblproperties(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t SET TBLPROPERTIES ('k'='v', ...) — metadata-only;
        honored knobs (write.delete.mode, write.update.mode, ...) apply to
        the next write."""
        tab = self._existing_table(m.group(1))
        props = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group(2)))
        if not props:
            raise WarehouseError("SET TBLPROPERTIES needs at least one 'key'='value'")
        tab.set_properties(props)
        return self._empty()

    def _alter_unset_tblproperties(self, m: re.Match) -> DataFrame:
        tab = self._existing_table(m.group(1))
        tab.unset_properties(re.findall(r"'([^']+)'", m.group(2)))
        return self._empty()

    def _alter_write_ordered(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t WRITE ORDERED BY (a, b) — Iceberg sort-order DDL:
        future writes cluster by these columns so footer bounds make
        scan-time file skipping effective (warehouse.set_write_order)."""
        tab = self._existing_table(m.group(1))
        cols_text = m.group(2).strip()
        if cols_text.startswith("("):
            cols_text = _balanced_paren_group(cols_text)[0]
        cols = [c.strip().split()[0] for c in cols_text.split(",") if c.strip()]
        tab.set_write_order(*cols)
        return self._empty()

    def _alter_set_identifier_fields(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t SET IDENTIFIER FIELDS a, b — Iceberg's row-identity
        DDL (identifier-field-ids): declares the key upsert()/CDC writers
        key equality deletes on. Parenthesized column list accepted too."""
        tab = self._existing_table(m.group(1))
        cols_text = m.group(2).strip()
        if cols_text.startswith("("):
            cols_text = _balanced_paren_group(cols_text)[0]
        cols = [c.strip() for c in cols_text.split(",") if c.strip()]
        if not cols:
            raise WarehouseError("SET IDENTIFIER FIELDS needs at least one column")
        tab.set_identifier_fields(*cols)
        return self._empty()

    def _alter_drop_identifier_fields(self, m: re.Match) -> DataFrame:
        """ALTER TABLE t DROP IDENTIFIER FIELDS a, b — removes the named
        columns from the identity; dropping every declared field clears
        the identity entirely (upserts then refuse until re-declared)."""
        tab = self._existing_table(m.group(1))
        cols_text = m.group(2).strip()
        if cols_text.startswith("("):
            cols_text = _balanced_paren_group(cols_text)[0]
        drop = {c.strip() for c in cols_text.split(",") if c.strip()}
        cur = tab.identifier_fields()
        unknown = sorted(drop - set(cur))
        if unknown:
            raise WarehouseError(f"not identifier fields on {m.group(1)}: {unknown}")
        tab.set_identifier_fields(*[c for c in cur if c not in drop])
        return self._empty()

    def _alter_compact(self, m: re.Match) -> DataFrame:
        """The reference helper issues `ALTER TABLE t COMPACT`
        (warehouse_helpers.py:145) — not valid Spark/Iceberg SQL, but the
        intent (small-file compaction, README.md:141-142) is clear; we
        accept it and run the valid rewrite_data_files operation."""
        self._existing_table(m.group(1)).compact()
        return self._empty()

    def _call_rewrite_data_files(self, m: re.Match) -> DataFrame:
        """CALL c.system.rewrite_data_files(table => 't'
        [, strategy => 'sort'] [, sort_order => 'zorder(a, b)' | 'a, b']
        [, target_partitions => N]) — plain compaction, sort-clustered
        rewrite, or multi-column z-order rewrite (Iceberg's procedure
        shapes). On a registered FOREIGN table (plain form only): the
        open-metadata rewrite — live rows land as fresh files under a
        `replace` snapshot, tombstones absorbed."""
        foreign = self._foreign_for_write(m.group(1).strip("'\""))
        if foreign:
            if (m.group(3) or "").strip("'\"").strip() or m.group(4):
                raise WarehouseError(
                    "sort/zorder rewrite is not supported on foreign tables "
                    "(plain rewrite_data_files only)"
                )
            from minio_iceberg_polaris_lakehouse_spark.sources.iceberg_writer import (
                rewrite_iceberg_table_files,
            )

            loc = self.wh.foreign_tables()[f"{foreign[0]}.{foreign[1]}"]
            if loc.endswith(".metadata.json"):
                raise WarehouseError(
                    f"foreign table {foreign[0]}.{foreign[1]} is pinned; "
                    "rewrites would be invisible"
                )
            rewrite_iceberg_table_files(self.spark, loc)
            return self._empty()
        tab = self._existing_table(m.group(1).strip("'\""))
        sort_order = (m.group(3) or "").strip("'\"").strip()
        target = int(m.group(4)) if m.group(4) else 1
        sort_by: list[str] | None = None
        zorder: list[str] | None = None
        if sort_order:
            zm = re.fullmatch(r"zorder\s*\(([^)]*)\)", sort_order, re.IGNORECASE)
            if zm:
                zorder = [c.strip() for c in zm.group(1).split(",") if c.strip()]
            else:
                sort_by = [c.strip().split()[0] for c in sort_order.split(",") if c.strip()]
        before = tab.data_file_count()
        tab.compact(target_partitions=target, sort_by=sort_by, zorder=zorder)
        after = tab.data_file_count()
        return local_frame(
            self.spark,
            [Row(rewritten_data_files_count=before, added_data_files_count=after)],
            "rewritten_data_files_count int, added_data_files_count int",
        )

    def _call_rollback_to_snapshot(self, m: re.Match) -> DataFrame:
        """CALL c.system.rollback_to_snapshot(table => 't', snapshot_id => N)"""
        tab = self._existing_table(m.group(1).strip("'\""))
        previous = tab.current_snapshot_id()
        target = int(m.group(2))
        tab.rollback_to(target)
        return local_frame(
            self.spark,
            [Row(previous_snapshot_id=previous, current_snapshot_id=target)],
            "previous_snapshot_id bigint, current_snapshot_id bigint",
        )

    def _call_rollback_to_timestamp(self, m: re.Match) -> DataFrame:
        """CALL c.system.rollback_to_timestamp(table => 't',
        timestamp => TIMESTAMP '...') — roll main back to the snapshot
        current as of the timestamp (Iceberg's second rollback form)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        previous = tab.current_snapshot_id()
        ts = datetime.datetime.fromisoformat(m.group(2).strip("'\""))
        if ts.tzinfo is None:
            # Spark TIMESTAMP literals follow spark.sql.session.timeZone,
            # NOT the process's OS timezone — datetime.timestamp() on a
            # naive value would resolve to the wrong snapshot whenever
            # the two differ
            ts = ts.replace(tzinfo=self._session_tzinfo())
        as_of_ms = int(ts.timestamp() * 1000)
        target = tab._resolve(as_of_ms=as_of_ms)["snapshot_id"]
        tab.rollback_to(target)
        return local_frame(
            self.spark,
            [Row(previous_snapshot_id=previous, current_snapshot_id=target)],
            "previous_snapshot_id bigint, current_snapshot_id bigint",
        )

    def _call_expire_snapshots(self, m: re.Match) -> DataFrame:
        """CALL c.system.expire_snapshots(table => 't'
        [, older_than => TIMESTAMP '…'] [, retain_last => N])"""
        tab = self._existing_table(m.group(1).strip("'\""))
        older_ms = None
        if m.group(2):
            ts = datetime.datetime.fromisoformat(m.group(2).strip("'\""))
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=self._session_tzinfo())
            older_ms = int(ts.timestamp() * 1000)
        retain = int(m.group(3)) if m.group(3) else 1
        removed = tab.expire_snapshots(keep_last=retain, older_than_ms=older_ms)
        return local_frame(
            self.spark, [Row(deleted_data_files_count=removed)], "deleted_data_files_count int"
        )

    def _call_remove_orphan_files(self, m: re.Match) -> DataFrame:
        """CALL c.system.remove_orphan_files(table => 't'
        [, older_than => TIMESTAMP '…']) — Iceberg's form: only dirs
        last modified before the timestamp are candidates (default: the
        3-day in-flight-write guard)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        if m.group(2):
            lit = m.group(2).strip("'\"")
            ts = datetime.datetime.fromisoformat(lit)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=self._session_tzinfo())
            import time as _time

            removed = tab.remove_orphan_files(
                older_than_s=max(0.0, _time.time() - ts.timestamp())
            )
        else:
            removed = tab.remove_orphan_files()
        return local_frame(
            self.spark, [Row(orphan_file_location_count=removed)], "orphan_file_location_count int"
        )

    def _call_rewrite_position_deletes(self, m: re.Match) -> DataFrame:
        """CALL c.system.rewrite_position_delete_files(table => 't') —
        fold merge-on-read tombstones into the data, rewriting only the
        affected dirs (warehouse.materialize_deletes)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        before = tab._resolve().get("delete_dirs", [])
        tab.materialize_deletes()
        return local_frame(
            self.spark,
            [Row(rewritten_delete_files_count=len(before))],
            "rewritten_delete_files_count int",
        )

    def _analyze_table(self, m: re.Match) -> DataFrame:
        """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b | FOR ALL
        COLUMNS] (Spark's syntax) — one distributed aggregate computes
        null counts / approximate NDV / min-max and persists them in the
        table metadata (warehouse.Table.analyze). Returns the per-column
        stats just computed."""
        tab = self._existing_table(m.group(1))
        spec = (m.group(2) or "").strip()
        cols: list[str] | None
        if not spec:
            cols = []  # plain COMPUTE STATISTICS: table-level stats only
        elif re.fullmatch(r"ALL\s+COLUMNS", spec, re.IGNORECASE):
            cols = None
        else:
            body = re.sub(r"^COLUMNS\s+", "", spec, flags=re.IGNORECASE)
            cols = [c.strip() for c in body.split(",") if c.strip()]
        tab.analyze(cols)
        return tab.column_stats()

    def _call_compute_table_stats(self, m: re.Match) -> DataFrame:
        """CALL c.system.compute_table_stats(table => 't'
        [, columns => ARRAY('a','b')]) — Iceberg 1.4's NDV-stats
        procedure, same computation as ANALYZE TABLE."""
        tab = self._existing_table(m.group(1).strip("'\""))
        cols = None
        if m.group(2):
            cols = [c.strip().strip("'\"") for c in m.group(2).split(",") if c.strip()]
        stats = tab.analyze(cols)
        return local_frame(
            self.spark,
            [Row(statistics_file=tab.path + "/_meta.json", row_count=stats["row_count"])],
            "statistics_file string, row_count bigint",
        )

    def _call_compute_partition_stats(self, m: re.Match) -> DataFrame:
        """CALL c.system.compute_partition_stats(table => 't') — write
        the Iceberg-spec partition statistics Parquet file and reference
        it from the exported metadata's `partition-statistics` list
        (warehouse.Table.compute_partition_stats)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        out = tab.compute_partition_stats()
        return local_frame(
            self.spark,
            [
                Row(
                    statistics_path=out["statistics-path"],
                    snapshot_id=out["snapshot-id"],
                    partitions_count=out["partitions"],
                )
            ],
            "statistics_path string, snapshot_id bigint, partitions_count int",
        )

    def _call_rewrite_manifests(self, m: re.Match) -> DataFrame:
        """CALL c.system.rewrite_manifests(table => 't') — consolidate
        per-dir manifest sidecars into a few bundle files so listing a
        snapshot's files reads O(bundles) metadata, not O(dirs) (Iceberg's
        small-manifest compaction; warehouse.Table.rewrite_manifests)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        rewritten, added = tab.rewrite_manifests()
        return local_frame(
            self.spark,
            [Row(rewritten_manifests_count=rewritten, added_manifests_count=added)],
            "rewritten_manifests_count int, added_manifests_count int",
        )

    def _call_build_bloom_index(self, m: re.Match) -> DataFrame:
        """CALL c.system.build_bloom_index(table => 't', column => 'c')
        — one Bloom bitset per data file over the column's live values
        (warehouse.Table.build_bloom_index): the secondary data-skipping
        index equality scans consult at plan time, for point lookups on
        high-cardinality columns where footer [min,max] bounds overlap."""
        tab = self._existing_table(m.group(1).strip("'\""))
        col = m.group(2).strip("'\"")
        n = tab.build_bloom_index(col)
        return local_frame(
            self.spark,
            [Row(indexed_files_count=n, column=col)],
            "indexed_files_count int, column string",
        )

    def _call_ancestors_of(self, m: re.Match) -> DataFrame:
        """CALL c.system.ancestors_of(table => 't' [, snapshot_id => N])
        — the parent-chain lineage of a snapshot, newest first."""
        tab = self._existing_table(m.group(1).strip("'\""))
        sid = int(m.group(2)) if m.group(2) else None
        return tab.ancestors_of(sid)

    def _set_wap_branch(self, m: re.Match) -> DataFrame:
        """SET spark.wap.branch = 'audit' — route subsequent INSERTs to a
        staged branch (Iceberg write-audit-publish)."""
        self._wap_branch = m.group(1).strip().strip("'\"") or None
        return self._empty()

    def _reset_wap_branch(self, m: re.Match) -> DataFrame:
        """RESET spark.wap.branch — subsequent INSERTs land on main."""
        self._wap_branch = None
        return self._empty()

    def _set_wap_id(self, m: re.Match) -> DataFrame:
        """SET spark.wap.id = 'audit-1' — stage subsequent INSERTs for
        CALL system.publish_changes (Iceberg's id-keyed WAP variant)."""
        self._wap_id = m.group(1).strip().strip("'\"") or None
        return self._empty()

    def _reset_wap_id(self, m: re.Match) -> DataFrame:
        self._wap_id = None
        return self._empty()

    def _call_publish_changes(self, m: re.Match) -> DataFrame:
        """CALL c.system.publish_changes(table => 't', wap_id => 'x') —
        publish every append staged under that wap id (cherry-picked
        onto the CURRENT main in stage order, so publishes survive main
        having moved — the difference from fast_forward), then drop the
        staging branch."""
        tab = self._existing_table(m.group(1).strip("'\""))
        wap_id = m.group(2).strip("'\"")
        branch = f"__wap_{wap_id}"
        meta = tab._meta()
        rec = meta.get("refs", {}).get(branch)
        if rec is None:
            raise WarehouseError(
                f"no staged changes under wap id {wap_id!r} on "
                f"{tab.ns}.{tab.name}"
            )
        # staged chain: branch-tagged snapshots from the head down to the
        # main fork point, published oldest-first
        snaps = {s["snapshot_id"]: s for s in tab._snaps()}
        chain: list[int] = []
        cur = snaps.get(int(rec["snapshot_id"]))
        while cur is not None and cur.get("branch") == branch:
            chain.append(cur["snapshot_id"])
            cur = snaps.get(cur.get("parent_id"))
        current = tab.current_snapshot_id()
        for sid in reversed(chain):
            current = tab.cherry_pick(sid)
        tab.drop_ref(branch)
        return local_frame(
            self.spark,
            [Row(published=len(chain), current_snapshot_id=current)],
            "published int, current_snapshot_id bigint",
        )

    def _call_fast_forward(self, m: re.Match) -> DataFrame:
        """CALL c.system.fast_forward(table => 't', branch => 'main',
        to => 'audit') — publish the staged branch to main (the WAP
        closing step; Iceberg procedure of the same name)."""
        tab = self._existing_table(m.group(1).strip("'\""))
        target, source = m.group(2).strip("'\""), m.group(3).strip("'\"")
        if target != "main":
            raise WarehouseError("fast_forward target must be 'main'")
        previous = tab.current_snapshot_id()
        updated = tab.fast_forward(source)
        return local_frame(
            self.spark,
            [Row(branch_updated=target, previous_ref=previous, updated_ref=updated)],
            "branch_updated string, previous_ref bigint, updated_ref bigint",
        )

    def _call_cherrypick_snapshot(self, m: re.Match) -> DataFrame:
        """CALL c.system.cherrypick_snapshot(table => 't',
        snapshot_id => N) — apply one staged append's delta onto main."""
        tab = self._existing_table(m.group(1).strip("'\""))
        source = int(m.group(2))
        current = tab.cherry_pick(source)
        return local_frame(
            self.spark,
            [Row(source_snapshot_id=source, current_snapshot_id=current)],
            "source_snapshot_id bigint, current_snapshot_id bigint",
        )

    def _call_create_changelog_view(self, m: re.Match) -> DataFrame:
        """CALL c.system.create_changelog_view(table => 't'
        [, changelog_view => 'v'] [, start_snapshot_id => N]
        [, end_snapshot_id => N]) — registers the table's row-level
        changelog (warehouse.Table.changes) as a temp view queryable by
        any subsequent SELECT, and returns the view name (Iceberg's
        procedure contract). Iceberg spells the snapshot range inside an
        options map; this front-end accepts them as flat named args."""
        tab = self._existing_table(m.group(1).strip("'\""))
        view = (m.group(2) or f"{tab.name}_changes").strip("'\"")
        start = int(m.group(3)) if m.group(3) else None
        end = int(m.group(4)) if m.group(4) else None
        tab.changes(from_version=start, to_version=end).createOrReplaceTempView(view)
        return local_frame(self.spark, [Row(changelog_view=view)], "changelog_view string")

    def _call_snapshot_table(self, m: re.Match) -> DataFrame:
        """CALL c.system.snapshot(source_table => '<parquet dir>',
        table => 'ns.t') — Iceberg's table-migration procedure: create a
        NEW lakehouse table over an existing parquet directory without
        touching the source. Schema comes from the parquet footers; the
        data joins as a zero-copy add_files import, so the procedure is
        metadata-only end to end. Returns the imported-files count."""
        src = m.group(1).strip("'\"")
        ns, name = self._resolve_table_name(m.group(2).strip("'\""))
        if self.wh.table(ns, name).exists():
            raise WarehouseError(f"table {ns}.{name} already exists")
        schema = self.spark.read.parquet(src).schema
        t = self.wh.create_table(ns, name, schema)
        try:
            _sid, n = t.add_files(src)
        except Exception:
            # a failed import must not leave an orphan empty table that
            # blocks the retry with 'already exists'
            self.wh.drop_table(ns, name)
            raise
        return local_frame(self.spark, [Row(imported_files_count=n)], "imported_files_count bigint")

    def _call_add_files(self, m: re.Match) -> DataFrame:
        """CALL c.system.add_files(table => 'ns.t', source_table =>
        '<parquet dir>') — Iceberg's migrate-in-place import: the
        directory's parquet files join the table as a new append snapshot
        with NO data rewrite (warehouse.Table.add_files). Returns the
        procedure's (added_files_count, changed_partition_count) shape."""
        ns, name = self._resolve_table_name(m.group(1).strip("'\""))
        src = m.group(2).strip("'\"")
        t = self.wh.table(ns, name)
        if not t.exists():
            raise WarehouseError(f"table {ns}.{name} not found")
        _sid, n = t.add_files(src)  # count = what the commit ACTUALLY imported
        return local_frame(
            self.spark,
            [Row(added_files_count=n, changed_partition_count=1)],
            "added_files_count bigint, changed_partition_count bigint",
        )

    def _call_register_table(self, m: re.Match) -> DataFrame:
        """CALL c.system.register_table(table => 'ns.name',
        metadata_file => '<table dir | metadata dir | vN.metadata.json>')
        — attach an EXISTING foreign Iceberg table to the catalog by its
        metadata (reference README.md:28: "re-register existing Iceberg
        tables by pointing to their metadata files"). The registered name
        is queryable/joinable in any SELECT, DESCRIBE-able, listed by
        SHOW TABLES, read-only; DROP TABLE detaches without touching the
        files. Returns Iceberg's procedure shape (current_snapshot_id,
        total_records, total_data_files), computed driver-side from the
        manifest list — metadata-sized, no Spark job."""
        import json as _json

        from minio_iceberg_polaris_lakehouse_spark import avro_io, fsio as _fsio

        ns, name = self._resolve_table_name(m.group(1).strip("'\""))
        location = m.group(2).strip("'\"")
        resolved = self.wh.register_foreign_table(ns, name, location)
        md = _json.loads(_fsio.read_text(resolved))
        cur = md.get("current-snapshot-id")
        snap = next(
            (s for s in md.get("snapshots", []) if s["snapshot-id"] == cur), None
        )
        total_records = total_files = 0
        if snap is not None:
            _s, _m2, manifests = avro_io.read_container(snap["manifest-list"])
            for man in manifests:
                if man.get("content") == 0:
                    total_files += int(man.get("added_files_count") or 0) + int(
                        man.get("existing_files_count") or 0
                    )
                    total_records += int(man.get("added_rows_count") or 0) + int(
                        man.get("existing_rows_count") or 0
                    )
        return local_frame(
            self.spark,
            [
                Row(
                    current_snapshot_id=cur,
                    total_records=total_records,
                    total_data_files=total_files,
                )
            ],
            "current_snapshot_id bigint, total_records bigint, total_data_files bigint",
        )

    def _truncate_table(self, m: re.Match) -> DataFrame:
        # routes to the active WAP branch like every other write — a
        # session that staged its INSERTs must not empty main directly
        self._dml_table(m.group(1)).truncate(branch=self._wap_branch)
        return self._empty()

    def _show_partitions(self, m: re.Match) -> DataFrame:
        return self._existing_table(m.group(1)).partitions()

    @staticmethod
    def _transform_sql(transform: str, src: str) -> str:
        """Render a partition transform back to the DDL form
        _parse_partition_expr accepts (SHOW CREATE TABLE round-trip)."""
        if transform == "identity":
            return src
        if transform in ("day", "month", "year", "hour"):
            return f"{transform}s({src})"
        for prefix in ("bucket", "truncate"):
            if transform.startswith(prefix) and transform[len(prefix) :].isdigit():
                return f"{prefix}({int(transform[len(prefix):])}, {src})"
        return src

    def _show_create_table(self, m: re.Match) -> DataFrame:
        """SHOW CREATE TABLE t → one `createtab_stmt` row whose text
        ROUND-TRIPS through this front-end's own CREATE TABLE parser
        (schema, USING iceberg, partition transform, table properties)."""
        tab = self._existing_table(m.group(1))
        cols = ",\n  ".join(
            f"{f.name} {f.dataType.simpleString().upper()}" for f in tab.schema().fields
        )
        stmt = f"CREATE TABLE {self.catalog}.{tab.ns}.{tab.name} (\n  {cols})\nUSING iceberg"
        spec = tab.partition_spec()
        if spec.source is not None:
            part = self._transform_sql(spec.transform, spec.source)
            stmt += f"\nPARTITIONED BY ({part})"
        props = tab._meta()["properties"]
        if props:
            kvs = ",\n  ".join(f"'{k}' = '{v}'" for k, v in sorted(props.items()))
            stmt += f"\nTBLPROPERTIES (\n  {kvs})"
        return local_frame(self.spark, [Row(createtab_stmt=stmt)], "createtab_stmt string")

    def _explain(self, m: re.Match) -> DataFrame:
        """EXPLAIN [EXTENDED|FORMATTED|CODEGEN|COST] <query> — rewrite the
        query against the warehouse views, then let Catalyst's own EXPLAIN
        render the plan (the same output a Spark user reads)."""
        mode, query = (m.group(1) or "").strip(), m.group(2)
        return self.spark.sql(f"EXPLAIN {mode} {self._rewrite_query(query)}".strip())

    def _empty(self) -> DataFrame:
        return local_frame(self.spark, [], T.StructType([]))

    # statement table: (fullmatch regex, handler) — first match wins
    _STATEMENTS = [
        (r"SHOW\s+CATALOGS", _show_catalogs),
        (rf"SHOW\s+NAMESPACES(?:\s+IN\s+({_IDENT}))?", _show_namespaces),
        (rf"SHOW\s+TABLES\s+IN\s+((?:{_IDENT}\.)?{_IDENT})", _show_tables),
        (rf"CREATE\s+NAMESPACE\s+(?:IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT})", _create_namespace),
        (rf"DROP\s+NAMESPACE\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)?{_IDENT})(\s+CASCADE)?", _drop_namespace),
        (
            rf"CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
            rf"((?:{_IDENT}\.)*{_IDENT})\s+AS\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _create_view,
        ),
        (rf"DROP\s+VIEW\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)*{_IDENT})", _drop_view),
        (
            rf"ALTER\s+VIEW\s+((?:{_IDENT}\.)*{_IDENT})\s+AS\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _alter_view_as,
        ),
        (
            rf"ALTER\s+VIEW\s+((?:{_IDENT}\.)*{_IDENT})\s+RENAME\s+TO\s+((?:{_IDENT}\.)*{_IDENT})",
            _alter_view_rename,
        ),
        (rf"SHOW\s+VIEWS(?:\s+IN\s+((?:{_IDENT}\.)?{_IDENT}))?", _show_views),
        (
            rf"SHOW\s+TBLPROPERTIES\s+((?:{_IDENT}\.)*{_IDENT})"
            r"(?:\s*\(\s*('[^']+'|\"[^\"]+\")\s*\))?",
            _show_tblproperties,
        ),
        (
            rf"CREATE\s+MATERIALIZED\s+VIEW\s+(?:(IF\s+NOT\s+EXISTS)\s+)?"
            rf"((?:{_IDENT}\.)*{_IDENT})\s+AS\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _create_matview,
        ),
        (
            rf"DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)*{_IDENT})",
            _drop_matview,
        ),
        (rf"REFRESH\s+MATERIALIZED\s+VIEW\s+((?:{_IDENT}\.)*{_IDENT})", _refresh_matview),
        (
            rf"SHOW\s+MATERIALIZED\s+VIEWS(?:\s+IN\s+((?:{_IDENT}\.)?{_IDENT}))?",
            _show_matviews,
        ),
        (
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)*{_IDENT})"
            rf"\s+LIKE\s+((?:{_IDENT}\.)*{_IDENT})",
            _create_table_like,
        ),
        (
            rf"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?((?:{_IDENT}\.)*{_IDENT})\s+AS\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _create_table_as_select,
        ),
        (
            rf"CREATE\s+OR\s+REPLACE\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+AS\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _create_or_replace_table_as_select,
        ),
        (r"CREATE\s+OR\s+REPLACE\s+TABLE\s+(.*)", _create_or_replace_table),
        (r"CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?(.*)", _create_table),
        (
            rf"UPDATE\s+((?:{_IDENT}\.)*{_IDENT})\s+SET\s+(.*)",
            _update,
        ),
        (rf"DROP\s+TABLE\s+(IF\s+EXISTS\s+)?((?:{_IDENT}\.)*{_IDENT})", _drop_table),
        (rf"DESCRIBE\s+(TABLE\s+|EXTENDED\s+)?((?:{_IDENT}\.)*{_IDENT})", _describe),
        (
            rf"INSERT\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})\s*\(([^)]+)\)\s*(.+)",
            _insert_named,
        ),
        (rf"INSERT\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})\s+BY\s+NAME\s+(.*)", _insert_by_name),
        (rf"INSERT\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})\s+VALUES\s+(.*)", _insert_values),
        (rf"INSERT\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)", _insert_select),
        (
            rf"INSERT\s+OVERWRITE\s+(?:TABLE\s+)?((?:{_IDENT}\.)*{_IDENT})\s+VALUES\s+(.*)",
            _insert_overwrite_values,
        ),
        (
            rf"INSERT\s+OVERWRITE\s+(?:TABLE\s+)?((?:{_IDENT}\.)*{_IDENT})\s+(SELECT\s+.*|WITH\s+.*|FROM\s+.*)",
            _insert_overwrite_select,
        ),
        (rf"SHOW\s+CREATE\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})", _show_create_table),
        (r"EXPLAIN\s+(EXTENDED\s+|FORMATTED\s+|CODEGEN\s+|COST\s+)?(SELECT\s+.*|WITH\s+.*|FROM\s+.*)", _explain),
        (rf"DELETE\s+FROM\s+((?:{_IDENT}\.)*{_IDENT})\s+WHERE\s+(.*)", _delete_from),
        (
            rf"MERGE\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+USING\s+(\(.*\)|(?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+ON\s+({_IDENT}\.{_IDENT})\s*=\s*({_IDENT}\.{_IDENT})"
            rf"\s+WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+UPDATE\s+SET\s+\*"
            rf"\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*"
            r"(\s+WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+THEN\s+DELETE)?",
            _merge_into,
        ),
        (
            rf"MERGE\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+USING\s+(\(.*\)|(?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+ON\s+({_IDENT}\.{_IDENT})\s*=\s*({_IDENT}\.{_IDENT})"
            rf"\s+WHEN\s+MATCHED(?:\s+AND\s+(.+?))?\s+THEN\s+DELETE"
            rf"(\s+WHEN\s+NOT\s+MATCHED\s+THEN\s+INSERT\s+\*)?",
            _merge_into_delete,
        ),
        (
            # the FULL matrix: any WHEN-clause sequence the two simpler
            # patterns above didn't already claim (first-match dispatch)
            rf"MERGE\s+INTO\s+((?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+USING\s+(\(.*\)|(?:{_IDENT}\.)*{_IDENT})(?:\s+(?:AS\s+)?({_IDENT}))?"
            rf"\s+ON\s+({_IDENT}\.{_IDENT})\s*=\s*({_IDENT}\.{_IDENT})"
            r"\s+(WHEN\s+.*)",
            _merge_general,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+ADD\s+COLUMNS?\s+(.*)",
            _alter_add_column,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+DROP\s+COLUMN\s+({_IDENT})",
            _alter_drop_column,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})",
            _alter_rename_column,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+RENAME\s+TO\s+((?:{_IDENT}\.)*{_IDENT})",
            _alter_rename_table,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+TYPE\s+(.+)",
            _alter_column_type,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+ALTER\s+COLUMN\s+({_IDENT})\s+"
            r"(?:SET\s+DEFAULT\s+(.+)|DROP\s+DEFAULT)",
            _alter_column_set_default,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+ADD\s+PARTITION\s+FIELD\s+(.*)",
            _alter_add_partition_field,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+DROP\s+PARTITION\s+FIELD\s+(.*)",
            _alter_drop_partition_field,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+CREATE\s+(BRANCH|TAG)\s+({_IDENT})"
            r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?",
            _alter_create_ref,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+DROP\s+(BRANCH|TAG)\s+({_IDENT})",
            _alter_drop_ref,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+SET\s+TBLPROPERTIES\s*\((.*)\)",
            _alter_set_tblproperties,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+UNSET\s+TBLPROPERTIES\s*"
            r"(?:IF\s+EXISTS\s*)?\((.*)\)",
            _alter_unset_tblproperties,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+WRITE\s+ORDERED\s+BY\s+(.*)",
            _alter_write_ordered,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+SET\s+IDENTIFIER\s+FIELDS\s+(.*)",
            _alter_set_identifier_fields,
        ),
        (
            rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+DROP\s+IDENTIFIER\s+FIELDS\s+(.*)",
            _alter_drop_identifier_fields,
        ),
        (rf"ALTER\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+COMPACT", _alter_compact),
        (
            rf"CALL\s+{_IDENT}\.system\.rewrite_data_files\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")"
            r"(?:\s*,\s*strategy\s*=>\s*('[^']+'|\"[^\"]+\"))?"
            r"(?:\s*,\s*sort_order\s*=>\s*('[^']+'|\"[^\"]+\"))?"
            r"(?:\s*,\s*target_partitions\s*=>\s*(\d+))?\s*\)",
            _call_rewrite_data_files,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.rollback_to_snapshot\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,\s*snapshot_id\s*=>\s*(\d+)\s*\)",
            _call_rollback_to_snapshot,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.rollback_to_timestamp\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,\s*timestamp\s*=>\s*"
            r"(?:TIMESTAMP\s*)?('[^']+'|\"[^\"]+\")\s*\)",
            _call_rollback_to_timestamp,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.expire_snapshots\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*"
            r"(?:,\s*older_than\s*=>\s*(?:TIMESTAMP\s*)?('[^']+'|\"[^\"]+\")\s*)?"
            r"(?:,\s*retain_last\s*=>\s*(\d+)\s*)?\)",
            _call_expire_snapshots,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.remove_orphan_files\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*"
            r"(?:,\s*older_than\s*=>\s*(?:TIMESTAMP\s*)?('[^']+'|\"[^\"]+\")\s*)?\)",
            _call_remove_orphan_files,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.rewrite_position_delete_files\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_rewrite_position_deletes,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.rewrite_manifests\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_rewrite_manifests,
        ),
        (
            rf"ANALYZE\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})\s+COMPUTE\s+STATISTICS"
            r"(?:\s+FOR\s+([^;]+?))?\s*;?\s*$",
            _analyze_table,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.compute_table_stats\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*"
            r"(?:,\s*columns\s*=>\s*ARRAY\s*\(([^)]*)\)\s*)?\)",
            _call_compute_table_stats,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.compute_partition_stats\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_compute_partition_stats,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.ancestors_of\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*(?:,\s*snapshot_id\s*=>\s*(\d+)\s*)?\)",
            _call_ancestors_of,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.build_bloom_index\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*column\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_build_bloom_index,
        ),
        (r"SET\s+spark\.wap\.branch\s*=\s*(.+)", _set_wap_branch),
        (r"RESET\s+spark\.wap\.branch", _reset_wap_branch),
        (r"SET\s+spark\.wap\.id\s*=\s*(.+)", _set_wap_id),
        (r"RESET\s+spark\.wap\.id", _reset_wap_id),
        (
            rf"CALL\s+{_IDENT}\.system\.publish_changes\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*wap_id\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_publish_changes,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.fast_forward\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*branch\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*to\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_fast_forward,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.cherrypick_snapshot\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,\s*snapshot_id\s*=>\s*(\d+)\s*\)",
            _call_cherrypick_snapshot,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.create_changelog_view\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")"
            r"(?:\s*,\s*changelog_view\s*=>\s*('[^']+'|\"[^\"]+\"))?"
            r"(?:\s*,\s*start_snapshot_id\s*=>\s*(\d+))?"
            r"(?:\s*,\s*end_snapshot_id\s*=>\s*(\d+))?\s*\)",
            _call_create_changelog_view,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.register_table\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*metadata_file\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_register_table,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.add_files\s*\("
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*source_table\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_add_files,
        ),
        (
            rf"CALL\s+{_IDENT}\.system\.snapshot\s*\("
            r"\s*source_table\s*=>\s*('[^']+'|\"[^\"]+\")\s*,"
            r"\s*table\s*=>\s*('[^']+'|\"[^\"]+\")\s*\)",
            _call_snapshot_table,
        ),
        (rf"TRUNCATE\s+TABLE\s+((?:{_IDENT}\.)*{_IDENT})", _truncate_table),
        (rf"SHOW\s+PARTITIONS\s+((?:{_IDENT}\.)*{_IDENT})", _show_partitions),
    ]
