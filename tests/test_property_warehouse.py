"""Property-based check of the table format: a random program of
append/delete/overwrite operations runs against BOTH the warehouse table
and a trivial in-memory model; the current read AND every historical
snapshot (time travel) must match the model exactly.

This is the test strategy the reference lacks entirely (SURVEY.md §5 —
its regression suite is eyeballing notebook outputs); a randomized model
check covers the operation interleavings the handwritten lifecycle tests
don't enumerate."""

from __future__ import annotations

import datetime
import decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from minio_iceberg_polaris_lakehouse_spark.warehouse import Warehouse

# an operation is one of:
#   ("append", [(id, v), ...])     append rows (duplicates allowed)
#   ("delete", id)                 delete all rows with that id
#   ("overwrite", [(id, v), ...])  replace the table contents
_row = st.tuples(st.integers(0, 9), st.sampled_from(["a", "b", "c"]))
_op = st.one_of(
    st.tuples(st.just("append"), st.lists(_row, min_size=1, max_size=4)),
    st.tuples(st.just("delete"), st.integers(0, 9)),
    st.tuples(st.just("overwrite"), st.lists(_row, min_size=0, max_size=3)),
)


@pytest.fixture(scope="module")
def prop_wh(spark, tmp_path_factory):
    return Warehouse(spark, str(tmp_path_factory.mktemp("prop") / "wh"))


_counter = [0]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(program=st.lists(_op, min_size=1, max_size=5))
def test_random_program_matches_model(spark, prop_wh, program):
    _counter[0] += 1
    t = prop_wh.create_table("db", f"prog_{_counter[0]}", "id int, v string")

    model: list[tuple[int, str]] = []
    history: list[list[tuple[int, str]]] = []  # model state after each commit

    for op, arg in program:
        if op == "append":
            t.insert_values(arg)
            model = model + list(arg)
        elif op == "delete":
            t.delete_where(f"id = {arg}")
            model = [r for r in model if r[0] != arg]
        else:
            t.overwrite(spark.createDataFrame(arg, "id int, v string") if arg
                        else spark.createDataFrame([], "id int, v string"))
            model = list(arg)
        history.append(list(model))

    # current state matches (multiset equality — duplicates preserved)
    assert sorted(tuple(r) for r in t.read().collect()) == sorted(history[-1])
    # every snapshot time-travels to its recorded model state
    for version, want in enumerate(history, start=1):
        got = sorted(tuple(r) for r in t.read(version=version).collect())
        assert got == sorted(want), f"version {version}"
    # snapshot chain is linear and complete
    snaps = t.snapshots().orderBy("snapshot_id").collect()
    assert [s.snapshot_id for s in snaps] == list(range(1, len(history) + 1))


# SQL front-end roundtrip: random typed rows INSERTed as SQL literals must
# come back exactly through SELECT (literal parsing is delegated to Spark's
# own VALUES parser — this pins that delegation end-to-end).
_sql_row = st.tuples(
    st.integers(-(2**31), 2**31 - 1),
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" .,-"),
        min_size=0,
        max_size=20,
    ),
    st.decimals(min_value=-99999, max_value=99999, places=2),
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(rows=st.lists(_sql_row, min_size=1, max_size=5))
def test_sql_insert_select_roundtrip(spark, tmp_path_factory, rows):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    _counter[0] += 1
    lake = LakehouseSQL(spark, str(tmp_path_factory.mktemp("sqlprop")))
    lake.sql(
        "CREATE TABLE polaris.p.t (id INT, name STRING, amount DECIMAL(10,2)) USING ICEBERG"
    )
    values = ", ".join(
        f"({i}, '{s.replace(chr(39), chr(39) * 2)}', {a})" for i, s, a in rows
    )
    lake.sql(f"INSERT INTO polaris.p.t VALUES {values}")
    got = sorted(
        (r.id, r.name, r.amount) for r in lake.sql("SELECT * FROM p.t").collect()
    )
    want = sorted((i, s, a) for i, s, a in rows)
    assert got == want


# Rewriter masking/name-resolution edges (r2 advice #10): table-like names
# inside string literals must never be rewritten, alias.column references
# that LOOK like ns.table must resolve to the alias, and keyword case must
# not matter. The fuzz drives all three through one fixture warehouse.
_TRICKY_LITERALS = [
    "see p.users for details",
    "polaris.p.users",
    "p.orders VERSION AS OF 1",
    "users",
    "from p.users select",
    "it''s p.users",  # escaped quote inside the literal
]


def _case_mix(word: str, flags: list[bool]) -> str:
    return "".join(
        c.upper() if flags[i % len(flags)] else c.lower() for i, c in enumerate(word)
    )


_rw_case = st.lists(st.booleans(), min_size=1, max_size=4)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    lit=st.sampled_from(_TRICKY_LITERALS),
    threshold=st.integers(0, 4),
    flags=_rw_case,
    use_alias=st.booleans(),
)
def test_sql_rewriter_masking_and_aliases(spark, tmp_path_factory, lit, threshold, flags, use_alias):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    global _RW_LAKE
    try:
        lake = _RW_LAKE
    except NameError:
        lake = _RW_LAKE = LakehouseSQL(spark, str(tmp_path_factory.mktemp("rwfuzz")))
        lake.sql("CREATE TABLE polaris.p.users (id INT, name STRING) USING ICEBERG")
        lake.sql(
            "INSERT INTO polaris.p.users VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d'),(5,'e')"
        )
        lake.sql("CREATE TABLE polaris.p.orders (oid INT, uid INT) USING ICEBERG")
        lake.sql("INSERT INTO polaris.p.orders VALUES (10,1),(11,2)")

    sel, frm, whr, order = (
        _case_mix("SELECT", flags),
        _case_mix("FROM", flags),
        _case_mix("WHERE", flags),
        _case_mix("ORDER BY", flags),
    )
    if use_alias:
        # alias u: u.id/u.name look like ns.table but must resolve as alias
        q = (
            f"{sel} u.id, '{lit}' AS note, (SELECT COUNT(*) {frm} p.orders) AS n_orders "
            f"{frm} p.users u {whr} u.id > {threshold} {order} u.id"
        )
    else:
        q = (
            f"{sel} id, '{lit}' AS note, (SELECT COUNT(*) {frm} p.orders) AS n_orders "
            f"{frm} p.users {whr} id > {threshold} {order} id"
        )
    rows = lake.sql(q).collect()
    want_ids = [i for i in [1, 2, 3, 4, 5] if i > threshold]
    assert [r.id for r in rows] == want_ids
    # the literal came through the mask/unmask round untouched (SQL '' -> ')
    expected_note = lit.replace("''", "'")
    assert all(r.note == expected_note for r in rows)
    assert all(r.n_orders == 2 for r in rows)


# ---- file-skipping soundness fuzz ------------------------------------------
# The invariant that makes manifest pruning safe to ship: for ANY data and
# ANY eq/between predicate, scan() (bounds-pruned) returns exactly what an
# unpruned filter over read() returns. A wrong skip silently loses rows at
# 100 TB — this is the test that forbids it.

_skip_row = st.tuples(
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),
    st.text(alphabet="abcxyz", min_size=0, max_size=4),
)


# DATE, TIMESTAMP and DECIMAL columns derive from id, so their bounds
# are as tight or as overlapping as the id bounds of the same file; their
# predicates mix Python objects with the string literals the SQL hints
# pass.
_EPOCH_DAY = datetime.date(2024, 1, 1)
_EPOCH_TS = datetime.datetime(2024, 1, 1)


def _skip_cols(i):
    if i is None:
        return (None, None, None)
    return (
        _EPOCH_DAY + datetime.timedelta(days=i),
        _EPOCH_TS + datetime.timedelta(hours=i),
        decimal.Decimal(i) / 4,
    )


_id = st.integers(min_value=-55, max_value=55)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    commits=st.lists(
        st.lists(_skip_row, min_size=1, max_size=4), min_size=1, max_size=3
    ),
    pred=st.one_of(
        st.tuples(st.just("eq_id"), _id),
        st.tuples(st.just("eq_v"), st.text(alphabet="abcxyz", min_size=0, max_size=4)),
        st.tuples(st.just("between_id"), st.tuples(_id, _id)),
        st.tuples(st.just("eq_d"), st.tuples(_id, st.booleans())),
        st.tuples(st.just("between_ts"), st.tuples(_id, _id, st.booleans())),
        st.tuples(st.just("eq_amt"), _id),
    ),
)
def test_file_skipping_never_loses_rows(spark, prop_wh, commits, pred):
    _counter[0] += 1
    t = prop_wh.create_table(
        "db", f"skip_{_counter[0]}", "id int, v string, d date, ts timestamp, amt decimal(10,2)"
    )
    for rows in commits:
        t.insert_values([(i, v, *_skip_cols(i)) for i, v in rows])
    kind, arg = pred
    if kind == "eq_id":
        got = t.scan(eq={"id": arg})
        want = t.read().filter(F.col("id") == arg)
    elif kind == "eq_v":
        got = t.scan(eq={"v": arg})
        want = t.read().filter(F.col("v") == arg)
    elif kind == "between_id":
        lo, hi = min(arg), max(arg)
        got = t.scan(between={"id": (lo, hi)})
        want = t.read().filter(F.col("id").between(lo, hi))
    elif kind == "eq_d":
        day = _skip_cols(arg[0])[0]
        got = t.scan(eq={"d": day if arg[1] else day.isoformat()})
        want = t.read().filter(F.col("d") == F.lit(day))
    elif kind == "between_ts":
        lo, hi = (_skip_cols(x)[1] for x in sorted(arg[:2]))
        if not arg[2]:
            lo, hi = str(lo), str(hi)
        got = t.scan(between={"ts": (lo, hi)})
        want = t.read().filter(F.col("ts").between(F.lit(lo), F.lit(hi)))
    else:
        amt = _skip_cols(arg)[2]
        got = t.scan(eq={"amt": amt})
        want = t.read().filter(F.col("amt") == F.lit(amt))

    def key(r):  # None-safe total order for the multiset comparison
        return tuple((x is None, x) for x in r)

    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )


# ---- SQL scan-hint soundness fuzz ------------------------------------------
# The hints path backs a SELECT's view with a bounds-pruned scan ONLY when
# the statement shape proves the predicates are top-level conjuncts of one
# table. This fuzz compares the hinted statement against the plain rewrite
# (no hints) across keyword-bearing literals, aliases, casing, OR/paren
# shapes — they must agree row-for-row every time.

_tricky_str = st.sampled_from(
    ["a", "x WHERE y", "1 AND 2", "b BETWEEN c", "it''s", "FROM db.t", ""]
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), _tricky_str), min_size=1, max_size=6
    ),
    alias=st.sampled_from(["", "t", "g", "AS t"]),
    where=st.sampled_from(
        [
            "id = {n}",
            "v = {s}",
            "id = {n} AND v = {s}",
            "id BETWEEN {n} AND {m}",
            "id BETWEEN {n} AND {m} AND v = {s}",
            "id = {n} OR v = {s}",
            "(id = {n}) AND v = {s}",
            "v = {s} AND id = {n}",
        ]
    ),
    n=st.integers(-2, 22),
    m=st.integers(-2, 22),
    pick=_tricky_str,
    kw=st.sampled_from(["WHERE", "where", "Where"]),
)
def test_sql_hints_always_match_plain_rewrite(spark, prop_wh, rows, alias, where, n, m, pick, kw):
    from minio_iceberg_polaris_lakehouse_spark.sql_frontend import LakehouseSQL

    _counter[0] += 1
    fe = LakehouseSQL(spark, prop_wh.root)
    name = f"hint_{_counter[0]}"
    t = prop_wh.create_table("db", name, "id int, v string")
    t.insert_values(rows)
    lit = "'" + pick.replace("'", "''") + "'"
    pred = where.format(n=n, m=m, s=lit)
    prefix = (alias.replace("AS ", "") + ".") if alias and "g" not in alias else ""
    stmt = f"SELECT {prefix}id, {prefix}v FROM db.{name} {alias} {kw} {pred} ORDER BY {prefix}id"
    got = sorted(map(tuple, fe.sql(stmt).collect()))
    want = sorted(map(tuple, spark.sql(fe._rewrite_query(stmt)).collect()))
    assert got == want, stmt
