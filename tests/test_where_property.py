"""Metamorphic property of ``where=``: pruning never changes the rows.

Seeded random predicates (SQL strings and Columns, with AND, OR, NOT,
IN, BETWEEN and IS NULL) over one multi-file table with NULLs, NaN, a
decimal, strings and microsecond timestamps, read in a Los Angeles
session: ``iceberg_scan(where=w)`` must equal ``iceberg_scan().filter(w)``,
and ``delete_where(w)`` must leave exactly the rows where ``w`` is not
true."""

import datetime
import decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# one row per key k in [0, 60): six files of ten consecutive keys
ROWS = 60
T0 = 1710000000  # 2024-03-09 16:00 UTC; rows span the Los Angeles DST switch
VALUES = {
    "k": st.integers(-5, 65),
    "p": st.integers(-1, 3),
    "x": st.sampled_from([-1.0, 0.0, 2.5, 7.5, 14.0, 29.5, 40.0, float("nan")]),
    "d": st.sampled_from([decimal.Decimal(v) for v in ("-1.00", "0.25", "3.50", "7.75", "14.00", "20.00")]),
    "s": st.sampled_from(["", "s00", "s07", "s25", "s4", "s59", "t"]),
    "ts": st.integers(-3, ROWS + 3).map(lambda h: datetime.datetime(2024, 3, 9, 8) + datetime.timedelta(hours=h)),
}
MIRROR = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}  # lit op col == col MIRROR[op] lit


def _sql_lit(col, v):
    if col == "x":
        return "double('NaN')" if v != v else f"{v!r}D"
    if col == "d":
        return f"{v}BD"
    if col == "s":
        return f"'{v}'"
    if col == "ts":
        return f"TIMESTAMP '{v:%Y-%m-%d %H:%M:%S}'"
    return str(v)


def _col_lit(col, v):
    if col == "ts":  # a zoneless literal is session-zone time, as in SQL
        return F.lit(f"{v:%Y-%m-%d %H:%M:%S}").cast("timestamp")
    return F.lit(v)


@st.composite
def leaf(draw):
    col = draw(st.sampled_from(sorted(VALUES)))
    kind = draw(st.sampled_from(["cmp", "cmp", "cmp", "in", "between", "null", "notnull"]))
    c = F.col(col)
    if kind == "cmp":
        op, v = draw(st.sampled_from(sorted(MIRROR))), draw(VALUES[col])
        col_op = {"=": c.__eq__, "<": c.__lt__, "<=": c.__le__, ">": c.__gt__, ">=": c.__ge__}
        if draw(st.booleans()):  # literal on the left
            return f"{_sql_lit(col, v)} {op} {col}", col_op[MIRROR[op]](_col_lit(col, v))
        return f"{col} {op} {_sql_lit(col, v)}", col_op[op](_col_lit(col, v))
    if kind == "in":
        vs = draw(st.lists(VALUES[col], min_size=1, max_size=4))
        return f"{col} IN ({', '.join(_sql_lit(col, v) for v in vs)})", c.isin(*[_col_lit(col, v) for v in vs])
    if kind == "between":
        lo, hi = draw(VALUES[col]), draw(VALUES[col])
        return f"{col} BETWEEN {_sql_lit(col, lo)} AND {_sql_lit(col, hi)}", c.between(_col_lit(col, lo), _col_lit(col, hi))
    if kind == "null":
        return f"{col} IS NULL", c.isNull()
    return f"{col} IS NOT NULL", c.isNotNull()


def _join(parts):
    (a_sql, a_col), (b_sql, b_col), op = parts
    if op.endswith(" NOT"):  # a NOT prunes nothing, so it only ever negates one side
        op, b_sql, b_col = op[:-4], f"NOT ({b_sql})", ~b_col
    return f"({a_sql}) {op} ({b_sql})", a_col & b_col if op == "AND" else a_col | b_col


def _combine(children):
    ops = st.sampled_from(["AND", "OR", "AND", "OR", "AND NOT", "OR NOT"])
    return st.tuples(children, children, ops).map(_join)


# (SQL text, Column) pairs of one predicate; each example uses one form
predicates = st.recursive(leaf(), _combine, max_leaves=6)


@pytest.fixture(scope="module")
def la_session(spark):
    """A Los Angeles session, restored afterwards. The writer's INT64
    timestamps give the files timestamp bounds."""
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        yield spark
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def _frame(spark):
    rows = [(k,) for k in range(ROWS)]
    return spark.createDataFrame(rows, "k long").repartitionByRange(6, "k").sortWithinPartitions("k").selectExpr(
        "k",
        "k % 3 AS p",
        "CASE WHEN k % 11 = 0 THEN NULL WHEN k % 13 = 0 THEN double('NaN') ELSE k * 0.5D END AS x",
        "CAST(k / 4 AS DECIMAL(10, 2)) AS d",
        "IF(k % 17 = 0, NULL, concat('s', lpad(CAST(k AS STRING), 2, '0'))) AS s",
        f"IF(k % 19 = 5, NULL, timestamp_seconds({T0} + k * 3600)) AS ts",
    )


def _digest(df):
    row = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return tuple(row)


@pytest.fixture(scope="module")
def table(la_session, tmp_path_factory):
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path_factory.mktemp("where_prop") / "t")
    t = IcebergTable.create(la_session, path, _frame(la_session), partition_by=["p"])
    full = t.scan().cache()
    assert full.count() == ROWS
    yield path, full
    full.unpersist()


@settings(max_examples=500, deadline=None, derandomize=True, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(predicates, st.booleans())
def test_where_scan_equals_filtered_scan(table, la_session, pred, as_column):
    from duckdb_iceberg_spark import iceberg_scan

    path, full = table
    w = pred[1] if as_column else pred[0]
    assert _digest(iceberg_scan(la_session, path, where=w)) == _digest(full.filter(w)), pred[0]


@settings(max_examples=25, deadline=None, derandomize=True, database=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(predicates, st.booleans())
def test_delete_where_leaves_rows_where_not_true(table, la_session, tmp_path_factory, pred, as_column):
    from duckdb_iceberg_spark import IcebergTable

    _, full = table
    w = pred[1] if as_column else pred[0]
    path = str(tmp_path_factory.mktemp("where_del") / "t")
    t = IcebergTable.create(la_session, path, full, partition_by=["p"])
    t.delete_where(w)
    keep = full.filter(~F.coalesce(w if as_column else F.expr(w), F.lit(False)))
    assert _digest(IcebergTable(la_session, path).scan()) == _digest(keep), pred[0]
