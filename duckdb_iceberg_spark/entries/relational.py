"""Relational-surface entries (SURVEY.md §2B): TPC-H family, joins,
aggregates, windows, set ops, scalar-function families, events, IO
round-trips — each with its DuckDB oracle SQL twin."""
from __future__ import annotations

import os
import re
from collections.abc import Callable  # noqa: F401  (re-exported for the contract)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_scan
from duckdb_iceberg_spark.functions import text as TX
from duckdb_iceberg_spark.functions.text import lang_id_sql
from duckdb_iceberg_spark.operators import dedup as DD
from duckdb_iceberg_spark.operators import lm as LM
from duckdb_iceberg_spark.operators import multimodal as MM
from duckdb_iceberg_spark.operators import packing as PK
from duckdb_iceberg_spark.operators import sampling as SA
from duckdb_iceberg_spark.operators import similarity as SIM
from duckdb_iceberg_spark.sources.iceberg import _local_df

from duckdb_iceberg_spark.entries.layout import *  # noqa: F401,F403

# ---------------------------------------------------------------------------
# relational surface (SURVEY.md §2B)
# ---------------------------------------------------------------------------


def _q1_pricing_summary(spark, sf):
    # aggregate projection: re-aggregate the day-grain pricing rollup
    # when the layout overlay maintains it (exact long-cents partials —
    # value-identical under any cutoff; raw fallback below).
    proj = _t_proj(spark, sf, "q1_rollup", "agg")
    if proj is not None:
        agg = (
            proj.filter(F.col("ship_day") <= F.lit("1998-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            # SQL-string aggregates: one parse round trip each (§7.3
            # driver latency), identical trees (D-suffixed doubles)
            .agg(
                F.expr("cast(sum(qty_c) as double) / 100.0D AS sum_qty"),
                F.expr(
                    "cast(sum(price_c) as double) / 100.0D AS sum_base_price"
                ),
                F.expr(
                    "cast(sum(rev_c) as double) / 100.0D AS sum_disc_price"
                ),
                F.expr("cast(sum(charge_c) as double) / 100.0D AS sum_charge"),
                F.expr(
                    "round(cast(sum(qty_c) as double) / 100.0D / sum(n), 4)"
                    " AS avg_qty"
                ),
                F.expr(
                    "round(cast(sum(disc_c) as double) / 100.0D / sum(n), 4)"
                    " AS avg_disc"
                ),
                F.expr("sum(n) AS count_order"),
            )
        )
        return agg
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        # exact-cents policy (_rev_cents): every sum accumulates longs;
        # charge = ep*(1-disc)*(1+tax) is exact in 10^-6 units, then
        # HALF_UP to cents — identical doubles to the decimal(18,2)
        # formulation the oracle states, minus the BigDecimal path.
        .agg(
            (F.sum(_cents("l_quantity")).cast("double") / F.lit(100.0)).alias("sum_qty"),
            (F.sum(_cents("l_extendedprice")).cast("double") / F.lit(100.0)).alias("sum_base_price"),
            (F.sum(_rev_cents()).cast("double") / F.lit(100.0)).alias("sum_disc_price"),
            (
                F.sum(
                    (
                        (
                            _cents("l_extendedprice")
                            * (F.lit(100) - _cents("l_discount"))
                            * (F.lit(100) + _cents("l_tax"))
                            + F.lit(5000)
                        )
                        / F.lit(10000)
                    ).cast("long")
                ).cast("double")
                / F.lit(100.0)
            ).alias("sum_charge"),
            F.round(F.sum(_cents("l_quantity")).cast("double") / F.lit(100.0) / F.count("*"), 4).alias("avg_qty"),
            F.round(F.sum(_cents("l_discount")).cast("double") / F.lit(100.0) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) * (1 + CAST(l_tax AS DECIMAL(18,2))), 2)) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def _q3_shipping_priority(spark, sf):
    c = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    sp = _t_spine(spark, sf)
    if sp is not None:
        # spine projection path: a ZERO-join pruned scan (l_shipdate
        # zone maps via the o_orderdate in-bucket sort; the segment
        # rides denormalized on the spine) into an exchange-FREE
        # aggregate — groupBy includes the bucket key, so the bucketed
        # partitioning already satisfies the clustering requirement.
        pre = (
            sp.filter(
                (F.col("c_mktsegment") == "BUILDING")
                & (F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
                & (F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
            )
            .groupBy(
                "l_orderkey",
                F.expr("date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate"),
            )
            .agg(
                F.expr("cast(sum(rev_cents) as double) / 100.0D AS revenue")
            )
        )
    else:
        o = _t(spark, sf, "orders").filter(F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp"))
        li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp"))
        pre = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
            .agg((F.sum(_rev_cents()).cast("double") / F.lit(100.0)).alias("revenue"))
        )
    return pre.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


_Q3_SQL = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def _q5_local_supplier(spark, sf):
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    # The supplier join only maps suppkey -> nation (each lineitem has
    # exactly one supplier), so resolve it on the co-located
    # lineitem⋈orders spine and aggregate revenue per (custkey,
    # supplier-nation) BEFORE touching customer: the custkey exchange
    # then carries at most customers×nations partial rows instead of
    # the whole fact, and the bucketed customer side joins without its
    # own exchange (bucket cols ⊆ join keys). Supplier is projected to
    # two columns so AQE broadcast-sizes it from real stats.
    sp = _t_spine(spark, sf)
    if sp is not None:
        # spine projection path: every join q5 states is already
        # materialized on the spine (supplier AND customer nationkeys
        # ride denormalized), so the query is a pruned scan (the
        # one-year o_orderdate filter skips ~6/7 of row groups via the
        # in-bucket date sort) + local-supplier filter + a 25-group
        # aggregate — zero joins before the broadcast nation/region
        # name lookup, no fact-sized exchange anywhere.
        return (
            sp.filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
                & (F.col("s_nationkey") == F.col("c_nationkey"))
            )
            .groupBy("c_nationkey")
            .agg(F.expr("sum(rev_cents) AS rev_cents"))
            .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
            .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
            .groupBy("n_name")
            .agg(
                F.expr("cast(sum(rev_cents) as double) / 100.0D AS revenue")
            )
        )
    per_cust_nat = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("o_custkey").alias("c_custkey"), F.col("s_nationkey"))
        .agg(F.sum(_rev_cents()).alias("rev_cents"))
    )
    # SHUFFLE_HASH: without it Catalyst sort-merges this join, sorting
    # the multi-million-row partial-aggregate stream; hashing the small
    # customer build side instead is -27% on the whole query at sf10
    # (and is the right plan at any scale: the build side is a
    # dimension, the probe side is the aggregate stream).
    return (
        per_cust_nat.join(
            c.hint("SHUFFLE_HASH"),
            (per_cust_nat.c_custkey == c.c_custkey) & (per_cust_nat.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg((F.sum("rev_cents").cast("double") / F.lit(100.0)).alias("revenue"))
    )


_Q5_SQL = """
SELECT n_name,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


def _q6_revenue(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            # exact-cents policy: ep and disc both carry exactly 2
            # decimals, so ep_cents*disc_cents is the product in 10^-4
            # units and (+50 div 100) is decimal HALF_UP to cents —
            # identical to cast(dec*dec as decimal(18,2)) but in
            # codegen long arithmetic instead of BigDecimal
            F.expr(
                "cast(sum(cast((cast(round(l_extendedprice * 100) as long)"
                " * cast(round(l_discount * 100) as long) + 50) / 100"
                " as long)) as double) / 100.0D AS revenue"
            )
        )
    )


_Q6_SQL = """
SELECT CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)), 2)) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def _q10_returned_items(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf, "nation")
    # Aggregate below the customer join: c_name/n_name are functionally
    # dependent on c_custkey, so revenue can be summed per custkey first.
    # The lineitem⋈orders spine is bucket-co-located (no exchange); the
    # one custkey exchange then carries per-customer partials instead of
    # every returned lineitem row, and its hash partitioning lines up
    # with the bucketed customer table for the final hop.
    sp = _t_spine(spark, sf)
    if sp is not None:
        # spine projection path: no join at all before the custkey
        # partial-aggregate exchange — filter + precomputed rev_cents.
        per_cust = (
            sp.filter(F.col("l_returnflag") == "R")
            .groupBy(F.expr("o_custkey AS c_custkey"))
            .agg(
                F.expr("cast(sum(rev_cents) as double) / 100.0D AS revenue")
            )
        )
    else:
        per_cust = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy(F.col("o_custkey").alias("c_custkey"))
            .agg((F.sum(_rev_cents()).cast("double") / F.lit(100.0)).alias("revenue"))
        )
    return (
        per_cust.join(c, "c_custkey")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def _cross_join_small(spark, sf):
    """Explicit CROSS JOIN (small x small — the calendar-x-dims
    shape; big-side cross joins are deliberately absent everywhere
    else and plan-guarded against)."""
    r = _t(spark, sf, "region")
    n = _t(spark, sf, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


_CROSS_JOIN_SQL = "SELECT r_name, n_name FROM region CROSS JOIN nation"


def _not_in_nulls(spark, sf):
    """NOT IN three-valued-logic parity: a NULL in the subquery makes
    NOT IN never-true (0 rows); the null-free variant counts rows.
    Engines differ here historically — this pins the ANSI behavior."""
    _t(spark, sf, "orders").createOrReplaceTempView("_niv_orders")
    _t(spark, sf, "customer").createOrReplaceTempView("_niv_customer")
    return spark.sql(
        """
        SELECT
          (SELECT COUNT(*) FROM _niv_orders WHERE o_custkey NOT IN
             (SELECT CASE WHEN c_custkey % 1000 = 0 THEN NULL ELSE c_custkey END
              FROM _niv_customer)) AS n_with_null,
          (SELECT COUNT(*) FROM _niv_orders WHERE o_custkey NOT IN
             (SELECT c_custkey FROM _niv_customer WHERE c_custkey % 1000 <> 0)) AS n_without_null
        """
    )


_NOT_IN_NULLS_SQL = """
SELECT
  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
     (SELECT CASE WHEN c_custkey % 1000 = 0 THEN NULL ELSE c_custkey END FROM customer)) AS n_with_null,
  (SELECT COUNT(*) FROM orders WHERE o_custkey NOT IN
     (SELECT c_custkey FROM customer WHERE c_custkey % 1000 <> 0)) AS n_without_null
"""


def _join_anti(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_JOIN_ANTI_SQL = "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"


def _join_semi(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


_JOIN_SEMI_SQL = """
SELECT c_custkey, c_acctbal FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def _join_left_outer_counts(spark, sf):
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


_JOIN_LEFT_SQL = """
SELECT c_custkey, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey
"""


def _join_full_outer(spark, sf):
    cn = _t(spark, sf, "customer").groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    sn = _t(spark, sf, "supplier").groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    return (
        cn.join(sn, cn.c_nationkey == sn.s_nationkey, "full_outer")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


_JOIN_FULL_SQL = """
WITH cn AS (SELECT c_nationkey, COUNT(*) n_cust FROM customer GROUP BY c_nationkey),
     sn AS (SELECT s_nationkey, COUNT(*) n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp
FROM cn FULL OUTER JOIN sn ON c_nationkey = s_nationkey
"""


def _join_broadcast_brand(spark, sf):
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    # exact-cents policy (module doc): a plain price sum accumulates
    # long cents instead of decimal(18,2) — same correctly-rounded
    # double out (sum_cents < 2^53), ~25% faster probe+agg measured
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("brand_revenue"),
        )
    )


_JOIN_BCAST_SQL = """
SELECT p_brand, COUNT(*) AS n,
  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS brand_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


def _join_colocated_brand(spark, sf):
    """Same brand-revenue FK join as join_broadcast_brand, but through
    MATERIALIZED PROJECTIONS: narrow column subsets of lineitem and
    part stored bucketed on partkey, so the join compiles co-located
    (per-bucket SHUFFLE_HASH build of the 1/N dimension slice — no
    driver-built broadcast relation, no fact shuffle, no Exchange).
    At 100 TB this is the layout answer for a hot FK join off the
    primary cluster key; measured 2.4 -> 1.2 s at sf10. Falls back to
    the plain join when the layout overlay is inactive (correctness
    driver) — results are layout-independent."""
    li = _t_proj(spark, sf, "lineitem", "l_partkey")
    p = _t_proj(spark, sf, "part", "p_partkey")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    if li is not None and "p_brand" in li.columns:
        # the projection denormalizes p_brand at build time (the spine
        # pattern): the hot FK join disappears entirely — one scan into
        # a 25-group aggregate. p_brand IS NOT NULL reproduces the
        # inner-join semantics for any dangling partkey.
        return (
            li.filter(F.col("p_brand").isNotNull())
            .groupBy("p_brand")
            .agg(
                F.count("*").alias("n"),
                (F.sum(cents).cast("double") / F.lit(100.0)).alias("brand_revenue"),
            )
        )
    if li is None or p is None:
        li = _t(spark, sf, "lineitem")
        p = _t(spark, sf, "part")
    return (
        li.join(p.hint("SHUFFLE_HASH"), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("brand_revenue"),
        )
    )


def _agg_global(spark, sf):
    """Global scan aggregates + two EXACT count-distincts. The naive
    single agg() with two countDistinct()s plans through EXPAND —
    every row replicated once per distinct group (3x 60M rows through
    the shuffle; measured 12.7 s at sf10). Decomposed: one plain
    single-pass agg + one distinct-then-count per key set (map-side
    partial distinct collapses each stream before its exchange, and
    the orderkey distinct is exchange-free on the bucketed layout),
    joined back as 1-row literals. 12.7 -> ~2.9 s at sf10; the
    remaining cost is measured CPU (the per-bucket hash distinct of
    8M pairs from 60M rows), not plan shape. At 100 TB the sketch
    twin (agg_approx) is the first choice; this is the exact shape
    when exactness is required."""
    li = _t(spark, sf, "lineitem")
    # aggregate projection: the scan aggregates recombine exactly from
    # the day-grain moment partials (Σn / Σq_c / min-max price-cents /
    # min-max ship_day — one int→double rounding each, same as raw)
    mom = _t_proj(spark, sf, "moments", "agg")
    # aggregate expressions as SQL strings — one parse round trip each
    # (§7.3 driver latency), identical trees (D-suffixed double
    # literals; cast chains unchanged)
    if mom is not None:
        plain = mom.agg(
            F.expr("sum(n) AS n_rows"),
            F.expr("cast(cast(min(ship_day) as date) as string) AS min_ship"),
            F.expr("cast(cast(max(ship_day) as date) as string) AS max_ship"),
            F.expr("cast(sum(sq) as double) / 100.0D AS total_qty"),
            F.expr("round(cast(min(minp) as double) / 100.0D, 2) AS min_price"),
            F.expr("round(cast(max(maxp) as double) / 100.0D, 2) AS max_price"),
        )
    else:
        plain = li.agg(
            F.expr("count(*) AS n_rows"),
            F.expr("cast(cast(min(l_shipdate) as date) as string) AS min_ship"),
            F.expr("cast(cast(max(l_shipdate) as date) as string) AS max_ship"),
            # exact-cents policy: identical doubles to sum(decimal(18,2))
            # on the 2-decimal domain, minus the BigDecimal path (module doc)
            F.expr(
                "cast(sum(cast(round(l_quantity * 100) as long)) as double)"
                " / 100.0D AS total_qty"
            ),
            F.expr("round(min(l_extendedprice), 2) AS min_price"),
            F.expr("round(max(l_extendedprice), 2) AS max_price"),
        )
    # duplicate-eliminated projection: exact COUNT(DISTINCT) becomes
    # count(*) over the maintained distinct view (metadata-cheap scan)
    okp = _t_proj(spark, sf, "lidist_ok", "agg")
    n_orders = (
        okp if okp is not None else li.select("l_orderkey").distinct()
    ).agg(F.count("*").alias("n_orders"))
    # the (partkey,suppkey) distinct reads the partkey-bucketed
    # projection when maintained: bucket key ⊆ distinct keys, so the
    # whole distinct is exchange-free (vs shuffling ~all pairs)
    psd = _t_proj(spark, sf, "lidist_ps", "agg")
    if psd is not None:
        n_ps = psd.agg(F.count("*").alias("n_part_supp"))
    else:
        ps_src = _t_proj(spark, sf, "lineitem", "l_partkey")
        if ps_src is None or "l_suppkey" not in ps_src.columns:
            ps_src = li
        n_ps = (
            ps_src.select("l_partkey", "l_suppkey")
            .distinct()
            .agg(F.count("*").alias("n_part_supp"))
        )
    return plain.crossJoin(n_orders).crossJoin(n_ps).select(
        "n_rows", "n_orders", "n_part_supp", "min_ship", "max_ship",
        "total_qty", "min_price", "max_price",
    )


_AGG_GLOBAL_SQL = """
SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
  COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
  CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
  CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS max_ship,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
  ROUND(MIN(l_extendedprice), 2) AS min_price, ROUND(MAX(l_extendedprice), 2) AS max_price
FROM lineitem
"""


def _agg_having(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n"), F.sum(_dec("l_quantity")).cast("double").alias("qty"))
        .where(F.col("n") > 60)
    )


_AGG_HAVING_SQL = """
SELECT l_suppkey, COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 60
"""


def _agg_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), F.sum(_dec("l_quantity")).cast("double").alias("qty")
    )


_AGG_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _agg_cube(spark, sf):
    o = _t(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"), F.sum(_dec("o_totalprice")).cast("double").alias("total")
    )


_AGG_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def _window_topn_per_group(spark, sf):
    # custkey-bucketed projection: the window partitioning is already
    # satisfied, so the plan is exchange-free (WindowGroupLimit + sort
    # per bucket); raw fallback shuffles 15M rows at sf10 (-35%
    # measured, rows identical)
    o = _t_proj(spark, sf, "orders", "o_custkey")
    if o is None:
        o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice"), "rk")
    )


_WIN_TOPN_SQL = """
SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
"""


def _window_running_sum(spark, sf):
    o = _t_proj(spark, sf, "orders", "o_custkey")
    if o is None:
        o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
    )


_WIN_RUN_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS running_total
FROM orders
"""


def _window_lag_delta(spark, sf):
    o = _t_proj(spark, sf, "orders", "o_custkey")
    if o is None:
        o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag(_dec("o_totalprice")).over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        (_dec("o_totalprice") - F.coalesce(prev, _dec("o_totalprice"))).cast("double").alias("delta_prev"),
    )


_WIN_LAG_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(CAST(o_totalprice AS DECIMAL(18,2)) - COALESCE(
    LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
    CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS delta_prev
FROM orders
"""


def _window_range_frame(spark, sf):
    """RANGE-frame window (value-based, not row-based): per-customer
    trailing-30-day order value. Both engines order by the same
    integer day offset so frame boundaries agree exactly."""
    o = _t_proj(spark, sf, "orders", "o_custkey")
    o = (o if o is not None else _t(spark, sf, "orders")).filter(F.col("o_custkey") < 200)
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    w = Window.partitionBy("o_custkey").orderBy(days).rangeBetween(-30, 0)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum("o_totalprice").over(w).cast("double").alias("trailing_30d"),
    )


_WIN_RANGE_SQL = """
SELECT o_custkey, o_orderkey,
  CAST(SUM(o_totalprice) OVER (
    PARTITION BY o_custkey
    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_30d
FROM orders WHERE o_custkey < 200
"""


def _window_navigation(spark, sf):
    """Navigation window functions (first/last/nth value) over an
    explicit full-partition frame (same frame spelled out in both
    engines so defaults can't diverge)."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") % 50 == 0)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first_value("o_orderkey").over(w).alias("first_ok"),
        F.last_value("o_orderkey").over(w).alias("last_ok"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        F.count("*").over(w).alias("n_orders"),
    )


_WIN_NAV_SQL = """
SELECT o_orderkey, o_custkey,
  FIRST_VALUE(o_orderkey) OVER w AS first_ok,
  LAST_VALUE(o_orderkey) OVER w AS last_ok,
  NTH_VALUE(o_orderkey, 2) OVER w AS second_ok,
  COUNT(*) OVER w AS n_orders
FROM orders WHERE o_orderkey % 50 = 0
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def _sort_topk(spark, sf):
    # sorted-projection route: the maintained top-200k view shares the
    # query's TOTAL order (price DESC, orderkey, linenumber), so its
    # top-100 equals the fact's top-100 exactly — a 200k-row scan
    # instead of a full-fact TakeOrderedAndProject (the last measured
    # kernel-bound >2x query at sf100; raw fallback below)
    proj = _t_proj(spark, sf, "topk_price", "agg")
    li = proj if proj is not None else _t(spark, sf, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber"))
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice"))
        .limit(100)
    )


_SORT_TOPK_SQL = """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100
"""


def _setop_union(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = o.filter(F.col("o_totalprice") > 400000).select("o_custkey")
    return a.union(b).distinct()


_SETOP_UNION_SQL = """
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
UNION
SELECT o_custkey FROM orders WHERE o_totalprice > 400000
"""


def _setop_intersect(spark, sf):
    o = _t(spark, sf, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return a.intersect(b)


_SETOP_INTERSECT_SQL = """
SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


def _setop_except(spark, sf):
    c = _t(spark, sf, "customer").select("c_custkey")
    o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("c_custkey"))
    return c.exceptAll(o.distinct())


_SETOP_EXCEPT_SQL = """
SELECT c_custkey FROM customer
EXCEPT ALL
SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
"""


def _distinct_pairs(spark, sf):
    return _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()


_DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def _explode_embedding(spark, sf):
    e = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 5)
    return e.select("vec_id", F.posexplode("embedding").alias("pos", "x")).select(
        "vec_id", (F.col("pos") + 1).alias("pos"), F.round(F.col("x").cast("double"), 6).alias("x")
    )


_EXPLODE_SQL = """
SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
       ROUND(CAST(unnest(embedding) AS DOUBLE), 6) AS x
FROM embeddings WHERE vec_id < 5
"""


def _string_funcs(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 12)).alias("prefix_upper"),
        F.length("text").alias("len"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_words"),
        F.substring_index("source", "c", -1).alias("src_tail"),
        F.regexp_replace("text", r"[aeiou]", "_").substr(1, 20).alias("devoweled"),
        F.concat_ws("|", "lang", "source").alias("lang_src"),
    )


_STRING_SQL = r"""
SELECT doc_id,
  UPPER(SUBSTRING(text, 1, 12)) AS prefix_upper,
  LENGTH(text) AS len,
  LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_words,
  CASE WHEN POSITION('c' IN source) > 0
       THEN regexp_extract(source, 'c([^c]*)$', 1) ELSE source END AS src_tail,
  SUBSTRING(REGEXP_REPLACE(text, '[aeiou]', '_', 'g'), 1, 20) AS devoweled,
  CONCAT_WS('|', lang, source) AS lang_src
FROM documents
"""


def _date_funcs(spark, sf):
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.dayofweek("ts").alias("dow"),
        )
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )


_DATE_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(dayofweek(ts) + 1 AS INT) AS dow,
       COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def _events_hourly(spark, sf):
    from duckdb_iceberg_spark.streaming.events import hourly_rollup

    # aggregate projection: serve from the maintained hour×type rollup
    # when the layout overlay is active (fallback recomputes — results
    # layout-independent, pinned in tests/test_plan_shapes.py)
    out = _t_proj(spark, sf, "events_hourly", "agg")
    if out is None:
        ev = _t(spark, sf, "events")
        out = hourly_rollup(ev)
    return out.select(
        F.date_format("hour_start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


_EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
"""


def _events_sessionize(spark, sf):
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap = F.when(prev.isNull() | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) > 1_800_000_000), 1).otherwise(0)
    return (
        ev.select("user_id", gap.alias("new_session"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.sum("new_session").alias("n_sessions"))
    )


_EVENTS_SESSION_SQL = """
WITH x AS (
  SELECT user_id,
    CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
           OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events)
SELECT user_id, COUNT(*) AS n_events, CAST(SUM(new_session) AS BIGINT) AS n_sessions FROM x GROUP BY user_id
"""


def _events_json(spark, sf):
    ev = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"), F.sum(_dec("value")).cast("double").alias("sum_value"))
    )


_EVENTS_JSON_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


def _events_unpivot(spark, sf):
    """UNPIVOT/melt: wide per-user event counts back to long form."""
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return (
        wide.unpivot("user_id", types, "event_type", "n")
        .filter(F.col("n") > 0)
        .orderBy("user_id", "event_type")
    )


_EVENTS_UNPIVOT_SQL = """
WITH wide AS (
  SELECT user_id,
    COUNT(*) FILTER (event_type = 'click') AS click,
    COUNT(*) FILTER (event_type = 'error') AS error,
    COUNT(*) FILTER (event_type = 'purchase') AS purchase,
    COUNT(*) FILTER (event_type = 'signup') AS signup,
    COUNT(*) FILTER (event_type = 'view') AS view
  FROM events GROUP BY user_id)
SELECT user_id, event_type, n FROM (
  UNPIVOT wide ON click, error, purchase, signup, view
  INTO NAME event_type VALUE n)
WHERE n > 0 ORDER BY user_id, event_type
"""


def _events_pivot(spark, sf):
    ev = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .select("user_id", *[F.col(t).alias(f"n_{t}") for t in types])
    )


_EVENTS_PIVOT_SQL = """
SELECT user_id,
  COUNT(*) FILTER (event_type = 'click') AS n_click,
  COUNT(*) FILTER (event_type = 'error') AS n_error,
  COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
  COUNT(*) FILTER (event_type = 'signup') AS n_signup,
  COUNT(*) FILTER (event_type = 'view') AS n_view
FROM events GROUP BY user_id
"""


def _csv_roundtrip(spark, sf):
    """CSV sink + source (§2B 'scan: csv golden files'): write an agg
    to CSV via executors, read it back with an explicit schema."""
    import tempfile

    out = (
        _t(spark, sf, "nation")
        .groupBy("n_regionkey")
        .agg(F.count("*").alias("n_nations"))
    )
    d = tempfile.mkdtemp(prefix="csv_rt_") + "/out"
    out.write.mode("overwrite").option("header", True).csv(d)
    return spark.read.schema("n_regionkey int, n_nations long").option("header", True).csv(d)


_CSV_RT_SQL = "SELECT n_regionkey, COUNT(*) AS n_nations FROM nation GROUP BY 1"


def _orc_roundtrip(spark, sf):
    """ORC sink + source (columnar alternative to parquet; Spark
    native). Executors write/read; only the path crosses the driver."""
    import tempfile

    out = (
        _t(spark, sf, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"), F.sum(_dec("s_acctbal")).cast("double").alias("total_bal"))
    )
    d = tempfile.mkdtemp(prefix="orc_rt_") + "/out"
    out.write.mode("overwrite").orc(d)
    return spark.read.schema("s_nationkey int, n_supp long, total_bal double").orc(d)


_ORC_RT_SQL = """
SELECT s_nationkey, COUNT(*) AS n_supp, CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM supplier GROUP BY 1
"""


def _avro_roundtrip(spark, sf):
    """Avro sink + source via the engine's own pure-Python Avro layer
    (the same codec that reads/writes Iceberg manifests — reference
    reads manifests with avro-cpp, src/common/iceberg.cpp:38-91).
    Driver-size data only: Avro's role in this engine is KB-scale
    metadata, not bulk rows."""
    import tempfile

    from duckdb_iceberg_spark.plans.avro import read_avro_file, write_avro_file

    rows = (
        _t(spark, sf, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
        .collect()
    )
    schema = {
        "type": "record",
        "name": "region",
        "fields": [
            {"name": "r_regionkey", "type": "int"},
            {"name": "r_name", "type": "string"},
        ],
    }
    path = tempfile.mkdtemp(prefix="avro_rt_") + "/region.avro"
    write_avro_file(path, schema, [r.asDict() for r in rows])
    _, records = read_avro_file(path)
    return _local_df(
        spark,
        [(r["r_regionkey"], r["r_name"]) for r in records],
        "r_regionkey int, r_name string",
    )


_AVRO_RT_SQL = "SELECT r_regionkey, r_name FROM region"


def _json_roundtrip(spark, sf):
    """JSON-lines sink + source with nested struct columns."""
    import tempfile

    out = _t(spark, sf, "region").select(
        "r_regionkey", F.struct(F.col("r_name").alias("name"), F.length("r_name").alias("len")).alias("info")
    )
    d = tempfile.mkdtemp(prefix="json_rt_") + "/out"
    out.write.mode("overwrite").json(d)
    back = spark.read.schema("r_regionkey int, info struct<name:string,len:int>").json(d)
    return back.select("r_regionkey", F.col("info.name").alias("name"), F.col("info.len").alias("len"))


_JSON_RT_SQL = "SELECT r_regionkey, r_name AS name, CAST(LENGTH(r_name) AS INT) AS len FROM region"


def _asof_join_events(spark, sf):
    """As-of join (most recent purchase at or before each view) —
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from duckdb_iceberg_spark.operators.asof import asof_join

    # type-partitioned log when the overlay maintains it (the funnel
    # routing): each side's event_type predicate becomes partition
    # pruning — 1 of N type dirs per side instead of the full log
    # twice — while the user_id bucketing keeps the as-of co-located
    ev = _t_proj(spark, sf, "events", "by_type") or _t(spark, sf, "events")
    left = ev.filter("event_type = 'view'").select("user_id", "ts", "event_id")
    right = ev.filter("event_type = 'purchase'").select("user_id", "ts", F.col("value").alias("pv"))
    return asof_join(left, right, key="user_id", ts="ts").select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        "event_id",
        F.round("pv_r", 2).alias("pv"),
        F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("t_matched"),
    )


_ASOF_SQL = """
WITH l AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
     r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS t, l.event_id,
       ROUND(r.value, 2) AS pv, strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS t_matched
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _range_join_events(spark, sf):
    """Bucketized interval join (clicks within 2h of a signup) —
    oracle is DuckDB's native inequality join."""
    from duckdb_iceberg_spark.operators.ranges import range_join_points_to_intervals

    # same type-partition pruning as asof/funnel: click + signup are
    # two pruned dirs, user_id bucketing keeps the key join co-located
    ev = _t_proj(spark, sf, "events", "by_type") or _t(spark, sf, "events")
    points = ev.filter("event_type = 'click'").select("user_id", "ts", "event_id")
    intervals = ev.filter("event_type = 'signup'").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    # granularity=None: user_id is selective (~100 events/user) and the
    # bucketed overlay co-locates it -> shuffle-free key join with the
    # range predicate as post-filter (sf10 1.56 -> 0.71 s)
    return range_join_points_to_intervals(
        points, intervals, "ts", "start_ts", "end_ts", key="user_id", granularity=None
    ).select("user_id", "event_id", F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("s"))


_RANGE_JOIN_SQL = """
WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
     i AS (SELECT user_id, ts AS start_ts, ts + INTERVAL 2 HOUR AS end_ts
           FROM events WHERE event_type = 'signup')
SELECT p.user_id, p.event_id, strftime(i.start_ts, '%Y-%m-%d %H:%M:%S') AS s
FROM p JOIN i ON p.user_id = i.user_id AND i.start_ts <= p.ts AND p.ts < i.end_ts
"""


def _resample_events(spark, sf):
    """Fixed-grid resampling with last-observation-carried-forward
    gap fill: per user, hourly buckets densified over the user's span
    (JVM sequence+explode, no driver loop), one window per key."""
    from duckdb_iceberg_spark.operators.timeseries import resample

    ev = _t(spark, sf, "events").filter(F.col("user_id") < 50)
    r = resample(ev, key="user_id", ts="ts", value="value", interval_sec=3600, tiebreak="event_id")
    return r.select(
        "user_id",
        F.col("bucket_ts").cast("long").alias("bucket_s"),
        F.round("value", 4).alias("value"),
        "is_gap",
    )


_RESAMPLE_SQL = """
WITH src AS (
  SELECT user_id, CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS b, ts, event_id,
         CAST(value AS DOUBLE) AS v
  FROM events WHERE user_id < 50),
pb AS (
  SELECT user_id, b, v FROM src
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, b ORDER BY ts DESC, event_id DESC) = 1),
spans AS (SELECT user_id, MIN(b) AS b0, MAX(b) AS b1 FROM pb GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(b0, b1, 3600)) AS b FROM spans)
SELECT g.user_id, g.b AS bucket_s,
  ROUND(last_value(pb.v IGNORE NULLS) OVER (
    PARTITION BY g.user_id ORDER BY g.b
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS value,
  pb.v IS NULL AS is_gap
FROM grid g LEFT JOIN pb ON g.user_id = pb.user_id AND g.b = pb.b
"""


def _ewma_events(spark, sf):
    """Per-user EWMA as an exact fixed-point recurrence (see
    operators.timeseries.ewma_fixed_point): inputs are non-negative
    2-decimal values, so every recurrence step is integer micro-unit
    arithmetic with round-half-up — no floating-point recurrence, no
    tie-break epsilon on either engine. The DuckDB twin replays the
    identical integer recurrence with a recursive CTE (depth = max
    rows per user, ~100 in the fixtures at every SF — users scale,
    per-user depth doesn't). (user_id, ts) is unique in the fixtures,
    so per-user order is deterministic on both sides."""
    from duckdb_iceberg_spark.operators.timeseries import ewma_fixed_point

    ev = _t(spark, sf, "events")
    out = ewma_fixed_point(ev, key="user_id", ts="ts", value="value")
    return out.selectExpr(
        "user_id",
        "date_format(ts, 'yyyy-MM-dd HH:mm:ss') AS t",
        "round(value, 2) AS value",
        "ewma",
    )


_EWMA_SQL = r"""
WITH RECURSIVE src AS (
  SELECT user_id, ts, value,
         CAST(ROUND(value * 100) AS BIGINT) * 10000 AS xm,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS rn
  FROM events),
r AS (
  SELECT user_id, ts, value, rn, xm AS m FROM src WHERE rn = 1
  UNION ALL
  SELECT s.user_id, s.ts, s.value, s.rn, (7 * r.m + 3 * s.xm + 5) // 10 AS m
  FROM r JOIN src s ON s.user_id = r.user_id AND s.rn = r.rn + 1)
SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
  ROUND(value, 2) AS value,
  ((m + 50) // 100) / 10000.0 AS ewma
FROM r
"""


def _case_bucketing(spark, sf):
    o = _t(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "medium")
        .otherwise("large")
    )
    return o.groupBy(bucket.alias("bucket"), "o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total"),
    )


_CASE_SQL = """
SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
            WHEN o_totalprice < 300000 THEN 'medium' ELSE 'large' END AS bucket,
       o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders GROUP BY 1, 2
"""


def _q4_priority_exists(spark, sf):
    """Order-priority counts where a late lineitem EXISTS (Q4 shape:
    correlated EXISTS with an inequality)."""
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem")
    late = li.join(o, li.l_orderkey == o.o_orderkey).where(F.col("l_shipdate") > F.col("o_orderdate")).select("l_orderkey").distinct()
    return (
        o.join(late, o.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey AND l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def _q12_shipmode_counts(spark, sf):
    """Conditional counts across a join (Q12 shape: CASE aggregation
    bucketed by a derived attribute)."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf, "orders")
    high = F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy((F.col("l_linenumber") % 3).alias("mode_bucket"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(1 - high).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_linenumber % 3 AS mode_bucket,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""


def _q7_volume_shipping(spark, sf):
    """Bi-nation trade volume by year (TPC-H Q7 shape: two aliased
    dimension joins + CASE-free year grouping)."""
    n = _t(spark, sf, "nation")
    n1 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    s = _t(spark, sf, "supplier")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    pairs = (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2") | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nk)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nk)
        .filter(pairs)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum((_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")).cast("double").alias("revenue"))
    )


_Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def _q8_market_share(spark, sf):
    """Market share: conditional-aggregate ratio per year (Q8 shape)."""
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    p = _t(spark, sf, "part").filter(F.col("p_type") == "ECONOMY")
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    vol = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_3", vol).otherwise(F.lit(0))).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


_Q8_SQL = """
SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year,
  ROUND(CAST(SUM(CASE WHEN n_name = 'NATION_3'
           THEN ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) ELSE 0 END) AS DOUBLE)
      / CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE), 6) AS mkt_share
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'ECONOMY'
GROUP BY 1
"""


def _q9_profit_by_nation(spark, sf):
    """Profit by supplier nation and year, parts filtered by LIKE (Q9 shape)."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year"))
        .agg(F.sum((_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")).cast("double").alias("sum_profit"))
    )


_Q9_SQL = """
SELECT n_name AS nation, CAST(YEAR(l_shipdate) AS BIGINT) AS o_year,
  CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS sum_profit
FROM lineitem JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def _q14_promo_revenue(spark, sf):
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part")
    vol = (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0))).cast("double")
            / F.sum(vol).cast("double"),
            6,
        ).alias("promo_revenue")
    )


_Q14_SQL = """
SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
    THEN ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) ELSE 0 END) AS DOUBLE)
  / CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE), 6) AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
"""


def _q15_top_supplier(spark, sf):
    """Supplier(s) with maximum revenue — scalar subquery over an
    aggregated view (Q15 shape)."""
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")).cast("double").alias("total_revenue")
    )
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.m)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey,
    CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS total_revenue
  FROM lineitem GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = l_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def _q17_small_quantity(spark, sf):
    """Revenue from below-average-quantity lineitems of one brand —
    correlated scalar AVG per part (Q17 shape), expressed as a
    broadcast join against the per-part aggregate."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(F.col("p_brand") == "Brand#1")
    # scale note: the per-part AVG is only needed for the brand's parts,
    # so semi-join BEFORE aggregating — shrinks the agg input ~25x
    brand_li = li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
    avg_qty = brand_li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        brand_li.join(F.broadcast(avg_qty), brand_li.l_partkey == avg_qty.ap_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.sum(_dec("l_extendedprice")).cast("double").alias("small_qty_revenue"))
    )


_Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue
FROM lineitem l JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (SELECT 0.5 * AVG(l_quantity) FROM lineitem WHERE l_partkey = l.l_partkey)
"""


def _q18_large_orders(spark, sf):
    """Orders whose lineitem quantity sum exceeds a threshold (Q18
    shape: IN-subquery on GROUP BY ... HAVING)."""
    c = _t(spark, sf, "customer")
    sp = _t_spine(spark, sf)
    if sp is not None:
        # spine projection path: the orders attributes ride along with
        # the quantity aggregate (o_custkey/o_orderdate are functionally
        # dependent on the bucket key, so max() just carries them) — the
        # orders scan and its join disappear; the aggregate itself is
        # exchange-free on the bucketed key.
        big = (
            sp.groupBy("l_orderkey")
            .agg(
                F.expr(
                    "cast(sum(qty_cents) as double) / 100.0D AS total_qty"
                ),
                F.expr("max(o_custkey) AS o_custkey"),
                F.expr("max(o_orderdate) AS o_od"),
            )
            .filter(F.col("total_qty") > 150)
        )
        return (
            big.join(c, big.o_custkey == c.c_custkey)
            .selectExpr(
                "c_custkey",
                "c_name",
                "l_orderkey AS o_orderkey",
                "date_format(o_od, 'yyyy-MM-dd') AS o_orderdate",
                "total_qty",
            )
            .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
            .limit(50)
        )
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    # one pass over lineitem: aggregate once, filter the aggregate
    # exact-cents policy (module doc): 2-decimal quantity sums as long
    # cents — exact, order-independent, ~25% cheaper than decimal(18,2)
    # aggregation over the 60M-row bucketed scan at sf10
    big = (
        li.groupBy(F.col("l_orderkey").alias("lk"))
        .agg((F.sum(F.round(F.col("l_quantity") * 100).cast("long")).cast("double") / F.lit(100.0)).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == F.col("lk"))
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"), "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(50)
    )


_Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
GROUP BY 1, 2, 3, 4
ORDER BY total_qty DESC, o_orderkey LIMIT 50
"""


def _q19_disjunctive(spark, sf):
    """OR-of-ANDs predicate pushdown across a join (Q19 shape)."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part")
    cond = (
        "(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10"
        " AND l_quantity BETWEEN 1 AND 20)"
        " OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20"
        " AND l_quantity BETWEEN 10 AND 30)"
        " OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30"
        " AND l_quantity BETWEEN 20 AND 40)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.expr(
                "cast(sum(cast(cast(l_extendedprice as decimal(18,2))"
                " * (1 - cast(l_discount as decimal(18,2)))"
                " as decimal(18,2))) as double) AS revenue"
            )
        )
    )


_Q19_SQL = """
SELECT CAST(SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 40)
"""


def _q22_inactive_customers(spark, sf):
    """Rich customers with no orders (Q22 shape: scalar subquery + NOT
    EXISTS anti join)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("ab"))
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntry"))
        .agg(F.count("*").alias("numcust"), F.sum(_dec("c_acctbal")).cast("double").alias("totacctbal"))
    )


_Q22_SQL = """
SELECT c_nationkey AS cntry, COUNT(*) AS numcust, CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""


def _q2_min_cost_supplier(spark, sf):
    """Min-cost supplier per part (Q2 shape: correlated MIN subquery).

    The testdata has no partsupp table, so the part-supplier cost
    relation is derived from lineitem (min unit price per
    partkey/suppkey pair). The correlated `cost = (SELECT MIN(cost)
    ... WHERE same part)` is decorrelated into a single window MIN
    partitioned by part — one shuffle, no per-row subquery, and the
    same partitioning serves both the aggregate and the filter (scales
    to 100 TB where a re-scanning correlated subquery would not).
    Reference exercises the host engine for such shapes (SURVEY §2B).
    """
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter((F.col("p_size") <= 15) & (F.col("p_type") == "ECONOMY"))
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    # the partkey-bucketed lineitem projection carries exactly the
    # four columns this query touches; bucketing on l_partkey
    # satisfies BOTH the (l_partkey, l_suppkey) grouping and the
    # per-part window clustering, so the whole decorrelated min
    # compiles with ZERO data exchanges (the orderkey-bucketed base
    # table needs two: group shuffle + window repartition)
    pli = _t_proj(spark, sf, "lineitem", "l_partkey")
    if pli is not None and {"l_suppkey", "l_quantity", "l_extendedprice"} <= set(pli.columns):
        li = pli
    # per-part min is unaffected by which parts qualify, so the
    # selective part predicate is applied FIRST (broadcast semi join)
    # and only qualifying parts' lineitems are aggregated; the part
    # table never re-joins (its only needed column is the key itself).
    li_q = li.join(
        F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"), "left_semi"
    )
    # expression lists as SQL strings — one parse round trip each
    # (§7.3 driver latency), identical trees
    ps = li_q.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("min(l_extendedprice / l_quantity) AS cost")
    )
    best = ps.selectExpr(
        "*", "min(cost) OVER (PARTITION BY l_partkey) AS min_cost"
    ).filter("cost = min_cost")
    return (
        best.join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .selectExpr(
            "round(s_acctbal, 2) AS s_acctbal",
            "s_name",
            "n_name",
            "l_partkey AS p_partkey",
            "round(cost, 4) AS cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


_Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
  FROM lineitem GROUP BY 1, 2)
SELECT ROUND(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey, ROUND(cost, 4) AS cost
FROM ps
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_size <= 15 AND p_type = 'ECONOMY'
  AND cost = (SELECT MIN(cost) FROM ps ps2 WHERE ps2.l_partkey = ps.l_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def _q11_important_suppliers(spark, sf):
    """Suppliers with above-average revenue share (Q11 shape:
    GROUP BY ... HAVING > scalar subquery over the same aggregate).

    One pass over lineitem builds the per-supplier aggregate; the
    scalar threshold is a broadcast of a 1-row re-aggregation of that
    SAME result (no second lineitem scan — at 100 TB the fact table is
    read exactly once)."""
    li = _t(spark, sf, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum((_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount"))).cast("decimal(18,2)")).alias("dval")
    )
    # threshold derived from the EXACT decimal sum, so the double cutoff
    # is bit-identical across engines regardless of accumulation order
    thresh = per_supp.agg((F.sum("dval").cast("double") * F.lit(1.05) / F.count("*")).alias("cutoff"))
    return (
        per_supp.join(F.broadcast(thresh))
        .filter(F.col("dval").cast("double") > F.col("cutoff"))
        .select("l_suppkey", F.col("dval").cast("double").alias("value"))
        .orderBy(F.desc("value"), "l_suppkey")
    )


_Q11_SQL = """
WITH per_supp AS (
  SELECT l_suppkey,
    SUM(ROUND(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2)) AS dval
  FROM lineitem GROUP BY l_suppkey)
SELECT l_suppkey, CAST(dval AS DOUBLE) AS value FROM per_supp
WHERE CAST(dval AS DOUBLE) > (SELECT CAST(SUM(dval) AS DOUBLE) * 1.05 / COUNT(*) FROM per_supp)
ORDER BY value DESC, l_suppkey
"""


def _q20_top_shippers(spark, sf):
    """Suppliers who shipped a large quantity of a part family in a
    year (Q20 shape: nested IN subqueries -> semi joins).

    Inner IN (part filter) is a broadcast semi join; outer IN
    (HAVING'd aggregate) is a shuffle semi join on the already-tiny
    qualifying-supplier set."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = _t(spark, sf, "part").filter(F.col("p_name").startswith("small")).select("p_partkey")
    s = _t(spark, sf, "supplier")
    qual = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return (
        s.join(qual, s.s_suppkey == qual.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q20_SQL = """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 50)
ORDER BY s_suppkey
"""


def _q21_waiting_suppliers(spark, sf):
    """Suppliers who were the sole late shipper on multi-supplier
    finished orders (Q21 shape: EXISTS + NOT EXISTS on the same fact
    table).

    The testdata lacks l_commitdate/l_receiptdate, so "late" is
    l_shipdate > o_orderdate + 60 days. Both correlated EXISTS
    subqueries decorrelate into ONE per-order aggregate (distinct
    suppliers / distinct late suppliers) — lineitem+orders are joined
    once and re-aggregated, instead of the naive triple self-join.
    """
    s = _t(spark, sf, "supplier")
    n = _t(spark, sf, "nation")
    # lineitem |><| orders(F) is scanned and joined ONCE: aggregate to
    # the (order, supplier) grain, then a SECOND per-order hash
    # aggregate answers both EXISTS branches (supplier count / late-
    # supplier count) — because the qualifying orders have EXACTLY one
    # late supplier, max(when(late, ...)) recovers that supplier and
    # its row count inside the same aggregate, so no window and no
    # join-back. Both aggregates are exchange-free on the orderkey-
    # bucketed layout (partitioning on l_orderkey satisfies both
    # grouping clusterings); the former Window needed a full sort of
    # the (order, supplier) grain that this shape skips entirely.
    # (A collect_list + higher-order-function variant was measured and
    # lost: hash aggregation beats ObjectHashAggregate here.)
    sp = _t_spine(spark, sf)
    # o_orderstatus only exists on v3+ spine tables: guard like the v6
    # tokens-projection fp/source guards so a stale pre-v3 table in a
    # persistent catalog falls back to the base-table path instead of
    # raising AnalysisException (r11 ADVICE).
    # aggregate expressions as SQL strings — one parse round trip each
    # (§7.3 driver latency), identical trees
    late_sum = F.expr(
        "sum(cast(l_shipdate > o_orderdate + INTERVAL 60 DAYS as long))"
        " AS late_rows"
    )
    if sp is not None and "o_orderstatus" in sp.columns:
        # spine projection path: li⋈o is pre-joined at ingest (v3
        # carries o_orderstatus), so the whole EXISTS machinery is a
        # 4-column scan + the same two exchange-free hash aggregates —
        # the query-time SortMergeJoin disappears. Filtering the spine
        # on o_orderstatus = the orders-side filter commuted through
        # the inner join; row set identical by the same referential-
        # integrity contract q10/q18's spine routes already rely on.
        grp = (
            sp.filter(F.col("o_orderstatus") == "F")
            .groupBy("l_orderkey", "l_suppkey")
            .agg(late_sum)
        )
    else:
        li = _t(spark, sf, "lineitem")
        o = _t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
        grp = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_orderkey", "l_suppkey")
            .agg(late_sum)
        )
    per_order = (
        grp.groupBy("l_orderkey")
        .agg(
            F.expr("count(*) AS nsupp"),
            F.expr("sum(cast(late_rows > 0 as long)) AS nlate"),
            F.expr(
                "max(case when late_rows > 0 then l_suppkey end) AS suppkey"
            ),
            F.expr(
                "max(case when late_rows > 0 then late_rows end) AS late_rows"
            ),
        )
        .filter((F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .select("suppkey", "late_rows")
    )
    return (
        per_order.join(F.broadcast(s), per_order.suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("s_name")
        .agg(F.expr("sum(late_rows) AS numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


_Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
  AND s_nationkey = n_nationkey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def _q13_order_count_distribution(spark, sf):
    """Customer-order-count distribution (Q13 shape: outer join ->
    double aggregation)."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


_Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey)
GROUP BY c_count
"""


def _q16_supplier_cnt(spark, sf):
    """Distinct-supplier counts per (brand, size) excluding a NOT-IN
    set (Q16 shape)."""
    li = _t(spark, sf, "lineitem")
    p = _t(spark, sf, "part").filter(~F.col("p_brand").isin("Brand#1", "Brand#2"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand NOT IN ('Brand#1', 'Brand#2')
GROUP BY p_brand, p_size
"""


def _corr_max_per_order(spark, sf):
    """Rows equal to their group maximum — correlated-scalar-subquery
    shape, planned as an aggregate + join-back."""
    li = _t(spark, sf, "lineitem")
    mx = li.groupBy(F.col("l_orderkey").alias("mk")).agg(F.max("l_extendedprice").alias("mprice"))
    return (
        li.join(mx, (li.l_orderkey == mx.mk) & (li.l_extendedprice == mx.mprice))
        .select("l_orderkey", "l_linenumber", F.round("l_extendedprice", 2).alias("l_extendedprice"))
    )


_CORR_MAX_SQL = """
SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS l_extendedprice
FROM lineitem l
WHERE l_extendedprice = (SELECT MAX(l_extendedprice) FROM lineitem WHERE l_orderkey = l.l_orderkey)
"""


def _scalar_subquery_avg(spark, sf):
    s = _t(spark, sf, "supplier")
    avg_bal = s.agg(F.avg("s_acctbal").alias("ab"))
    return (
        s.join(F.broadcast(avg_bal))
        .filter(F.col("s_acctbal") > F.col("ab"))
        .select("s_suppkey", F.round("s_acctbal", 2).alias("s_acctbal"))
    )


_SCALAR_SUBQ_SQL = """
SELECT s_suppkey, ROUND(s_acctbal, 2) AS s_acctbal FROM supplier
WHERE s_acctbal > (SELECT AVG(s_acctbal) FROM supplier)
"""


def _agg_stats(spark, sf):
    # aggregate projection: recombine the day-grain moment partials
    # when the layout maintains them. The numerators n·Σx²−(Σx)² are
    # computed in decimal(38,0) — EXACT, no floating cancellation —
    # then each statistic pays one int→double rounding, identical in
    # both engines from the same exact integer (ROUND-4 verified
    # bit-equal vs DuckDB's streaming kernels at sf0.1/sf10).
    proj = _t_proj(spark, sf, "moments", "agg")
    if proj is not None:
        # SQL-string projections (one parse round trip each — §7.3
        # driver latency); trees identical to the builder forms: same
        # decimal(38,0) exact numerators, D-suffixed double literals,
        # same left-associated AND chain.
        d38 = "decimal(38,0)"
        s = proj.groupBy("l_returnflag").agg(
            F.expr(f"cast(sum(n) as {d38}) AS n"),
            F.expr(f"cast(sum(sq) as {d38}) AS sq"),
            F.expr("sum(sqq) AS sqq"),
            F.expr(f"cast(sum(sp) as {d38}) AS sp"),
            F.expr("sum(spp) AS spp"),
            F.expr("sum(sqp) AS sqp"),
            F.expr("cast(sum(sdisc) as double) AS sdisc"),
            F.expr("cast(sum(n) as double) AS nd"),
        )
        numq = "cast(n * sqq - sq * sq as double)"
        nump2 = "cast(n * spp - sp * sp as double)"
        nump = "cast(n * sqp - sq * sp as double)"
        # sample statistics of a single row are NULL (stddev_samp
        # semantics) — double division by the zero denominator would
        # yield NaN, which the oracle's NULL canon rejects; corr is
        # NULL for single rows and zero-variance columns (0/0 would
        # be NaN; SQL aggregates yield NULL there)
        den1 = "case when n > 1 then cast(n * (n - 1) as double) end"
        den2 = "cast(n * n as double)"
        return s.selectExpr(
            "l_returnflag",
            f"round(sqrt({numq} / ({den1})) / 100.0D, 4) AS sd_qty",
            f"round({numq} / {den2} / 10000.0D, 4) AS var_qty",
            f"round(case when n > 1 and {numq} > 0 and {nump2} > 0 then "
            f"{nump} / sqrt({numq}) / sqrt({nump2}) end, 4) + 0.0D "
            "AS corr_qty_price",
            f"round({nump} / ({den1}) / 10000.0D, 2) + 0.0D "
            "AS covar_qty_price",
            "round(sdisc / nd / 100.0D, 6) AS avg_disc",
        )
    li = _t(spark, sf, "lineitem")
    # + 0.0 normalizes IEEE negative zero: at sf100 the near-zero
    # correlation rounds to -0.0 in one engine and +0.0 in the other —
    # same value, different canonical string. (-0.0 + 0.0 == +0.0
    # under round-to-nearest; NULL propagates unchanged.)
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        F.round(F.var_pop("l_quantity"), 4).alias("var_qty"),
        (F.round(F.corr("l_quantity", "l_extendedprice"), 4) + F.lit(0.0)).alias("corr_qty_price"),
        (F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2) + F.lit(0.0)).alias("covar_qty_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


_AGG_STATS_SQL = """
SELECT l_returnflag,
  ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
  ROUND(VAR_POP(l_quantity), 4) AS var_qty,
  ROUND(CORR(l_quantity, l_extendedprice), 4) + 0.0 AS corr_qty_price,
  ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) + 0.0 AS covar_qty_price,
  ROUND(AVG(l_discount), 6) AS avg_disc
FROM lineitem GROUP BY l_returnflag
"""


def _agg_grouping_sets(spark, sf):
    _t(spark, sf, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
        """
    )


_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), (o_orderstatus, o_orderpriority))
"""


def _array_funcs(spark, sf):
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 200)
    arr = F.sort_array(F.collect_list("l_linenumber"))
    return (
        li.groupBy("l_orderkey")
        .agg(arr.alias("lines"))
        .select(
            "l_orderkey",
            F.concat_ws(",", F.col("lines").cast("array<string>")).alias("lines_csv"),
            F.size("lines").alias("n_lines"),
            F.element_at("lines", 1).alias("first_line"),
            F.element_at("lines", -1).alias("last_line"),
        )
    )


_ARRAY_SQL = """
WITH g AS (SELECT l_orderkey, list_sort(list(l_linenumber)) AS lines
           FROM lineitem WHERE l_orderkey < 200 GROUP BY l_orderkey)
SELECT l_orderkey, array_to_string(lines, ',') AS lines_csv,
       CAST(LEN(lines) AS INT) AS n_lines, lines[1] AS first_line, lines[-1] AS last_line
FROM g
"""


def _udtf_chunks(spark, sf):
    """Document chunking via a registered Python UDTF in a LATERAL
    join (Spark 4 table-function API; row-at-a-time by design — see
    chunk_text_udtf docstring; `text_chunks` is the JVM fast path)."""
    spark.udtf.register("chunk_text", TX.chunk_text_udtf(10))
    _t(spark, sf, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql(
        "SELECT d.doc_id, c.chunk_no, c.chunk FROM docs_udtf d, LATERAL chunk_text(d.text) c"
    ).filter(F.col("chunk") != "")


def _text_chunks(spark, sf):
    """Same chunking on the JVM fast path: token-array slice +
    posexplode, no Python in the plan."""
    d = _t(spark, sf, "documents")
    return (
        d.select("doc_id", F.explode(TX.chunk_text_builtin(F.col("text"), 10)).alias("c"))
        .select("doc_id", F.col("c.chunk_no").alias("chunk_no"), F.col("c.chunk").alias("chunk"))
        .filter(F.col("chunk") != "")
    )


_CHUNKS_SQL = r"""
SELECT doc_id, CAST(i AS INT) AS chunk_no,
  array_to_string(arr[(i-1)*10+1 : i*10], ' ') AS chunk
FROM (SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS arr
      FROM documents),
     UNNEST(generate_series(1, GREATEST(CAST(CEIL(LEN(arr) / 10.0) AS BIGINT), 1))) AS u(i)
WHERE array_to_string(arr[(i-1)*10+1 : i*10], ' ') <> ''
"""


def _bitwise_funcs(spark, sf):
    """Bitwise scalar surface: and/or/xor/not, shifts, popcount."""
    l = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
    a = F.col("l_orderkey").cast("long")
    b = F.col("l_partkey").cast("long")
    return l.select(
        "l_orderkey",
        "l_linenumber",
        a.bitwiseAND(b).alias("band"),
        a.bitwiseOR(b).alias("bor"),
        a.bitwiseXOR(b).alias("bxor"),
        F.bitwise_not(a).alias("bnot"),
        F.shiftleft(a, 3).alias("shl"),
        F.shiftright(a, 2).alias("shr"),
        F.bit_count(a).alias("bc"),
    )


_BITWISE_SQL = """
SELECT l_orderkey, l_linenumber,
  CAST(l_orderkey AS BIGINT) & CAST(l_partkey AS BIGINT) AS band,
  CAST(l_orderkey AS BIGINT) | CAST(l_partkey AS BIGINT) AS bor,
  xor(CAST(l_orderkey AS BIGINT), CAST(l_partkey AS BIGINT)) AS bxor,
  ~CAST(l_orderkey AS BIGINT) AS bnot,
  CAST(l_orderkey AS BIGINT) << 3 AS shl,
  CAST(l_orderkey AS BIGINT) >> 2 AS shr,
  CAST(bit_count(CAST(l_orderkey AS BIGINT)) AS INT) AS bc
FROM lineitem WHERE l_orderkey < 1000
"""


def _math_funcs(spark, sf):
    """Scalar math surface (§2B scalar rows): all JVM-side, all
    deterministic across engines (results floor-quantized where the
    engines' float printing could diverge)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    q = F.col("l_quantity")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(q - 25).alias("abs_d"),
        F.floor(F.sqrt(q) * 1000).alias("sqrt_q"),
        F.floor(F.ln(q + 1) * 1000).alias("ln_q"),
        F.floor(F.log10(q + 1) * 1000).alias("log10_q"),
        F.floor(F.pow(q, 2)).cast("long").alias("q_sq"),
        F.floor(F.exp(q / 50.0) * 1000).alias("exp_q"),
        F.signum(q - 25).cast("int").alias("sign_d"),
        F.greatest(q, F.col("l_discount") * 100).alias("gr"),
        F.least(q, F.col("l_tax") * 100).alias("ls"),
        F.pmod(F.col("l_partkey"), F.lit(7)).alias("pk_mod"),
        F.round(q / 7.0, 3).alias("q_div"),
    )


_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
  ABS(l_quantity - 25) AS abs_d,
  CAST(FLOOR(SQRT(l_quantity) * 1000) AS BIGINT) AS sqrt_q,
  CAST(FLOOR(LN(l_quantity + 1) * 1000) AS BIGINT) AS ln_q,
  CAST(FLOOR(LOG10(l_quantity + 1) * 1000) AS BIGINT) AS log10_q,
  CAST(FLOOR(POW(l_quantity, 2)) AS BIGINT) AS q_sq,
  CAST(FLOOR(EXP(l_quantity / 50.0) * 1000) AS BIGINT) AS exp_q,
  CAST(SIGN(l_quantity - 25) AS INT) AS sign_d,
  GREATEST(l_quantity, l_discount * 100) AS gr,
  LEAST(l_quantity, l_tax * 100) AS ls,
  l_partkey % 7 AS pk_mod,
  ROUND(l_quantity / 7.0, 3) AS q_div
FROM lineitem WHERE l_orderkey % 100 = 0
"""


def _map_funcs(spark, sf):
    """Map construction + access (§2B complex types beyond list/struct)."""
    n = _t(spark, sf, "nation")
    m = F.create_map(F.lit("key"), F.col("n_nationkey").cast("string"), F.lit("name"), F.col("n_name"))
    return n.select(
        "n_nationkey",
        F.element_at(m, "name").alias("mname"),
        # join to a scalar string: array-typed output columns crash the
        # driver's pandas canonicalizer (unhashable list) — policy is
        # scalar columns only in every entry.
        F.concat_ws(",", F.map_keys(m)).alias("ks"),
        F.size(F.map_values(m)).alias("nvals"),
        F.element_at(F.map_from_arrays(F.array(F.lit("r")), F.array(F.col("n_regionkey"))), "r").alias("rk"),
    )


_MAP_SQL = """
SELECT n_nationkey,
  MAP(['key','name'], [CAST(n_nationkey AS VARCHAR), n_name])['name'][1] AS mname,
  array_to_string(map_keys(MAP(['key','name'], [CAST(n_nationkey AS VARCHAR), n_name])), ',') AS ks,
  CAST(LEN(map_values(MAP(['key','name'], [CAST(n_nationkey AS VARCHAR), n_name]))) AS INT) AS nvals,
  MAP(['r'], [n_regionkey])['r'][1] AS rk
FROM nation
"""


def _string_funcs2(spark, sf):
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.translate("source", "abc", "xyz").alias("src_tr"),
        F.reverse("lang").alias("lang_rev"),
        F.instr("text", "the").alias("pos_the"),
        F.levenshtein("lang", "source").alias("lev"),
        F.repeat("lang", 2).alias("lang2"),
        F.left("text", F.lit(5)).alias("l5"),
        F.ascii("lang").alias("a0"),
    )


_STRING2_SQL = """
SELECT doc_id,
  LPAD(lang, 5, '_') AS lang_pad,
  TRANSLATE(source, 'abc', 'xyz') AS src_tr,
  REVERSE(lang) AS lang_rev,
  CAST(STRPOS(text, 'the') AS INT) AS pos_the,
  CAST(LEVENSHTEIN(lang, source) AS INT) AS lev,
  REPEAT(lang, 2) AS lang2,
  LEFT(text, 5) AS l5,
  CAST(ASCII(lang) AS INT) AS a0
FROM documents
"""



# Re-export EVERYTHING (including underscore names) down the entries
# star-import chain: layout -> relational -> pipeline -> iceberg ->
# __spark_entry__. The chain reproduces the pre-split single-module
# namespace exactly, so entry functions keep referencing helpers and
# SQL constants unqualified and module state (e.g. _BUCKETED_OVERLAY)
# stays ONE shared object.
__all__ = [_n for _n in list(globals()) if not _n.startswith("__")]
