"""Warehouse analytics pack, round 5: the remaining classic TPC-H
query shapes the registry had not yet covered — Q6 (predicate-dense
scan-agg), Q9 (multi-way star profit rollup), Q10 (returned-item top
customers), Q12 (join + conditional counts), Q16 (distinct-count with
anti-join exclusion) — plus a CUBE grouping-sets rollup, all adapted to
the driver's reduced schemas (no partsupp/shipmode columns; adaptations
noted per query).

Scale notes follow each query; the common pattern: dimension joins
broadcast, facts never shuffle more than once, revenue sums ride
DECIMAL so partial-aggregate addition is exact and order-independent
(the ``embedding_standardize`` precedent — accumulate exact, convert to
double once).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from firmable_company_data_pipeline_spark.session import load_tables, materialize


def _t(spark: SparkSession, sf_dir: str, *names: str):
    return load_tables(spark, sf_dir, *names)


# Shared cross-engine exact-money closure (functions/money.py — see its
# docstring for the round(double, k) boundary class these avoid; sf0.1
# hit a real boundary row in the cube, review r7).
from firmable_company_data_pipeline_spark.functions.money import (  # noqa: E402
    dec2 as _dec2,
    dec_sum as _dec_sum,
)


# ---------------------------------------------------------------------------
# forecast_revenue_change — TPC-H Q6: revenue delta a discount-band
# change would produce, over one ship-year.  Pure scan-agg: every
# predicate (year range, discount band, quantity cap) pushes into the
# parquet scan, so at 100 TB this reads only the row groups whose
# min/max stats overlap the band — the canonical pushdown showcase.
_Q6_YEAR = 1997
_Q6_DISC_LO, _Q6_DISC_HI = 0.04, 0.08
_Q6_QTY = 24


def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    f = li.filter(
        (F.year("l_shipdate") == _Q6_YEAR)
        & (F.col("l_discount") >= _Q6_DISC_LO)
        & (F.col("l_discount") <= _Q6_DISC_HI)
        & (F.col("l_quantity") < _Q6_QTY)
    )
    return f.agg(
        # round the DECIMAL, THEN cast to double: round(double, 2) on an
        # exact .005 boundary goes HALF_UP in Spark but not in DuckDB
        # (sf0.1 hit one); round() on the exact decimal is
        # HALF_UP/half-away in BOTH engines (DuckDB decimal CAST
        # truncates — measured — so round(), not a rescaling cast), and
        # a 2-dp decimal converts to the same nearest double everywhere
        # (review r7).
        F.round(
            _dec_sum(_dec2(F.col("l_extendedprice")) * _dec2(F.col("l_discount"), 5)),
            2,
        )
        .cast("double")
        .alias("revenue_delta"),
        F.count(F.lit(1)).alias("n_items"),
    )


FORECAST_REVENUE_CHANGE_SQL = f"""
SELECT CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                         * CAST(l_discount AS DECIMAL(5,2))
                         AS DECIMAL(27,10))), 2) AS DOUBLE)
         AS revenue_delta,
       count(*) AS n_items
FROM lineitem
WHERE year(l_shipdate) = {_Q6_YEAR}
  AND l_discount BETWEEN {_Q6_DISC_LO} AND {_Q6_DISC_HI}
  AND l_quantity < {_Q6_QTY}
"""


# ---------------------------------------------------------------------------
# product_type_profit — TPC-H Q9 shape: per (supplier-nation, order-year)
# profit over a part-type slice.  Adaptation: the driver schema has no
# partsupp, so supply cost is proxied as 10% of p_retailprice per unit
# (same join/agg topology: lineitem ⋈ part ⋈ supplier ⋈ nation ⋈ orders).
# Plan: part filter broadcasts and prunes the fact scan early; supplier/
# nation broadcast; the orders join is the only fact-sized shuffle; one
# hash-agg on (nation, year) with DECIMAL-exact partials.
_Q9_TYPES = ("ECONOMY", "PROMO")


def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part", "supplier", "nation", "orders")
    parts = t["part"].filter(F.col("p_type").isin(*_Q9_TYPES)).select(
        "p_partkey", "p_retailprice"
    )
    li = t["lineitem"].join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
    li = li.join(
        broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    ).join(
        broadcast(t["nation"].select("n_nationkey", "n_name")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    joined = li.join(
        t["orders"].select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    amount = _dec2(F.col("l_extendedprice")) * _dec2(
        F.lit(1) - F.col("l_discount"), 5
    ) - _dec2(F.col("p_retailprice")) * F.lit(0.1).cast("decimal(2,1)") * _dec2(
        F.col("l_quantity")
    )
    return (
        joined.groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            F.round(_dec_sum(amount), 2).cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_Q9_TYPES_SQL = ", ".join(f"'{t}'" for t in _Q9_TYPES)

PRODUCT_TYPE_PROFIT_SQL = f"""
SELECT n_name AS nation,
       year(o_orderdate) AS o_year,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                             * CAST(1 - l_discount AS DECIMAL(5,2))
                           - CAST(p_retailprice AS DECIMAL(15,2))
                             * CAST(0.1 AS DECIMAL(2,1))
                             * CAST(l_quantity AS DECIMAL(15,2))
                           AS DECIMAL(27,10))), 2) AS DOUBLE) AS profit,
       count(*) AS n_items
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_type IN ({_Q9_TYPES_SQL})
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# returned_item_customers — TPC-H Q10: top-20 customers by revenue lost
# to returns in one quarter.  Orders window-filter pushes down; the
# customer/nation dims broadcast; the top-20 is a row_number window that
# Spark 4 compiles to WindowGroupLimit (limit below the exchange).
# Tie-break on c_custkey keeps the cut deterministic in both engines.
_Q10_FROM, _Q10_TO = "1997-01-01", "1997-04-01"
_Q10_K = 20


def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit(_Q10_FROM).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(_Q10_TO).cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = t["lineitem"].filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    rev = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(
            F.round(
                    _dec_sum(
                        _dec2(F.col("l_extendedprice"))
                        * _dec2(F.lit(1) - F.col("l_discount"), 5)
                    ),
                    2,
                )
                .cast("double")
                .alias("revenue")
        )
    )
    out = rev.join(
        broadcast(t["customer"]), F.col("o_custkey") == F.col("c_custkey")
    ).join(
        broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        out.select(
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.round("c_acctbal", 2).alias("acctbal"),
            "revenue",
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _Q10_K)
    )


RETURNED_ITEM_CUSTOMERS_SQL = f"""
WITH rev AS (
  SELECT o_custkey,
         CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                               * CAST(1 - l_discount AS DECIMAL(5,2))
                             AS DECIMAL(27,10))), 2) AS DOUBLE) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '{_Q10_FROM}'
    AND o_orderdate <  TIMESTAMP '{_Q10_TO}'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, nation, acctbal, revenue, rank FROM (
  SELECT c_custkey, c_name, n_name AS nation,
         round(c_acctbal, 2) AS acctbal, revenue,
         row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank
  FROM rev
  JOIN customer ON o_custkey = c_custkey
  JOIN nation   ON c_nationkey = n_nationkey
) WHERE rank <= {_Q10_K}
"""


# ---------------------------------------------------------------------------
# late_shipment_priority_counts — TPC-H Q12 shape (join + conditional
# counts).  Adaptation: the driver lineitem has no shipmode/commitdate,
# so the class column is l_linestatus and "late" means shipped > 90 days
# after the order date.  One fact⋈fact equi-join (orderkey), then a
# 2-row conditional aggregate — the CASE counts are map-side partials.
_Q12_LATE_DAYS = 90
_URGENT = ("1-URGENT", "2-HIGH")


def late_shipment_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "orders")
    li = t["lineitem"].select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).filter(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > _Q12_LATE_DAYS
    )
    urgent = F.col("o_orderpriority").isin(*_URGENT).cast("long")
    return joined.groupBy(F.col("l_linestatus").alias("linestatus")).agg(
        F.sum(urgent).alias("high_priority_late"),
        F.sum(1 - urgent).alias("low_priority_late"),
    )


_URGENT_SQL = ", ".join(f"'{p}'" for p in _URGENT)

LATE_SHIPMENT_PRIORITY_COUNTS_SQL = f"""
SELECT l_linestatus AS linestatus,
       sum(CASE WHEN o_orderpriority IN ({_URGENT_SQL}) THEN 1 ELSE 0 END)::BIGINT
         AS high_priority_late,
       sum(CASE WHEN o_orderpriority IN ({_URGENT_SQL}) THEN 0 ELSE 1 END)::BIGINT
         AS low_priority_late
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))
      > {_Q12_LATE_DAYS}
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# supplier_part_brands — TPC-H Q16 shape: how many distinct suppliers
# offer each (brand, type, size) combination, excluding one brand and
# suppliers on a complaint list.  Adaptation: the part↔supplier relation
# is the distinct (l_partkey, l_suppkey) pairs observed in lineitem (no
# partsupp table), and the "complaint" exclusion is suppliers with
# negative account balance — preserving the NOT IN anti-join + distinct
# count topology.  Plan: the pair-dedup and the count-distinct share the
# same keys, the excluded-supplier list broadcasts as an anti-join.
_Q16_EXCL_BRAND = "Brand#1"
_Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


def supplier_part_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "part", "supplier")
    pairs = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    bad = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = pairs.join(
        broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
    )
    parts = t["part"].filter(
        (F.col("p_brand") != _Q16_EXCL_BRAND) & F.col("p_size").isin(*_Q16_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_Q16_SIZES_SQL = ", ".join(str(s) for s in _Q16_SIZES)

SUPPLIER_PART_BRANDS_SQL = f"""
SELECT p_brand AS brand, p_type AS type, p_size AS size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> '{_Q16_EXCL_BRAND}'
  AND p_size IN ({_Q16_SIZES_SQL})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# supplier_nation_cube — CUBE grouping sets (the §2.4 rollup's full-cube
# sibling): revenue by (supplier nation × order year), every subtotal
# and the grand total in one pass.  The cube runs over PRE-AGGREGATED
# (nation, year) cells, not fact rows: Expand replicates ~175 cells 4×
# instead of the whole join output (measured 3.2 s → sub-second at
# sf0.1; at 100 TB the difference is the whole query) — DECIMAL sums
# are associative, so sum-of-cell-sums is bit-identical to the single
# pass.  NULL group keys are coalesced to sentinel labels; grouping_id
# bit order (first key = MSB) matches DuckDB's GROUPING(a, b).
def supplier_nation_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem", "supplier", "nation", "orders")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    joined = (
        li.join(
            broadcast(t["supplier"].select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            broadcast(t["nation"].select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            t["orders"].select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            (
                _dec2(F.col("l_extendedprice"))
                * _dec2(F.lit(1) - F.col("l_discount"), 5)
            ).alias("amt"),
        )
    )
    cells = joined.groupBy("nation", "o_year").agg(
        _dec_sum(F.col("amt")).alias("rev_c"),
        F.count(F.lit(1)).alias("n_c"),
    )
    return (
        cells.cube("nation", "o_year")
        .agg(
            F.grouping_id().alias("gid"),
            F.round(F.sum("rev_c"), 2).cast("double").alias("revenue"),
            F.sum("n_c").cast("long").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("nation"), F.lit("(all)")).alias("nation"),
            F.coalesce(F.col("o_year"), F.lit(-1)).alias("o_year"),
            "gid",
            "revenue",
            "n_items",
        )
    )


SUPPLIER_NATION_CUBE_SQL = """
SELECT coalesce(n_name, '(all)') AS nation,
       coalesce(year(o_orderdate), -1) AS o_year,
       GROUPING(n_name, year(o_orderdate)) AS gid,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                           * CAST(1 - l_discount AS DECIMAL(5,2))
                           AS DECIMAL(27,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
GROUP BY CUBE (n_name, year(o_orderdate))
"""


# ---------------------------------------------------------------------------
# benford_revenue_audit — data-quality screen: first-significant-digit
# distribution of o_totalprice vs Benford's law, with per-digit Pearson
# chi-square terms.  Fabricated or re-keyed monetary columns fail this
# audit long before row-level rules fire, so it belongs next to the
# fk/dq packs as an ingest gate.  ONE map-side-combined hash-agg to 9
# rows, then bounded 9-row arithmetic — at 100 TB the scan is the whole
# cost and every predicate-free column except o_totalprice is pruned.
# First SIGNIFICANT digit via the DECIMAL's canonical string (both
# engines print 2-dp decimals identically), NOT floor(log10): log10 is
# libm-and-boundary fragile at exact powers of ten, string scan is
# exact.  regexp_extract of the first [1-9] (advice r12) rather than
# substr(…, 1, 1): a plain head char yields 0 for values < 1 (outside
# Benford's 1..9 support — element_at(arr, 0) raises in Spark) and '-'
# for negatives.  Rows with NO significant digit (exact zeros) are
# excluded — Benford's law is defined over nonzero magnitudes.
_BENFORD_EXP = tuple(__import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10))


def benford_revenue_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    digit = F.nullif(
        F.regexp_extract(F.col("o_totalprice").cast("string"), "[1-9]", 0),
        F.lit(""),
    ).cast("int")
    per = (
        o.select(digit.alias("digit"))
        .filter(F.col("digit").isNotNull())
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    # 9-row frame from here down: the unpartitioned window is bounded by
    # construction (digits 1..9), the plan-shape suite's allowed class.
    total = F.sum("n_orders").over(Window.rowsBetween(*(Window.unboundedPreceding, Window.unboundedFollowing)))
    exp_frac = F.element_at(F.array(*[F.lit(v) for v in _BENFORD_EXP]), F.col("digit"))
    expected_n = total * exp_frac
    return per.select(
        "digit",
        "n_orders",
        F.round(F.col("n_orders") / total, 6).alias("obs_frac"),
        F.round(exp_frac, 6).alias("exp_frac"),
        F.round(
            (F.col("n_orders") - expected_n) * (F.col("n_orders") - expected_n)
            / expected_n,
            6,
        ).alias("chi2_term"),
    )


# ::DOUBLE[]: DuckDB types bare decimal-point literals as DECIMAL, and
# round(DECIMAL, 6) stays DECIMAL — which would hash-mismatch Spark's
# DOUBLE column even at identical values.
_BENFORD_ARR = "([" + ", ".join(repr(v) for v in _BENFORD_EXP) + "]::DOUBLE[])"

BENFORD_REVENUE_AUDIT_SQL = f"""
WITH per AS (
  -- first SIGNIFICANT digit (advice r12): regexp, not the head char —
  -- values < 1 and negatives would otherwise yield 0 / '-'.
  SELECT CAST(NULLIF(regexp_extract(CAST(o_totalprice AS VARCHAR), '[1-9]'), '') AS INT) AS digit,
         count(*) AS n_orders
  FROM orders
  GROUP BY 1
  HAVING digit IS NOT NULL
),
tot AS (SELECT sum(n_orders)::DOUBLE AS n FROM per)
SELECT digit, n_orders,
       round(n_orders / n, 6) AS obs_frac,
       round(({_BENFORD_ARR})[digit], 6) AS exp_frac,
       round((n_orders - n * ({_BENFORD_ARR})[digit])
             * (n_orders - n * ({_BENFORD_ARR})[digit])
             / (n * ({_BENFORD_ARR})[digit]), 6) AS chi2_term
FROM per, tot
"""


# ---------------------------------------------------------------------------
# skyline_suppliers — 2-D Pareto frontier (maximize lifetime revenue AND
# account balance): the classic skyline operator, distributed as a
# sweep rather than the quadratic NOT-EXISTS the oracle uses.  A point
# survives iff its balance tops every strictly-higher-revenue point's
# balance and it holds its own revenue-group's max.  Shape: one
# per-supplier agg shuffle, one distinct-revenue agg, then
# ``prefix_agg(inclusive=False)`` — the range-partition + broadcast-
# offset running max from operators/ranks.py, so no single reducer ever
# sees the frontier sort even at 10^8 suppliers.  Comparisons ride the
# 2-dp DECIMAL (exact in both engines; 2-dp values are also exact as
# doubles, so the oracle's DOUBLE compare orders identically).
def skyline_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.ranks import prefix_agg

    t = _t(spark, sf_dir, "supplier", "lineitem")
    li = t["lineitem"].select(
        "l_suppkey",
        (_dec2(F.col("l_extendedprice")) * _dec2(F.lit(1) - F.col("l_discount"), 5)).alias(
            "amt"
        ),
    )
    rev = li.groupBy("l_suppkey").agg(F.round(_dec_sum(F.col("amt")), 2).alias("rev"))
    sup = (
        t["supplier"]
        .select("s_suppkey", "s_name", F.col("s_acctbal").alias("bal"))
        .join(rev, F.col("s_suppkey") == F.col("l_suppkey"), "left")
        .select(
            "s_suppkey",
            "s_name",
            "bal",
            F.coalesce(F.col("rev"), F.lit(0).cast("decimal(27,10)")).alias("rev"),
        )
    )
    grp = sup.groupBy("rev").agg(F.max("bal").alias("grp_max"))
    swept = prefix_agg(
        grp.withColumn("neg_rev", -F.col("rev")),
        order_cols=["neg_rev"],
        value_col="grp_max",
        fn="max",
        inclusive=False,
        out="hi_bal",
    )
    frontier = swept.filter(
        F.col("hi_bal").isNull() | (F.col("grp_max") > F.col("hi_bal"))
    ).select("rev", "grp_max")
    return (
        sup.join(F.broadcast(frontier), ["rev"])
        .filter(F.col("bal") == F.col("grp_max"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("rev").cast("double").alias("revenue"),
            F.col("bal").cast("double").alias("acctbal"),
        )
    )


SKYLINE_SUPPLIERS_SQL = """
WITH r AS (
  SELECT s_suppkey AS suppkey, s_name AS name,
         CAST(s_acctbal AS DOUBLE) AS acctbal,
         CAST(COALESCE(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                                  * CAST(1 - l_discount AS DECIMAL(5,2))
                                  AS DECIMAL(27,10))), 2), 0) AS DOUBLE) AS revenue
  FROM supplier LEFT JOIN lineitem ON l_suppkey = s_suppkey
  GROUP BY s_suppkey, s_name, s_acctbal
)
SELECT suppkey, name, revenue, acctbal
FROM r a
WHERE NOT EXISTS (
  SELECT 1 FROM r b
  WHERE b.revenue >= a.revenue AND b.acctbal >= a.acctbal
    AND (b.revenue > a.revenue OR b.acctbal > a.acctbal)
)
"""


# ---------------------------------------------------------------------------
# weighted_median_price — EXACT per-group weighted median (round 12):
# the smallest price whose cumulative weight reaches half the group's
# total (weight = quantity), the discrete-quantile rule generalized to
# weights.  Pure integer arithmetic end-to-end (quantities are whole
# numbers → cast long; the crossing test is 2·cum >= tot, no float
# halves), so the oracle hash-matches.
#
# Scale shape: one (group, price) hash-agg collapses the fact table to
# the distinct-price grid, then the cumulative weight rides
# operators/ranks.prefix_agg over the GLOBAL (group, price) order —
# range partition + per-partition windows + broadcast offsets, never a
# single-reducer sort — with each group's own offset (the running total
# of PRIOR groups) subtracted from a groups-sized (≤ |groups| rows)
# broadcast table.  The final argmin is a bounded per-group aggregate.
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.ranks import prefix_agg

    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    wq = (
        li.groupBy(
            F.col("l_returnflag").alias("flag"),
            F.col("l_extendedprice").alias("price"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("w"))
    )
    cum = prefix_agg(wq, ["flag", "price"], "w", fn="sum", out="gcum")
    grp = (
        wq.groupBy("flag")
        .agg(F.sum("w").alias("tot"))
        .withColumn(
            "goff",
            F.coalesce(
                F.sum("tot").over(
                    Window.orderBy("flag").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
    )
    crossed = (
        cum.join(F.broadcast(grp), "flag")
        .withColumn("cum", F.col("gcum") - F.col("goff"))
        .filter(2 * F.col("cum") >= F.col("tot"))
    )
    return (
        crossed.groupBy(F.col("flag").alias("l_returnflag"))
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.min("tot").alias("total_weight"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_PRICE_SQL = """
WITH wq AS (
  SELECT l_returnflag AS flag, l_extendedprice AS price,
         sum(l_quantity::BIGINT) AS w
  FROM lineitem GROUP BY 1, 2),
c AS (
  SELECT flag, price,
         sum(w) OVER (PARTITION BY flag ORDER BY price) AS cum,
         sum(w) OVER (PARTITION BY flag) AS tot
  FROM wq)
SELECT flag AS l_returnflag,
       min(price) AS weighted_median_price,
       min(tot)::BIGINT AS total_weight
FROM c WHERE 2 * cum >= tot
GROUP BY flag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# overdue_orders_by_priority — TPC-H Q4 shape (round 13; verdict r12
# #4): date-windowed orders with a correlated EXISTS over lineitem,
# counted by priority.  The reduced schema has no
# commitdate/receiptdate pair, so "overdue" adapts to the same
# correlated cross-table comparison: some lineitem shipped more than
# 90 days after the order date.  Plan: the oracle's textbook nested
# EXISTS decorrelates to ONE left-semi join whose condition carries
# both the equi-key and the correlated date predicate — orders
# shuffles once on o_orderkey (at the driver SFs AQE broadcasts the
# date-pruned order side instead), lineitem sheds its non-key columns
# at the scan, and the final priority agg is a 5-row hash-agg.  The
# date window pushes into the orders parquet scan (min/max row-group
# pruning at 100 TB).
_Q4_START, _Q4_END = "1996-01-01", "1996-04-01"
_Q4_GRACE_DAYS = 90


def overdue_orders_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "lineitem")
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit(_Q4_START))
        & (F.col("o_orderdate") < F.lit(_Q4_END))
    )
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    overdue = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q4_GRACE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return overdue.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


OVERDUE_ORDERS_BY_PRIORITY_SQL = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{_Q4_START}'
  AND o_orderdate <  TIMESTAMP '{_Q4_END}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL {_Q4_GRACE_DAYS} DAY)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# local_supplier_region_revenue — TPC-H Q5 shape (round 13): revenue a
# region's customers generated through SAME-NATION suppliers over one
# order-year — the canonical 6-table multi-join with the local-supplier
# correlation (c_nationkey = s_nationkey) that makes it more than a
# star.  Plan, scale-first: region filter → nation (≤25 rows) →
# supplier all broadcast, so lineitem sheds ~4/5 of its rows map-side
# BEFORE the one real shuffle (the l_orderkey ⋈ date-pruned orders
# join); customer then joins on o_custkey WITH the nation-equality
# pushed into the join condition (un-hinted — AQE broadcasts at driver
# SFs, shuffles at 100 TB where customer is fact-sized).  Revenue rides
# the decimal closure (functions/money.py) so partial-agg addition is
# exact and order-independent.
_Q5_REGION = "ASIA"
_Q5_START, _Q5_END = "1996-01-01", "1997-01-01"


def local_supplier_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(
        spark, sf_dir, "region", "nation", "supplier", "customer", "orders", "lineitem"
    )
    asia_nations = (
        t["nation"]
        .join(
            broadcast(t["region"].filter(F.col("r_name") == _Q5_REGION)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    supp = (
        t["supplier"]
        .join(broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    orders = (
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit(_Q5_START))
            & (F.col("o_orderdate") < F.lit(_Q5_END))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = t["lineitem"].select(
        "l_orderkey",
        "l_suppkey",
        (_dec2(F.col("l_extendedprice")) * _dec2(F.lit(1) - F.col("l_discount"), 5)).alias(
            "amt"
        ),
    )
    joined = (
        li.join(broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["customer"].select("c_custkey", "c_nationkey"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        F.round(_dec_sum(F.col("amt")), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


LOCAL_SUPPLIER_REGION_REVENUE_SQL = f"""
SELECT n_name AS nation_name,
       CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                           * CAST(1 - l_discount AS DECIMAL(5,2))
                           AS DECIMAL(27,10))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders   ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON n_nationkey = s_nationkey
JOIN region   ON r_regionkey = n_regionkey
WHERE r_name = '{_Q5_REGION}'
  AND o_orderdate >= TIMESTAMP '{_Q5_START}'
  AND o_orderdate <  TIMESTAMP '{_Q5_END}'
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# part_revenue_share_screen — TPC-H Q11 shape (round 13): per-group
# value with a HAVING threshold that is itself a SCALAR SUBQUERY over
# the same aggregation — "parts whose lifetime revenue exceeds 1.5× the
# average part's".  (Canonical Q11 thresholds on a fixed FRACTION of
# the total, which is scale-variant by design; the avg-multiple keeps
# the screen meaningful at every SF while preserving the exact shape:
# agg → 1-row agg-of-agg → threshold filter.)  Plan: ONE per-part
# hash-agg (map-side combined), localCheckpoint so the 1-row
# avg-of-sums reuses it instead of re-scanning lineitem, then a
# broadcast 1-row crossJoin carries the threshold to every row — the
# decorrelated form of the oracle's nested HAVING.  Per-part sums ride
# the decimal closure; the avg and share are doubles (both engines
# divide the same exact sums).
_Q11_AVG_MULTIPLE = 1.5


def part_revenue_share_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "lineitem")
    per_part = (
        t["lineitem"]
        .select(
            "l_partkey",
            (
                _dec2(F.col("l_extendedprice")) * _dec2(F.lit(1) - F.col("l_discount"), 5)
            ).alias("amt"),
        )
        .groupBy("l_partkey")
        .agg(F.round(_dec_sum(F.col("amt")), 2).alias("value"))
        .transform(materialize, "iterate")  # consumed twice: threshold + screen
    )
    thresh = per_part.agg(
        (F.avg(F.col("value").cast("double")) * F.lit(_Q11_AVG_MULTIPLE)).alias(
            "_thresh"
        )
    )
    return (
        per_part.crossJoin(F.broadcast(thresh))
        .filter(F.col("value").cast("double") > F.col("_thresh"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value").cast("double").alias("part_value"),
        )
    )


PART_REVENUE_SHARE_SCREEN_SQL = f"""
WITH pp AS MATERIALIZED (
  SELECT l_partkey AS partkey,
         CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(15,2))
                             * CAST(1 - l_discount AS DECIMAL(5,2))
                             AS DECIMAL(27,10))), 2) AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey)
SELECT partkey, part_value
FROM pp
WHERE part_value > {_Q11_AVG_MULTIPLE} * (SELECT avg(part_value) FROM pp)
"""


QUERIES = {
    "weighted_median_price": weighted_median_price,
    "overdue_orders_by_priority": overdue_orders_by_priority,
    "local_supplier_region_revenue": local_supplier_region_revenue,
    "part_revenue_share_screen": part_revenue_share_screen,
    "forecast_revenue_change": forecast_revenue_change,
    "benford_revenue_audit": benford_revenue_audit,
    "skyline_suppliers": skyline_suppliers,
    "product_type_profit": product_type_profit,
    "returned_item_customers": returned_item_customers,
    "late_shipment_priority_counts": late_shipment_priority_counts,
    "supplier_part_brands": supplier_part_brands,
    "supplier_nation_cube": supplier_nation_cube,
}

ORACLES = {
    "forecast_revenue_change": FORECAST_REVENUE_CHANGE_SQL,
    "overdue_orders_by_priority": OVERDUE_ORDERS_BY_PRIORITY_SQL,
    "local_supplier_region_revenue": LOCAL_SUPPLIER_REGION_REVENUE_SQL,
    "part_revenue_share_screen": PART_REVENUE_SHARE_SCREEN_SQL,
    "benford_revenue_audit": BENFORD_REVENUE_AUDIT_SQL,
    "skyline_suppliers": SKYLINE_SUPPLIERS_SQL,
    "weighted_median_price": WEIGHTED_MEDIAN_PRICE_SQL,
    "product_type_profit": PRODUCT_TYPE_PROFIT_SQL,
    "returned_item_customers": RETURNED_ITEM_CUSTOMERS_SQL,
    "late_shipment_priority_counts": LATE_SHIPMENT_PRIORITY_COUNTS_SQL,
    "supplier_part_brands": SUPPLIER_PART_BRANDS_SQL,
    "supplier_nation_cube": SUPPLIER_NATION_CUBE_SQL,
}
