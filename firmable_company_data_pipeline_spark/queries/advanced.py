"""Advanced relational operators (charter extensions beyond SURVEY.md §2):
as-of join, pivot, exact grouped quantiles, hierarchical time-bucket
rollup, and TF-IDF term scoring.

The reference has none of these (its only temporal logic is a DATE cast,
`extract/abr_parser.py:55`, and its only "pivot" is hand-written literals
per match stage, `transform/entity_matching.py:127-128`); they are the
operations a warehouse/training-data pipeline needs at 100 TB, expressed
so Catalyst keeps every stage JVM-side.

Scale notes inline per query: each states its shuffle count and why the
formulation survives a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.session import load_tables


def _t(spark: SparkSession, sf_dir: str, *names: str):
    return load_tables(spark, sf_dir, *names)


# ---------------------------------------------------------------------------
# asof_purchase_attribution — as-of join: for every purchase event, the most
# recent click by the same user at or before the purchase timestamp
# (last-touch attribution; the trade↔quote join of finance).
#
# Formulation: union the two sides with a side tag and carry the last click
# forward with a window — ONE shuffle on user_id, no per-purchase candidate
# explosion. The naive range-join (clicks ⋈ purchases ON user AND ts<=ts,
# then argmax) is quadratic inside heavy users; this is O(n log n) per user
# and state-bounded, the same plan a stream-stream as-of would use.
# Tie-break: at equal ts the click with the greatest event_id wins
# (window orders clicks before the purchase at the same ts, ascending
# event_id, and `last` takes the final one seen).
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        right_cols=["click_id", "click_value"],
        right_order="click_id",
        prefix="last_",
    )
    return out.select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        F.col("last_click_id"),
        F.round("last_click_value", 2).alias("last_click_value"),
        # Second-boundary-crossing count (trunc both sides, then whole-second
        # diff) — identical to DuckDB's date_diff('second', ...) and valid for
        # both TIMESTAMP and TIMESTAMP_NTZ inputs (a bare cast-to-long is
        # rejected for NTZ, and the driver's parquet reads events.ts as NTZ).
        F.expr(
            "timestampdiff(SECOND, date_trunc('second', last_ts),"
            " date_trunc('second', purchase_ts))"
        ).alias("secs_since_click"),
    )


# DuckDB mirror: LEFT JOIN LATERAL top-1 — same semantics, explicit
# (ts DESC, event_id DESC) tie-break matching the window order above.
ASOF_PURCHASE_ATTRIBUTION_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.event_id AS last_click_id,
       round(c.value, 2) AS last_click_value,
       CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS secs_since_click
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN LATERAL (
    SELECT event_id, ts, value
    FROM events
    WHERE event_type = 'click' AND user_id = p.user_id AND ts <= p.ts
    ORDER BY ts DESC, event_id DESC
    LIMIT 1
) c ON TRUE
"""


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# ---------------------------------------------------------------------------
# priority_year_pivot — pivot with an EXPLICIT value list: one scan, one
# shuffle on the grouping key. Passing the values up front matters at scale —
# `.pivot(col)` without them runs an extra distinct job over the fact table
# before the real aggregation.
def priority_year_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders")
    piv = (
        t["orders"]
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    aliases = ["urgent", "high", "medium", "not_specified", "low"]
    return piv.select(
        "order_year",
        *[F.col(f"`{p}`").alias(a) for p, a in zip(_PRIORITIES, aliases)],
    )


PRIORITY_YEAR_PIVOT_SQL = """
SELECT EXTRACT(year FROM o_orderdate)::INT AS order_year,
       round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2)        AS urgent,
       round(sum(o_totalprice) FILTER (o_orderpriority = '2-HIGH'), 2)          AS high,
       round(sum(o_totalprice) FILTER (o_orderpriority = '3-MEDIUM'), 2)        AS medium,
       round(sum(o_totalprice) FILTER (o_orderpriority = '4-NOT SPECIFIED'), 2) AS not_specified,
       round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2)           AS low
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# nation_order_quantiles — EXACT grouped percentiles with percentile_disc
# semantics (SQL standard: the smallest stored value whose cumulative
# distribution ≥ q, i.e. the element at rank ceil(q·n)), computed from first
# principles: window rank + count per group, then a conditional-max pick.
# One shuffle on the group key; the groupBy after the window reuses the
# window's hash partitioning (no second exchange). Exact quantiles need the
# group's values co-located — fine for 25 nation groups of any size; for
# high-cardinality keys at 100 TB the approx path is `percentile_approx`
# (t-digest, mergeable map-side).
# Why discrete, not interpolated: quantile_cont lands exactly halfway
# between two 2-decimal prices for even groups (x.xx5), where Spark's
# BigDecimal HALF_UP and C round() disagree — and Spark/DuckDB even use
# different interpolation formulas (`lo*(1-d)+hi*d` vs `lo+d*(hi-lo)`).
# percentile_disc returns a stored value untouched: bit-exact across
# engines, no rounding step at all.
# Dims broadcast: orders never shuffles for the joins.
def nation_order_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders", "customer", "nation")
    cust = t["customer"].select("c_custkey", "c_nationkey")
    base = (
        t["orders"]
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("n_name").alias("nation_name"), F.col("o_totalprice").alias("price"))
    )
    w_rank = Window.partitionBy("nation_name").orderBy(F.asc("price"))
    w_all = Window.partitionBy("nation_name")
    ranked = base.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n", F.count(F.lit(1)).over(w_all)
    )

    def _q(q: float):
        pos = F.greatest(F.lit(1), F.ceil(F.lit(q) * F.col("n").cast("double")))
        return F.max(F.when(F.col("rn") == pos, F.col("price")))

    return ranked.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _q(0.25).alias("p25_price"),
        _q(0.50).alias("median_price"),
        _q(0.75).alias("p75_price"),
    )


NATION_ORDER_QUANTILES_SQL = """
WITH base AS (
    SELECT n_name AS nation_name, o_totalprice AS price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
),
ranked AS (
    SELECT nation_name, price,
           row_number() OVER (PARTITION BY nation_name ORDER BY price ASC) AS rn,
           count(*)     OVER (PARTITION BY nation_name) AS n
    FROM base
)
SELECT nation_name,
       count(*) AS n_orders,
       max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.25 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) THEN price END) AS p25_price,
       max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.50 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) THEN price END) AS median_price,
       max(CASE WHEN rn = greatest(1, CAST(ceil(CAST(0.75 AS DOUBLE) * CAST(n AS DOUBLE)) AS BIGINT)) THEN price END) AS p75_price
FROM ranked
GROUP BY nation_name
"""


# ---------------------------------------------------------------------------
# events_hourly_daily_rollup — hierarchical time-bucket aggregation (the
# continuous-aggregate / hypertable-rollup pattern): aggregate raw events to
# hourly buckets, then derive daily from HOURLY — never rescanning raw data.
# At 100 TB the hourly layer is ~5 orders of magnitude smaller than raw, so
# the daily pass is nearly free; in production the hourly frame is the
# materialized incremental layer. Sums run in DECIMAL so the two-level
# re-aggregation is exact (double addition is not associative; decimal is —
# the hash must match a single-level oracle).
def events_hourly_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(14,2)")).alias("sum_value_dec"),
        )
    )
    return (
        hourly.groupBy(F.to_date("hour").alias("day"), "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("sum_value_dec").cast("double"), 2).alias("sum_value"),
        )
    )


EVENTS_HOURLY_DAILY_ROLLUP_SQL = """
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       event_type,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2) AS sum_value
FROM events
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# doc_top_terms — TF-IDF keyword extraction, top-3 terms per document.
# Plan: tokenize (split+explode, JVM-side) → per-(doc,term) counts (shuffle 1,
# on doc_id+term) → per-term document frequency (shuffle 2, on term; partial
# agg does the heavy lifting) → join tf⋈df on term (term dictionary is
# Zipf-bounded but can be huge at 100 TB → shuffle join on term, NOT
# broadcast) → window top-3 per doc (shuffle 3, on doc_id).
# Corpus size N comes from a 1-row aggregate cross-joined in (broadcast
# nested loop of a scalar — no driver-side .count() action).
# Determinism: idf is a pure function of (df, N), so equal (tf, df) pairs get
# bitwise-equal scores in each engine; ties break on term ASC.
def doc_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")["documents"]
    tokens = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("term"),
        ).filter(F.length("term") >= 3)
    )
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "term",
            F.col("tf"),
            F.col("df"),
            F.round("tfidf", 4).alias("tfidf"),
            "rank",
        )
    )


DOC_TOP_TERMS_SQL = """
WITH tokens AS (
    SELECT doc_id, t.term
    FROM documents,
         LATERAL (SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS term) t
    WHERE length(t.term) >= 3
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tokens GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, round(tfidf, 4) AS tfidf, rank
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# events_variant_stats — VariantType JSON handling (Spark 4): parse the
# props JSON ONCE into a variant, then extract typed fields with
# variant_get. Versus per-field get_json_object (which re-parses the
# string per extraction), the variant parse is a single binary-encoded
# decode whose field reads are O(1) — the JSONB analog the reference kept
# in Postgres (structured_data JSONB, db/ddl_scripts.sql:36). Output is
# plain typed columns so the DuckDB oracle (json_extract) hash-matches.
def events_variant_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    v = F.parse_json("props")
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "bigint").alias("k"),
            F.variant_get(v, "$.missing", "string").alias("absent"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.count("absent").alias("n_absent_nonnull"),
        )
    )


EVENTS_VARIANT_STATS_SQL = """
SELECT event_type,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       count(json_extract_string(props, '$.missing')) AS n_absent_nonnull
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# customer_hierarchy_rollup — recursive CTE (Spark 4 WITH RECURSIVE): the
# canonical hierarchy ascent.  A synthetic reporting DAG over customers
# (parent(k) = k/10, roots below 10) is walked to its root with depth —
# per-level UNION ALL recursion, bounded by the key width (≤ 7 levels),
# never a driver loop.  Spark's recursion supports UNION ALL only, so
# cyclic closures stay on the iterative operator (`dedup_clusters`);
# acyclic hierarchies — org charts, BOM explosions, category trees — are
# exactly what the SQL surface now covers, identically on both engines.
# The whole query is ONE spark.sql string over a registered view: the
# engine's pure-SQL surface, no DataFrame composition.
_HIERARCHY_SQL = """
WITH RECURSIVE walk(custkey, node, depth) AS (
  SELECT c_custkey AS custkey, c_custkey AS node, 0 AS depth
  FROM customer_v
  UNION ALL
  SELECT custkey, node div 10, depth + 1
  FROM walk WHERE node >= 10
),
rooted AS (
  SELECT custkey, node AS root_key, depth
  FROM walk WHERE node < 10
)
SELECT root_key, count(*) AS n_customers, max(depth) AS max_depth,
       min(custkey) AS min_custkey
FROM rooted
GROUP BY root_key
"""


def customer_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")["customer"]
    cust.select((F.col("c_custkey")).alias("c_custkey")).createOrReplaceTempView(
        "customer_v"
    )
    return spark.sql(_HIERARCHY_SQL)


CUSTOMER_HIERARCHY_ROLLUP_SQL = """
WITH RECURSIVE walk(custkey, node, depth) AS (
  SELECT c_custkey AS custkey, c_custkey AS node, 0 AS depth
  FROM customer
  UNION ALL
  SELECT custkey, node // 10, depth + 1
  FROM walk WHERE node >= 10
),
rooted AS (
  SELECT custkey, node AS root_key, depth
  FROM walk WHERE node < 10
)
SELECT root_key, count(*) AS n_customers, max(depth) AS max_depth,
       min(custkey) AS min_custkey
FROM rooted
GROUP BY root_key
"""


# ---------------------------------------------------------------------------
# ks_drift_orders — exact two-sample Kolmogorov–Smirnov statistic
# between consecutive order-year price distributions: the
# distribution-level drift gate (corpus_drift_psi's binned PSI cousin,
# but exact — no binning choice to defend).  D = sup|F_a − F_b| over
# the merged value axis.
#
# Shape: per-distinct-value counts collapse first (ONE hash-agg), then
# the running ECDFs ride a SINGLE ``prefix_agg`` range shuffle with
# both counters packed into one long (c_a·2³² + c_total — exact while
# each sample stays under 2³¹ rows; at larger scale widen the packing
# to DECIMAL(38,0) with a 10¹⁸ shift, same plan).  Never a
# single-reducer sort; the final sup is an ordinary max-agg.
_KS_YEAR_A, _KS_YEAR_B = 1997, 1998
_KS_SHIFT = 1 << 32


def ks_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.ranks import prefix_agg

    o = load_tables(spark, sf_dir, "orders")["orders"]
    tagged = o.filter(F.year("o_orderdate").isin(_KS_YEAR_A, _KS_YEAR_B)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.year("o_orderdate") == _KS_YEAR_A, 1).otherwise(0).alias("s_a"),
    )
    g = tagged.groupBy("v").agg(
        F.sum("s_a").alias("c_a"), F.count(F.lit(1)).alias("c_t")
    )
    packed = g.select(
        "v", (F.col("c_a") * F.lit(_KS_SHIFT) + F.col("c_t")).alias("packed")
    )
    run = prefix_agg(packed, ["v"], "packed", fn="sum", inclusive=True, out="cum")
    cum_a = F.shiftright(F.col("cum"), 32)
    cum_t = F.col("cum") % _KS_SHIFT
    totals = g.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        (F.sum("c_t") - F.sum("c_a")).cast("long").alias("n_b"),
    )
    # Packing guard (advice r12): the (c_a·2³² + c_t) long packing is
    # exact only while BOTH cumulative counters stay under 2³¹ — beyond
    # that the statistic would corrupt SILENTLY.  Enforce at runtime on
    # the 1-row totals frame (already computed, so the check is free):
    # the filter's else-branch raises instead of returning a wrong D.
    _lim = F.lit(1 << 31).cast("long")
    totals = totals.filter(
        F.when((F.col("n_a") < _lim) & (F.col("n_b") < _lim), F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "ks_drift_orders: a sample exceeds 2^31 rows; the packed"
                    " (c_a, c_t) counters would overflow — widen the packing"
                    " to DECIMAL(38,0) with a 10^18 shift (same plan shape)"
                )
            )
        )
    )
    return (
        run.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.abs(
                    cum_a.cast("double") / F.col("n_a")
                    - (cum_t - cum_a).cast("double") / F.col("n_b")
                ),
                6,
            ).alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(F.max("d").alias("ks_stat"))
    )


KS_DRIFT_ORDERS_SQL = f"""
WITH s AS (
  SELECT o_totalprice AS v,
         CASE WHEN year(o_orderdate) = {_KS_YEAR_A} THEN 1 ELSE 0 END AS s_a
  FROM orders
  WHERE year(o_orderdate) IN ({_KS_YEAR_A}, {_KS_YEAR_B})
),
g AS (SELECT v, sum(s_a) AS c_a, count(*) AS c_t FROM s GROUP BY v),
r AS (
  SELECT sum(c_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_a,
         sum(c_t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_t
  FROM g
),
t AS (SELECT sum(c_a)::BIGINT AS n_a, (sum(c_t) - sum(c_a))::BIGINT AS n_b FROM g)
SELECT n_a, n_b,
       max(round(abs(cum_a / n_a::DOUBLE - (cum_t - cum_a) / n_b::DOUBLE), 6))
         AS ks_stat
FROM r, t
GROUP BY n_a, n_b
"""


# ---------------------------------------------------------------------------
# order_price_outliers_mad — robust per-priority outlier screen:
# median / MAD (median absolute deviation), flag |x − med| > k·MAD.
# Mean/stddev screens move WITH the outliers they hunt; the MAD pair is
# breakdown-point-0.5 robust.  Quantiles use the repo's discrete rule
# (value at rank ceil(q·n) — nation_order_quantiles precedent) so both
# engines pick the same ROW, never an interpolated float; every
# comparison rides the exact DECIMAL.
_MAD_K = 3


def order_price_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_tables(spark, sf_dir, "orders")["orders"]
    base = o.select(F.col("o_orderpriority").alias("priority"), F.col("o_totalprice").alias("price"))
    w_rank = Window.partitionBy("priority").orderBy(F.asc("price"))
    w_all = Window.partitionBy("priority")
    med_pos = F.greatest(F.lit(1), F.ceil(F.lit(0.5) * F.count(F.lit(1)).over(w_all).cast("double")))
    med = (
        base.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("pos", med_pos)
        .groupBy("priority")
        .agg(F.max(F.when(F.col("rn") == F.col("pos"), F.col("price"))).alias("med"))
    )
    dev = base.join(F.broadcast(med), "priority").withColumn(
        "adev", F.abs(F.col("price") - F.col("med"))
    )
    w_dev = Window.partitionBy("priority").orderBy(F.asc("adev"))
    mad_pos = F.greatest(F.lit(1), F.ceil(F.lit(0.5) * F.count(F.lit(1)).over(w_all).cast("double")))
    mad = (
        dev.withColumn("rn", F.row_number().over(w_dev))
        .withColumn("pos", mad_pos)
        .groupBy("priority")
        .agg(F.max(F.when(F.col("rn") == F.col("pos"), F.col("adev"))).alias("mad"))
    )
    return (
        dev.join(F.broadcast(mad), "priority")
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max(F.col("med")).cast("double").alias("median_price"),
            F.max(F.col("mad")).cast("double").alias("mad_price"),
            F.sum(
                F.when(F.col("adev") > F.lit(_MAD_K) * F.col("mad"), 1).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
        .withColumn(
            "outlier_frac",
            F.round(F.col("n_outliers") / F.col("n_orders").cast("double"), 6),
        )
    )


ORDER_PRICE_OUTLIERS_MAD_SQL = f"""
WITH base AS (
  SELECT o_orderpriority AS priority, o_totalprice AS price FROM orders
),
ranked AS (
  SELECT priority, price,
         row_number() OVER (PARTITION BY priority ORDER BY price) AS rn,
         count(*) OVER (PARTITION BY priority) AS n
  FROM base
),
med AS (
  SELECT priority, max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN price END) AS med
  FROM ranked GROUP BY priority
),
dev AS (
  SELECT b.priority, b.price, abs(b.price - m.med) AS adev, m.med
  FROM base b JOIN med m USING (priority)
),
dev_ranked AS (
  SELECT priority, adev,
         row_number() OVER (PARTITION BY priority ORDER BY adev) AS rn,
         count(*) OVER (PARTITION BY priority) AS n
  FROM dev
),
mad AS (
  SELECT priority, max(CASE WHEN rn = greatest(1, ceil(0.5 * n)) THEN adev END) AS mad
  FROM dev_ranked GROUP BY priority
)
SELECT d.priority,
       count(*) AS n_orders,
       CAST(max(d.med) AS DOUBLE) AS median_price,
       CAST(max(m.mad) AS DOUBLE) AS mad_price,
       sum(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)::BIGINT
         AS n_outliers,
       round(sum(CASE WHEN d.adev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS outlier_frac
FROM dev d JOIN mad m USING (priority)
GROUP BY d.priority
"""


# ---------------------------------------------------------------------------
# unpivot_part_metrics — the UNPIVOT/melt operator (pivot's inverse,
# closing the reshape family next to priority_year_pivot): part's two
# numeric measures melt to (brand, metric, value) rows via stack(), then
# one grouped profile per (brand, metric).  Sums ride DECIMAL so the
# double conversion happens once on an exact value.
def unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_tables(spark, sf_dir, "part")["part"]
    melted = p.select(
        F.col("p_brand").alias("brand"),
        F.expr(
            "stack(2, 'size', CAST(p_size AS DECIMAL(15,2)), "
            "'retailprice', CAST(p_retailprice AS DECIMAL(15,2))) AS (metric, value)"
        ),
    )
    return melted.groupBy("brand", "metric").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").cast("double").alias("min_v"),
        F.max("value").cast("double").alias("max_v"),
        F.round(
            F.sum("value").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_v"),
    )


UNPIVOT_PART_METRICS_SQL = """
WITH melted AS (
  SELECT p_brand AS brand, 'size' AS metric,
         CAST(p_size AS DECIMAL(15,2)) AS value FROM part
  UNION ALL
  SELECT p_brand, 'retailprice', CAST(p_retailprice AS DECIMAL(15,2)) FROM part
)
SELECT brand, metric, count(*) AS n,
       CAST(min(value) AS DOUBLE) AS min_v,
       CAST(max(value) AS DOUBLE) AS max_v,
       round(CAST(sum(value) AS DOUBLE) / count(*), 6) AS avg_v
FROM melted
GROUP BY brand, metric
"""


# ---------------------------------------------------------------------------
# part_copurchase_bfs — hop-distance histogram from promoted parts over
# the co-purchase graph (operators/graph.bfs_levels).  Edges: part pairs
# co-occurring in >= 2 orders (the >= 2 support cut keeps the graph
# sparse and meaningful — raw co-occurrence is near-complete at TPC-H
# densities); seeds: parts with a PROMO type.  Per-order pair fanout is
# bounded by lines-per-order (<= 7), so edge generation is linear in
# lineitem; the three BFS hops are three equi-join+distinct rounds —
# level-synchronous, state O(|reached|), never path-enumerating.
# Oracle: the same level sets unrolled as MATERIALIZED CTEs (d1..d3
# each excluding all prior levels), the ann_mmr_rerank chaining
# discipline.
def part_copurchase_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.graph import bfs_levels

    t = _t(spark, sf_dir, "lineitem", "part")
    li = t["lineitem"].select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("src", "dst")
    )
    seeds = (
        t["part"]
        .filter(F.col("p_type").like("PROMO%"))
        .select(F.col("p_partkey").alias("id"))
    )
    levels = bfs_levels(edges, seeds, max_hops=3)
    return (
        levels.groupBy("dist")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("dist")
    )


PART_COPURCHASE_BFS_SQL = """
WITH es AS MATERIALIZED (
  SELECT a.l_partkey AS x, b.l_partkey AS y
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
e AS MATERIALIZED (
  SELECT x AS src, y AS dst FROM es UNION SELECT y, x FROM es),
d0 AS MATERIALIZED (
  SELECT DISTINCT p_partkey AS id FROM part WHERE p_type LIKE 'PROMO%'),
d1 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM e JOIN d0 ON e.src = d0.id
  WHERE e.dst NOT IN (SELECT id FROM d0)),
d2 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM e JOIN d1 ON e.src = d1.id
  WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL SELECT id FROM d1)),
d3 AS MATERIALIZED (
  SELECT DISTINCT e.dst AS id FROM e JOIN d2 ON e.src = d2.id
  WHERE e.dst NOT IN (SELECT id FROM d0 UNION ALL SELECT id FROM d1
                      UNION ALL SELECT id FROM d2))
SELECT dist, count(*) AS n_parts FROM (
  SELECT id, 0 AS dist FROM d0
  UNION ALL SELECT id, 1 FROM d1
  UNION ALL SELECT id, 2 FROM d2
  UNION ALL SELECT id, 3 FROM d3)
GROUP BY dist ORDER BY dist
"""


# ---------------------------------------------------------------------------
# asof_next_purchase — the FORWARD as-of arm with a tolerance (round 12;
# pandas merge_asof(direction="forward", tolerance=...) parity): for
# every click, the next purchase by the same user within 7 days — the
# time-to-convert join, NULLs past the window.  Purchases are
# pre-aggregated to one row per (user, ts) (min event_id) so the
# exact-ts tie-break is engine-independent.  Same union+carry plan as
# the backward arm — the forward carry is a first() over the following
# frame on the SAME single shuffle.  gap_us is exact integer micros.
def asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    out = asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_id"],
        prefix="next_",
        direction="forward",
        tolerance=604_800,  # 7 days in seconds
    )
    return out.select(
        "click_id",
        "user_id",
        F.col("next_purchase_id"),
        F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("next_ts")).alias(
            "gap_us"
        ),
    )


ASOF_NEXT_PURCHASE_SQL = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts FROM events
  WHERE event_type = 'click'),
p AS MATERIALIZED (
  SELECT user_id, ts, min(event_id) AS purchase_id FROM events
  WHERE event_type = 'purchase' GROUP BY 1, 2),
n AS (
  SELECT c.click_id, c.user_id, c.ts,
         (SELECT min(p.ts) FROM p
          WHERE p.user_id = c.user_id AND p.ts >= c.ts) AS nts
  FROM c),
f AS (
  SELECT click_id, user_id, ts,
         CASE WHEN nts IS NOT NULL
                   AND epoch(nts) - epoch(ts) <= 604800.0
              THEN nts END AS nts
  FROM n)
SELECT f.click_id, f.user_id, p.purchase_id AS next_purchase_id,
       epoch_us(f.nts) - epoch_us(f.ts) AS gap_us
FROM f LEFT JOIN p ON p.user_id = f.user_id AND p.ts = f.nts
"""


# ---------------------------------------------------------------------------
# asof_nearest_event — the NEAREST as-of arm with a tolerance (round
# 13; verdict r12 #3 — completes the merge_asof direction matrix in
# the driver ledger: backward = asof_purchase_attribution, forward =
# asof_next_purchase): for every purchase, the click by the same user
# CLOSEST in time (before or after) within 1 day; NULLs past the
# bound; equal-distance ties resolve to the earlier (backward) click —
# the pandas tie rule the operator documents.  Clicks pre-aggregate to
# one row per (user, ts) (min event_id) so ties are engine-independent
# (the asof_next_purchase convention).  Same union+carry single-shuffle
# plan: nearest runs BOTH carries over ONE window frame
# (operators/temporal.py — reference analog: the temporal
# generalization of transform/entity_matching.py:151-156's
# best-candidate selection).  gap_us is signed exact integer micros
# (negative = click before purchase).
_ASOF_NEAREST_TOL_S = 86_400  # 1 day


def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("click_id"))
    )
    out = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols=["click_id"],
        prefix="near_",
        direction="nearest",
        tolerance=_ASOF_NEAREST_TOL_S,
    )
    return out.select(
        "purchase_id",
        "user_id",
        F.col("near_click_id"),
        F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("near_ts")).alias(
            "gap_us"
        ),
    )


# DuckDB mirror: LATERAL nearest-within-tolerance top-1.  The distance
# replays the operator's exact arithmetic (integer micros / 1e6 as a
# double) so the tolerance boundary cannot straddle a rounding ulp
# between engines; tie order (dist ASC, ts ASC) is backward-wins.
ASOF_NEAREST_EVENT_SQL = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, ts FROM events
  WHERE event_type = 'purchase'),
c AS MATERIALIZED (
  SELECT user_id, ts, min(event_id) AS click_id FROM events
  WHERE event_type = 'click' GROUP BY 1, 2)
SELECT p.purchase_id, p.user_id, n.click_id AS near_click_id,
       epoch_us(n.ts) - epoch_us(p.ts) AS gap_us
FROM p
LEFT JOIN LATERAL (
    SELECT c.click_id, c.ts
    FROM c
    WHERE c.user_id = p.user_id
      AND abs(epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0
          <= {float(_ASOF_NEAREST_TOL_S)}
    ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)) ASC, c.ts ASC
    LIMIT 1
) n ON TRUE
"""


QUERIES = {
    "part_copurchase_bfs": part_copurchase_bfs,
    "asof_nearest_event": asof_nearest_event,
    "asof_next_purchase": asof_next_purchase,
    "asof_purchase_attribution": asof_purchase_attribution,
    "ks_drift_orders": ks_drift_orders,
    "order_price_outliers_mad": order_price_outliers_mad,
    "unpivot_part_metrics": unpivot_part_metrics,
    "priority_year_pivot": priority_year_pivot,
    "nation_order_quantiles": nation_order_quantiles,
    "events_hourly_daily_rollup": events_hourly_daily_rollup,
    "doc_top_terms": doc_top_terms,
    "events_variant_stats": events_variant_stats,
    "customer_hierarchy_rollup": customer_hierarchy_rollup,
}

ORACLES = {
    "events_variant_stats": EVENTS_VARIANT_STATS_SQL,
    "ks_drift_orders": KS_DRIFT_ORDERS_SQL,
    "part_copurchase_bfs": PART_COPURCHASE_BFS_SQL,
    "asof_nearest_event": ASOF_NEAREST_EVENT_SQL,
    "asof_next_purchase": ASOF_NEXT_PURCHASE_SQL,
    "order_price_outliers_mad": ORDER_PRICE_OUTLIERS_MAD_SQL,
    "unpivot_part_metrics": UNPIVOT_PART_METRICS_SQL,
    "asof_purchase_attribution": ASOF_PURCHASE_ATTRIBUTION_SQL,
    "priority_year_pivot": PRIORITY_YEAR_PIVOT_SQL,
    "nation_order_quantiles": NATION_ORDER_QUANTILES_SQL,
    "events_hourly_daily_rollup": EVENTS_HOURLY_DAILY_ROLLUP_SQL,
    "doc_top_terms": DOC_TOP_TERMS_SQL,
    "customer_hierarchy_rollup": CUSTOMER_HIERARCHY_ROLLUP_SQL,
}
