"""Scale-diagnostics and sketch queries (charter extension): the
operators you reach for BEFORE and INSTEAD OF expensive plans at 100 TB.

* skew_report — heavy-hitter pre-flight for join/partition keys (feeds
  the `salted_join` / AQE-skew decisions).
* computed-key range binning — the rewrite that replaces a non-equi
  range join (BroadcastNestedLoop at best) with a pure projection.
* HLL / t-digest sketches — approx distinct and approx quantiles,
  oracle-checked via an ERROR CONTRACT: the oracle recomputes the exact
  answer and asserts the sketch landed within the documented bound, so
  the check is engine-independent (sketch internals differ between
  Spark and DuckDB and can never hash-match directly).

The reference has none of these (its only introspection is row counts,
`extract/commoncrawl_scraper.py:132-143`); they are what makes the
blocking/salting choices in its matching cascade (README.md:249-257)
data-driven instead of guessed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.operators.profile import skew_report
from firmable_company_data_pipeline_spark.session import load_tables, materialize


def _t(spark: SparkSession, sf_dir: str, *names: str):
    return load_tables(spark, sf_dir, *names)


# ---------------------------------------------------------------------------
# skew_report_events — heavy-hitter report on the events stream's user_id
# (the key every per-user window/stateful operator shuffles on). One
# partial-agg shuffle + broadcast total + TakeOrdered top-k.
def skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return skew_report(ev, "user_id", top_k=10)


SKEW_REPORT_EVENTS_SQL = """
WITH counts AS (
    SELECT CAST(user_id AS VARCHAR) AS key_value, count(*) AS n_rows
    FROM events GROUP BY 1
),
total AS (SELECT count(*) AS t FROM events)
SELECT key_value, n_rows,
       round(CAST(n_rows AS DOUBLE) / t, 6) AS share,
       CAST(row_number() OVER (ORDER BY n_rows DESC, key_value ASC) AS INT) AS rank
FROM counts, total
ORDER BY n_rows DESC, key_value ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# order_price_band_stats — the computed-key rewrite of a range join.
# Joining orders against a small `(lo, hi, band)` dim on
# `o_totalprice BETWEEN lo AND hi` plans as BroadcastNestedLoopJoin — per
# row × per band comparisons, and a full shuffle if the dim ever grows.
# When bands are regular, the join IS a projection: compute the band id
# arithmetically (width_bucket semantics) and aggregate. Zero joins,
# one agg shuffle of ~6 groups.
def order_price_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders")
    band = F.least(F.lit(5), F.floor(F.col("o_totalprice") / 100000).cast("int"))
    return (
        t["orders"]
        .withColumn("price_band", band)
        .groupBy("price_band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


ORDER_PRICE_BAND_STATS_SQL = """
SELECT least(5, CAST(floor(o_totalprice / 100000) AS INT)) AS price_band,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS sum_price,
       round(min(o_totalprice), 2) AS min_price,
       round(max(o_totalprice), 2) AS max_price
FROM orders
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# approx_distinct_users — HyperLogLog++ distinct counts per event type,
# oracle-checked via the error contract: emit the EXACT count (hash-
# matchable) plus a boolean asserting the sketch landed within 5% of it
# (HLL++ at rsd=0.01, so the 5% assertion has 5-sigma slack — the default
# rsd=0.05 is a STANDARD error, which a given dataset can exceed, and did
# at sf0.1). The sketch itself is map-side mergeable —
# at 100 TB it replaces the Expand-based exact distinct (which shuffles
# every distinct value) with fixed-size registers per partition.
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("_n_approx"),
        )
        .select(
            "event_type",
            "n_users_exact",
            (
                F.abs(F.col("_n_approx") - F.col("n_users_exact"))
                <= F.col("n_users_exact") * 0.05
            ).alias("approx_within_5pct"),
        )
    )


APPROX_DISTINCT_USERS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_users_exact,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# approx_median_value — t-digest-style quantile sketch (percentile_approx)
# per event type, same error-contract oracle: exact discrete median
# (bit-exact, hash-matchable) plus a boolean asserting the sketch is
# within 2% relative. At 100 TB percentile_approx's mergeable digest
# (accuracy 10000 ≈ 1/10000 rank error) replaces the co-located sort the
# exact quantile needs.
def approx_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    grouped = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("_m_approx"),
        F.count(F.lit(1)).alias("n_events"),
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
        ).alias("median_exact"),
    )
    return grouped.select(
        "event_type",
        "n_events",
        F.col("median_exact"),
        (
            F.abs(F.col("_m_approx") - F.col("median_exact"))
            <= F.abs(F.col("median_exact")) * 0.02
        ).alias("approx_within_2pct"),
    )


APPROX_MEDIAN_VALUE_SQL = """
SELECT event_type,
       count(*) AS n_events,
       quantile_disc(value, 0.5) AS median_exact,
       TRUE AS approx_within_2pct
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# salted_user_event_stats — the skew-salted join, proven semantics-
# preserving: events (big side, user_id is the skew-prone key every
# per-user operator shuffles on) ⋈ customer (mid-sized dim, deliberately
# NOT broadcast — the case salting exists for), then a per-segment
# rollup.  The oracle is the PLAIN join: identical results, different
# shuffle layout (each hot user spreads over 8 reducers).
def salted_user_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.joins import salted_join

    t = _t(spark, sf_dir, "events", "customer")
    ev = t["events"].select(
        F.col("user_id"), F.col("event_type"), F.col("value")
    )
    cust = t["customer"].select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    joined = salted_join(ev, cust, on="user_id", n_salt=8)
    return joined.groupBy("c_mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


SALTED_USER_EVENT_STATS_SQL = """
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


# ---------------------------------------------------------------------------
# incremental_distinct_users — MERGEABLE distinct via Datasketches HLL:
# per-day sketches (the stored per-partition sketch table a continuous
# aggregate would maintain — exact distinct is NOT mergeable, sketches
# are) unioned with hll_union_agg per event_type.  Error-contract oracle
# (the approx_distinct_users pattern): the exact count hash-matches,
# a boolean pins the merged estimate within 5%; the estimate itself is
# engine-specific and never compared.  At 100 TB the refresh cost is
# O(new partition) + a union of kilobyte sketches — pairs with
# merge.rollup_merge, which handles the algebraic metrics.
def incremental_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")["events"]
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.abs(F.col("approx") - F.col("n_exact")) / F.col("n_exact") <= 0.05
        ).alias("approx_within_5pct"),
    )


INCREMENTAL_DISTINCT_USERS_SQL = """
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       TRUE AS approx_within_5pct
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# term_cms_heavy_hitters — count-min-sketch frequency estimation for the
# corpus term stream (round 5): the third mergeable-sketch family next
# to HLL (distinct) and t-digest (quantiles).  A CMS is D×W counters; an
# occurrence increments one bucket per hash row, an estimate is the MIN
# over its D buckets — always an OVERcount (collisions only add), with
# E[overcount] ≤ N/W per row.  Unlike Spark's built-in sketches the
# arithmetic here is explicit (char-fold hash + per-row affine permute,
# the MinHash constant pattern), so BOTH engines compute bit-identical
# estimates and the driver hash-checks estimate AND exact side by side
# (no error-contract indirection needed).
#
# 100 TB shape: the sketch build is one (d, bucket) hash-agg whose
# output is D·W rows (kilobytes) regardless of corpus size — THE
# mergeable heavy-hitter structure for a streaming/partitioned refresh
# (operators/sketches.py `cms_partial`/`cms_merge`;
# `streaming/jobs.streaming_cms_refresh` maintains it incrementally and
# the stream-vs-batch test pins partial-sum == full-build).  The
# estimate join broadcasts the sketch.
from firmable_company_data_pipeline_spark.operators import sketches as sk  # noqa: E402

_CMS_D, _CMS_W = sk.CMS_D, sk.CMS_W
_CMS_K = 20
_CMS_A, _CMS_B = sk.CMS_A, sk.CMS_B


def term_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from firmable_company_data_pipeline_spark.functions import textstats as ts
    from firmable_company_data_pipeline_spark.session import spread

    docs = spread(_t(spark, sf_dir, "documents")["documents"])
    # the occurrence stream feeds the sketch build (D passes) and the
    # exact counts
    occ = docs.select(F.explode(ts.tokens(F.col("text"))).alias("term")).select(
        "term", ts.char_fold_hash(F.col("term")).alias("h")
    ).transform(materialize, "iterate")

    sketch = sk.cms_partial(occ)
    exact = occ.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_n"), F.min("h").alias("h")
    )
    est = sk.cms_lookup(exact, sketch).drop("h")
    # Top-k via orderBy().limit() — TakeOrdered, never a global
    # single-partition window sort over every distinct term — then rank
    # the ≤k survivors with a degenerate-partition row_number (the
    # operators/profile.skew_report pattern).
    top = est.orderBy(F.desc("est_n"), F.asc("term")).limit(_CMS_K)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("est_n"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank",
        "term",
        "est_n",
        "exact_n",
        (F.col("est_n") - F.col("exact_n")).alias("overcount"),
    )


from firmable_company_data_pipeline_spark.functions.textstats import (  # noqa: E402
    HASH_MOD as _CMS_MOD,
)

_CMS_TOKENS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
# Interpolated modulus: the Spark arm derives everything from
# textstats.HASH_MOD, so the oracle must too — a hardcoded literal here
# would silently desynchronize the engines if the constant ever moved.
_CMS_FOLD = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(string_split(term, ''), "
    f"c -> ascii(c)::BIGINT)), (h, c) -> (h*31 + c) % {_CMS_MOD})"
)
_CMS_A_SQL = "[" + ", ".join(str(a) for a in _CMS_A) + "]"
_CMS_B_SQL = "[" + ", ".join(str(b) for b in _CMS_B) + "]"

TERM_CMS_HEAVY_HITTERS_SQL = f"""
WITH occ AS (SELECT unnest({_CMS_TOKENS}) AS term FROM documents),
oh AS (SELECT term, {_CMS_FOLD} AS h FROM occ),
buckets AS (
  SELECT d.d,
         ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * h + ({_CMS_B_SQL}::BIGINT[])[d.d+1])
          % {_CMS_MOD}) % {_CMS_W} AS bucket
  FROM oh CROSS JOIN range({_CMS_D}) AS d(d)
),
sketch AS (SELECT d, bucket, count(*) AS cnt FROM buckets GROUP BY 1, 2),
exact AS (SELECT term, count(*) AS exact_n, min(h) AS h FROM oh GROUP BY term),
est AS (
  SELECT e.term, e.exact_n, min(s.cnt) AS est_n
  FROM exact e
  CROSS JOIN range({_CMS_D}) AS d(d)
  JOIN sketch s
    ON s.d = d.d
   AND s.bucket = ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * e.h
                    + ({_CMS_B_SQL}::BIGINT[])[d.d+1]) % {_CMS_MOD}) % {_CMS_W}
  GROUP BY 1, 2
)
SELECT rank, term, est_n, exact_n, est_n - exact_n AS overcount FROM (
  SELECT term, est_n, exact_n,
         row_number() OVER (ORDER BY est_n DESC, term) AS rank
  FROM est
) WHERE rank <= {_CMS_K}
"""


# ---------------------------------------------------------------------------
# cms_contamination_probe — point-probe a fixed dictionary (benchmark /
# eval-set terms) against the corpus CMS (round 5): the decontamination
# pre-screen that answers "does the training corpus contain these
# terms, roughly how often?" WITHOUT a corpus-side join — the sketch is
# kilobytes, the probe is a broadcast lookup.  Exercises cms_lookup's
# absent-key path: terms never counted must estimate exactly 0 (left
# join + coalesce), which the oracle pins with the same LEFT JOIN.
_CMS_PROBE_TERMS = ("join", "hash", "filter", "column", "zzzneverseen", "qqqabsent")


def cms_contamination_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.functions import textstats as ts
    from firmable_company_data_pipeline_spark.session import spread

    docs = spread(_t(spark, sf_dir, "documents")["documents"])
    occ = docs.select(F.explode(ts.tokens(F.col("text"))).alias("term")).select(
        ts.char_fold_hash(F.col("term")).alias("h")
    )
    sketch = sk.cms_partial(occ)
    probes = spark.createDataFrame(
        [(t,) for t in _CMS_PROBE_TERMS], "term string"
    ).select("term", ts.char_fold_hash(F.col("term")).alias("h"))
    return sk.cms_lookup(probes, sketch).drop("h")


_CMS_PROBES_SQL = ", ".join(f"'{t}'" for t in _CMS_PROBE_TERMS)

CMS_CONTAMINATION_PROBE_SQL = f"""
WITH occ AS (SELECT unnest({_CMS_TOKENS}) AS term FROM documents),
oh AS (SELECT {_CMS_FOLD} AS h FROM occ),
buckets AS (
  SELECT d.d,
         ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * h + ({_CMS_B_SQL}::BIGINT[])[d.d+1])
          % {_CMS_MOD}) % {_CMS_W} AS bucket
  FROM oh CROSS JOIN range({_CMS_D}) AS d(d)
),
sketch AS (SELECT d, bucket, count(*) AS cnt FROM buckets GROUP BY 1, 2),
probes AS (SELECT unnest([{_CMS_PROBES_SQL}]) AS term),
ph AS (SELECT term, {_CMS_FOLD} AS h FROM probes)
SELECT ph.term,
       min(COALESCE(s.cnt, 0))::BIGINT AS est_n
FROM ph
CROSS JOIN range({_CMS_D}) AS d(d)
LEFT JOIN sketch s
  ON s.d = d.d
 AND s.bucket = ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * ph.h
                  + ({_CMS_B_SQL}::BIGINT[])[d.d+1]) % {_CMS_MOD}) % {_CMS_W}
GROUP BY ph.term
"""


# ---------------------------------------------------------------------------
# cms_error_contract — grade the corpus CMS against exact counts over
# ALL terms, not just the top-k (round 6; the round-5 verdict's natural
# companion to term_cms_heavy_hitters).  The classic CMS guarantee for a
# D×W sketch: with eps = e/W and delta = e^-D, each point estimate
# overshoots its true count by more than eps*N with probability <= delta.
# This query states that contract as data: per-term overcounts are
# aggregated to max/mean, the eps*N bound is materialized, and the
# guarantee becomes two boolean columns — share of terms violating
# eps*N is <= delta, and the mean overcount is within the per-row
# expectation N/W.  Both engines compute the identical arithmetic
# (integer sums, one division, round(.,6), then the comparison), so the
# booleans hash-match regardless of whether the bound is tight.
#
# The key stream is word BIGRAMS, not unigrams: the synthetic corpus
# has ~31 distinct unigrams — fewer than W=512 buckets, which makes
# every estimate collision-free and the contract trivially 0/0.  The
# ~|V|² bigram universe exceeds W, so collisions (and nonzero
# overcounts) actually occur and the bound logic is exercised.
#
# 100 TB shape: one hash-agg to exact counts (the same agg any term
# frequency table needs), the kilobyte sketch broadcast into the
# estimate lookup, then a single-row summary — the error report costs
# one extra reduce over data the dedup/decontamination pipeline already
# materializes.
_CMS_E = 2.718281828459045  # math.e, shared literal with the oracle
_CMS_DELTA = 0.049787068367863944  # e^-D for D=3


def cms_error_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.functions import textstats as ts
    from firmable_company_data_pipeline_spark.session import spread

    docs = spread(_t(spark, sf_dir, "documents")["documents"])
    # Project the token array first: word_ngrams' lambda would otherwise
    # re-evaluate the split per element.
    toks = docs.select(ts.tokens(F.col("text")).alias("t"))
    grams = ts.word_ngrams(F.col("t"), 2)
    # the occurrence stream feeds the sketch build and the exact counts
    occ = toks.select(F.explode(grams).alias("term")).select(
        "term", ts.char_fold_hash(F.col("term")).alias("h")
    ).transform(materialize, "iterate")
    sketch = sk.cms_partial(occ)
    exact = occ.groupBy("term").agg(
        F.count(F.lit(1)).alias("exact_n"), F.min("h").alias("h")
    )
    est = sk.cms_lookup(exact, sketch)
    # N = total occurrences = row count of the persisted occ stream;
    # summing exact_n over est would re-run the per-term agg + D-way
    # sketch join just to add counts back up (review r6)
    tot = occ.agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    per = est.crossJoin(F.broadcast(tot)).select(
        "n_occurrences", (F.col("est_n") - F.col("exact_n")).alias("oc")
    )
    eps_n = F.col("n_occurrences") * F.lit(_CMS_E) / F.lit(_CMS_W)
    n = F.count(F.lit(1))
    out = per.groupBy("n_occurrences").agg(
        n.cast("long").alias("n_terms"),
        F.max("oc").cast("long").alias("max_overcount"),
        F.round(F.sum("oc").cast("double") / n, 6).alias("mean_overcount"),
        F.round(
            F.sum((F.col("oc") > eps_n).cast("int")).cast("double") / n, 6
        ).alias("violation_share"),
    )
    return out.select(
        "n_terms",
        "n_occurrences",
        "max_overcount",
        "mean_overcount",
        F.round(eps_n, 6).alias("eps_bound"),
        "violation_share",
        (F.col("violation_share") <= F.lit(_CMS_DELTA)).alias("within_contract"),
        (F.col("mean_overcount") <= F.col("n_occurrences") / F.lit(_CMS_W)).alias(
            "mean_within_expected"
        ),
    )


CMS_ERROR_CONTRACT_SQL = f"""
WITH tok AS (SELECT {_CMS_TOKENS} AS t FROM documents),
occ AS (
  SELECT unnest(CASE WHEN len(t) >= 2
                THEN list_transform(range(len(t)-1), i -> t[i+1] || ' ' || t[i+2])
                ELSE []::VARCHAR[] END) AS term
  FROM tok
),
oh AS (SELECT term, {_CMS_FOLD} AS h FROM occ),
buckets AS (
  SELECT d.d,
         ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * h + ({_CMS_B_SQL}::BIGINT[])[d.d+1])
          % {_CMS_MOD}) % {_CMS_W} AS bucket
  FROM oh CROSS JOIN range({_CMS_D}) AS d(d)
),
sketch AS (SELECT d, bucket, count(*) AS cnt FROM buckets GROUP BY 1, 2),
exact AS (SELECT term, count(*) AS exact_n, min(h) AS h FROM oh GROUP BY term),
est AS (
  SELECT e.term, e.exact_n, min(COALESCE(s.cnt, 0))::BIGINT AS est_n
  FROM exact e
  CROSS JOIN range({_CMS_D}) AS d(d)
  LEFT JOIN sketch s
    ON s.d = d.d
   AND s.bucket = ((({_CMS_A_SQL}::BIGINT[])[d.d+1] * e.h
                    + ({_CMS_B_SQL}::BIGINT[])[d.d+1]) % {_CMS_MOD}) % {_CMS_W}
  GROUP BY 1, 2
),
tot AS (SELECT count(*)::BIGINT AS n_occurrences FROM oh),
per AS (
  SELECT n_occurrences, est_n - exact_n AS oc FROM est CROSS JOIN tot
),
agg AS (
  SELECT n_occurrences,
         count(*)::BIGINT AS n_terms,
         max(oc)::BIGINT AS max_overcount,
         round(CAST(sum(oc) AS DOUBLE) / count(*), 6) AS mean_overcount,
         round(CAST(sum(CASE WHEN oc > n_occurrences * {_CMS_E!r} / {_CMS_W}
                             THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
           AS violation_share
  FROM per GROUP BY 1
)
SELECT n_terms, n_occurrences, max_overcount, mean_overcount,
       round(n_occurrences * {_CMS_E!r} / {_CMS_W}, 6) AS eps_bound,
       violation_share,
       violation_share <= {_CMS_DELTA!r} AS within_contract,
       mean_overcount <= n_occurrences / {_CMS_W} AS mean_within_expected
FROM agg
"""


# ---------------------------------------------------------------------------
# value_quantile_sketch — the quantile member of the mergeable-sketch
# family (CMS = heavy hitters, HLL = distinct): a constant-size fixed-bin
# histogram (operators/sketches.hist_partial, ≤ HIST_BINS counter rows,
# partials add across partitions/batches — streaming twin:
# streaming/jobs.streaming_histogram_refresh) against the EXACT
# distributed quantile computed the doc_length_deciles way — cum window
# over DISTINCT values only (bounded by the value domain, ~50k rows at
# 2-decimal values — never a data-sized single reducer).  The exact
# quantile rule is explicit in both engines (min value whose cumulative
# count reaches ceil(q·N)) rather than an engine's percentile variant,
# so the two sides are bit-comparable.  `within_bin` pins that the
# sketch's bin is exactly the bin containing the true quantile — the
# ≤ one-bin-width error contract, provable from the cum construction
# and checked per row.
_HIST_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


# The exact side's cum-sum window runs over DISTINCT values — bounded by
# the VALUE DOMAIN (2-decimal values in a known range: ~56k max for the
# events table), never by row count.  That is a data-shape assumption, not
# a plan property (verdict r7 #5): on a continuous column the "exact" side
# would silently degrade to a data-sized single reducer.  The cap below is
# enforced AT RUNTIME inside the plan (F.assert_true on a broadcast 1-row
# distinct count), so a domain that outgrows the bound fails loudly
# instead of melting an executor — at which point the ranks-based
# distributed exact quantile (operators/ranks) is the right tool.
_EXACT_DOMAIN_CAP = 100_000


def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL values excluded on BOTH sides (quantiles are over observed
    # values; see hist_partial's matching filter — review r7)
    ev = _t(spark, sf_dir, "events")["events"].filter(F.col("value").isNotNull())
    return quantile_sketch_report(ev)


def quantile_sketch_report(ev: DataFrame) -> DataFrame:
    """Sketch-vs-exact quantile report over ``ev.value`` (non-null).
    Split out of the registered query so the domain-cap guard is
    testable on synthetic frames."""
    from pyspark.sql import Window

    from firmable_company_data_pipeline_spark.operators import sketches as sk

    spark = ev.sparkSession
    total = ev.agg(F.count(F.lit(1)).alias("n"))
    targets = F.broadcast(
        spark.createDataFrame([(q,) for q in _HIST_QS], "q double")
        .crossJoin(F.broadcast(total))
        .select("q", "n", F.ceil(F.col("q") * F.col("n")).cast("long").alias("target"))
    )
    # exact side: per-value hash-agg, cum window over distinct values
    vals = ev.groupBy("value").agg(F.count(F.lit(1)).alias("cnt"))
    # runtime domain-cap guard (verdict r7 #5): a 1-row broadcast count
    # of the window's input rides the plan and assert_true fails the
    # job if the distinct-value domain outgrows the documented bound —
    # the condition that would turn this window into a data-sized
    # single reducer.  The assertion is fused into the `cnt` column of
    # the window's INPUT projection (review r8): it therefore evaluates
    # map-side, BEFORE the single-partition sort the cap exists to
    # prevent — fused only into the output, the data-sized sort would
    # OOM first and the loud failure would never be reached.
    n_distinct = F.broadcast(vals.agg(F.count(F.lit(1)).alias("n_distinct")))
    domain_ok = F.assert_true(
        F.col("n_distinct") <= F.lit(_EXACT_DOMAIN_CAP),
        F.concat(
            F.lit("quantile_sketch_report exact side: "),
            F.col("n_distinct").cast("string"),
            F.lit(
                f" distinct values exceed the bounded-domain cap "
                f"{_EXACT_DOMAIN_CAP}; the cum-sum window would be "
                "data-sized — use the ranks-based exact quantile instead"
            ),
        ),
    )
    guarded = vals.crossJoin(n_distinct).select(
        "value",
        # assert_true returns NULL on success, so this IS col("cnt")
        # with the guard riding the pre-window projection
        F.when(domain_ok.isNull(), F.col("cnt")).alias("cnt"),
    )
    wv = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    vcum = guarded.withColumn("cum", F.sum("cnt").over(wv))
    exact = (
        vcum.join(targets, F.col("cum") >= F.col("target"))
        .groupBy("q", "n")
        .agg(F.min("value").alias("exact_value"))
    )
    # sketch side: constant-size bin counters, cum over ≤ HIST_BINS rows
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    bcum = sk.hist_partial(ev).withColumn("cum", F.sum("cnt").over(wb))
    est = (
        bcum.join(targets, F.col("cum") >= F.col("target"))
        .groupBy("q")
        .agg(F.min("bin").alias("bin"))
    )
    lo, w = sk.HIST_LO, sk.HIST_WIDTH
    return (
        exact.join(est, "q")
        .select(
            "q",
            F.col("n").alias("n_events"),
            F.round("exact_value", 2).alias("exact_value"),
            (F.lit(lo) + F.col("bin") * F.lit(w)).alias("est_value"),
            (
                (F.col("exact_value") >= F.lit(lo) + F.col("bin") * F.lit(w))
                & (F.col("exact_value") < F.lit(lo) + (F.col("bin") + 1) * F.lit(w))
            ).alias("within_bin"),
        )
    )


_VQS_QS_SQL = ", ".join(f"({q!r})" for q in _HIST_QS)

VALUE_QUANTILE_SKETCH_SQL = f"""
WITH nn AS (SELECT value FROM events WHERE value IS NOT NULL),
totals AS (SELECT count(*) AS n FROM nn),
qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES {_VQS_QS_SQL}) t(q)),
targets AS (SELECT q, n, CAST(ceil(q * n) AS BIGINT) AS target FROM qs, totals),
vals AS (SELECT value, count(*) AS cnt FROM nn GROUP BY 1),
vcum AS (SELECT value, sum(cnt) OVER (ORDER BY value) AS cum FROM vals),
exact AS (
  SELECT t.q, t.n, min(v.value) AS exact_value
  FROM targets t JOIN vcum v ON v.cum >= t.target GROUP BY 1, 2
),
bins AS (
  SELECT least(greatest(CAST(floor((value - {{lo}}::DOUBLE) / {{w}}::DOUBLE) AS BIGINT), 0),
               {{maxbin}}) AS bin,
         count(*) AS cnt
  FROM nn GROUP BY 1
),
bcum AS (SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum FROM bins),
est AS (
  SELECT t.q, min(b.bin) AS bin
  FROM targets t JOIN bcum b ON b.cum >= t.target GROUP BY 1
)
SELECT e.q, e.n AS n_events,
       round(e.exact_value, 2) AS exact_value,
       {{lo}}::DOUBLE + est.bin * {{w}}::DOUBLE AS est_value,
       e.exact_value >= {{lo}}::DOUBLE + est.bin * {{w}}::DOUBLE
         AND e.exact_value < {{lo}}::DOUBLE + (est.bin + 1) * {{w}}::DOUBLE AS within_bin
FROM exact e JOIN est ON e.q = est.q
"""


def _vqs_sql() -> str:
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    return VALUE_QUANTILE_SKETCH_SQL.format(
        lo=repr(sk.HIST_LO), w=repr(sk.HIST_WIDTH), maxbin=sk.HIST_BINS - 1
    )


# ---------------------------------------------------------------------------
# bloom_filtered_lineitems — runtime-filter (semi-join reduction) demo:
# lineitems of URGENT orders via operators/joins.bloom_semi_join — a
# broadcast ~KB bit vector prunes the fact scan map-side, then an exact
# left-semi verify; the result is IDENTICAL to the plain EXISTS oracle
# (the bloom can only drop provably-unmatched rows).  The agg on top
# keeps the output compact and pins the whole pruned pipeline.
def bloom_filtered_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.joins import bloom_semi_join

    t = _t(spark, sf_dir, "lineitem", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    hits = bloom_semi_join(
        t["lineitem"], urgent, left_key="l_orderkey", right_key="o_orderkey"
    )
    return (
        hits.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


BLOOM_FILTERED_LINEITEMS_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*)                                          AS n_items,
       round(sum(l_quantity), 2)                         AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey
                AND o_orderpriority = '1-URGENT')
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# ---------------------------------------------------------------------------
# kmv_distinct_users — deterministic bottom-k distinct sketch per event
# type (operators/sketches.kmv_distinct): unlike approx_distinct_users'
# HLL (engine-private registers → error-contract oracle only), KMV is
# order statistics over an explicit affine hash, so the ESTIMATE itself
# hash-matches DuckDB computing the same sketch — and the query doubles
# as the sketch's error card (n_exact + rel_err columns).
_KMV_K = 64


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")["events"]
    return kmv_distinct(ev, "event_type", "user_id", k=_KMV_K)


KMV_DISTINCT_USERS_SQL = f"""
WITH du AS MATERIALIZED (
  SELECT DISTINCT event_type AS g, user_id AS u FROM events),
h AS (
  -- pmod mirror (advice r12): Spark's pmod is always non-negative while
  -- DuckDB's % follows the dividend's sign, so fold the inner remainder
  -- up front; the outer operand is then non-negative and plain % agrees.
  SELECT g, (((u % 1000000007) + 1000000007) % 1000000007
             * 1103515245 + 12345) % 1000000007 AS h FROM du),
r AS (
  SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
m AS (
  SELECT g, count(*) AS n_exact,
         max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
  FROM r GROUP BY g),
e AS (
  SELECT g, n_exact,
         CASE WHEN n_exact < {_KMV_K} THEN n_exact::DOUBLE
              ELSE round({_KMV_K - 1}.0 * 1000000007.0 / hk, 2) END AS est_distinct
  FROM m)
SELECT g AS event_type, n_exact, est_distinct,
       round(abs(est_distinct - n_exact) / n_exact, 4) AS rel_err
FROM e
"""


# ---------------------------------------------------------------------------
# kmv_join_cardinality — KMV set-operation estimator (Beyer et al.
# 2007, operators/sketches.kmv_intersection): estimate the key union /
# overlap / Jaccard of orders.o_custkey vs customer.c_custkey from the
# two bottom-64 sketches alone — the pre-join diagnostic that sizes a
# join's key overlap for the cost of two sketch builds instead of the
# join.  Deterministic order statistics end-to-end, so the oracle
# replays the identical sketch arithmetic.
def kmv_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.sketches import (
        kmv_intersection,
    )

    t = _t(spark, sf_dir, "orders", "customer")
    return kmv_intersection(
        t["orders"], "o_custkey", t["customer"], "c_custkey", k=_KMV_K
    )


KMV_JOIN_CARDINALITY_SQL = f"""
WITH a AS MATERIALIZED (
  -- pmod mirror (advice r12): see KMV_DISTINCT_USERS_SQL
  SELECT DISTINCT (((o_custkey % 1000000007) + 1000000007) % 1000000007
                   * 1103515245 + 12345) % 1000000007 AS h
  FROM orders),
b AS MATERIALIZED (
  SELECT DISTINCT (((c_custkey % 1000000007) + 1000000007) % 1000000007
                   * 1103515245 + 12345) % 1000000007 AS h
  FROM customer),
sa AS MATERIALIZED (SELECT h FROM a ORDER BY h LIMIT {_KMV_K}),
sb AS MATERIALIZED (SELECT h FROM b ORDER BY h LIMIT {_KMV_K}),
u AS MATERIALIZED (
  SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb) uu
  ORDER BY h LIMIT {_KMV_K}),
m AS (
  SELECT (SELECT count(*) FROM sa) AS n_sketch_a,
         (SELECT count(*) FROM sb) AS n_sketch_b,
         (SELECT count(*) FROM u)  AS nu,
         (SELECT max(h) FROM u)    AS hk,
         (SELECT count(*) FROM u
          WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS ni),
e AS (
  SELECT *, CASE WHEN nu < {_KMV_K} THEN nu::DOUBLE
                 ELSE round({_KMV_K - 1}.0 * 1000000007.0 / hk, 2) END AS est_union
  FROM m)
SELECT n_sketch_a, n_sketch_b, est_union,
       round(ni::DOUBLE / nu * est_union, 2) AS est_overlap,
       round(ni::DOUBLE / nu, 4)             AS est_jaccard
FROM e
"""


QUERIES = {
    "term_cms_heavy_hitters": term_cms_heavy_hitters,
    "bloom_filtered_lineitems": bloom_filtered_lineitems,
    "kmv_distinct_users": kmv_distinct_users,
    "kmv_join_cardinality": kmv_join_cardinality,
    "cms_contamination_probe": cms_contamination_probe,
    "cms_error_contract": cms_error_contract,
    "skew_report_events": skew_report_events,
    "salted_user_event_stats": salted_user_event_stats,
    "incremental_distinct_users": incremental_distinct_users,
    "order_price_band_stats": order_price_band_stats,
    "approx_distinct_users": approx_distinct_users,
    "approx_median_value": approx_median_value,
    "value_quantile_sketch": value_quantile_sketch,
}

ORACLES = {
    "term_cms_heavy_hitters": TERM_CMS_HEAVY_HITTERS_SQL,
    "bloom_filtered_lineitems": BLOOM_FILTERED_LINEITEMS_SQL,
    "kmv_distinct_users": KMV_DISTINCT_USERS_SQL,
    "kmv_join_cardinality": KMV_JOIN_CARDINALITY_SQL,
    "cms_contamination_probe": CMS_CONTAMINATION_PROBE_SQL,
    "cms_error_contract": CMS_ERROR_CONTRACT_SQL,
    "skew_report_events": SKEW_REPORT_EVENTS_SQL,
    "salted_user_event_stats": SALTED_USER_EVENT_STATS_SQL,
    "incremental_distinct_users": INCREMENTAL_DISTINCT_USERS_SQL,
    "order_price_band_stats": ORDER_PRICE_BAND_STATS_SQL,
    "approx_distinct_users": APPROX_DISTINCT_USERS_SQL,
    "approx_median_value": APPROX_MEDIAN_VALUE_SQL,
    "value_quantile_sketch": _vqs_sql(),
}
