"""Table profiling: per-column statistics in one pass.

The reference has no profiling at all — its only introspection is row
counts (A7, ``extract/commoncrawl_scraper.py:132-143``).  A pipeline
operating at corpus scale needs cheap answers to "how null / how
distinct / what range is this column" before deciding join strategies,
partition keys, or quality rules; this operator provides them as a
DataFrame (never a driver-side collect).

Scale design: every statistic is computed in ONE aggregate over one
scan.  Multiple exact ``count(DISTINCT col)`` aggregates compile to a
single shuffle via Catalyst's Expand rewrite; with
``approx=True`` they become HyperLogLog++ sketches
(``approx_count_distinct``) — map-side mergeable, no Expand blowup —
which is the right mode at 100 TB (exact mode exists for oracle
parity and small tables).  Min/max/avg apply to numeric columns only;
non-numeric columns report NULLs for them (string min/max would force
collation semantics into the contract for little value).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

PROFILE_COLS = (
    "col_name",
    "n_rows",
    "n_nulls",
    "n_distinct",
    "min_val",
    "max_val",
    "avg_val",
)


def column_profile(
    df: DataFrame, cols: Sequence[str] | None = None, approx: bool = False
) -> DataFrame:
    """One row per profiled column: ``(col_name, n_rows, n_nulls,
    n_distinct, min_val, max_val, avg_val)`` — numeric stats are NULL
    for non-numeric columns.  ``approx=True`` swaps exact distinct
    counts for HLL++ sketches (the 100-TB mode)."""
    cols = list(cols or df.columns)
    numeric = {
        f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)
    }
    distinct = (
        (lambda c: F.approx_count_distinct(c)) if approx else (lambda c: F.countDistinct(c))
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"_n{i}"))
        aggs.append(distinct(F.col(c)).cast("long").alias(f"_d{i}"))
        if c in numeric:
            aggs.append(F.min(c).cast("double").alias(f"_mn{i}"))
            aggs.append(F.max(c).cast("double").alias(f"_mx{i}"))
            aggs.append(F.avg(c).cast("double").alias(f"_av{i}"))
    wide = df.agg(*aggs)
    fields = []
    for i, c in enumerate(cols):
        if c in numeric:
            fields.append(f"'{c}', _rows, _n{i}, _d{i}, _mn{i}, _mx{i}, _av{i}")
        else:
            fields.append(
                f"'{c}', _rows, _n{i}, _d{i}, CAST(NULL AS DOUBLE), "
                "CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)"
            )
    return wide.selectExpr(
        f"stack({len(cols)}, {', '.join(fields)}) AS "
        "(col_name, n_rows, n_nulls, n_distinct, min_val, max_val, avg_val)"
    )


def skew_report(df: DataFrame, key: str, top_k: int = 10) -> DataFrame:
    """Heavy-hitter report for a prospective join/partition key: the
    ``top_k`` hottest key values with row counts and share of the table.

    This is the pre-flight check for the salting / AQE-skew decisions
    (``operators.joins.salted_join``, AQE skew-join splitting): a key
    whose top value holds >1/shuffle-partitions of the rows WILL straggle.

    Plan: one partial-agg shuffle on the key (map-side combine does the
    heavy lifting — the shuffle carries one row per distinct key per map
    task, not the raw table), a broadcast 1-row total, and a global top-k
    (TakeOrdered — no full sort).  Returns
    ``(key_value, n_rows, share, rank)``; share is exact.
    """
    counts = df.groupBy(F.col(key).cast("string").alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = df.agg(F.count(F.lit(1)).alias("_total"))
    ranked = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
        .orderBy(F.desc("n_rows"), F.asc("key_value"))
        .limit(top_k)
    )
    # Window input is the post-limit frame (<= top_k rows), so a single
    # partition is bounded by construction; the constant partition key only
    # keeps WindowExec from logging the no-partition warning.
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("n_rows"), F.asc("key_value"))
    return ranked.withColumn("rank", F.row_number().over(w)).select(
        "key_value", "n_rows", "share", "rank"
    )
