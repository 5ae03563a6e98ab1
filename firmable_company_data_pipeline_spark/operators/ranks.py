"""Distributed exact global ranks over a total order (round 6).

Spark executes an unpartitioned ``Window.orderBy(...)`` by moving every
row into ONE partition — the single-reducer scale-killer the round-5
audit flagged on ``doc_length_deciles``.  But a global total order does
not require a global single sort: these primitives decompose it into

1. a **range repartition** on the order columns (Spark's distributed
   sort machinery — partition *i* holds keys wholly below partition
   *i+1*),
2. **per-partition window functions** keyed on ``spark_partition_id()``
   (P parallel groups of ~N/P rows each), and
3. a **broadcast-joined offset table** (P rows) built from per-partition
   totals, whose own cumulative window is over P rows — kilobytes at
   any scale.

Global rank = partition offset + within-partition rank; global prefix
aggregate = combine(all-previous-partition total, within-partition
prefix).  Everything is exact and engine-deterministic as long as
``order_cols`` is a total order (include a unique tie-break column),
because rank values are independent of where the range boundaries fall.

The range-partitioned frame is materialized: the offset build and the
row output are separate jobs, and RangePartitioner re-samples per
execution — without it the two jobs could disagree on partition
boundaries and the offsets would be wrong.

Used by ``queries.analytics.customer_rfm`` (quartile ntiles over the
customer grain), ``queries.analytics.part_revenue_pareto`` (global
rank + cumulative revenue), and
``queries.streaming_batch.events_late_audit`` (arrival-order
high-water-mark over the full event stream); the boundary-only sibling
for when per-row assignment isn't needed is the histogram formulation
in ``queries.llmops.doc_length_deciles``.

Ascending order only — wrap a descending need as an ascending sort of
the negated/complemented key, or add a sibling when one shows up.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.session import materialize

_PID, _RN, _OFF, _TOT = "_rk_pid", "_rk_rn", "_rk_off", "_rk_tot"


def _range_partitioned(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Range-repartition on the order columns and stamp the physical
    partition id.  localCheckpoint (lazy), not persist (r13): the
    offsets job and the row-output job must see IDENTICAL partition
    boundaries.  persist guaranteed that only while the blocks stayed
    cached — an evicted block would silently re-run RangePartitioner's
    sampling and could disagree; a checkpointed block either exists or
    fails loudly.  Checkpointing also truncates the lineage, so the two
    consumers (offsets broadcast + output rows) and any chained second
    rank (quality_ensemble_topk ranks twice) re-analyze a leaf scan,
    not the caller's full scoring pipeline — measured as the dominant
    plan-size term there (hundreds of duplicated Exchange subtrees in
    the formatted plan).  The first action (normally the offsets
    broadcast build) materializes the blocks."""
    return (
        df.repartitionByRange(*[F.asc(c) for c in order_cols])
        .withColumn(_PID, F.spark_partition_id())
        .transform(materialize, "iterate")
    )


def _ranked_with_counts(
    df: DataFrame, order_cols: list[str], out: str
) -> tuple[DataFrame, DataFrame]:
    """Shared core: (rows + global row number ``out``, P-row per-
    partition counts table) — so callers needing the total row count
    (ntile) aggregate the kilobyte counts table instead of rescanning
    the frame (review r6)."""
    base = _range_partitioned(df, order_cols)
    wp = Window.partitionBy(_PID).orderBy(*[F.asc(c) for c in order_cols])
    ranked = base.withColumn(_RN, F.row_number().over(wp))
    counts = base.groupBy(_PID).agg(F.count(F.lit(1)).alias("_n"))
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PID, F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias(_OFF)
    )
    out_df = (
        ranked.join(F.broadcast(offsets), _PID)
        .withColumn(out, (F.col(_OFF) + F.col(_RN)).cast("long"))
        .drop(_PID, _RN, _OFF)
    )
    return out_df, counts


def exact_global_row_number(
    df: DataFrame, order_cols: list[str], out: str = "rn"
) -> DataFrame:
    """``row_number() OVER (ORDER BY order_cols)`` without the global
    single-partition window: within-partition row_number (P parallel
    window groups) plus the broadcast per-partition row-count offsets.
    ``order_cols`` must be a total order (unique tie-break included) —
    with ties the split across range boundaries would be arbitrary.
    """
    return _ranked_with_counts(df, order_cols, out)[0]


def exact_ntile(
    df: DataFrame, n_buckets: int, order_cols: list[str], out: str = "bucket"
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY order_cols)``, distributed: the global
    row number from :func:`exact_global_row_number` pushed through
    NTILE's sizing rule (the first N%n buckets take one extra row) in
    pure integer arithmetic — bit-identical to the engine ntile, cast to
    int to match its type.  The total row count comes from the P-row
    counts table, not another pass over the frame."""
    rn = "_rk_ntile_rn"
    ranked, counts = _ranked_with_counts(df, order_cols, out=rn)
    total = counts.agg(F.sum("_n").cast("long").alias(_TOT))
    with_tot = ranked.crossJoin(F.broadcast(total))
    # N = total rows, q = N div n, rem = N % n: the first rem buckets
    # hold q+1 rows, the rest q.  Row r's bucket, in pure long
    # arithmetic (integer ceil(a/b) = (a + b - 1) div b):
    #   r <= rem*(q+1)  ->  ceil(r / (q+1))
    #   otherwise       ->  rem + ceil((r - rem*(q+1)) / q)
    q = F.expr(f"{_TOT} div {n_buckets}")
    rem = F.col(_TOT) % n_buckets
    r = F.col(rn)
    fat = rem * (q + 1)  # rows covered by the (q+1)-sized buckets
    bucket = F.when(
        r <= fat,
        F.expr(
            f"({rn} + ({_TOT} div {n_buckets})) div (({_TOT} div {n_buckets}) + 1)"
        ),
    ).otherwise(
        rem
        + F.expr(
            f"(({rn} - ({_TOT} % {n_buckets}) * (({_TOT} div {n_buckets}) + 1)) "
            f"+ ({_TOT} div {n_buckets}) - 1) div ({_TOT} div {n_buckets})"
        )
    )
    return with_tot.withColumn(out, bucket.cast("int")).drop(rn, _TOT)


def prefix_agg(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    fn: str = "max",
    inclusive: bool = True,
    out: str = "prefix",
    rank_out: str | None = None,
) -> DataFrame:
    """Running aggregate over a global total order —
    ``fn(value) OVER (ORDER BY order_cols ROWS UNBOUNDED PRECEDING
    [AND -1])`` — without the single-partition window: within-partition
    prefix plus the fold of all previous partitions' totals.

    ``fn``: ``"max"`` (high-water-marks) or ``"sum"`` (running totals;
    use an exact type — long/decimal — so the regrouped addition order
    cannot change the result).  ``inclusive=False`` gives the
    strictly-before frame (NULL for the first row overall), matching
    ``rowsBetween(unboundedPreceding, -1)``.

    ``rank_out``: also emit the global row number over the same order —
    fused into the same range partition, per-partition windows, and
    offset table, so callers needing rank AND running aggregate
    (``part_revenue_pareto``) pay ONE shuffle, not a chained
    ``exact_global_row_number`` + ``prefix_agg`` double shuffle
    (review r6).
    """
    if fn not in ("max", "sum"):
        raise ValueError(f"prefix_agg supports max/sum, got {fn!r}")
    agg = {"max": F.max, "sum": F.sum}[fn]
    base = _range_partitioned(df, order_cols)
    order = [F.asc(c) for c in order_cols]
    end = 0 if inclusive else -1
    wp = (
        Window.partitionBy(_PID)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = base.withColumn("_rk_within", agg(F.col(value_col)).over(wp))
    if rank_out is not None:
        wrn = Window.partitionBy(_PID).orderBy(*order)
        within = within.withColumn(_RN, F.row_number().over(wrn))
    totals = base.groupBy(_PID).agg(
        agg(F.col(value_col)).alias("_t"), F.count(F.lit(1)).alias("_n")
    )
    woff = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        _PID,
        agg(F.col("_t")).over(woff).alias(_OFF),
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_rk_cnt_off"),
    )
    joined = within.join(F.broadcast(offsets), _PID)
    w, off = F.col("_rk_within"), F.col(_OFF)
    if fn == "max":
        combined = F.greatest(off, w)  # greatest skips NULLs; both-NULL -> NULL
    else:
        combined = F.when(
            off.isNull() & w.isNull(), F.lit(None)
        ).otherwise(F.coalesce(off, F.lit(0)) + F.coalesce(w, F.lit(0)))
    joined = joined.withColumn(out, combined)
    if rank_out is not None:
        joined = joined.withColumn(
            rank_out, (F.col("_rk_cnt_off") + F.col(_RN)).cast("long")
        )
    return joined.drop(_PID, _RN, "_rk_within", _OFF, "_rk_cnt_off")
