"""Sinks (SURVEY.md §2.1 S8-S11).

The reference's three load modes map onto Spark writer modes:

* drop/recreate (S9, extract/abr_parser.py:26-43) → ``mode("overwrite")``
* truncate-reload (S10, transform/data_cleaning.py:121-133) →
  ``mode("overwrite").option("truncate", "true")`` on JDBC
* batched inserts (S8, 50k/500k ``execute_values``) → JDBC ``batchsize``
  / parquet row groups — Spark writes are partition-parallel, the
  reference's manual batching is subsumed.

Parquet is the canonical store (partition-friendly, column-pruned);
JDBC is the optional compatibility sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.session import (
    hadoop_fs,
    materialize,
    materialized,
)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC source (S7, transform/data_cleaning.py:92-100).

    ``table`` may be a table name or a parenthesized subquery alias —
    Catalyst pushes filters/aggregates into the remote database (DSv2
    pushdown), which is the Spark analog of the reference running its
    stage-1 join inside Postgres (transform/entity_matching.py:113-135).

    At scale, pass ``partition_column``/bounds/``num_partitions`` (or
    explicit ``predicates``) so the read is split across executors —
    the distributed replacement for the reference's ORDER/OFFSET/FETCH
    pagination (O1, transform/entity_matching.py:95-110).
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 32))
        )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if predicates:
        # Spark's predicate-list API lives on the classic reader path.
        props = dict(properties or {})
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    return reader.load()


def write_overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Full-refresh parquet write (S9 semantics). ``partition_by`` enables
    partition pruning for downstream readers — at 100 TB, partition the
    silver layer by a low-cardinality pruning key (e.g. state)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    truncate: bool = False,
    batchsize: int = 50_000,
    properties: dict[str, str] | None = None,
) -> None:
    """JDBC sink with the reference's batch-size default
    (extract/abr_parser.py:20). ``truncate=True`` reproduces the
    truncate-reload mode (S10) without dropping the table's DDL."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .option("truncate", str(truncate).lower())
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


# ---------------------------------------------------------------------------
# Table maintenance (charter extension): the write-path operations a
# 100 TB parquet lake needs that the reference's drop/recreate Postgres
# loads never faced.


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, n_data_files) of a table directory via the Hadoop
    FileSystem API — works for any supported scheme (file://, s3a://,
    hdfs://), not just the local disk."""
    fs, jpath = hadoop_fs(spark, path)
    summary = fs.getContentSummary(jpath)
    n_files = 0
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n_files += 1
    return summary.getLength(), n_files


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    rebalance: bool = False,
) -> dict[str, int]:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files and atomically swap
    it in (write to a sibling ``__compacting`` dir, then rename).

    Streaming sinks and per-task writes accrete small files; at 100 TB a
    table scanned by thousands of tasks lives or dies by file sizing
    (driver listing time, row-group locality, task scheduling overhead).
    ``rebalance=False`` (default) uses ``coalesce`` — no shuffle, tasks
    concatenate neighbors; ``rebalance=True`` pays one round-robin
    shuffle for evenly sized output files when the input is skewed.

    Crash-safety contract: single writer, no concurrent readers during
    the swap window.  The two renames are not jointly atomic — a crash
    between them leaves ``path`` missing with the data intact in
    ``path__pre_compact``.  :func:`recover_compaction` (called here on
    entry, and safe to call at startup) restores that state; a real
    multi-writer/snapshot-isolation story is what a table format's
    commit protocol (Delta/Iceberg) provides on top of this layout.

    Returns ``{"files_before", "files_after", "bytes"}``.
    """
    import math

    recover_compaction(spark, path)
    total_bytes, files_before = dir_stats(spark, path)
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    df = spark.read.parquet(path)
    shaped = df.repartition(n_out) if rebalance else df.coalesce(n_out)

    tmp = path.rstrip("/") + "__compacting"
    shaped.write.mode("overwrite").parquet(tmp)

    fs, jpath = hadoop_fs(spark, path)
    _, jtmp = hadoop_fs(spark, tmp)
    _, old = hadoop_fs(spark, path.rstrip("/") + "__pre_compact")
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(jpath, old):
        raise IOError(f"compact_parquet: could not move {path} aside")
    if not fs.rename(jtmp, jpath):
        fs.rename(old, jpath)  # roll back
        raise IOError(f"compact_parquet: could not swap in compacted {tmp}")
    fs.delete(old, True)

    _, files_after = dir_stats(spark, path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": total_bytes,
    }


def recover_compaction(spark: SparkSession, path: str) -> str | None:
    """Repair an interrupted :func:`compact_parquet` swap.

    If the table path is missing but ``path__pre_compact`` exists (crash
    between the two renames), rename the backup back into place.  Stale
    ``path__compacting`` output is removed in either case (it is never
    the only copy: the source dir still exists until the first rename,
    and the backup exists after it).  Returns a short description of the
    action taken, or None if nothing needed repair.
    """
    fs, jpath = hadoop_fs(spark, path)
    _, pre = hadoop_fs(spark, path.rstrip("/") + "__pre_compact")
    _, tmp = hadoop_fs(spark, path.rstrip("/") + "__compacting")
    action = None
    if not fs.exists(jpath) and fs.exists(pre):
        if not fs.rename(pre, jpath):
            raise IOError(f"recover_compaction: could not restore {path} from backup")
        action = "restored_from_pre_compact"
    if fs.exists(tmp):
        fs.delete(tmp, True)
        action = action or "removed_stale_compacting"
    return action


def incremental_append(
    spark: SparkSession,
    source: DataFrame,
    sink_path: str,
    watermark_col: str,
) -> int:
    """High-water-mark incremental load (batch CDC): append only source
    rows with ``watermark_col`` strictly greater than the sink's current
    maximum.

    This replaces the reference's full drop/recreate reloads
    (extract/abr_parser.py:26-43 runs the whole 19M-row extract every
    time) with the idempotent incremental pattern: re-running after a
    partial failure appends nothing twice as long as the source is
    append-ordered on the watermark column.  The sink-side max is ONE
    min/max aggregate — parquet footer statistics answer it without
    scanning data pages.

    Returns the number of rows appended.
    """
    fs, jpath = hadoop_fs(spark, sink_path)
    if fs.exists(jpath):
        hwm = spark.read.parquet(sink_path).agg({watermark_col: "max"}).first()[0]
    else:
        hwm = None
    from pyspark.sql import functions as F

    delta = source if hwm is None else source.filter(F.col(watermark_col) > F.lit(hwm))
    with materialized():
        delta = materialize(delta, "share")
        n = delta.count()
        if n:
            delta.write.mode("append").parquet(sink_path)
    return n


def read_json_lenient(spark: SparkSession, path: str, schema):
    """JSON-lines scan with corrupt-record capture (S3 robustness).

    The reference's index scan trusts every line to parse
    (``extract/commoncrawl_scraper.py:152-156`` json.loads with no
    handler — one bad line kills the batch). At corpus scale malformed
    records are a statistical certainty; PERMISSIVE mode lands them in
    ``_corrupt_record`` instead of failing the task, so the pipeline can
    route them to quarantine (``operators/quality.enforce``) and keep
    going. Pass an explicit schema — schema inference would cost a full
    extra pass over 100 TB.
    """
    from pyspark.sql.types import StringType, StructType

    if "_corrupt_record" not in schema.names:
        fields = list(schema.fields)
        schema = StructType(fields).add("_corrupt_record", StringType())
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_csv_lenient(spark: SparkSession, path: str, schema, **options):
    """CSV scan with corrupt-record capture — the delimited-file twin of
    :func:`read_json_lenient` (the ABR distribution also ships lookup
    CSVs; at corpus scale ragged rows are a certainty).  PERMISSIVE mode
    lands unparseable lines in ``_corrupt_record`` for quarantine
    routing; explicit schema (inference would cost a full extra pass).

    ``options`` pass through to the reader (``header``, ``sep``, ...).
    """
    from pyspark.sql.types import StringType, StructType

    if "_corrupt_record" not in schema.names:
        schema = StructType(list(schema.fields)).add(
            "_corrupt_record", StringType()
        )
    reader = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def write_sorted(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    sort_cols: list[str],
    target_partitions: int | None = None,
) -> None:
    """Pruning-optimized parquet layout: directory-partition by the
    coarse key, cluster rows WITHIN each task by ``sort_cols`` so
    parquet row-group min/max statistics become selective — readers
    filtering on the sort key skip row groups without touching data
    (the poor man's Z-order; at 100 TB this is the difference between
    scanning a partition and scanning a few row groups of it).

    ``repartition(partition_by)`` first, so each directory partition is
    written by few tasks (no small-file explosion), then
    ``sortWithinPartitions(partition_by..., sort_cols...)`` — a
    task-local sort, never a global one.  The partition columns LEAD
    the sort so the file writer's required ordering (rows grouped by
    partition value) is already satisfied and it adds no re-sort of its
    own — otherwise ``FileFormatWriter`` sorts by the partition columns
    only and destroys the clustering this function exists to create.
    """
    parts = (
        df.repartition(target_partitions, *[F.col(c) for c in partition_by])
        if target_partitions
        else df.repartition(*[F.col(c) for c in partition_by])
    )
    (
        parts.sortWithinPartitions(*partition_by, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def zorder_key(cols: list[str], bits: int = 10) -> "F.Column":
    """Morton (Z-order) key interleaving ``bits`` quantized bits per
    column: column i's bit b lands at position ``b*len(cols)+i`` of the
    key, so a range of z-values is simultaneously a narrow range in
    EVERY input column.

    Quantization is linear min→max per column (one broadcastable 1-row
    aggregate computes the bounds; the caller crossJoins it in —
    ``write_zorder`` does this).  Expects bound columns named
    ``_min_<c>`` / ``_max_<c>`` alongside the data columns.  NULLs
    quantize to bucket 0.  The whole key is a pure bit-arithmetic
    projection — JVM codegen, no UDF, no shuffle of its own.
    """
    n = len(cols)
    z = F.lit(0).cast("long")
    for i, c in enumerate(cols):
        span = F.col(f"_max_{c}") - F.col(f"_min_{c}")
        q = F.when(
            F.col(c).isNull() | (span <= 0), F.lit(0).cast("long")
        ).otherwise(
            F.least(
                F.lit((1 << bits) - 1),
                F.floor(
                    (F.col(c).cast("double") - F.col(f"_min_{c}"))
                    / span
                    * ((1 << bits) - 1)
                ),
            ).cast("long")
        )
        for b in range(bits):
            z = z + F.shiftleft(
                F.shiftright(q, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    bits: int = 10,
    target_partitions: int | None = None,
) -> None:
    """Multi-dimensional pruning layout: cluster files by the Morton
    interleave of ``zorder_cols`` so row-group min/max stats are
    selective on EVERY listed column at once — ``write_sorted`` gives
    perfect pruning on its lead sort column and none on the second;
    Z-order trades a little of the first for usable pruning on all
    (the Databricks OPTIMIZE ZORDER BY layout, rebuilt from public
    Morton-code arithmetic).

    Plan: 1-row min/max aggregate (broadcast) → map-only z-key
    projection → ``repartitionByRange`` on the key (range exchange:
    each output file owns a contiguous z-range = a hyper-rectangle
    per file) → task-local sort by the key → parquet.
    """
    bounds = df.agg(
        *[
            f
            for c in zorder_cols
            for f in (
                F.min(F.col(c).cast("double")).alias(f"_min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"_max_{c}"),
            )
        ]
    )
    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z", zorder_key(zorder_cols, bits)
    )
    parts = (
        keyed.repartitionByRange(target_partitions, "_z")
        if target_partitions
        else keyed.repartitionByRange("_z")
    )
    (
        parts.sortWithinPartitions("_z")
        .drop("_z", *[f"_min_{c}" for c in zorder_cols], *[f"_max_{c}" for c in zorder_cols])
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed, sorted table layout — the co-located-join primitive
    and the Spark analog of the reference's B-tree indexes on join keys
    (``db/ddl_scripts.sql:93-120``): two tables bucketed the same way
    on the join key sort-merge-join with NO exchange on either side
    (each bucket pair joins locally), and single-table aggregations on
    the bucket key skip their shuffle too.  At 100 TB this turns every
    repeated fact⋈fact or fact⋈big-dim join on a stable key into a
    shuffle-free operation — the layout is paid once at write time.

    Spark bucketing lives in the session catalog (``saveAsTable``; plain
    ``parquet(path)`` cannot carry bucket metadata).  Read back with
    ``spark.table(table)``.  ``sort_cols`` defaults to the bucket
    columns so merge-joins also skip their per-task sort.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .format("parquet")
        .saveAsTable(table)
    )
