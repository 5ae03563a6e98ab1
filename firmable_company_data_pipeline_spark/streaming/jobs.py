"""Streaming job wiring: sources, watermarks, sinks.

The streaming generalizations promised in SURVEY.md §2.9:

* file-source incremental ingest  (S1/S3 generalization)
* ``withWatermark`` + windowed aggs (tumbling/sliding/session)
* ``dropDuplicatesWithinWatermark`` (A1/A2 generalization)
* ``foreachBatch`` keyed upsert     (S8/S10 batched-sink generalization)

All queries default to ``availableNow`` triggers so tests drain a fixed
file set deterministically; production callers pass their own trigger.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from firmable_company_data_pipeline_spark.streaming import windows as W


# one definition in session.py (r12 review: this module and session
# each carried a verbatim copy that would drift independently)
from firmable_company_data_pipeline_spark.session import (
    fs_delete as _fs_delete,
    fs_read_text as _fs_read_text,
    fs_write_text as _fs_write_text,
    hadoop_fs as _hadoop_fs,
    is_schemed_path as _is_schemed_path,
    materialize,
    materialized,
)


def _rmtree_any(spark: SparkSession, path: str) -> None:
    """Recursive delete on whatever store holds ``path`` — plain paths
    via ``shutil`` (unchanged), scheme'd paths via the Hadoop FS API
    (a driver-local rmtree would silently leak HDFS/S3 trees)."""
    if not _is_schemed_path(path):
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    fs, jpath = _hadoop_fs(spark, path)
    fs.delete(jpath, True)


def _read_parquet_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)``, or None when the path does not
    exist / matches no files — detected via the AnalysisException the
    read itself raises, so the emptiness check runs against the same
    filesystem as the read (a local ``glob.glob`` probe would silently
    report a populated HDFS/S3 target as empty — advice r7).  Any other
    analysis failure propagates: only "nothing there yet" degrades to
    None."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as exc:
        get = getattr(exc, "getCondition", None) or exc.getErrorClass
        if (get() or "") in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise


# The fold skeleton.  Every foreachBatch fold below is built from these
# helpers and states only what differs: it starts through _start, reads
# an index's history through _bucketed_history, and writes each per-batch
# output through _write_batch.  A new fold follows the same rule
# (tests/test_streaming.py pins it by scanning this file).


def _start(stream: DataFrame, fold, checkpoint: str | None):
    """Start ``fold(batch_df, batch_id)`` as the ``foreachBatch`` sink of
    ``stream`` — the one start of every fold in this module.  The
    ``availableNow`` trigger drains a fixed file set deterministically;
    the checkpoint, when given, makes a restarted stream resume and
    replay its last uncommitted batch.  Each micro-batch runs inside a
    ``materialized()`` scope: whatever the fold materializes (its own
    shared frames, the CC rounds of a labels fold) is released when the
    batch ends, so a long-running stream holds no cache between
    batches."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        with materialized():
            fold(batch_df, batch_id)

    writer = stream.writeStream.foreachBatch(run).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def _write_batch(
    df: DataFrame,
    base_dir: str,
    batch_id: int,
    by: str | None = None,
    key: str = "batch_id",
    shuffle: bool = True,
) -> str:
    """Overwrite ONE batch-keyed partition, ``base_dir/<key>=<batch_id>``,
    and return its path (a fold's commit marker goes into it).  Writing per
    batch with overwrite is what makes every fold replay-safe: a
    redelivered micro-batch rewrites its own partition instead of
    duplicating rows — the parquet emulation of an idempotent MERGE.
    ``key`` is ``batch_id`` for indexes and outputs, ``batch`` for
    sketch partials and state snapshots, ``gen`` for label generations.

    ``by`` partitions the batch directory by that column.  The batch is
    repartitioned by it first, so each value lands in one task: at most
    one file per value instead of tasks x values, for an O(batch)
    exchange that never touches the index.  ``shuffle=False`` keeps the
    batch's own tasks, for a fold that stays map-only (the IVF index)."""
    path = f"{base_dir.rstrip('/')}/{key}={batch_id}"
    if by is not None and shuffle:
        df = df.repartition(by)
    writer = df.write.mode("overwrite")
    if by is not None:
        writer = writer.partitionBy(by)
    writer.parquet(path)
    return path


def _read_partials(spark: SparkSession, target_dir: str, empty_ddl: str) -> DataFrame:
    """Every ``batch=<id>`` partial of a sketch target, or an empty
    frame of schema ``empty_ddl`` when no batch has landed yet — a
    reader polling before first data sees "no observations" (an absent
    key's estimate is exactly 0), never PATH_NOT_FOUND.  Emptiness is
    detected through Spark's own filesystem, not a local ``glob``,
    which misreports remote targets."""
    raw = _read_parquet_or_none(spark, target_dir.rstrip("/") + "/batch=*")
    return spark.createDataFrame([], empty_ddl) if raw is None else raw


EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files: int = 4
) -> DataFrame:
    """Incremental file-source over an events directory.  Schema is
    explicit (streaming sources must not infer), ``maxFilesPerTrigger``
    bounds micro-batch size (the backpressure knob at scale)."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .load(path)
    )


def tumbling_counts_query(
    events: DataFrame,
    sink_table: str,
    size: str = "1 hour",
    watermark: str = "2 hours",
    checkpoint: str | None = None,
):
    """Watermarked tumbling-window aggregation → memory/table sink.
    Append mode: windows emit once the watermark passes their end —
    the state store stays bounded by (watermark / window) windows."""
    agg = W.tumbling_value_stats(events.withWatermark("ts", watermark), size)
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


def session_counts_query(
    events: DataFrame,
    sink_table: str,
    gap: str = "5 minutes",
    watermark: str = "30 minutes",
):
    """Watermarked session-window aggregation (incremental
    gaps-and-islands via Spark's session state merge)."""
    agg = W.session_stats(events.withWatermark("ts", watermark), gap)
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream_query(
    events: DataFrame,
    sink_table: str,
    watermark: str = "1 hour",
    keys: list[str] | None = None,
):
    """Streaming dedup: drop events whose key was already seen within
    the watermark horizon — state is GC'd as the watermark advances
    (the unbounded-state-safe form of dropDuplicates)."""
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def interval_join_query(
    events: DataFrame,
    sink_table: str,
    lead: str = "10 minutes",
    watermark: str = "30 minutes",
):
    """Watermarked stream-stream interval join: clicks joined to later
    errors by the same user within ``lead``.

    Both sides carry a watermark and the join predicate bounds the event
    times relative to each other, so Spark can GC join state: a click
    older than (watermark + lead) can never match a future error and is
    dropped from the state store — the requirement for an unbounded
    stream-stream join to run forever.  Same plan as the batch twin
    ``windows.click_error_interval_join``, minus the aggregate (append
    mode emits matched pairs; aggregation over a stream-stream join
    would need its own watermark handling downstream).
    """
    clicks = (
        events.withWatermark("ts", watermark)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
    )
    errors = (
        events.withWatermark("ts", watermark)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
    )
    pairs = clicks.join(
        errors,
        (F.col("c_user") == F.col("e_user"))
        & (F.col("e_ts") > F.col("c_ts"))
        & (F.col("e_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {lead}")),
    ).select(F.col("c_user").alias("user_id"), "c_ts", "e_ts")
    return (
        pairs.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink_table)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_upsert(
    events: DataFrame,
    target_dir: str,
    key: str = "event_id",
    checkpoint: str | None = None,
    n_buckets: int = 32,
):
    """``foreachBatch`` keyed upsert into a parquet target — BUCKET-LOCAL
    (round 8): the target is partitioned by a stable hash bucket of the
    key, and each micro-batch reads and rewrites ONLY the bucket
    partitions its keys fall into (dynamic partition overwrite), so
    per-batch cost is O(affected buckets), never O(target) — the same
    O(history)→O(delta) fix class as the SCD2 open/closed layout.  New
    rows win per key (incoming ∪ current-anti-incoming, deterministic —
    the previous union+dropDuplicates left the winner to partition
    order).  This is the streaming generalization of the reference's
    truncate-reload / batched-insert sinks
    (``transform/data_cleaning.py:121-148``); with a Delta/Iceberg
    target it becomes a real MERGE INTO, and ``n_buckets`` plays the
    role of the table's bucketing spec (size it so one bucket ≈ one
    comfortable task; a batch touching every bucket degrades to the old
    full rewrite).  Replay-safe: a redelivered batch re-merges to the
    identical bucket contents and dynamic overwrite rewrites only those
    partitions.  ``read_upsert_target`` returns the logical view
    (partition column dropped).

    The bucket count is recorded in a ``_N_BUCKETS_<n>`` layout marker
    on first fold (review r8): a sink restarted with a different
    ``n_buckets`` fails loudly instead of silently stranding stale rows
    in old buckets.  A target seeded EXTERNALLY in this layout must
    declare it via :func:`declare_upsert_layout` before the first fold.
    """

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # layout marker (review r8): the bucket count IS the target's
        # physical layout — an upsert run with a different n_buckets
        # would hash keys into different buckets, anti-join only the
        # new buckets, and leave stale rows alive in the old ones
        # (silent duplicate keys)
        _pin_bucket_count(spark, target_dir, n_buckets)
        incoming = batch_df.dropDuplicates([key]).withColumn(
            "_bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))
        )
        # bounded driver read: ≤ n_buckets ids, the partition-pruning
        # predicate for the current-side scan (same O(1)-rows contract
        # as the high-water-mark reads in sources/io.py)
        buckets = [
            r["_bucket"] for r in incoming.select("_bucket").distinct().collect()
        ]
        current = _read_parquet_or_none(spark, target_dir)
        if current is None:
            merged = incoming
        else:
            kept = current.filter(F.col("_bucket").isin(buckets)).join(
                incoming.select(key), key, "left_anti"
            )
            merged = incoming.unionByName(kept)
        merged.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("_bucket").parquet(target_dir)

    return _start(events, upsert, checkpoint)


def _batch_partition_ids(spark, index_dir: str) -> list[int]:
    """The sorted batch ids of an index's ``batch_id=<n>`` partition
    directories, listed through Spark's own filesystem (the guard that
    must agree with the read path — advice r7's local-``glob`` trap).
    Metadata-only: one directory listing, never a data read."""
    fs, pattern = _hadoop_fs(spark, index_dir.rstrip("/") + "/batch_id=*")
    statuses = fs.globStatus(pattern)
    if statuses is None:
        return []
    return sorted(
        int(s.getPath().getName().split("=", 1)[1]) for s in statuses
    )


def _committed_state_ids(spark, state_dir: str) -> list[int]:
    """Sorted batch ids of a versioned state target's COMMITTED
    snapshots — ``batch=<id>`` dirs whose ``_STATE_OK`` marker exists
    (the marker is written after the parquet, so a crash mid-write
    leaves an unmarked, invisible dir).  Listed through Spark's own
    filesystem like ``_batch_partition_ids``; metadata-only."""
    fs, pattern = _hadoop_fs(
        spark, state_dir.rstrip("/") + "/batch=*/_STATE_OK"
    )
    statuses = fs.globStatus(pattern)
    if statuses is None:
        return []
    return sorted(
        int(s.getPath().getParent().getName().split("=", 1)[1])
        for s in statuses
    )


def _bucket_markers(spark, target_dir: str) -> list[int]:
    """Every declared bucket count of an upsert target — the sorted
    integer suffixes of its ``_N_BUCKETS_*`` marker files, listed
    through Spark's own filesystem."""
    fs, pattern = _hadoop_fs(
        spark, target_dir.rstrip("/") + "/_N_BUCKETS_*"
    )
    statuses = fs.globStatus(pattern)
    if statuses is None:
        return []
    return sorted(
        int(s.getPath().getName().rsplit("_", 1)[1]) for s in statuses
    )


def declare_upsert_layout(spark, target_dir: str, n_buckets: int = 32) -> None:
    """Write the ``_N_BUCKETS_<n>`` layout marker for a target that was
    SEEDED EXTERNALLY in the sink's layout (a batch backfill that wrote
    ``partitionBy("_bucket")`` itself).  The sink refuses to fold into
    an unmarked non-empty target — it cannot tell a legitimate seed
    from a bucket-count mismatch, and guessing wrong corrupts silently
    — so the seeding writer declares the layout it used.  Declaring a
    SECOND, different count is itself the error this guard exists for
    and raises rather than leaving two contradictory markers."""
    existing = _bucket_markers(spark, target_dir)
    if existing and existing != [n_buckets]:
        raise ValueError(
            f"bucketed target {target_dir} already declares n_buckets "
            f"{existing}, not {n_buckets}; re-bucketing requires a rebuild"
        )
    fs, marker = _hadoop_fs(
        spark, target_dir.rstrip("/") + f"/_N_BUCKETS_{n_buckets}"
    )
    fs.createNewFile(marker)


def _pin_bucket_count(spark, target_dir: str, n_buckets: int) -> None:
    """Pin a bucketed directory's bucket count with a ``_N_BUCKETS_*``
    marker: every bucketed layout this module maintains
    (upsert target, winnow index + df partials, banded minhash index,
    block index) prunes reads or routes writes by ``value % n`` —
    a restart with a different ``n`` would prune against partitions
    laid out under the old modulus and silently drop index rows
    (missed pairs, undercounted df caps) or strand stale rows.
    The first fold declares the count; every later fold fails loudly on
    a mismatch.  The guard lists ALL markers, not just the current
    count's, so two incompatible layouts can never both look declared.
    A NON-EMPTY target without a marker is refused: silently adopting the fold's ``n`` for a
    directory seeded under a DIFFERENT modulus would partition-prune
    against the wrong bucket assignment and drop index rows.  External
    seeders declare their layout via :func:`declare_upsert_layout` (the
    scale-probe seeds do).  NO '=' in the marker name: underscore-
    prefixed paths are only hidden from Spark's file index when they
    don't look like partition paths."""
    existing = _bucket_markers(spark, target_dir)
    if not existing and _read_parquet_or_none(spark, target_dir) is not None:
        raise ValueError(
            f"bucketed target {target_dir} carries no _N_BUCKETS_* "
            "layout marker: it was seeded externally without "
            "declare_upsert_layout()"
        )
    if existing != [n_buckets]:
        declare_upsert_layout(spark, target_dir, n_buckets)


def read_upsert_target(spark, target_dir: str) -> DataFrame:
    """Logical view of a :func:`foreach_batch_upsert` target (the
    ``_bucket`` partition key is layout, not data)."""
    return spark.read.parquet(target_dir).drop("_bucket")


def streaming_minhash_dedup(
    docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint: str | None = None,
    threshold: float = 0.5,
    labels_dir: str | None = None,
    broadcast_delta: bool = True,
    n_buckets: int = 64,
):
    """Streaming near-duplicate detection over a document stream — the
    Structured-Streaming composition of the incremental index operator
    (``operators/dedup.py`` ``minhash_delta_pairs``).

    Index layout: the BANDED ``minhash_band_rows`` layout — one row per
    (doc, LSH band), partitioned by ``pbucket = hash(band, bucket) %
    n_buckets`` inside each ``batch_id=N`` — and each fold
    partition-prunes its index scan to the delta's ≤ ``n_buckets``
    touched pbuckets (the ≤ ``n_buckets``-value driver-side collect, the
    block index's O(1)-rows contract).  The trade is LSH_BANDS× index
    storage for a per-batch index read of roughly touched/total buckets
    of the bytes: a win in the TRICKLE regime (a delta whose
    ~LSH_BANDS× |delta| band keys hash into a strict subset of the
    buckets); a WIDE delta touches every bucket and then scans every
    band row of the index.  The bucket count is pinned by a
    ``_N_BUCKETS_*`` marker (:func:`_pin_bucket_count`).  An index
    whose history has no ``pbucket`` partition column (the flat
    (id, sig) layout of older streams) raises, as the winnow fold
    refuses a flat fingerprint index: rewrite it with
    ``minhash_band_rows`` partitioned by ``pbucket``, or start fresh.

    ``broadcast_delta`` (default True) assumes micro-batches are
    bounded — the LSH bucket join then streams the signature index
    map-side, never re-shuffling history per batch.  Pass False when a
    batch can be a large backfill (e.g. a file source pointed at a
    pre-existing corpus with no ``maxFilesPerTrigger``: availableNow
    delivers the whole backlog as ONE batch, and a forced broadcast of
    its band table would hit Spark's broadcast limit / driver memory —
    the same caveat as ``minhash_delta_pairs`` itself).

    Each micro-batch:

    1. computes MinHash signatures for the BATCH only (the shingle scan
       never re-reads history),
    2. LSH-pairs them against the persistent band index —
       delta×index ∪ delta×delta, never index×index,
    3. writes discovered pairs to ``pairs_dir/batch_id=N`` and the new
       band rows to ``index_dir/batch_id=N``.

    Replay-safe through the fold skeleton (``_bucketed_history``
    excludes the batch's own partition, ``_write_batch`` overwrites it; with
    Delta/Iceberg this becomes a real transactional append).  Reading
    ``index_dir``/``pairs_dir`` with partition discovery unions all
    batches.

    State never lives in the streaming engine: the index IS the parquet
    directory, so the job restarts from checkpoint with no state-store
    migration and the index is queryable mid-stream by any other
    session.

    ``labels_dir`` (optional) additionally maintains the CLUSTER
    LABELING incrementally: each batch folds its delta pairs into the
    previous generation's (doc_id, cluster_id) table via
    ``operators/dedup.incremental_components`` — the previous labeling
    is a connectivity-preserving star forest, so the fold equals a
    batch re-cluster of every pair ever seen, while touching only the
    delta pairs plus the previous clusters they intersect (untouched
    clusters are anti-joined around the CC fold, so a micro-batch's
    compute scales with the batch, not the corpus).  Generations are
    batch-keyed (``gen=<batch_id>``, overwrite): a batch reads the
    newest generation BELOW its own id — so a checkpoint replay that
    left a half-written own-generation behind regenerates it from the
    same input — and prunes generations older than the one it read
    (the read generation itself is kept so the NEXT replay still finds
    its input).  ``read_dedup_labels`` serves the generation the
    ``_latest.json`` manifest names, published atomically after the
    write.

    Write amplification: each generation materializes the FULL labeling
    (the newest generation alone is the complete answer — no read-side
    chain merge), so the fold's COMPUTE is delta-local while its WRITE
    is corpus-sized — the price of the atomically-published snapshot
    (ARCHITECTURE §9).  A ``labels_dir`` holding ``lbucket=*``
    partitions or an ``_N_BUCKETS_*`` marker (the bucketed labels
    layout of older streams) raises rather than being mixed with
    generations.
    """
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = materialize(dd.minhash_signatures(batch_df), "share")
        # banded once, shared by the touched-pbucket collect and the
        # index append
        bands = materialize(dd.minhash_band_rows(delta, n_buckets), "share")
        hist = _bucketed_history(
            spark, index_dir, batch_id, bands.select("pbucket"), n_buckets
        )
        if hist is None:
            index, index_bands = spark.createDataFrame([], delta.schema), None
        else:
            index, index_bands = None, hist.select("id", "sig", "band", "bucket")
        # broadcast_delta (caller-controlled, see docstring): bounded
        # micro-batches stream the index map-side — history is scanned,
        # never re-shuffled per batch (measured by scale_probe
        # --streaming); large-backfill callers opt out
        pairs = dd.minhash_delta_pairs(
            index,
            delta,
            threshold=threshold,
            broadcast_delta=broadcast_delta,
            index_bands=index_bands,
        )
        if labels_dir is not None:
            pairs = materialize(pairs, "share")
        _write_batch(pairs, pairs_dir, batch_id)
        _write_batch(bands, index_dir, batch_id, by="pbucket")
        if labels_dir is not None:
            _fold_labels_gen(spark, labels_dir, pairs, batch_id)

    return _start(docs, process, checkpoint)


def _fold_labels_gen(
    spark, labels_dir: str, pairs: DataFrame, batch_id: int
) -> None:
    """Fold a batch's delta pairs into the newest label generation below
    ``batch_id`` and publish the result as ``gen=<batch_id>`` (see
    :func:`streaming_minhash_dedup` for the generation protocol)."""
    import json as _json

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    all_gens = _label_gens(labels_dir, spark=spark)
    prev_gens = sorted(g for g in all_gens if g < batch_id)
    _repair_label_manifest(labels_dir, batch_id, prev_gens, spark=spark)
    if prev_gens:
        prev = spark.read.parquet(
            os.path.join(labels_dir, f"gen={prev_gens[-1]}")
        )
    else:
        # type-correct empty labeling derived from the pair ids
        prev = pairs.select(
            F.col("id_a").alias("doc_id"), F.col("id_a").alias("cluster_id")
        ).limit(0)
    labels = dd.incremental_components(prev, pairs)
    _write_batch(labels, labels_dir, batch_id, key="gen")
    # publish atomically AFTER the write: readers resolve via the
    # manifest, so a crash mid-write can never surface a partial
    # generation (the compact_rollup rename pattern)
    _fs_write_text(
        spark,
        os.path.join(labels_dir, "_latest.json"),
        _json.dumps({"gen": batch_id}),
    )
    # ALL deletion happens only after the new generation exists
    # and the manifest points at it: deleting dead-run generations up
    # front would let a crash between the delete and the republish
    # destroy the last good labeling.
    # (1) generations ABOVE this batch id are remnants of a dead
    # run (checkpoint reset restarts batch ids at 0) — left in
    # place they'd be read as "previous" once this run's ids pass
    # them and would shadow read_dedup_labels forever;
    # gen == batch_id was just overwritten by this batch's write.
    for g in (g for g in all_gens if g > batch_id):
        _rmtree_any(spark, os.path.join(labels_dir, f"gen={g}"))
    # (2) prune history the NEXT replay can no longer need:
    # anything older than the generation this batch read from
    for g in prev_gens[:-1]:
        _rmtree_any(spark, os.path.join(labels_dir, f"gen={g}"))


def streaming_winnow_dedup(
    docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    checkpoint: str | None = None,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
    df_dir: str | None = None,
    broadcast_delta: bool = True,
    n_buckets: int = 64,
):
    """Streaming MOSS/winnowing near-duplicate detection over a document
    stream — the Structured-Streaming composition of the incremental
    winnow operator (``operators/dedup.py`` ``winnow_delta_pairs``),
    the same shape as :func:`streaming_minhash_dedup` with one extra
    piece of persistent state: the additive per-fingerprint
    document-frequency table that makes the ``max_df`` hot-fingerprint
    cap O(delta) per batch.

    Each micro-batch:

    1. computes winnowed fingerprint rows (id, n_fp, fp) for the BATCH
       only — the corpus-length gram scan + per-doc selection window
       never re-reads history;
    2. pairs them against the persistent fingerprint index —
       delta×index ∪ delta×delta, never index×index — with the df cap
       decided from the persisted (fp, df) table + the batch's own
       counts (df is additive, so the union df is exact without ever
       re-aggregating the index; see ``winnow_delta_pairs``);
    3. writes pairs to ``pairs_dir/batch_id=N``, then (when ``max_df``
       is set) the batch's per-fp counts to ``df_dir/batch_id=N``, then
       the new fingerprint rows to ``index_dir/batch_id=N`` — df before
       index, so a crash between the two leaves "df without index"
       (harmless: the replay overwrites both) rather than "index
       without df", which the guard below would refuse.  The df table
       IS the union of those per-batch partials (``winnow_delta_pairs``
       sums them after pruning to the delta's fingerprints, so no
       compaction is ever required).

    Per-batch writes are batch-keyed overwrites, so a checkpoint replay
    rewrites its own partitions instead of duplicating rows; reads
    exclude the replaying batch's own partition (same idempotency
    argument as the MinHash job).  State never lives in the streaming
    engine: index and df table are plain parquet, queryable mid-stream.

    ``max_df`` semantics across a stream: the cap is evaluated against
    the corpus as of each batch (index-so-far ∪ batch).  A fingerprint
    whose df crosses the cap mid-stream stops pairing from that batch
    on; pairs it contributed earlier are not retracted — identical to
    the documented ``winnow_delta_pairs`` contract.

    ``broadcast_delta`` (default True): bounded micro-batches stream
    the index map-side — history is scanned, never re-shuffled per
    batch (the r8 verdict's winnow weak, closed in round 9 and measured
    flat by ``scale_probe.py --streaming``).  Pass False for a
    one-shot large backfill.

    Index layout (round 10): both the fingerprint index AND the df
    partials are partitioned by ``bucket = fp % n_buckets`` inside each
    ``batch_id=N``, and each fold partition-prunes both scans to the
    delta's ≤ ``n_buckets`` touched buckets (only rows whose fp occurs
    in the delta can ever join or feed the cap) — per-batch index bytes
    read drop to roughly touched/total buckets.  Unlike the minhash
    banded layout this one has NO read amplification (same rows, just
    partitioned); the only cost is ≤ ``n_buckets`` files per batch
    write.  A directory without the ``bucket`` partition column (the
    flat layout of streams older than round 10) raises: rewrite it
    bucketed, or start fresh.
    """
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    if max_df is not None and df_dir is None:
        df_dir = index_dir.rstrip("/") + "_df"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = materialize(dd.winnow_fingerprint_rows(batch_df), "share")
        # only index/df rows whose fp occurs in the delta can join or
        # feed the cap: both reads prune to the delta's buckets
        fp_bucket = F.pmod(F.col("fp"), F.lit(n_buckets))
        touched = delta.select(fp_bucket.alias("bucket"))
        index_df = None
        if max_df is not None:
            hist_df = _bucketed_history(spark, df_dir, batch_id, touched, n_buckets)
            if hist_df is not None:
                index_df = hist_df.select("fp", "df")
            elif any(
                g != batch_id for g in _batch_partition_ids(spark, index_dir)
            ):
                # an index with HISTORY (partitions other than this
                # batch's own) and NO df table would make the cap
                # silently count the delta alone (df under-counted ->
                # boilerplate fingerprints sail past the cap).  This
                # state means max_df was enabled mid-stream or the df
                # table was lost — rebuild it explicitly.  The guard
                # deliberately ignores a batch_id == current partition:
                # that is the crash-replay window (index written, df
                # not yet — a pre-reorder layout or a df-write crash),
                # where the replay-filtered index is empty and
                # auto-recovery is provably safe (advice r9).
                raise ValueError(
                    f"streaming_winnow_dedup: index at {index_dir} exists but "
                    f"df table at {df_dir} does not; rebuild it with "
                    "winnow_df_table(<index>) written to a batch_id=<n> "
                    "partition before resuming with max_df set"
                )
            else:
                index_df = dd.winnow_df_table(delta).limit(0)
        hist = _bucketed_history(spark, index_dir, batch_id, touched, n_buckets)
        if hist is not None:
            index = hist.select("id", "n_fp", "fp")
        else:
            index = spark.createDataFrame([], delta.schema)
        pairs = dd.winnow_delta_pairs(
            index,
            delta,
            min_shared=min_shared,
            min_containment=min_containment,
            max_df=max_df,
            index_df=index_df,
            broadcast_delta=broadcast_delta,
        )
        _write_batch(pairs, pairs_dir, batch_id)
        # df partials BEFORE the index partition (advice r9): a crash
        # between the two then leaves "df without index" — harmless, the
        # replay overwrites both — never "index without df", the state
        # the guard above must treat as a lost df table.
        if max_df is not None:
            _write_batch(
                dd.winnow_df_table(delta).withColumn("bucket", fp_bucket),
                df_dir, batch_id, by="bucket",
            )
        _write_batch(
            delta.withColumn("bucket", fp_bucket), index_dir, batch_id, by="bucket"
        )

    return _start(docs, process, checkpoint)


def _bucketed_history(
    spark: SparkSession, target_dir: str, batch_id: int, touched: DataFrame,
    n_buckets: int,
) -> DataFrame | None:
    """A batch-keyed index as a fold reads it: every partition except
    the replaying batch's own, pruned to the buckets the delta touches,
    or None when the index has no history.

    Excluding the own partition is the replay half of idempotency: on a
    checkpoint replay (crash after the index write, before the commit)
    the batch's rows are already in the index, and reading them back as
    history would pair the batch with itself — duplicate output rows.
    A directory holding only that partition (a first batch that crashed
    after its write) has no history: the batch overwrites it in the
    declared layout.

    ``touched`` is a one-column frame named after the index's partition
    column — ``bucket`` for the winnow index and df table and the block
    index, ``pbucket`` for the banded MinHash index.  The read is pruned
    to the frame's distinct values: at most ``n_buckets`` of them,
    collected to the driver (the O(1)-rows contract of the high-water-
    mark reads in sources/io.py).  The bucket count is pinned
    (:func:`_pin_bucket_count`), and a flat history raises rather than
    being read whole and appended to in a second layout."""
    if _batch_partition_ids(spark, target_dir) == [batch_id]:
        declare_upsert_layout(spark, target_dir, n_buckets)
        return None
    _pin_bucket_count(spark, target_dir, n_buckets)
    raw = _read_parquet_or_none(spark, target_dir)
    if raw is None:
        return None
    col = touched.columns[0]
    if col not in raw.columns:
        raise ValueError(
            f"{target_dir} has no {col} partition column (a flat layout); "
            f"rewrite it partitioned by {col} with n_buckets={n_buckets}, "
            "or start a fresh directory"
        )
    values = [r[0] for r in touched.distinct().collect()]
    return raw.filter(F.col("batch_id") != batch_id).filter(F.col(col).isin(values))


def streaming_block_dedup(
    docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint: str | None = None,
    block_tokens: int = 16,
    n_buckets: int = 64,
):
    """Streaming C4-style block dedup — the incremental arm of
    ``operators/dedup.block_dedup``: each micro-batch's documents are
    cleaned against every block EVER SEEN (first occurrence in arrival
    order wins), and the seen-block index grows by exactly the batch's
    surviving blocks.  When batches arrive in ascending doc_id order
    the union of the per-batch outputs equals the batch operator on
    the full corpus (pinned in ``tests/test_streaming.py``); under any
    other arrival order the semantics are first-SEEN-wins, stated here
    rather than pretended away.

    Per-batch plan — O(delta + one pruned index pass), never an index
    shuffle (the minhash/winnow fold contract):

    1. block-split the batch and keep each block text's first
       (doc_id, block_idx) occurrence WITHIN the batch (the shared
       min-struct agg + join from ``operators/dedup`` — map-side
       combined, skew-join-splittable);
    2. probe the parquet block index with a BROADCAST of the batch's
       distinct block texts (left-semi, map-side over the index scan)
       — the hit set is bounded by the batch, so the follow-up
       anti-join against it broadcasts too;
    3. reassemble the batch's documents from surviving blocks and
       write (doc_id, n_blocks, n_kept, clean_text) to
       ``out_dir/batch_id=N``;
    4. append the surviving distinct block texts to
       ``index_dir/batch_id=N/bucket=K`` — bucketed by a hash of the
       block text, so narrow future deltas can partition-prune the
       index scan (the ≤ ``n_buckets``-value bucket list of a delta is
       collected driver-side, the same O(1)-rows contract as the
       upsert fold's bucket read).

    Batch-keyed overwrites + own-partition exclusion make checkpoint
    replay idempotent, exactly as in the sibling jobs."""
    from firmable_company_data_pipeline_spark.operators.dedup import (
        _reassemble_blocks,
        block_delta_flags,
        block_rows,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        blocks = materialize(block_rows(batch_df, block_tokens=block_tokens), "share")
        bucket = F.pmod(F.xxhash64("block_text"), F.lit(n_buckets)).alias("bucket")
        index = _bucketed_history(
            spark, index_dir, batch_id, blocks.select(bucket), n_buckets
        )
        if index is None:
            index = spark.createDataFrame([], "block_text string")
        # the output plan and the index-append plan both read the fold's
        # flags — unshared, each would rescan the index and redo the
        # first-occurrence agg
        flagged = block_delta_flags(
            index, batch_df, block_tokens=block_tokens, delta_blocks=blocks
        ).transform(materialize, "share")
        _write_batch(_reassemble_blocks(flagged, "_keep"), out_dir, batch_id)
        new_blocks = flagged.filter("_keep").select("block_text", bucket)
        _write_batch(new_blocks, index_dir, batch_id, by="bucket")

    return _start(docs, process, checkpoint)


def streaming_frozen_score(
    docs: DataFrame,
    artifact_dir: str,
    out_dir: str,
    score,
    checkpoint: str | None = None,
):
    """Score a document stream against a FROZEN artifact — a table
    trained once from a corpus snapshot and published as parquet at
    ``artifact_dir`` — writing ``score(batch_df, artifact_df)`` to
    ``out_dir/batch_id=N`` per micro-batch (batch-keyed overwrite,
    idempotent on replay).  The continuous-ingest half of every
    train-once/score-many curation signal:

    * DSIR importance — ``curation.dsir_weight_table`` (≤ ``n_buckets``
      rows), scored by ``dsir_score_docs``;
    * model-based quality — ``nb_quality_weights`` or the MLlib
      ``lr_quality_weights`` arm (≤ ``n_buckets``+1 rows), scored by
      ``nb_quality_score``;
    * Stupid-Backoff trigram LM — ``trigram_lm_table`` (dictionary-
      sized), scored by ``trigram_lm_score_docs``;
    * decontamination — the eval suite's
      ``dedup.winnow_fingerprint_rows``, screened by
      ``fp_containment_flags(winnow_fingerprint_rows(batch), eval)``:
      the batch ``winnow_contamination`` contract with no df cap.

    The artifact is bounded by contract, so it is always broadcast: the
    fold is map-side over the batch, per-batch cost is O(batch), and no
    state grows — there is no history axis.  Scores are per-document-
    independent (the contamination screen is bipartite: train docs
    never interact), so the union over ANY batch split equals the batch
    scorer (pinned in ``tests/test_streaming.py``).  Retrain and
    republish the artifact when the target, labels or pool drift
    (``corpus_drift_psi`` is the trigger metric)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        artifact = F.broadcast(batch_df.sparkSession.read.parquet(artifact_dir))
        _write_batch(score(batch_df, artifact), out_dir, batch_id)

    return _start(docs, process, checkpoint)


def _repair_label_manifest(
    labels_dir: str,
    batch_id: int,
    prev_gens: list[int],
    spark: SparkSession | None = None,
) -> None:
    """Manifest repair at batch start (review r7): if ``_latest.json``
    points at any generation this batch is ABOUT TO REWRITE or that a
    dead run left behind (gen >= this batch id — gen > batch_id is a
    checkpoint-reset remnant; gen == batch_id is a replay about to
    ``mode("overwrite")`` the very directory the manifest serves), or is
    unreadable/ill-typed, re-point it at the newest valid previous
    generation NOW.  Otherwise readers could race the overwrite into a
    partially-deleted directory, or a crash later in the batch (after
    the gen write, before the publish) would leave them silently served
    a dead run's labels.  After this repair every remaining crash window
    only ever exposes last-good data: the atomic republish at batch end
    either lands or readers keep seeing ``prev_gens[-1]`` (which pruning
    always retains for the replay).  With no valid previous generation
    the manifest is removed — a loud FileNotFoundError from
    ``read_dedup_labels`` beats serving a doomed clustering as current.
    Protocol I/O rides ``session.fs_*`` (r12): plain paths unchanged,
    scheme'd paths through the Hadoop FS API (``spark`` required)."""
    import json as _json

    manifest = os.path.join(labels_dir, "_latest.json")
    txt = _fs_read_text(spark, manifest)
    if txt is None:
        return
    try:
        cur_gen = _json.loads(txt)["gen"]
    except (ValueError, KeyError, TypeError):
        cur_gen = None
    if isinstance(cur_gen, int) and cur_gen < batch_id:
        return  # healthy: points at a previous generation this batch reads
    if prev_gens:
        _fs_write_text(spark, manifest, _json.dumps({"gen": prev_gens[-1]}))
    else:
        _fs_delete(spark, manifest)


def _label_gens(labels_dir: str, spark: SparkSession | None = None) -> list[int]:
    """``gen=N`` generation ids under ``labels_dir`` — plain paths via
    ``os.listdir``, scheme'd paths via Hadoop listStatus (a driver-local
    listdir reads a populated HDFS/S3 target as empty, the advice-r7
    probe class; ``spark`` required there).  The same listing refuses a
    bucketed labeling (``lbucket=*`` partitions or an ``_N_BUCKETS_*``
    marker), which the fold would otherwise mix silently with its
    generations."""
    if not _is_schemed_path(labels_dir):
        if not os.path.exists(labels_dir):
            return []
        names = os.listdir(labels_dir)
    else:
        fs, jdir = _hadoop_fs(spark, labels_dir)
        if not fs.exists(jdir):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(jdir)]
    foreign = [d for d in names if d.startswith(("lbucket=", "_N_BUCKETS_"))]
    if foreign:
        raise ValueError(
            f"labels target {labels_dir} holds a bucketed labeling "
            f"({foreign[0]}), not gen=N generations; rebuild the labels "
            "in a fresh directory"
        )
    out = []
    for d in names:
        if d.startswith("gen="):
            try:
                out.append(int(d.split("=", 1)[1]))
            except ValueError:
                continue
    return out


def read_dedup_labels(spark, labels_dir: str) -> DataFrame:
    """Newest cluster-labeling generation maintained by
    ``streaming_minhash_dedup(labels_dir=...)``, resolved through the
    atomically-published ``_latest.json`` manifest — a half-written
    generation (crash mid-write) is never served because the manifest
    flips only after the write completes.  No manifest raises
    FileNotFoundError.

    Mid-stream caveat: the returned DataFrame is lazy and pins the
    resolved generation's files; the stream retains that generation for
    one further micro-batch (the prune keeps read-gen + current), so
    collect within a micro-batch interval or snapshot the frame."""
    import json as _json

    txt = _fs_read_text(spark, os.path.join(labels_dir, "_latest.json"))
    if txt is None:
        raise FileNotFoundError(f"no label manifest under {labels_dir}")
    gen = _json.loads(txt)["gen"]
    return spark.read.parquet(os.path.join(labels_dir, f"gen={gen}"))


def streaming_rollup_refresh(
    events: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
):
    """Streaming continuous aggregate, REPLAY-IDEMPOTENT by layout: each
    micro-batch's partial rollup lands in its own ``batch=<id>``
    partition directory (overwrite of that one directory — foreachBatch
    is at-least-once, and a replayed batch simply rewrites identical
    content; an additive read-merge-overwrite design would double-count
    on replay, and its whole-target overwrite could destroy history on a
    mid-write crash).  History is never rescanned; per-batch cost is
    O(batch).

    ``read_rollup`` merges the partials at read time (sum/sum/max — the
    same combiners ``rollup_merge`` applies); DECIMAL sums keep that
    merge exactly equal to a from-scratch batch rollup (pinned by
    test).  Compact periodically with ``compact_rollup`` (folds the
    partials into a ``compacted=<gen>`` base published via an
    atomically-renamed manifest) so read cost stays O(key-space), not
    O(batches); batches the manifest marks folded stay excluded from
    reads even if a restarted stream replays and rewrites them.
    """

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        _write_batch(_batch_rollup(batch_df), target_dir, batch_id, key="batch")

    return _start(events, refresh, checkpoint)


def streaming_cms_refresh(
    docs: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
    text_col: str = "text",
):
    """Incrementally maintained count-min sketch of corpus term
    frequencies: each micro-batch writes ITS OWN ``batch=<id>`` partial
    counter table (≤ D·W rows — kilobytes — regardless of batch size),
    and ``read_cms`` folds the partials by summing counters.  This is
    the executable form of the sketch's mergeability claim
    (``operators/sketches.py``): history is never rescanned, a replayed
    batch overwrites its own partition (idempotent), and the merged
    sketch is IDENTICAL to one built over the full corpus in one pass
    (pinned by the stream-vs-batch test).  Pair with
    ``queries/scale.term_cms_heavy_hitters`` for the lookup side.
    """
    from firmable_company_data_pipeline_spark.functions.textstats import (
        char_fold_hash,
        tokens,
    )
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        occ = batch_df.select(
            F.explode(tokens(F.col(text_col))).alias("term")
        ).select(char_fold_hash(F.col("term")).alias("h"))
        _write_batch(sk.cms_partial(occ), target_dir, batch_id, key="batch")

    return _start(docs, refresh, checkpoint)


def read_cms(spark, target_dir: str) -> DataFrame:
    """Merged sketch of a ``streaming_cms_refresh`` target: sum the
    per-batch counters (the CMS combiner).  Zero-batch targets yield an
    empty counter frame, not PATH_NOT_FOUND (same contract as
    ``read_histogram`` — an absent key's CMS estimate is exactly 0).
    Emptiness is detected through Spark's own filesystem, not a local
    ``glob`` (advice r7: a local probe misreports remote targets)."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    return sk.cms_merge(
        _read_partials(spark, target_dir, "d int, bucket bigint, cnt bigint")
    )


def streaming_kmv_refresh(
    events: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 64,
):
    """Incrementally maintained KMV distinct sketch (round 12): each
    micro-batch writes ITS OWN ``batch=<id>`` bottom-k partial (≤ k
    longs per group, kilobytes, however large the batch) and
    ``read_kmv`` folds them — the ``streaming_cms_refresh`` protocol
    applied to the bottom-k structure.  Because the hash is a bijection
    and bottom-k of a union equals bottom-k of the union of bottom-ks,
    the folded sketch is IDENTICAL to the one-pass full-corpus build
    (stream-vs-batch pinned), which a rotating HLL cannot promise
    cross-engine.  History is never rescanned; a replayed batch
    overwrites its own partition (idempotent)."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        partial = sk.kmv_partial(batch_df, group_col, key_col, k)
        _write_batch(partial, target_dir, batch_id, key="batch")

    return _start(events, refresh, checkpoint)


def read_kmv(spark, target_dir: str, k: int = 64) -> DataFrame:
    """Merged sketch of a ``streaming_kmv_refresh`` target: (g, hs)
    per group plus the ``est_distinct`` the sketch exists to provide.
    Zero-batch targets yield an empty frame (same contract as
    ``read_cms``)."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    raw = _read_partials(spark, target_dir, "g string, hs array<bigint>")
    return sk.kmv_merge(raw, k).withColumn(
        "est_distinct", sk.kmv_estimate(F.col("hs"), k)
    )


def streaming_bloom_refresh(
    events: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
    key_col: str = "user_id",
    n_bits: int = 8192,
):
    """Incrementally maintained bloom membership vector (round 12): the
    third mergeable-sketch refresh next to CMS (counts) and KMV
    (distincts) — set bits OR across batches, so the folded vector is
    IDENTICAL to a one-pass build over the union of the key streams
    (stream-vs-batch pinned).  Each micro-batch writes its own
    ``batch=<id>`` word partial (≤ n_bits/32 rows, bytes); a downstream
    ``bloom_semi_join``-style runtime filter can then be served from
    the folded vector without rescanning any history (e.g. "has this
    key EVER been seen" admission screens)."""
    from firmable_company_data_pipeline_spark.operators import joins as bj

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        partial = bj.bloom_partial(batch_df, key_col, n_bits)
        _write_batch(partial, target_dir, batch_id, key="batch")

    return _start(events, refresh, checkpoint)


def streaming_asof_enrich(
    events: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
    key_col: str = "user_id",
    left_type: str = "purchase",
    right_type: str = "click",
):
    """Streaming as-of enrichment (round 12): attach to every LEFT
    event (purchase) the most recent RIGHT event (click) of the same
    key at or before it — the stream side of
    ``operators/temporal.asof_join``, which each micro-batch REUSES
    verbatim against (frozen per-key state ∪ this batch's rights).

    State is ONE row per key (the argmax-(ts, event_id) right seen so
    far) however long the stream runs — the bounded-state shape a
    stream-stream as-of maintains.  State snapshots are VERSIONED like
    the outputs (``state/batch=<id>`` + a ``_STATE_OK`` commit marker
    written after the parquet lands; advice r12): the previous
    in-place overwrite had a crash window where ``state_dir`` was left
    partial/empty and a replay would silently rebuild from the current
    batch alone, dropping older per-key click state.  Now each fold
    reads the newest COMMITTED snapshot with id < its own batch id —
    a half-written snapshot has no marker and is invisible, and a
    replayed batch rewrites its own snapshot idempotently.  Each
    snapshot is a full compaction (universe → per-key argmax), so only
    the latest is ever read; older ones are retained one deep (the
    immediate predecessor, which a replay of the newest batch needs)
    and deleted beyond that — pure cleanup AFTER the marker commit.
    Enriched lefts append batch-keyed under ``out/batch=<id>``.

    Correctness contract (stream-vs-batch pinned): equals the batch
    as-of over the full history whenever the source is time-ordered
    across batches — every right with ``ts <=`` a left's ts arrives in
    the same or an earlier micro-batch, the per-key ordering a
    partitioned log delivers.  Out-of-order rights would need a
    watermark + delayed emit; documented seam, not silently wrong
    (late rights simply enrich only later lefts)."""
    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    base = target_dir.rstrip("/")
    state_dir, out_dir = base + "/state", base + "/out"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        rights = batch_df.filter(F.col("event_type") == right_type).select(
            F.col(key_col),
            F.col("ts"),
            F.col("event_id").alias("click_id"),
            F.col("value").alias("click_value"),
        )
        prior = [
            i for i in _committed_state_ids(spark, state_dir) if i < batch_id
        ]
        prev = (
            spark.read.parquet(state_dir + f"/batch={prior[-1]}")
            if prior
            else None
        )
        universe = (
            rights if prev is None else prev.unionByName(rights)
        ).transform(materialize, "share")  # the enrich join + the state fold
        lefts = batch_df.filter(F.col("event_type") == left_type).select(
            F.col("event_id").alias("purchase_id"), F.col(key_col), F.col("ts")
        )
        enriched = asof_join(
            lefts,
            universe,
            key=key_col,
            left_ts="ts",
            right_ts="ts",
            right_cols=["click_id", "click_value"],
            right_order="click_id",
        )
        _write_batch(enriched, out_dir, batch_id, key="batch")
        new_state = (
            universe.groupBy(key_col)
            .agg(
                F.max_by(
                    F.struct("ts", "click_id", "click_value"),
                    F.struct(F.col("ts"), F.col("click_id")),
                ).alias("_s")
            )
            .select(key_col, "_s.*")
        )
        sdir = _write_batch(new_state, state_dir, batch_id, key="batch")
        fs, marker = _hadoop_fs(spark, sdir + "/_STATE_OK")
        fs.createNewFile(marker)
        # Retention AFTER the commit marker: keep this snapshot and its
        # immediate predecessor (a replay of THIS batch folds from it);
        # anything older is unreachable by construction.
        for i in prior[:-1]:
            _rmtree_any(spark, state_dir + f"/batch={i}")

    return _start(events, fold, checkpoint)


def read_asof_state(spark, target_dir: str) -> DataFrame:
    """The newest COMMITTED per-key state snapshot of a
    ``streaming_asof_enrich`` target (each snapshot is a full
    compaction, so the latest alone is the whole state)."""
    base = target_dir.rstrip("/") + "/state"
    ids = _committed_state_ids(spark, base)
    if not ids:
        raise FileNotFoundError(f"no committed state snapshot under {base}")
    return spark.read.parquet(base + f"/batch={ids[-1]}")


def read_asof_enriched(spark, target_dir: str) -> DataFrame:
    """All enriched left rows of a ``streaming_asof_enrich`` target."""
    out = _read_parquet_or_none(spark, target_dir.rstrip("/") + "/out/batch=*")
    if out is None:
        raise FileNotFoundError(f"no enriched batches under {target_dir}")
    return out


def read_bloom(spark, target_dir: str) -> DataFrame:
    """Folded (w, m) vector of a ``streaming_bloom_refresh`` target;
    zero-batch targets yield an empty frame (the ``read_cms``
    contract — an absent key tests negative against an empty vector)."""
    from firmable_company_data_pipeline_spark.operators import joins as bj

    return bj.bloom_merge(_read_partials(spark, target_dir, "w bigint, m bigint"))


def _batch_rollup(batch_df: DataFrame) -> DataFrame:
    """One micro-batch's partial rollup — the SINGLE definition of the
    partial-file schema, shared by the streaming refresh and the tests.
    ``sum_v`` is pinned to DECIMAL(38,6): Spark's sum over the
    DECIMAL(18,6) rows naturally yields (28,6), but the compacted base
    (a re-sum of partials) is (38,6) — without the explicit widen, a
    post-compaction read binds whichever file it lists first and fails
    on the other with a parquet decimal-width mismatch (found by review;
    pinned by test_rollup_new_batch_after_compaction)."""
    return (
        batch_df.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").cast("decimal(38,6)").alias("sum_v"),
            F.max("v").alias("max_v"),
        )
    )


# NOTE on filesystem scope: the compaction helpers below
# (read_rollup, compact_rollup, compact_batch_index) speak the
# driver-local file protocol (os.listdir / open / os.replace) — the
# dependency-free stand-in for what a Delta/Iceberg log provides — and
# raise ValueError on a scheme'd path (_require_driver_local) instead of
# reading a remote target as absent.  A Hadoop FileSystem port would
# need an atomic replace: FileSystem.rename onto an existing file does
# not overwrite (it returns False on the local filesystem), so it cannot
# stand in for os.replace.  The DATA reads/writes all go through Spark
# and are FS-correct as-is.
# Compaction manifest: names the live base dir and the highest batch id
# folded into it.  Readers treat batch dirs with id <= "through" as
# superseded, which is what makes BOTH crash windows safe (the new base
# is invisible until the manifest rename publishes it; deletes after the
# rename are pure cleanup) and post-compaction replays double-count-free
# (a replayed folded batch rewrites its dir, but reads exclude it).  At
# 100 TB this layout is what a Delta/Iceberg snapshot+manifest gives you
# for free; this is the dependency-free stand-in with the same contract.
_COMPACT_MANIFEST = "_compacted.json"


def _require_driver_local(path: str, helper: str) -> None:
    """Refuse a scheme'd ``path`` for a driver-local helper (the NOTE
    above ``_COMPACT_MANIFEST``)."""
    if _is_schemed_path(path):
        raise ValueError(
            f"{helper}: {path!r} is a scheme'd path, but {helper} uses "
            "driver-local file I/O (os/shutil) and needs a plain path on "
            "the driver's filesystem"
        )


def _read_compact_manifest(target_dir: str) -> dict | None:
    """Absent manifest -> None (nothing compacted yet).  A PRESENT but
    unparseable manifest must raise, not degrade: treating corruption as
    'no manifest' would make read_rollup return only the un-folded batch
    partials — a silent undercount, because the batch dirs folded into
    the compacted base were deleted at compaction (advice r5)."""
    import json

    path = os.path.join(target_dir, _COMPACT_MANIFEST)
    try:
        with open(path) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return None
    except ValueError as exc:
        raise ValueError(
            f"corrupt rollup compaction manifest {path!r}: refusing to read "
            "the rollup without its compacted base (folded batch partials "
            "were deleted at compaction)"
        ) from exc


def _rollup_batch_dirs(target_dir: str) -> list[tuple[int, str]]:
    out = []
    for d in os.listdir(target_dir):
        if d.startswith("batch="):
            try:
                out.append((int(d.split("=", 1)[1]), d))
            except ValueError:
                continue
    return sorted(out)


def read_rollup(spark, target_dir: str) -> DataFrame:
    """Merged view of a ``streaming_rollup_refresh`` target: the
    manifest's compacted base (if any) plus every batch partial NOT yet
    folded into it, re-aggregated with the rollup's combiners.  Plain
    driver-local paths only."""
    _require_driver_local(target_dir, "read_rollup")
    manifest = _read_compact_manifest(target_dir)
    through = manifest["through"] if manifest else None
    paths = [os.path.join(target_dir, manifest["base"])] if manifest else []
    paths += [
        os.path.join(target_dir, d)
        for bid, d in _rollup_batch_dirs(target_dir)
        if through is None or bid > through
    ]
    if not paths:
        raise FileNotFoundError(f"no rollup data under {target_dir}")
    return (
        spark.read.parquet(*paths)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("long").alias("n_events"),
            # widen once so base (already re-summed) and fresh partials
            # union to the same decimal type across compaction generations
            F.sum("sum_v").cast("decimal(38,6)").alias("sum_v"),
            F.max("max_v").alias("max_v"),
        )
    )


_COMPACT_DELETE = "_COMPACT_DELETE.json"


def compact_batch_index(spark, index_dir: str, partition_by: tuple | None = None) -> None:
    """Fold a batch-keyed parquet index (``batch_id=N/`` per micro-batch
    — the layout of the MinHash/winnow signature indexes, the winnow df
    table, and the bucketed block index) into ONE compacted partition,
    bounding the directory/small-file sprawl of long-running streams at
    100 TB (thousands of micro-batches = thousands of directories on
    every fold's scan otherwise).

    Reader-transparent: the compacted rows land in a regular
    ``batch_id=<negative>`` partition, so the jobs' plain
    partition-discovery reads and their replay-exclusion filters
    (``batch_id != current``, engine ids are ≥ 0) need no changes, and
    each compaction picks a strictly smaller negative id so repeated
    compactions never collide.

    Crash-safe single-writer protocol (run with the stream STOPPED or
    between triggers; re-running the function repairs any crash):

    1. union every current batch partition into an underscore-prefixed
       temp dir (invisible to partition discovery — readers are
       unaffected even mid-write);
    2. atomically publish a delete-marker naming the target partition
       and the source dirs (``os.replace``);
    3. rename the temp dir to the target partition;
    4. delete the sources; remove the marker.

    A crash before (2) leaks only the temp dir (removed on the next
    run); after (2) the marker makes the remaining steps resumable and
    idempotent — the resume runs FIRST on every invocation, so calling
    ``compact_batch_index`` again completes a crashed compaction before
    starting a new one.  ``partition_by`` preserves a sub-layout; the
    default (None) AUTO-DETECTS it from the index schema (``bucket`` —
    block/winnow/df indexes — or ``pbucket`` — the banded MinHash
    index), so compaction never silently flattens a bucketed layout
    (the folds' partition-pruned reads would then face a mixed-depth
    directory once new batches appended).  Pass an explicit tuple
    (``()`` to force flat) to override.  Plain driver-local paths
    only."""
    import json
    import shutil

    _require_driver_local(index_dir, "compact_batch_index")
    if not os.path.isdir(index_dir):
        return  # stream never started; nothing to compact
    marker_p = os.path.join(index_dir, _COMPACT_DELETE)
    tmp = os.path.join(index_dir, "_compact_tmp")
    if os.path.exists(marker_p):
        with open(marker_p) as fh:
            m = json.load(fh)
        tgt = os.path.join(index_dir, m["target"])
        if not os.path.exists(tgt) and os.path.exists(tmp):
            os.rename(tmp, tgt)
        for d in m["sources"]:
            shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
        os.remove(marker_p)
    shutil.rmtree(tmp, ignore_errors=True)
    dirs = [d for d in os.listdir(index_dir) if d.startswith("batch_id=")]
    if len(dirs) <= 1:
        return
    ids = [int(d.split("=", 1)[1]) for d in dirs]
    target = f"batch_id={min(min(ids), 0) - 1}"
    df = spark.read.parquet(index_dir).drop("batch_id")
    if partition_by is None:
        partition_by = tuple(
            c for c in ("bucket", "pbucket") if c in df.columns
        )
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    t = marker_p + ".tmp"
    with open(t, "w") as fh:
        json.dump({"target": target, "sources": dirs}, fh)
    os.replace(t, marker_p)
    os.rename(tmp, os.path.join(index_dir, target))
    for d in dirs:
        shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)
    os.remove(marker_p)


def compact_rollup(spark, target_dir: str) -> None:
    """Fold the un-compacted batch partials (plus the previous base)
    into a new ``compacted=<gen>`` base and publish it with an atomic
    manifest rename.  Crash-safe at every step: the new base dir is
    invisible to ``read_rollup`` until the manifest flips (a crash
    before the rename leaves the old view intact, merely leaking a dir
    that the next compaction removes), and the superseded partials are
    deleted only AFTER the rename (a crash between rename and delete
    changes nothing the reader sees).  Run under the same single-writer
    contract as the refresh itself.  Plain driver-local paths only."""
    import json
    import shutil

    _require_driver_local(target_dir, "compact_rollup")
    manifest = _read_compact_manifest(target_dir)
    through = manifest["through"] if manifest else None
    fresh = [
        (bid, d)
        for bid, d in _rollup_batch_dirs(target_dir)
        if through is None or bid > through
    ]
    if fresh:
        merged = read_rollup(spark, target_dir)
        gen = manifest["gen"] + 1 if manifest else 1
        base = f"compacted={gen}"
        merged.write.mode("overwrite").parquet(os.path.join(target_dir, base))
        manifest = {"base": base, "through": max(bid for bid, _ in fresh), "gen": gen}
        tmp = os.path.join(target_dir, _COMPACT_MANIFEST + ".tmp")
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, os.path.join(target_dir, _COMPACT_MANIFEST))
    if manifest is None:
        return
    # cleanup (idempotent, safe to re-run after any crash): folded
    # partials and superseded/orphaned compaction generations
    for bid, d in _rollup_batch_dirs(target_dir):
        if bid <= manifest["through"]:
            shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)
    for d in os.listdir(target_dir):
        if d.startswith("compacted=") and d != manifest["base"]:
            shutil.rmtree(os.path.join(target_dir, d), ignore_errors=True)


def streaming_scd2_dimension(
    changes: DataFrame,
    target_dir: str,
    keys: list[str],
    as_of_col: str = "as_of",
    checkpoint: str | None = None,
):
    """``foreachBatch`` SCD TYPE-2 dimension maintenance from a change
    stream: each micro-batch is compacted to its latest observation per
    key (``max_by`` on ``as_of_col`` — intra-batch intermediate versions
    collapse, the standard micro-batch SCD2 semantics) and folded into
    the stored dimension with :func:`operators.merge.scd2_apply` (close
    + open changed keys, insert new ones, pass everything else through).

    **The fold is open-partition-local** (verdict r7 #1): the target is
    laid out as ``open/`` (current rows, rewritten per fold) plus
    ``closed/batch=<id>/`` (rows closed during that batch, written once
    at close time and NEVER read or rewritten again).  Per-batch cost is
    therefore O(open ∪ delta), not O(history) — closed history, the
    unbounded append-only part of an SCD2 dimension, stays out of every
    fold's plan entirely.  :func:`read_scd2_dimension` is the merged
    view.  (With a Delta/Iceberg target the same layout is ``PARTITIONED
    BY (is_current)`` + dynamic partition overwrite; this is the
    dependency-free parquet equivalent with the identical contract.)

    Replay safety: a same-checkpoint replay re-derives the identical
    closed set from the still-unrewritten ``open/`` and overwrites its
    own ``closed/batch=<id>`` dir (idempotent); after a completed fold,
    an at-least-once redelivery classifies every key as unchanged
    (scd2_apply's idempotence), closes nothing, and rewrites ``open/``
    byte-identically.  Empty closed sets are skipped so a fresh-
    checkpoint no-op redelivery can never clobber an earlier run's
    closures; reusing batch ids across checkpoints for *different* data
    is operator error, the same single-writer contract as
    ``streaming_rollup_refresh``.  ``open/`` uses the staging-then-
    overwrite sequence of :func:`foreach_batch_upsert` (the
    mid-overwrite crash window is the parquet sink's documented
    limitation — ordering closed-before-open keeps that window
    open-partition-sized).
    """
    from firmable_company_data_pipeline_spark.operators.merge import scd2_apply

    open_dir = target_dir.rstrip("/") + "/open"
    closed_dir = target_dir.rstrip("/") + "/closed"

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        value_cols = [
            c for c in batch_df.columns if c not in (*keys, as_of_col)
        ]
        # max_by ordered by (as_of, values): two same-timestamp
        # observations of one key tie-break on the value tuple instead
        # of by partition order — the fold stays deterministic under
        # replay and repartitioning.
        latest = (
            batch_df.groupBy(*keys)
            .agg(
                F.max_by(
                    F.struct(*value_cols, as_of_col),
                    F.struct(F.col(as_of_col), *[F.col(c) for c in value_cols]),
                ).alias("_s")
            )
            .select(*keys, "_s.*")
        )
        open_rows = _read_parquet_or_none(spark, open_dir)
        if open_rows is None:
            as_of_type = dict(latest.dtypes)[as_of_col]
            open_rows = latest.select(
                *keys,
                *value_cols,
                F.col(as_of_col).alias("valid_from"),
                F.lit(None).cast(as_of_type).alias("valid_to"),
            ).limit(0)
        # the input dim carries open rows ONLY, so scd2_apply's
        # closed_history branch is empty and the valid_to split below
        # recovers exactly (newly closed, next open set).  Shared: the
        # fold runs THREE actions over this lineage (the non-empty
        # probe, the closed write, the open staging write) — unshared
        # each would re-read open/ and re-run the merge (review r8)
        merged = materialize(
            scd2_apply(open_rows, latest, keys, as_of_col=as_of_col), "share"
        )
        newly_closed = merged.filter(F.col("valid_to").isNotNull())
        # closed rows append once, batch-keyed: replay overwrites its
        # own dir; skip-when-empty keeps no-op redeliveries clobber-free
        if newly_closed.limit(1).count() > 0:
            _write_batch(newly_closed, closed_dir, batch_id, key="batch")
        new_open = merged.filter(F.col("valid_to").isNull())
        tmp = open_dir + f"._staging_{batch_id}"
        new_open.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(open_dir)
        # staging cleanup through Spark's own filesystem — a driver-
        # local rmtree would silently leak staging dirs on HDFS/S3
        # (same class as the advice-r7 glob probes)
        fs, jtmp = _hadoop_fs(spark, tmp)
        fs.delete(jtmp, True)

    return _start(changes, fold, checkpoint)


def read_scd2_dimension(spark, target_dir: str) -> DataFrame:
    """Merged view of a :func:`streaming_scd2_dimension` target: the
    ``open/`` partition unioned with every ``closed/batch=*`` dir.  The
    fold itself never reads ``closed/`` — this reader is history's only
    consumer, so the O(history) scan happens exactly where a consumer
    asks for history, never inside the per-batch maintenance loop."""
    base = target_dir.rstrip("/")
    open_rows = _read_parquet_or_none(spark, base + "/open")
    if open_rows is None:
        raise FileNotFoundError(f"no SCD2 dimension under {target_dir}")
    closed = _read_parquet_or_none(spark, base + "/closed")
    if closed is None:
        return open_rows
    # partition discovery adds the batch key; the dimension view drops it
    return open_rows.unionByName(closed.drop("batch"))


def streaming_ivf_index(
    vectors: DataFrame,
    index_dir: str,
    centroids_dir: str,
    checkpoint: str | None = None,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming IVF index maintenance — the Structured-Streaming
    composition of ``operators/similarity_search.ivf_assign``: each
    embedding micro-batch is assigned to its nearest FROZEN centroid
    cell (a map-only broadcast cross-score — no previously indexed
    vector is touched, the same never-reindex contract as the signature
    index in :func:`streaming_minhash_dedup`) and appended to the
    parquet index at ``index_dir/batch_id=N``.

    Centroids freeze on the FIRST batch: the n_cells lowest-id vectors
    of that batch are written to ``centroids_dir`` once and every later
    batch reads them back (a production deployment would train them
    once with ``kmeans_centroids`` and publish the same way; frozen
    centroids are what make delta assignment equal a full rebuild —
    drifted centroids require an explicit reindex, which this job
    deliberately never performs).  Batch-keyed overwrite makes a
    checkpoint replay rewrite its own partition.  ``read_ivf_index``
    unions the partitions; searching is ``ivf_search`` over that union
    with the same frozen centroids.
    """
    from firmable_company_data_pipeline_spark.operators.similarity_search import (
        default_centroids,
        ivf_assign,
    )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # freeze-commit marker is OUR OWN file written AFTER the
        # centroid write, not Spark's _SUCCESS (advice r7: with
        # mapreduce success markers disabled _SUCCESS never appears and
        # every batch would re-freeze centroids from its own lowest ids
        # — a mixed-centroid index) and not bare directory existence
        # (review r7: a crash mid-write leaves a directory with only
        # _temporary/ or a partial part-file, wedging every retry).  A
        # missing marker after a crash self-heals by rewriting — the
        # first-batch centroid set is deterministic.  Probed through
        # Spark's filesystem so remote targets behave identically.
        fs, marker = _hadoop_fs(
            spark, centroids_dir.rstrip("/") + "/_CENTROIDS_FROZEN"
        )
        if not fs.exists(marker):
            default_centroids(
                batch_df, id_col=id_col, vec_col=vec_col, n_cells=n_cells
            ).coalesce(1).write.mode("overwrite").parquet(centroids_dir)
            fs.createNewFile(marker)
        cents = spark.read.parquet(centroids_dir)
        # cell-partitioned within the batch dir (round 8): searches over
        # read_ivf_index dynamic-partition-prune to the probed cells, so
        # search I/O never scales with index size (similarity_search.
        # write_ivf_index documents the layout; DPP pinned by test)
        assigned = ivf_assign(batch_df, cents, id_col=id_col, vec_col=vec_col)
        _write_batch(assigned, index_dir, batch_id, by="cell", shuffle=False)

    return _start(vectors, process, checkpoint)


def read_ivf_index(spark, index_dir: str) -> DataFrame:
    """Union every batch partition of a :func:`streaming_ivf_index`
    target (partition discovery) and drop the partition key — the
    result has exactly :func:`ivf_assign`'s (neighbor_id, cell, cv, cn)
    schema, ready for ``ivf_search``."""
    return spark.read.option("basePath", index_dir).parquet(index_dir).drop(
        "batch_id"
    )


def streaming_histogram_refresh(
    events: DataFrame,
    target_dir: str,
    checkpoint: str | None = None,
    value_col: str = "value",
):
    """Incrementally maintained fixed-bin value histogram — the quantile
    member of the streaming sketch family (CMS = heavy hitters, HLL =
    distinct): each micro-batch writes ITS OWN ``batch=<id>`` partial
    (≤ HIST_BINS rows regardless of batch size); ``read_histogram``
    folds the partials by summing counters.  History is never
    rescanned, a replayed batch overwrites its own partition, and the
    merged histogram is IDENTICAL to a one-pass full build (pinned by
    the stream-vs-batch test).  Pair with
    ``queries/scale.value_quantile_sketch`` for the quantile-estimate
    side and its error contract.
    """
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        partial = sk.hist_partial(batch_df, value_col)
        _write_batch(partial, target_dir, batch_id, key="batch")

    return _start(events, refresh, checkpoint)


def read_histogram(spark, target_dir: str) -> DataFrame:
    """Merged histogram of a ``streaming_histogram_refresh`` target.

    A target that received zero batches (availableNow drained an empty
    source) has no ``batch=N`` partition — return an empty counter
    frame instead of raising PATH_NOT_FOUND, so a reader polling before
    first data sees "no observations yet" (review r7).  Emptiness is
    detected through Spark's own filesystem, not a local ``glob``
    (advice r7)."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    return sk.hist_merge(_read_partials(spark, target_dir, "bin bigint, cnt bigint"))


def streaming_corpus_screen(
    docs: DataFrame,
    quality_weights_dir: str,
    lm_model_dir: str,
    dsir_weights_dir: str,
    eval_fp_dir: str,
    verdicts_dir: str,
    checkpoint: str | None = None,
    min_prob_good: float = 0.5,
    min_logscore: float = -8.0,
    min_logratio: float = -1.0,
    min_shared: int = 2,
    min_containment: float = 0.2,
    n_buckets: int = 256,
):
    """The INGEST shape of the corpus-build flagship: screen a document
    stream through all four frozen scoring artifacts in ONE
    foreachBatch fold — NB quality classifier, Stupid-Backoff trigram
    LM, DSIR importance, and the winnow decontamination index — and
    emit one admission verdict row per document:

        (doc_id, prob_good, avg_logscore, avg_logratio, contaminated,
         admit)

    ``admit`` = every score present and over its threshold AND not
    contaminated; a document too short to score (no bigrams/trigrams)
    FAILS the corresponding screen (scores are left-joined, and a NULL
    comparison is not TRUE — deterministic, mirrored in the batch
    twin).  Batch-keyed idempotent writes to ``verdicts_dir/batch_id=N``.

    Contamination uses the BATCH flagship's stage-6 rule (review r11:
    any-single-shared-fingerprint diverged from it), the one definition
    in ``dedup.fp_containment_flags``: a doc is contaminated when it
    shares ≥ ``min_shared`` winnow fingerprints with some eval doc AND
    covers ≥ ``min_containment`` of that eval doc's fingerprints (the
    eval index carries ``n_fp``).  The one DOCUMENTED divergence from
    the batch screen is the ``max_df`` hot-fingerprint cap, which needs
    corpus-wide document frequencies a frozen eval index cannot supply
    — the ingest screen therefore flags a SUPERSET on boilerplate-heavy
    fingerprints (same caveat as the frozen-index screen of
    ``streaming_frozen_score``); re-screen admitted docs in the batch
    flagship before shipping.

    Scale: all four artifacts are frozen and bounded (two ≤ n_buckets-
    row weight tables, one dictionary-sized gram table, one benchmark-
    sized fingerprint index) — every join is a broadcast against the
    batch, so per-batch cost is O(batch) with NO history axis; the
    union over any batch split equals the composed batch computation
    (pinned in tests/test_streaming.py).  Retrain/republish artifacts
    on drift; admitted doc_ids then feed the batch flagship's
    dedup/selection/sharding stages, which are corpus-level decisions
    and stay batch."""
    from firmable_company_data_pipeline_spark.operators import curation as cu
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        qw = spark.read.parquet(quality_weights_dir)
        lm = spark.read.parquet(lm_model_dir)
        dw = spark.read.parquet(dsir_weights_dir)
        ev = F.broadcast(spark.read.parquet(eval_fp_dir))
        base = batch_df.select("doc_id")
        q = cu.nb_quality_score(batch_df, qw, n_buckets=n_buckets).select(
            "doc_id", "prob_good"
        )
        l = cu.trigram_lm_score_docs(batch_df, lm).select(
            "doc_id", "avg_logscore"
        )
        d = cu.dsir_score_docs(batch_df, dw, n_buckets=n_buckets).select(
            "doc_id", "avg_logratio"
        )
        contam = (
            dd.fp_containment_flags(
                dd.winnow_fingerprint_rows(batch_df), ev,
                min_shared=min_shared, min_containment=min_containment,
            )
            .select(F.col("train_id").alias("doc_id"))
            .distinct()
            .withColumn("_contam", F.lit(True))
        )
        verdicts = (
            base.join(q, "doc_id", "left")
            .join(l, "doc_id", "left")
            .join(d, "doc_id", "left")
            .join(contam, "doc_id", "left")
            .select(
                "doc_id",
                "prob_good",
                "avg_logscore",
                "avg_logratio",
                F.coalesce("_contam", F.lit(False)).alias("contaminated"),
                (
                    (F.col("prob_good") >= min_prob_good)
                    & (F.col("avg_logscore") >= min_logscore)
                    & (F.col("avg_logratio") >= min_logratio)
                    & ~F.coalesce("_contam", F.lit(False))
                )
                .cast("boolean")
                .alias("admit"),
            )
            .withColumn("admit", F.coalesce("admit", F.lit(False)))
        )
        _write_batch(verdicts, verdicts_dir, batch_id)

    return _start(docs, process, checkpoint)
