"""Structured Streaming execution tests: the file-source → watermark →
availableNow pipeline must produce the same rows as the batch path
(whose semantics the DuckDB oracle already validates via
queries/streaming_batch.py).

Fixture design: events are split into three ts-ordered parquet chunks
appended sequentially to one directory — the file source processes them
in modification-time order, so event time advances monotonically across
micro-batches and watermark semantics are deterministic.  Parquet (not
json) keeps µs timestamps exact.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.session import load_tables
from firmable_company_data_pipeline_spark.streaming import jobs, windows


def _write_chunks(df, out: str, n_chunks: int = 3) -> None:
    """Append ts-range chunks to one dir, in ts order, with distinct
    file mod-times (the streaming source's ordering key)."""
    qs = [i / n_chunks for i in range(1, n_chunks)]
    # cast("timestamp") first: unix_micros rejects TIMESTAMP_NTZ inputs, and
    # the driver's parquet may carry either type.  Only monotonicity matters
    # here (quantile cut points), so the tz interpretation is irrelevant.
    with_us = df.withColumn("_us", F.unix_micros(F.col("ts").cast("timestamp")))
    cuts = with_us.approxQuantile("_us", qs, 0.0)
    bounds = [None, *cuts, None]
    for i in range(n_chunks):
        chunk = with_us
        if bounds[i] is not None:
            chunk = chunk.filter(F.col("_us") > F.lit(int(bounds[i])))
        if bounds[i + 1] is not None:
            chunk = chunk.filter(F.col("_us") <= F.lit(int(bounds[i + 1])))
        chunk = chunk.drop("_us")
        chunk.coalesce(1).write.mode("append").parquet(out)
        time.sleep(0.3)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_stream") / "clean")
    ev = load_tables(spark, sf_dir, "events")["events"]
    _write_chunks(ev, out)
    return out


@pytest.fixture(scope="module")
def events_dup_dir(spark, sf_dir, tmp_path_factory):
    """Same stream but every row appears twice within its chunk file."""
    out = str(tmp_path_factory.mktemp("events_stream_dup") / "dup")
    ev = load_tables(spark, sf_dir, "events")["events"]
    _write_chunks(ev.unionByName(ev), out)
    return out


def _drain(query, timeout=180):
    query.awaitTermination(timeout)
    assert not query.isActive


def _rows(df, cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_tumbling_stream_matches_batch(spark, sf_dir, events_dir):
    ev_batch = load_tables(spark, sf_dir, "events")["events"]
    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = jobs.tumbling_counts_query(stream, "tumbling_sink", watermark="0 seconds")
    _drain(q)

    got = _rows(
        spark.sql("SELECT * FROM tumbling_sink"),
        ["win_start", "event_type", "n_events", "sum_value"],
    )
    batch = windows.tumbling_value_stats(ev_batch, "1 hour")
    max_ts = ev_batch.agg(F.max("ts")).collect()[0][0]
    # append mode emits only windows whose end the watermark passed
    expected = _rows(
        batch.filter(F.col("win_start") + F.expr("INTERVAL 1 hour") <= F.lit(max_ts)),
        ["win_start", "event_type", "n_events", "sum_value"],
    )
    assert got == expected
    assert len(got) > 0


def test_dedup_stream_drops_duplicates(spark, events_dup_dir):
    stream = jobs.read_events_stream(spark, events_dup_dir, fmt="parquet", max_files=1)
    q = jobs.dedup_stream_query(stream, "dedup_sink", watermark="1 hour")
    _drain(q)
    out = spark.sql("SELECT * FROM dedup_sink")
    n = out.count()
    assert n == out.select("event_id").distinct().count()  # all dups dropped
    assert n > 0


def test_session_stream_subset_of_batch(spark, sf_dir, events_dir):
    ev_batch = load_tables(spark, sf_dir, "events")["events"]
    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = jobs.session_counts_query(stream, "session_sink", watermark="0 seconds")
    _drain(q)
    got = _rows(
        spark.sql("SELECT * FROM session_sink"),
        ["user_id", "session_start", "n_events", "sum_value"],
    )
    full = _rows(
        windows.session_stats(ev_batch, "5 minutes"),
        ["user_id", "session_start", "n_events", "sum_value"],
    )
    # append mode withholds sessions the watermark hasn't closed yet
    assert got <= full
    assert len(got) > 0.8 * len(full)


def test_foreach_batch_upsert(spark, sf_dir, events_dup_dir, tmp_path):
    n_expected = load_tables(spark, sf_dir, "events")["events"].count()
    target = str(tmp_path / "upsert_target")
    stream = jobs.read_events_stream(spark, events_dup_dir, fmt="parquet", max_files=1)
    q = jobs.foreach_batch_upsert(stream, target, key="event_id")
    _drain(q)
    final = spark.read.parquet(target)
    assert final.count() == final.select("event_id").distinct().count()
    assert final.count() == n_expected


def test_stateful_running_totals_matches_batch(spark, sf_dir, events_dir):
    from firmable_company_data_pipeline_spark.streaming import stateful

    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = (
        stateful.running_user_totals(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("running_totals")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # last emission per user = final running totals
    out = spark.sql(
        """SELECT user_id, n_events, sum_value FROM (
             SELECT *, row_number() OVER (PARTITION BY user_id
                                          ORDER BY n_events DESC) AS rn
             FROM running_totals) WHERE rn = 1"""
    )
    got = {r["user_id"]: (r["n_events"], r["sum_value"]) for r in out.collect()}
    ev = load_tables(spark, sf_dir, "events")["events"]
    exp = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(got) == set(exp)
    for u, (n, s) in exp.items():
        assert got[u][0] == n
        assert abs(got[u][1] - s) < 1e-6  # float fold order differs per path


def test_stream_stream_interval_join(spark, sf_dir, events_dir):
    """Watermarked stream-stream join emits exactly the batch twin's
    pairs for events old enough that the watermark closed them."""
    ev_batch = load_tables(spark, sf_dir, "events")["events"]
    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=2)
    q = jobs.interval_join_query(
        stream, "ssjoin_sink", lead="10 minutes", watermark="0 seconds"
    )
    _drain(q)
    got = _rows(spark.sql("SELECT * FROM ssjoin_sink"), ["user_id", "c_ts", "e_ts"])

    clicks = ev_batch.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    errors = ev_batch.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    full = _rows(
        clicks.join(
            errors,
            (F.col("c_user") == F.col("e_user"))
            & (F.col("e_ts") > F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 10 minutes")),
        ).select(F.col("c_user").alias("user_id"), "c_ts", "e_ts"),
        ["user_id", "c_ts", "e_ts"],
    )
    # the join may withhold pairs the final watermark hasn't sealed
    assert got <= full
    assert len(got) > 0.8 * len(full)


def test_streaming_minhash_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Two document micro-batches through streaming_minhash_dedup must
    discover exactly the pairs the batch operator finds on the full
    corpus (delta x index + delta x delta across batches union to the
    full pair set; index x index of the first batch is found when that
    batch was itself the delta)."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index_dir = str(tmp_path / "sig_index")
    pairs_dir = str(tmp_path / "dup_pairs")
    labels_dir = str(tmp_path / "dup_labels")
    q = jobs.streaming_minhash_dedup(
        stream, index_dir, pairs_dir,
        checkpoint=str(tmp_path / "ckpt"), threshold=0.0,
        labels_dir=labels_dir,
    )
    _drain(q)

    streamed = _rows(spark.read.parquet(pairs_dir), ["id_a", "id_b", "est_jaccard"])
    batch = _rows(
        dd.minhash_lsh_pairs(docs, threshold=0.0), ["id_a", "id_b", "est_jaccard"]
    )
    assert streamed == batch
    # the index holds the banded layout: one row per (doc, LSH band),
    # partitioned by pbucket (round 10)
    idx = spark.read.parquet(index_dir)
    assert "pbucket" in idx.columns
    n_docs = idx.select("id").distinct().count()
    assert idx.count() == n_docs * dd.LSH_BANDS
    assert idx.select("id", "band").distinct().count() == idx.count()
    # the incrementally folded labeling equals a batch re-cluster of the
    # full pair set (round 6: incremental_components per micro-batch)
    got_labels = _rows(
        jobs.read_dedup_labels(spark, labels_dir), ["doc_id", "cluster_id"]
    )
    want_labels = _rows(
        dd.connected_components(dd.minhash_lsh_pairs(docs, threshold=0.0)),
        ["doc_id", "cluster_id"],
    )
    assert got_labels == want_labels
    # old generations are pruned down to read-gen + current
    import glob as _glob

    assert len(_glob.glob(f"{labels_dir}/gen=*")) <= 2


def test_streaming_winnow_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Two document micro-batches through streaming_winnow_dedup must
    discover exactly the pairs the batch operator finds on the full
    corpus.  max_df is set high enough that no fingerprint crosses the
    cap anywhere (df only grows, so cap-free at the final corpus means
    cap-free at every interim batch — the regime where stream == batch
    exactly; a mid-stream cap crossing legitimately diverges per the
    documented no-retraction contract).  The additive (fp, df) table
    accumulated across batches must equal a batch df count."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index_dir = str(tmp_path / "fp_index")
    pairs_dir = str(tmp_path / "fp_pairs")
    df_dir = str(tmp_path / "fp_df")
    cap = 10**6
    q = jobs.streaming_winnow_dedup(
        stream, index_dir, pairs_dir,
        checkpoint=str(tmp_path / "ckpt"),
        min_shared=1, max_df=cap, df_dir=df_dir,
    )
    _drain(q)

    cols = ["id_a", "id_b", "shared", "containment"]
    streamed = _rows(spark.read.parquet(pairs_dir), cols)
    batch = _rows(dd.winnow_overlap_pairs(docs, min_shared=1, max_df=cap), cols)
    assert streamed == batch and streamed
    # the fingerprint index holds each doc's rows exactly once
    idx = spark.read.parquet(index_dir)
    full_fps = dd.winnow_fingerprint_rows(docs)
    assert _rows(idx, ["id", "n_fp", "fp"]) == _rows(full_fps, ["id", "n_fp", "fp"])
    # the additive df table sums to the batch-computed df per fp
    table = (
        spark.read.parquet(df_dir)
        .groupBy("fp")
        .agg(F.sum("df").alias("df"))
    )
    assert _rows(table, ["fp", "df"]) == _rows(dd.winnow_df_table(full_fps), ["fp", "df"])


def test_streaming_block_dedup_matches_batch(spark, sf_dir, tmp_path):
    """Two CONTIGUOUS-id micro-batches through streaming_block_dedup
    must reproduce block_dedup on the full corpus exactly (arrival
    order == doc_id order, so first-SEEN == first-(doc_id, block_idx)),
    and the block index must hold every distinct block text exactly
    once."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") <= mid).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index_dir = str(tmp_path / "blk_index")
    out_dir = str(tmp_path / "blk_out")
    q = jobs.streaming_block_dedup(
        stream, index_dir, out_dir, checkpoint=str(tmp_path / "ckpt")
    )
    _drain(q)

    cols = ["doc_id", "n_blocks", "n_kept", "clean_text"]
    streamed = _rows(spark.read.parquet(out_dir), cols)
    batch = _rows(dd.block_dedup(docs, block_tokens=16), cols)
    assert streamed == batch and streamed
    idx = spark.read.parquet(index_dir)
    assert idx.count() == idx.select("block_text").distinct().count()
    # the index is exactly the distinct block universe of the corpus
    n_distinct_blocks = (
        dd.block_dedup(docs, block_tokens=16)
        .agg(F.sum("n_kept"))
        .first()[0]
    )
    assert idx.count() == n_distinct_blocks


def _contamination_case(spark, docs, artifact_dir):
    """Frozen eval fingerprint index; the batch twin is the bipartite
    batch screen on the full corpus."""
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = docs.select("doc_id", "text")
    is_eval = F.col("doc_id") % 10 == 0
    dd.winnow_fingerprint_rows(docs.filter(is_eval)).write.parquet(artifact_dir)

    def score(batch, ev):
        return dd.fp_containment_flags(
            dd.winnow_fingerprint_rows(batch), ev, min_shared=1
        )

    cols = ["train_id", "eval_id", "shared", "eval_containment"]
    batch = dd.winnow_contamination(docs, eval_mod=10, min_shared=1)
    return docs.filter(~is_eval), score, cols, batch


def _dsir_case(spark, docs, artifact_dir):
    """Frozen DSIR weight table; the composed weight-table + scorer pair
    must also equal the fused dsir_importance operator."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    is_target = F.col("source").isin("src0", "src1", "src2", "src3")
    cu.dsir_weight_table(docs, is_target).write.parquet(artifact_dir)
    pool = docs.filter(~is_target).select("doc_id", "text")
    cols = ["doc_id", "n_grams", "logratio_sum", "avg_logratio"]
    batch = cu.dsir_importance(docs, is_target)
    # composed pair == fused operator (batch side)
    composed = cu.dsir_score_docs(pool, spark.read.parquet(artifact_dir))
    assert _rows(composed, cols) == _rows(batch, cols)
    return pool, cu.dsir_score_docs, cols, batch


def _quality_case(spark, docs, artifact_dir):
    """Frozen NB quality-classifier table."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    label = F.col("source").isin("src0", "src1", "src2", "src3")
    cu.nb_quality_weights(docs, label).write.parquet(artifact_dir)
    pool = docs.select("doc_id", "text")
    cols = ["doc_id", "n_grams", "log_odds", "prob_good", "is_good"]
    batch = cu.nb_quality_score(pool, spark.read.parquet(artifact_dir))
    return pool, cu.nb_quality_score, cols, batch


def _trigram_case(spark, docs, artifact_dir):
    """Frozen Stupid-Backoff trigram table, trained on a corpus slice."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    cu.trigram_lm_table(docs.filter(F.col("doc_id") % 3 != 0)).write.parquet(
        artifact_dir
    )
    pool = docs.select("doc_id", "text")
    cols = ["doc_id", "n_trigrams", "avg_logscore"]
    batch = cu.trigram_lm_score_docs(pool, spark.read.parquet(artifact_dir))
    return pool, cu.trigram_lm_score_docs, cols, batch


@pytest.mark.parametrize(
    "case",
    [_contamination_case, _dsir_case, _quality_case, _trigram_case],
    ids=["contamination", "dsir", "quality", "trigram"],
)
def test_streaming_frozen_score_matches_batch(spark, sf_dir, tmp_path, case):
    """Scoring two pool micro-batches against a frozen artifact must
    reproduce the batch scorer exactly: scores are per-document-
    independent (the contamination screen is bipartite — train docs
    never interact), so ANY batch split reproduces the batch result."""
    import time as _time

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    artifact_dir = str(tmp_path / "artifact")
    pool, score, cols, batch = case(spark, docs, artifact_dir)

    src = str(tmp_path / "pool_src")
    pool.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    pool.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out_dir = str(tmp_path / "scores")
    q = jobs.streaming_frozen_score(
        stream, artifact_dir, out_dir, score, checkpoint=str(tmp_path / "ckpt")
    )
    _drain(q)

    streamed = _rows(spark.read.parquet(out_dir), cols)
    assert streamed == _rows(batch, cols) and streamed


def test_bucketed_index_folds_prune_partitions(spark, sf_dir, tmp_path):
    """Round-10: the winnow and minhash folds over a bucketed index
    read only the delta's touched bucket partitions — the scan's
    physical plan carries the bucket partition filter, and the touched
    partitions hold a strict fraction of the index bytes (roughly
    touched/total buckets on a hash-uniform layout)."""
    import glob as _glob
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    def _stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    def _bytes(pattern):
        import os as _os

        return sum(_os.path.getsize(f) for f in _glob.glob(pattern))

    # --- winnow: bucket = fp % 64 -------------------------------------
    w_index = str(tmp_path / "w_index")
    q = jobs.streaming_winnow_dedup(
        _stream(), w_index, str(tmp_path / "w_pairs"),
        checkpoint=str(tmp_path / "w_ckpt"), min_shared=1,
    )
    _drain(q)
    one = docs.orderBy("doc_id").limit(1)
    delta = dd.winnow_fingerprint_rows(one)
    bks = [
        r[0]
        for r in delta.select(F.pmod(F.col("fp"), F.lit(64)).alias("b"))
        .distinct()
        .collect()
    ]
    assert 0 < len(bks) < 64
    pruned = (
        spark.read.parquet(w_index)
        .filter(F.col("batch_id") != 99)
        .filter(F.col("bucket").isin(bks))
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan.split(
        "PartitionFilters"
    )[1][:400]
    touched = sum(_bytes(f"{w_index}/batch_id=*/bucket={b}/*.parquet") for b in bks)
    total = _bytes(f"{w_index}/batch_id=*/bucket=*/*.parquet")
    assert 0 < touched < total
    # hash-uniform layout: touched bytes track touched buckets (slack 3x)
    assert touched / total <= 3 * len(bks) / 64
    # file-count cap: the pre-write repartition puts each bucket in one
    # task, so a batch writes at most one file per touched bucket —
    # never tasks x buckets
    for bdir in _glob.glob(f"{w_index}/batch_id=*"):
        n_files = len(_glob.glob(f"{bdir}/bucket=*/*.parquet"))
        n_bucket_dirs = len(_glob.glob(f"{bdir}/bucket=*"))
        assert n_files <= n_bucket_dirs
    # the bucket count is pinned: a restart with a different n_buckets
    # would prune against the old modulus — it must fail loudly
    import pytest as _pytest

    jobs._pin_bucket_count(spark, w_index, 64)  # matching count: fine
    with _pytest.raises(ValueError, match="n_buckets"):
        jobs._pin_bucket_count(spark, w_index, 32)

    # --- minhash: pbucket = hash(band, bucket) % 64 -------------------
    m_index = str(tmp_path / "m_index")
    q = jobs.streaming_minhash_dedup(
        _stream(), m_index, str(tmp_path / "m_pairs"),
        checkpoint=str(tmp_path / "m_ckpt"), threshold=0.0,
    )
    _drain(q)
    dsig = dd.minhash_signatures(one)
    pbks = [
        r[0]
        for r in dd.minhash_band_rows(dsig, 64).select("pbucket").distinct().collect()
    ]
    assert 0 < len(pbks) <= dd.LSH_BANDS
    prunedm = (
        spark.read.parquet(m_index)
        .filter(F.col("batch_id") != 99)
        .filter(F.col("pbucket").isin(pbks))
    )
    planm = prunedm._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in planm and "pbucket" in planm.split(
        "PartitionFilters"
    )[1][:400]
    touched = sum(
        _bytes(f"{m_index}/batch_id=*/pbucket={b}/*.parquet") for b in pbks
    )
    total = _bytes(f"{m_index}/batch_id=*/pbucket=*/*.parquet")
    assert 0 < touched < total
    assert touched / total <= 3 * len(pbks) / 64


def test_compact_batch_index_mid_stream(spark, sf_dir, tmp_path):
    """Compacting the winnow fingerprint index + df table between two
    stream runs must leave the continued stream's pair output identical
    to the batch operator: after draining half the corpus, compaction
    folds the batch partitions into one negative-id partition (readers
    and replay-exclusion filters unchanged), then the second half
    streams in and the union of all pairs equals winnow_overlap_pairs
    on the full corpus."""
    import glob as _glob
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = str(tmp_path / "docs_src")
    index_dir = str(tmp_path / "fp_index")
    pairs_dir = str(tmp_path / "fp_pairs")
    df_dir = str(tmp_path / "fp_df")
    ckpt = str(tmp_path / "ckpt")
    cap = 10**6

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_winnow_dedup(
            stream, index_dir, pairs_dir, checkpoint=ckpt,
            min_shared=1, max_df=cap, df_dir=df_dir,
        )
        _drain(q)

    # first half in two micro-batches, then compact
    docs.filter(F.col("doc_id") <= mid / 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _time.sleep(0.3)
    docs.filter(
        (F.col("doc_id") > mid / 2) & (F.col("doc_id") <= mid)
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    assert len(_glob.glob(f"{index_dir}/batch_id=*")) == 2
    jobs.compact_batch_index(spark, index_dir)
    jobs.compact_batch_index(spark, df_dir)
    assert _glob.glob(f"{index_dir}/batch_id=*") == [f"{index_dir}/batch_id=-1"]
    # calling it again is a no-op (single partition)
    jobs.compact_batch_index(spark, index_dir)
    assert _glob.glob(f"{index_dir}/batch_id=*") == [f"{index_dir}/batch_id=-1"]

    # second half streams in against the compacted state
    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(src)
    run_stream()

    cols = ["id_a", "id_b", "shared", "containment"]
    streamed = _rows(spark.read.parquet(pairs_dir), cols)
    batch = _rows(dd.winnow_overlap_pairs(docs, min_shared=1, max_df=cap), cols)
    assert streamed == batch and streamed
    # index content identical to an uncompacted build
    idx = spark.read.parquet(index_dir)
    assert _rows(idx, ["id", "n_fp", "fp"]) == _rows(
        dd.winnow_fingerprint_rows(docs), ["id", "n_fp", "fp"]
    )


def test_streaming_winnow_refuses_index_without_df_table(spark, sf_dir, tmp_path):
    """Guard: an existing fingerprint index with HISTORY (a partition
    other than the replaying batch's own — here batch_id=-1, the
    external-seed/compaction convention) and NO df table must fail
    loudly when max_df is set — a silently delta-only df would let
    boilerplate fingerprints past the cap."""
    import shutil

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "fp_index")
    dd.winnow_fingerprint_rows(docs.limit(20)).write.parquet(
        index_dir + "/batch_id=-1"
    )
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_winnow_dedup(
        stream, index_dir, str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
        max_df=100, df_dir=str(tmp_path / "fp_df"),
    )
    with pytest.raises(Exception, match="df table"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover
    shutil.rmtree(str(tmp_path / "ckpt"), ignore_errors=True)


def test_streaming_winnow_refuses_flat_history(spark, sf_dir, tmp_path):
    """The winnow fold serves only the bucketed layout: an index whose
    history has no ``bucket`` partition column fails loudly instead of
    being read whole and appended to in a second layout."""
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "fp_index")
    dd.winnow_fingerprint_rows(docs.limit(20)).write.parquet(
        index_dir + "/batch_id=-1"
    )
    jobs.declare_upsert_layout(spark, index_dir, 64)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_winnow_dedup(
        stream, index_dir, str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="no bucket partition column"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_streaming_minhash_refuses_flat_history(spark, sf_dir, tmp_path):
    """The MinHash fold serves only the banded layout: a declared index
    whose history has no ``pbucket`` partition column (the flat
    (id, sig) layout) fails loudly instead of being read whole and
    appended to in a second layout."""
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "sig_index")
    dd.minhash_signatures(docs.limit(20)).write.parquet(index_dir + "/batch_id=-1")
    jobs.declare_upsert_layout(spark, index_dir, 64)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_minhash_dedup(
        stream, index_dir, str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="no pbucket partition column"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_streaming_block_dedup_refuses_flat_history(spark, sf_dir, tmp_path):
    """The block fold serves only the bucketed layout: a declared index
    whose history has no ``bucket`` partition column fails loudly
    instead of being read whole and appended to in a second layout."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "blk_index")
    spark.createDataFrame([("a b c",)], "block_text string").write.parquet(
        index_dir + "/batch_id=-1"
    )
    jobs.declare_upsert_layout(spark, index_dir, 64)
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 5).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_block_dedup(
        stream, index_dir, str(tmp_path / "out"), checkpoint=str(tmp_path / "ckpt")
    )
    with pytest.raises(Exception, match="no bucket partition column"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_streaming_block_dedup_pins_bucket_count(spark, sf_dir, tmp_path):
    """The block index is laid out by ``xxhash64(block_text) % n_buckets``
    and each batch prunes its read to the buckets it touches, so a
    restart at another ``n_buckets`` would prune against the wrong
    modulus, miss blocks already seen and keep duplicates.  The restart
    must fail instead."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    index_dir = str(tmp_path / "blk_index")
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    def run(n_buckets):
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        return jobs.streaming_block_dedup(
            stream, index_dir, str(tmp_path / "out"), checkpoint=ckpt,
            n_buckets=n_buckets,
        )

    docs.filter(F.col("doc_id") < 20).coalesce(1).write.parquet(src)
    _drain(run(64))
    docs.filter(F.col("doc_id") >= 20).coalesce(1).write.mode("append").parquet(src)
    q = run(32)
    with pytest.raises(Exception, match="already declares n_buckets"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover


def test_streaming_minhash_labels_refuse_bucketed_layout(spark, sf_dir, tmp_path):
    """The labels fold maintains only ``gen=N`` generations: a labels_dir
    holding an ``lbucket=*`` partition fails the fold instead of being
    mixed with generations, and an ``_N_BUCKETS_*`` marker is refused by
    the same generation listing."""
    import os

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    labels_dir = str(tmp_path / "labels")
    spark.createDataFrame([(1, 1)], "doc_id long, cluster_id long").write.parquet(
        labels_dir + "/lbucket=0"
    )
    src = str(tmp_path / "src")
    docs.filter(F.col("doc_id") < 20).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_minhash_dedup(
        stream, str(tmp_path / "idx"), str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"), threshold=0.0, labels_dir=labels_dir,
    )
    with pytest.raises(Exception, match="bucketed labeling"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed")  # pragma: no cover
    assert sorted(os.listdir(labels_dir)) == ["lbucket=0"]

    marked = tmp_path / "marked"
    marked.mkdir()
    (marked / "_N_BUCKETS_64").touch()
    with pytest.raises(ValueError, match="bucketed labeling"):
        jobs._label_gens(str(marked))


def test_streaming_winnow_first_batch_crash_autorecovers(spark, sf_dir, tmp_path):
    """Advice r9: a first batch that crashed AFTER the index-partition
    write but BEFORE the df-partition write (the pre-reorder layout)
    leaves ``index_dir/batch_id=0`` with no df table.  The replay-
    filtered index is empty in that state, so restart must auto-recover
    — no ValueError, no manual rebuild — and the recovered run's pairs,
    index, and df table must equal a clean run's."""
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    batch0 = docs.filter(F.col("doc_id") < 30)
    index_dir = str(tmp_path / "fp_index")
    pairs_dir = str(tmp_path / "pairs")
    df_dir = str(tmp_path / "fp_df")
    # simulate the crash window: batch 0's own index partition exists,
    # nothing else does (no df, no pairs, no committed offset)
    dd.winnow_fingerprint_rows(batch0).write.parquet(index_dir + "/batch_id=0")

    src = str(tmp_path / "src")
    batch0.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = jobs.streaming_winnow_dedup(
        stream, index_dir, pairs_dir,
        checkpoint=str(tmp_path / "ckpt"),
        min_shared=1, max_df=100, df_dir=df_dir,
    )
    _drain(q)

    cols = ["id_a", "id_b", "shared", "containment"]
    assert _rows(spark.read.parquet(pairs_dir), cols) == _rows(
        dd.winnow_overlap_pairs(batch0, min_shared=1, max_df=100), cols
    )
    fps = dd.winnow_fingerprint_rows(batch0)
    assert _rows(spark.read.parquet(index_dir), ["id", "n_fp", "fp"]) == _rows(
        fps, ["id", "n_fp", "fp"]
    )
    assert _rows(spark.read.parquet(df_dir).select("fp", "df"), ["fp", "df"]) == _rows(
        dd.winnow_df_table(fps), ["fp", "df"]
    )


def test_compact_block_index_preserves_bucket_layout(spark, sf_dir, tmp_path):
    """Compacting the bucketed block index with partition_by=("bucket",)
    must keep the bucket sub-layout (bucket=K dirs under the compacted
    partition) and leave a continued stream's output identical to the
    batch operator."""
    import glob as _glob
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    src = str(tmp_path / "docs_src")
    index_dir = str(tmp_path / "blk_index")
    out_dir = str(tmp_path / "blk_out")
    ckpt = str(tmp_path / "ckpt")

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = jobs.streaming_block_dedup(stream, index_dir, out_dir, checkpoint=ckpt)
        _drain(q)

    docs.filter(F.col("doc_id") <= mid / 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _time.sleep(0.3)
    docs.filter(
        (F.col("doc_id") > mid / 2) & (F.col("doc_id") <= mid)
    ).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    jobs.compact_batch_index(spark, index_dir, partition_by=("bucket",))
    dirs = _glob.glob(f"{index_dir}/batch_id=*")
    assert dirs == [f"{index_dir}/batch_id=-1"]
    # the bucket sub-layout survives inside the compacted partition
    assert _glob.glob(f"{index_dir}/batch_id=-1/bucket=*")

    docs.filter(F.col("doc_id") > mid).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    cols = ["doc_id", "n_blocks", "n_kept", "clean_text"]
    streamed = _rows(spark.read.parquet(out_dir), cols)
    batch = _rows(dd.block_dedup(docs, block_tokens=16), cols)
    assert streamed == batch and streamed


def test_compact_batch_index_resumes_after_crash(spark, tmp_path):
    """The delete-marker protocol: fabricate the layout of a crash
    between marker publish and the temp-dir rename (the worst window —
    sources and temp both present), then one compact_batch_index call
    must finish the rename, delete the sources, drop the marker, and
    preserve exactly the union of the rows."""
    import json
    import os as _os

    d = str(tmp_path / "idx")
    spark.range(5).selectExpr("id", "id * 10 AS v").write.parquet(
        _os.path.join(d, "batch_id=0")
    )
    spark.range(5, 9).selectExpr("id", "id * 10 AS v").write.parquet(
        _os.path.join(d, "batch_id=1")
    )
    # what a crashed compaction leaves behind: complete temp + marker
    spark.read.parquet(d).drop("batch_id").write.parquet(
        _os.path.join(d, "_compact_tmp")
    )
    with open(_os.path.join(d, "_COMPACT_DELETE.json"), "w") as fh:
        json.dump(
            {"target": "batch_id=-1", "sources": ["batch_id=0", "batch_id=1"]}, fh
        )
    jobs.compact_batch_index(spark, d)
    assert not _os.path.exists(_os.path.join(d, "_COMPACT_DELETE.json"))
    assert not _os.path.exists(_os.path.join(d, "batch_id=0"))
    assert _os.path.exists(_os.path.join(d, "batch_id=-1"))
    got = _rows(spark.read.parquet(d), ["id", "v"])
    assert got == {(i, i * 10) for i in range(9)}


def test_compaction_helpers_refuse_schemed_paths(spark, tmp_path):
    """compact_batch_index, read_rollup and compact_rollup use
    driver-local os/shutil I/O: on a ``file://`` path each raises
    instead of reading the target as absent, and the index is left as
    it was."""
    import os

    local = str(tmp_path / "idx")
    for b in (0, 1):
        spark.range(3).write.parquet(os.path.join(local, f"batch_id={b}"))
    for helper in (jobs.compact_batch_index, jobs.read_rollup, jobs.compact_rollup):
        with pytest.raises(ValueError, match="driver-local"):
            helper(spark, "file://" + local)
    assert sorted(os.listdir(local)) == ["batch_id=0", "batch_id=1"]


def test_streaming_cms_refresh_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally maintained count-min sketch (per-batch partial
    counters summed at read) must equal the one-pass full-corpus build
    counter-for-counter — the mergeability contract."""
    import time as _time

    from firmable_company_data_pipeline_spark.functions.textstats import (
        char_fold_hash,
        tokens,
    )
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "cms")
    q = jobs.streaming_cms_refresh(stream, target, checkpoint=str(tmp_path / "ck"))
    _drain(q)

    import glob as _glob

    assert len(_glob.glob(f"{target}/batch=*")) >= 2  # the merge path ran
    merged = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in jobs.read_cms(spark, target).collect()
    }
    occ = docs.select(F.explode(tokens(F.col("text"))).alias("term")).select(
        char_fold_hash(F.col("term")).alias("h")
    )
    full = {
        (r["d"], r["bucket"]): r["cnt"] for r in sk.cms_partial(occ).collect()
    }
    # the synthetic corpus has a small vocabulary — ~30 distinct terms
    # hit ~90 of the D*W buckets; the equality is the real pin
    assert merged == full and 10 < len(full) <= sk.CMS_D * sk.CMS_W


def test_streaming_funnel_matches_batch_stages(spark, sf_dir, events_dir):
    """The funnel state machine over a time-ordered stream lands every
    user on the same stage as the batch first-touch computation."""
    from firmable_company_data_pipeline_spark.operators import behavior as bh
    from firmable_company_data_pipeline_spark.streaming import funnel as sf

    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = (
        sf.funnel_stages_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_sink")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    # last emission per user = final stage (stage is monotone per user)
    got = {
        r["user_id"]: r["stage"]
        for r in spark.sql(
            "SELECT user_id, max(stage) AS stage FROM funnel_sink GROUP BY user_id"
        ).collect()
    }
    ev = load_tables(spark, sf_dir, "events")["events"]
    exp = {r["user_id"]: r["stage"] for r in bh.funnel_user_stages(ev).collect()}
    assert got == exp


def test_transform_with_state_new_maxima_matches_batch(spark, sf_dir, events_dir):
    """transformWithStateInPandas high-water-mark detector emits exactly
    the batch twin's record-breaking events.

    Skips when protobuf is unavailable: the TWS state-server protocol
    is protobuf-encoded (pyspark.sql.streaming.proto), and this
    container ships no google.protobuf — the operator itself is real
    and runs anywhere `pip install pyspark[connect]`-grade deps exist.
    """
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas state protocol needs protobuf",
    )
    from firmable_company_data_pipeline_spark.queries.streaming_batch import (
        user_value_records,
    )
    from firmable_company_data_pipeline_spark.streaming import stateful

    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = (
        stateful.user_new_maxima(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("new_maxima")
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    got = {
        (r["user_id"], r["event_id"])
        for r in spark.sql("SELECT user_id, event_id FROM new_maxima").collect()
    }
    exp = {
        (r["user_id"], r["event_id"])
        for r in user_value_records(spark, sf_dir).collect()
    }
    assert got == exp and len(exp) > 0


def test_streaming_rollup_refresh_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """The foreachBatch continuous aggregate equals the from-scratch
    batch rollup after the stream drains (DECIMAL sums: bit-exact)."""
    target = str(tmp_path / "rollup")
    # max_files=1 → many micro-batches → the merge path actually runs
    stream = jobs.read_events_stream(spark, events_dir, fmt="parquet", max_files=1)
    q = jobs.streaming_rollup_refresh(
        stream, target, checkpoint=str(tmp_path / "ckpt")
    )
    _drain(q)
    stored = jobs.read_rollup(spark, target)
    ev = load_tables(spark, sf_dir, "events")["events"]
    exp = (
        ev.select(
            F.to_date("ts").alias("day"),
            "event_type",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v").alias("sum_v"),
            F.max("v").alias("max_v"),
        )
    )
    got = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in stored.collect()
    }
    want = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in exp.collect()
    }
    assert got == want and len(want) > 10
    # per-batch partial partitions exist (replay-idempotent layout) ...
    import glob as _glob
    assert len(_glob.glob(f"{target}/batch=*")) >= 2
    # ... and compaction collapses them without changing the merged view:
    # partials folded into a manifest-published compacted=<gen> base
    jobs.compact_rollup(spark, target)
    assert not _glob.glob(f"{target}/batch=*")
    assert _glob.glob(f"{target}/compacted=*")
    got2 = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in jobs.read_rollup(spark, target).collect()
    }
    assert got2 == want
    # a restarted stream replaying an already-folded batch rewrites its
    # batch dir WITH THE GENUINE PARTIAL SCHEMA (jobs._batch_rollup —
    # not read_rollup's output shape, which would mask schema-mismatch
    # bugs between partials and the compacted base); the manifest
    # excludes it from reads — no double count
    jobs._batch_rollup(ev.limit(100)).write.mode("overwrite").parquet(
        f"{target}/batch=0"
    )
    got3 = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in jobs.read_rollup(spark, target).collect()
    }
    assert got3 == want
    # second compaction folds nothing new but cleans the replayed dir
    jobs.compact_rollup(spark, target)
    assert not _glob.glob(f"{target}/batch=*")
    # THE post-compaction lifecycle: a NEW batch lands after compaction
    # (base + fresh partial must read together — the decimal-width
    # mismatch regression), reads merge it, and a second compaction
    # folds it into the next generation
    # materialize the sample once: limit() without an order is not
    # guaranteed to pick the same rows across the two jobs below
    new_events = spark.createDataFrame(ev.limit(500).collect(), ev.schema)
    jobs._batch_rollup(new_events).write.mode("overwrite").parquet(
        f"{target}/batch=999"
    )
    want2 = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in jobs._batch_rollup(ev.unionByName(new_events)).collect()
    }
    got4 = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in jobs.read_rollup(spark, target).collect()
    }
    assert got4 == want2
    jobs.compact_rollup(spark, target)
    assert not _glob.glob(f"{target}/batch=*")
    got5 = {
        (r["day"], r["event_type"]): (r["n_events"], r["sum_v"], r["max_v"])
        for r in jobs.read_rollup(spark, target).collect()
    }
    assert got5 == want2
    # a corrupt manifest must fail LOUDLY, never degrade to 'no
    # manifest' (which would silently drop the compacted base — the
    # folded batch partials are gone)
    import os as _os

    with open(_os.path.join(target, jobs._COMPACT_MANIFEST), "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError, match="corrupt rollup compaction manifest"):
        jobs.read_rollup(spark, target)


def test_dedup_labels_survive_checkpoint_reset(spark, sf_dir, tmp_path):
    """A dead run's label generations (ids above the new run's batch
    ids after a checkpoint reset) must be cleaned up, never shadow the
    reader: pre-seed labels_dir with a stale gen=9 + manifest, then run
    a fresh stream whose batch ids restart at 0."""
    import json as _json
    import os as _os
    import time as _time

    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    labels_dir = str(tmp_path / "labels")
    _os.makedirs(labels_dir)
    spark.createDataFrame(
        [(999999, 999999)], "doc_id long, cluster_id long"
    ).write.parquet(_os.path.join(labels_dir, "gen=9"))
    with open(_os.path.join(labels_dir, "_latest.json"), "w") as fh:
        _json.dump({"gen": 9}, fh)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = jobs.streaming_minhash_dedup(
        stream,
        str(tmp_path / "idx"),
        str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ck_new"),
        threshold=0.0,
        labels_dir=labels_dir,
    )
    _drain(q)

    assert not _os.path.exists(_os.path.join(labels_dir, "gen=9"))
    got = _rows(jobs.read_dedup_labels(spark, labels_dir), ["doc_id", "cluster_id"])
    want = _rows(
        dd.connected_components(dd.minhash_lsh_pairs(docs, threshold=0.0)),
        ["doc_id", "cluster_id"],
    )
    assert got == want and (999999, 999999) not in got


def test_label_manifest_repair(tmp_path):
    """Review r7: a manifest left pointing at a dead run's generation is
    re-pointed at the newest valid previous generation at batch start
    (or removed when none exists), so no crash window later in the
    batch can leave readers silently consuming dead-run labels."""
    import json as _json
    import os as _os

    d = str(tmp_path / "labels")
    _os.makedirs(d)

    def manifest():
        with open(_os.path.join(d, "_latest.json")) as fh:
            return _json.load(fh)["gen"]

    def write_manifest(gen):
        with open(_os.path.join(d, "_latest.json"), "w") as fh:
            _json.dump({"gen": gen}, fh)

    # dead-run manifest, no valid previous generation -> removed
    write_manifest(9)
    jobs._repair_label_manifest(d, batch_id=0, prev_gens=[])
    assert not _os.path.exists(_os.path.join(d, "_latest.json"))

    # dead-run manifest + a valid previous generation -> re-pointed
    write_manifest(9)
    jobs._repair_label_manifest(d, batch_id=3, prev_gens=[1, 2])
    assert manifest() == 2

    # replay: manifest points at the generation this batch will
    # overwrite (gen == batch_id) -> re-pointed at the read generation
    write_manifest(3)
    jobs._repair_label_manifest(d, batch_id=3, prev_gens=[1, 2])
    assert manifest() == 2

    # corrupt manifests self-heal instead of wedging the stream
    import json as _json2
    with open(_os.path.join(d, "_latest.json"), "w") as fh:
        fh.write("9")  # valid JSON, not a dict
    jobs._repair_label_manifest(d, batch_id=3, prev_gens=[1, 2])
    assert manifest() == 2
    with open(_os.path.join(d, "_latest.json"), "w") as fh:
        _json2.dump({"gen": "9"}, fh)  # gen not an int
    jobs._repair_label_manifest(d, batch_id=3, prev_gens=[1, 2])
    assert manifest() == 2

    # healthy manifest (gen < batch_id) untouched
    write_manifest(2)
    jobs._repair_label_manifest(d, batch_id=3, prev_gens=[1, 2])
    assert manifest() == 2


def test_streaming_scd2_dimension_matches_batch_rebuild(spark, tmp_path):
    """Three change-feed micro-batches (one observation per key per
    batch, ts-ordered) folded through streaming_scd2_dimension must
    produce exactly the history scd2_rebuild derives from the full feed
    in one pass; redelivering the final batch must be a no-op."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators.merge import scd2_rebuild

    days = [
        [(1, 10, "A"), (2, 10, "X")],           # day 10: both keys appear
        [(1, 20, "A"), (2, 20, "Y"), (3, 20, "P")],  # k1 unchanged, k2 changes, k3 new
        [(1, 30, "B"), (2, 30, "Y")],           # k1 changes, k2 unchanged
    ]
    src = str(tmp_path / "scd2_src")
    for chunk in days:
        spark.createDataFrame(chunk, "custkey int, as_of int, seg string").coalesce(
            1
        ).write.mode("append").parquet(src)
        _time.sleep(0.3)

    stream = (
        spark.readStream.schema("custkey int, as_of int, seg string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    dim_dir = str(tmp_path / "scd2_dim")
    q = jobs.streaming_scd2_dimension(
        stream, dim_dir, keys=["custkey"], checkpoint=str(tmp_path / "scd2_ckpt")
    )
    _drain(q)

    feed = spark.createDataFrame(
        [r for chunk in days for r in chunk], "custkey int, obs int, seg string"
    )
    want = _rows(
        scd2_rebuild(feed, ["custkey"], "obs", ["seg"]),
        ["custkey", "seg", "valid_from", "valid_to"],
    )
    got = _rows(
        jobs.read_scd2_dimension(spark, dim_dir),
        ["custkey", "seg", "valid_from", "valid_to"],
    )
    assert got == want

    # at-least-once redelivery of the newest batch is a no-op (fresh
    # checkpoint, source holding only the final chunk)
    redeliver_src = str(tmp_path / "scd2_redeliver")
    spark.createDataFrame(
        days[-1], "custkey int, as_of int, seg string"
    ).coalesce(1).write.mode("append").parquet(redeliver_src)
    q2 = jobs.streaming_scd2_dimension(
        spark.readStream.schema("custkey int, as_of int, seg string")
        .option("maxFilesPerTrigger", 1)
        .parquet(redeliver_src),
        dim_dir,
        keys=["custkey"],
        checkpoint=str(tmp_path / "scd2_ckpt2"),
    )
    _drain(q2)
    assert (
        _rows(
            jobs.read_scd2_dimension(spark, dim_dir),
            ["custkey", "seg", "valid_from", "valid_to"],
        )
        == want
    )


def test_streaming_scd2_fold_never_touches_closed_history(spark, tmp_path):
    """The open-partition-local contract (verdict r7 #1): once a row is
    closed it is NEVER read or rewritten by a later fold.  Pin both
    directions: (a) a planted POISON file inside a closed batch dir —
    garbage bytes posing as parquet that would fail ANY scan touching it
    — must not break later folds, and (b) every pre-existing closed file
    must be byte-identical (size + mtime) after two more folds that
    themselves close rows."""
    import os
    import time as _time

    def feed(chunks, src):
        for chunk in chunks:
            spark.createDataFrame(
                chunk, "custkey int, as_of int, seg string"
            ).coalesce(1).write.mode("append").parquet(src)
            _time.sleep(0.3)

    def run(src, ckpt):
        q = jobs.streaming_scd2_dimension(
            spark.readStream.schema("custkey int, as_of int, seg string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            dim_dir,
            keys=["custkey"],
            checkpoint=ckpt,
        )
        _drain(q)

    dim_dir = str(tmp_path / "dim")
    # batches 0-1: insert k1/k2, then change both -> closed/batch=1
    feed(
        [[(1, 10, "A"), (2, 10, "X")], [(1, 20, "B"), (2, 20, "Y")]],
        str(tmp_path / "src1"),
    )
    run(str(tmp_path / "src1"), str(tmp_path / "ck1"))

    closed = os.path.join(dim_dir, "closed")
    before = {
        os.path.join(r, f): (
            os.path.getsize(os.path.join(r, f)),
            os.path.getmtime(os.path.join(r, f)),
        )
        for r, _, fs in os.walk(closed)
        for f in fs
    }
    assert any("batch=1" in p for p in before), "setup must close rows"
    poison_dir = os.path.join(closed, "batch=777")
    os.makedirs(poison_dir)
    poison = os.path.join(poison_dir, "part-00000.parquet")
    with open(poison, "wb") as fh:
        fh.write(b"NOT PARQUET \x00\x01")

    # two more batches, each closing k1 again — SAME source + checkpoint
    # (the stream resumes at batch id 2, continuing the single-writer
    # batch-id sequence the layout's contract requires)
    feed([[(1, 30, "C")], [(1, 40, "D")]], str(tmp_path / "src1"))
    run(str(tmp_path / "src1"), str(tmp_path / "ck1"))

    after = {
        os.path.join(r, f): (
            os.path.getsize(os.path.join(r, f)),
            os.path.getmtime(os.path.join(r, f)),
        )
        for r, _, fs in os.walk(closed)
        for f in fs
    }
    # (a) the fold never read closed/ (the poison would have raised) and
    # the poison bytes are untouched
    with open(poison, "rb") as fh:
        assert fh.read() == b"NOT PARQUET \x00\x01"
    # (b) every pre-poison closed file is byte-identical
    for path, sig in before.items():
        assert after[path] == sig, f"closed file rewritten: {path}"
    # and the new folds DID close rows into fresh batch dirs
    assert any("batch=" in p and p not in before and p != poison for p in after)
    # the open partition holds exactly the current row
    open_rows = _rows(
        spark.read.parquet(os.path.join(dim_dir, "open")),
        ["custkey", "seg", "valid_from", "valid_to"],
    )
    assert (1, "D", 40, None) in open_rows and (2, "Y", 20, None) in open_rows


def test_streaming_ivf_index_matches_batch_build(spark, sf_dir, tmp_path):
    """Two embedding micro-batches through streaming_ivf_index, searched
    with the frozen centroids, must return exactly what a batch
    ivf_topk over the full corpus returns (the first batch carries the
    globally lowest ids, so its frozen centroids equal the batch
    build's deterministic centroid set)."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators.similarity_search import (
        ivf_search,
        ivf_topk,
    )

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"].select(
        "vec_id", "embedding"
    )
    src = str(tmp_path / "vec_src")
    emb.filter(F.col("vec_id") < 250).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    emb.filter(F.col("vec_id") >= 250).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    index_dir = str(tmp_path / "ivf_index")
    cents_dir = str(tmp_path / "ivf_cents")
    q = jobs.streaming_ivf_index(
        stream, index_dir, cents_dir, checkpoint=str(tmp_path / "ivf_ckpt")
    )
    _drain(q)

    cents = spark.read.parquet(cents_dir)
    queries = emb.filter(F.col("vec_id") < 5)
    got = _rows(
        ivf_search(jobs.read_ivf_index(spark, index_dir), queries, cents,
                   k=10, nprobe=2),
        ["query_id", "neighbor_id", "cos_sim", "rank"],
    )
    want = _rows(
        ivf_topk(queries, emb, k=10, n_cells=8, nprobe=2),
        ["query_id", "neighbor_id", "cos_sim", "rank"],
    )
    assert got == want
    # index holds every vector exactly once across batch partitions
    idx = jobs.read_ivf_index(spark, index_dir)
    assert idx.count() == emb.count()
    assert idx.select("neighbor_id").distinct().count() == emb.count()


def test_streaming_histogram_refresh_matches_batch(spark, sf_dir, tmp_path):
    """Per-batch partial histograms summed at read must equal the
    one-pass full build counter-for-counter — the mergeability
    contract of the fixed-bin quantile sketch."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk
    from firmable_company_data_pipeline_spark.session import load_tables as _lt

    ev = _lt(spark, sf_dir, "events")["events"].select("ts", "value")
    src = str(tmp_path / "hist_src")
    _write_chunks(ev, src, n_chunks=3)

    stream = (
        spark.readStream.schema("ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "hist_target")
    q = jobs.streaming_histogram_refresh(
        stream, target, checkpoint=str(tmp_path / "hist_ckpt")
    )
    _drain(q)

    got = _rows(jobs.read_histogram(spark, target), ["bin", "cnt"])
    want = _rows(sk.hist_partial(ev), ["bin", "cnt"])
    assert got == want
    assert sum(c for _, c in got) == ev.count()


def test_foreach_batch_upsert_is_bucket_local(spark, tmp_path):
    """Round-8 contract: the keyed upsert rewrites ONLY the bucket
    partitions the batch's keys hash into.  Seed 1000 keys across all
    buckets, then fold a single-key batch and assert every part file
    outside that key's bucket is byte-identical (size+mtime)."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    target = str(tmp_path / "upsert_bl")

    def run(src, ckpt):
        q = jobs.foreach_batch_upsert(
            spark.readStream.schema("k int, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            target,
            key="k",
            checkpoint=ckpt,
        )
        _drain(q)

    src = str(tmp_path / "src")
    spark.range(1000).select(
        F.col("id").cast("int").alias("k"), F.lit("a").alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    run(src, str(tmp_path / "ck"))

    lone_bucket = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit(7).cast("int")), F.lit(32))
    ).first()[0]
    before = {
        os.path.join(r, f): (
            os.path.getsize(os.path.join(r, f)),
            os.path.getmtime(os.path.join(r, f)),
        )
        for r, _, fs in os.walk(target)
        for f in fs
        if f"_bucket={lone_bucket}" not in r and not f.startswith(".")
    }
    assert before, "seed run must populate buckets"

    _time.sleep(0.3)
    spark.createDataFrame([(7, "b")], "k int, v string").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run(src, str(tmp_path / "ck"))

    for path, sig in before.items():
        assert (
            os.path.getsize(path),
            os.path.getmtime(path),
        ) == sig, f"untouched bucket rewritten: {path}"
    final = jobs.read_upsert_target(spark, target)
    assert final.filter(F.col("k") == 7).select("v").first()[0] == "b"
    assert final.count() == 1000


def test_foreach_batch_upsert_rejects_bucket_count_change(spark, tmp_path):
    """Review r8: n_buckets is the target's physical layout — a sink
    restarted with a different bucket count would silently leave stale
    rows alive in old buckets (duplicate keys).  The layout marker must
    fail the fold loudly instead."""
    from pyspark.sql import functions as F

    target = str(tmp_path / "upsert_layout")
    src = str(tmp_path / "src")
    spark.range(10).select(
        F.col("id").cast("int").alias("k"), F.lit("a").alias("v")
    ).coalesce(1).write.mode("append").parquet(src)

    def run(n_buckets, ckpt):
        q = jobs.foreach_batch_upsert(
            spark.readStream.schema("k int, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            target,
            key="k",
            checkpoint=ckpt,
            n_buckets=n_buckets,
        )
        _drain(q)

    run(32, str(tmp_path / "ck1"))
    assert jobs.read_upsert_target(spark, target).count() == 10
    spark.range(10, 12).select(
        F.col("id").cast("int").alias("k"), F.lit("b").alias("v")
    ).coalesce(1).write.mode("append").parquet(src)
    with pytest.raises(Exception, match="different n_buckets|STREAM_FAILED|FOREACH_BATCH"):
        run(64, str(tmp_path / "ck2"))
    # the matching bucket count still folds fine from a fresh checkpoint
    run(32, str(tmp_path / "ck3"))
    out = jobs.read_upsert_target(spark, target)
    assert out.count() == 12
    assert out.filter(F.col("k") < 10).filter(F.col("v") != "a").count() == 0


def test_streaming_minhash_dedup_backfill_arm_matches_batch(spark, sf_dir, tmp_path):
    """broadcast_delta=False (the large-backfill arm, review r8) must
    discover exactly the same pairs as the default broadcast arm — the
    flag changes the join strategy, never the result."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "docs_src")
    docs.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    pairs_dir = str(tmp_path / "pairs")
    q = jobs.streaming_minhash_dedup(
        stream, str(tmp_path / "idx"), pairs_dir,
        checkpoint=str(tmp_path / "ck"), threshold=0.0,
        broadcast_delta=False,
    )
    _drain(q)
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    streamed = _rows(spark.read.parquet(pairs_dir), ["id_a", "id_b", "est_jaccard"])
    batch = _rows(
        dd.minhash_lsh_pairs(docs, threshold=0.0), ["id_a", "id_b", "est_jaccard"]
    )
    assert streamed == batch


def test_upsert_layout_declarations_cannot_conflict(spark, tmp_path):
    """Review r8 second pass: the guard lists ALL _N_BUCKETS_* markers —
    a declaration for one count followed by a sink (or declaration) at
    another count must fail even while the target is still EMPTY, or two
    contradictory markers would both look valid later."""
    target = str(tmp_path / "t")
    jobs.declare_upsert_layout(spark, target, 32)
    jobs.declare_upsert_layout(spark, target, 32)  # idempotent re-declare ok
    with pytest.raises(ValueError, match="already declares"):
        jobs.declare_upsert_layout(spark, target, 64)
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    spark.range(5).select(
        F.col("id").cast("int").alias("k"), F.lit("a").alias("v")
    ).coalesce(1).write.parquet(src)
    q = jobs.foreach_batch_upsert(
        spark.readStream.schema("k int, v string").parquet(src),
        target,
        key="k",
        checkpoint=str(tmp_path / "ck"),
        n_buckets=64,
    )
    with pytest.raises(Exception, match="n_buckets|STREAM_FAILED|FOREACH_BATCH"):
        _drain(q)
    assert jobs._bucket_markers(spark, target) == [32]


def test_pin_bucket_count_refuses_undeclared_seed(spark, tmp_path):
    """Advice r10: an externally seeded, UNMARKED bucketed directory must
    be refused — adopting the fold's n_buckets for a seed written under
    a different modulus would partition-prune against the wrong bucket
    assignment and silently drop index rows.  declare_upsert_layout is
    the seeder's contract, after which pinning at the declared count is
    fine and a different count still fails."""
    from pyspark.sql import functions as F

    seeded = str(tmp_path / "seeded_idx")
    spark.range(20).select(
        F.col("id").alias("fp"), F.pmod(F.col("id"), F.lit(16)).alias("bucket")
    ).write.partitionBy("bucket").parquet(seeded + "/batch_id=9999")
    with pytest.raises(ValueError, match="seeded externally"):
        jobs._pin_bucket_count(spark, seeded, 16)
    jobs.declare_upsert_layout(spark, seeded, 16)
    jobs._pin_bucket_count(spark, seeded, 16)  # declared: fine
    with pytest.raises(ValueError, match="n_buckets"):
        jobs._pin_bucket_count(spark, seeded, 32)
    # an EMPTY (absent) target still self-declares on first pin
    fresh = str(tmp_path / "fresh_idx")
    jobs._pin_bucket_count(spark, fresh, 16)
    assert jobs._bucket_markers(spark, fresh) == [16]


def test_streaming_corpus_screen_matches_composed_batch(spark, sf_dir, tmp_path):
    """The four-artifact ingest screen: verdicts over two micro-batches
    equal the composed batch computation (per-doc-independent scores +
    a frozen contamination index), admitted docs are exactly the
    over-threshold uncontaminated set, and a too-short doc (no
    bigrams/trigrams) is rejected, never dropped."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import curation as cu
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    label = F.col("source").isin("src0", "src1", "src2", "src3")
    qw_dir = str(tmp_path / "qw")
    lm_dir = str(tmp_path / "lm")
    dw_dir = str(tmp_path / "dw")
    ev_dir = str(tmp_path / "ev")
    cu.nb_quality_weights(docs, label).write.parquet(qw_dir)
    cu.trigram_lm_table(docs.filter(F.col("doc_id") % 3 != 0)).write.parquet(lm_dir)
    cu.dsir_weight_table(docs, label).write.parquet(dw_dir)
    from firmable_company_data_pipeline_spark.session import spread as _spread

    ev = docs.filter(F.col("doc_id") % 10 == 0)
    dd.winnow_fingerprint_rows(_spread(ev)).write.parquet(ev_dir)

    pool = docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    tiny = spark.createDataFrame([(999_999, "one")], "doc_id long, text string")
    pool = pool.unionByName(tiny)
    src = str(tmp_path / "src")
    pool.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    pool.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = str(tmp_path / "verdicts")
    q = jobs.streaming_corpus_screen(
        stream, qw_dir, lm_dir, dw_dir, ev_dir, out,
        checkpoint=str(tmp_path / "ck"),
    )
    _drain(q)

    cols = ["doc_id", "prob_good", "avg_logscore", "avg_logratio",
            "contaminated", "admit"]
    got = spark.read.parquet(out)
    streamed = _rows(got, cols)
    assert got.count() == pool.count()  # every doc gets a verdict row

    # composed batch twin
    qb = cu.nb_quality_score(pool, spark.read.parquet(qw_dir)).select(
        "doc_id", "prob_good")
    lb = cu.trigram_lm_score_docs(pool, spark.read.parquet(lm_dir)).select(
        "doc_id", "avg_logscore")
    db = cu.dsir_score_docs(pool, spark.read.parquet(dw_dir)).select(
        "doc_id", "avg_logratio")
    evb = F.broadcast(spark.read.parquet(ev_dir).select(
        F.col("id").alias("eval_id"), F.col("n_fp").alias("ne"), "fp"))
    cb_ = (dd.winnow_fingerprint_rows(pool.withColumn("source", F.lit("x")))
           .select(F.col("id").alias("doc_id"), "fp")
           .join(evb, "fp")
           .groupBy("doc_id", "eval_id", "ne")
           .agg(F.count(F.lit(1)).alias("shared"))
           .filter((F.col("shared") >= 2)
                   & (F.round(F.col("shared") / F.col("ne"), 6) >= 0.2))
           .select("doc_id").distinct()
           .withColumn("_contam", F.lit(True)))
    batch = (pool.select("doc_id")
             .join(qb, "doc_id", "left").join(lb, "doc_id", "left")
             .join(db, "doc_id", "left").join(cb_, "doc_id", "left")
             .select("doc_id", "prob_good", "avg_logscore", "avg_logratio",
                     F.coalesce("_contam", F.lit(False)).alias("contaminated"),
                     F.coalesce(
                         (F.col("prob_good") >= 0.5)
                         & (F.col("avg_logscore") >= -8.0)
                         & (F.col("avg_logratio") >= -1.0)
                         & ~F.coalesce("_contam", F.lit(False)),
                         F.lit(False)).alias("admit")))
    assert streamed == _rows(batch, cols)
    # the too-short doc is present and rejected
    tiny_row = [r for r in got.collect() if r["doc_id"] == 999_999]
    assert len(tiny_row) == 1 and tiny_row[0]["admit"] is False


def test_gen_layout_manifest_protocol_schemed_dir(spark, tmp_path):
    """Review r12: the gen-layout _latest.json protocol (publish,
    repair, read, generation listing) also rides the Hadoop FS port —
    exercised end-to-end on a file:-scheme labels_dir, where the old
    open()/os.listdir code would have read the target as absent."""
    import json
    import os

    from firmable_company_data_pipeline_spark.session import fs_read_text, fs_write_text

    local = str(tmp_path / "labels_gen_schemed")
    labels_dir = "file://" + local
    labels = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    labels.write.parquet(labels_dir + "/gen=1")
    fs_write_text(spark, labels_dir + "/_latest.json", json.dumps({"gen": 1}))
    # listing + read resolve through the scheme'd store
    assert jobs._label_gens(labels_dir, spark=spark) == [1]
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in jobs.read_dedup_labels(spark, labels_dir).collect()
    }
    assert got == {(1, 1), (2, 1)}
    # dead-run manifest (gen >= batch) re-pointed at the newest valid
    # previous generation, on the scheme'd store
    fs_write_text(spark, labels_dir + "/_latest.json", json.dumps({"gen": 9}))
    jobs._repair_label_manifest(labels_dir, batch_id=5, prev_gens=[1], spark=spark)
    assert json.loads(fs_read_text(spark, labels_dir + "/_latest.json"))["gen"] == 1
    # and the manifest really lives at the posix-visible real path
    assert os.path.exists(os.path.join(local, "_latest.json"))
    # no valid previous generation -> manifest removed (loud readers)
    fs_write_text(spark, labels_dir + "/_latest.json", json.dumps({"gen": 9}))
    jobs._repair_label_manifest(labels_dir, batch_id=0, prev_gens=[], spark=spark)
    assert fs_read_text(spark, labels_dir + "/_latest.json") is None


def test_streaming_kmv_refresh_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally maintained KMV distinct sketch (per-batch
    bottom-k partials folded at read) must equal the one-pass
    full-corpus sketch hash-for-hash — bottom-k of a union is the
    bottom-k of the union of bottom-ks, and the bijective hash makes
    cross-batch dedup exact."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import sketches as sk

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id", "event_type", "user_id"
    )
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, event_type string, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "kmv")
    q = jobs.streaming_kmv_refresh(stream, target, checkpoint=str(tmp_path / "ck"))
    _drain(q)

    import glob as _glob

    assert len(_glob.glob(f"{target}/batch=*")) >= 2  # the merge path ran
    merged = {
        r["g"]: (tuple(r["hs"]), r["est_distinct"])
        for r in jobs.read_kmv(spark, target).collect()
    }
    full = {
        r["g"]: tuple(r["hs"])
        for r in sk.kmv_partial(ev, "event_type", "user_id").collect()
    }
    assert {g: hs for g, (hs, _) in merged.items()} == full
    # the estimate column agrees with the batch card's estimate
    card = {
        r["event_type"]: r["est_distinct"]
        for r in sk.kmv_distinct(ev, "event_type", "user_id").collect()
    }
    assert {g: est for g, (_, est) in merged.items()} == card


def test_streaming_bloom_refresh_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally maintained bloom vector (per-batch word
    partials OR-folded at read) must equal the one-pass full-stream
    build word-for-word — set bits only accumulate."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators import joins as bj

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id", "user_id"
    )
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "bloom")
    q = jobs.streaming_bloom_refresh(stream, target, checkpoint=str(tmp_path / "ck"))
    _drain(q)

    import glob as _glob

    assert len(_glob.glob(f"{target}/batch=*")) >= 2
    merged = {(r.w, r.m) for r in jobs.read_bloom(spark, target).collect()}
    full = {(r.w, r.m) for r in bj.bloom_partial(ev, "user_id").collect()}
    assert merged == full and len(full) > 0


def test_streaming_asof_enrich_matches_batch(spark, sf_dir, tmp_path):
    """Over a time-ordered source (every right arrives no later than
    the lefts it should enrich), the per-batch asof fold against the
    bounded per-key state equals the batch as-of over full history."""
    import time as _time

    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    ev = load_tables(spark, sf_dir, "events")["events"].select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n = ev.count()
    mid = ev.orderBy("ts").select("ts").offset(n // 2).limit(1).first()[0]
    src = str(tmp_path / "ev_src")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.3)
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "asof")
    q = jobs.streaming_asof_enrich(stream, target, checkpoint=str(tmp_path / "ck"))
    _drain(q)

    got = {
        r.purchase_id: (r.asof_click_id, r.asof_click_value)
        for r in jobs.read_asof_enriched(spark, target).collect()
    }
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.col("event_id").alias("click_id"),
        F.col("value").alias("click_value"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    want = {
        r.purchase_id: (r.asof_click_id, r.asof_click_value)
        for r in asof_join(
            purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
            right_cols=["click_id", "click_value"], right_order="click_id",
        ).collect()
    }
    assert got == want and len(got) > 100
    # the state is ONE row per key however many clicks streamed; the
    # newest committed snapshot is the whole state (advice r12:
    # snapshots are versioned batch=<id> + _STATE_OK, retained one deep)
    state = jobs.read_asof_state(spark, target)
    assert state.groupBy("user_id").count().filter("count > 1").count() == 0
    ids = jobs._committed_state_ids(spark, f"{target}/state")
    assert len(ids) <= 2  # retention: current + immediate predecessor


def test_folds_share_one_skeleton():
    """Every fold starts through ``_start`` and writes its per-batch
    output through ``_write_batch``: the module holds exactly one
    ``foreachBatch`` call, inside ``_start``, and the batch-key literal
    only inside ``_write_batch``.  A fold that copies the skeleton
    again fails here."""
    import ast
    import inspect

    src = inspect.getsource(jobs)
    funcs = [n for n in ast.parse(src).body if isinstance(n, ast.FunctionDef)]

    def owners(needle):
        return [
            next((f.name for f in funcs if f.lineno <= i <= f.end_lineno), None)
            for i, line in enumerate(src.splitlines(), 1)
            if needle in line
        ]

    assert owners(".foreachBatch(") == ["_start"]
    assert owners("={batch_id}") == ["_write_batch"]
