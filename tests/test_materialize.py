"""The materialization primitive (``session.materialize`` / ``release`` /
``materialized``) and the lifetimes it owns: what a scope or a release
frees, that no module materializes around it, and that the iterative
operators and the streaming folds leave no checkpoint behind."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest
from pyspark.sql import functions as F

import firmable_company_data_pipeline_spark as pkg
from firmable_company_data_pipeline_spark.operators import dedup as dd
from firmable_company_data_pipeline_spark.operators import retrieval as rt
from firmable_company_data_pipeline_spark.session import (
    load_tables,
    materialize,
    materialized,
    release,
)
from firmable_company_data_pipeline_spark.streaming import jobs


def _rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _new_rdds(spark, fn) -> set[int]:
    """Persistent RDD ids that ``fn()`` leaves behind."""
    before = _rdd_ids(spark)
    fn()
    return _rdd_ids(spark) - before


def test_release_frees_checkpoints_and_persists(spark):
    """``release`` frees both mechanisms — including a checkpoint, whose
    blocks ``DataFrame.unpersist()`` leaves in place — and refuses a
    frame derived from the materialization instead of doing nothing."""
    df = spark.range(50).withColumn("x", F.col("id") * 2)
    for why, eager in (
        ("iterate", False), ("iterate", True), ("share", False), ("share", True)
    ):
        before = _rdd_ids(spark)
        m = materialize(df, why, eager=eager)
        assert m.count() == 50
        assert len(_rdd_ids(spark) - before) == 1
        release(m)
        assert _rdd_ids(spark) - before == set()
    ck = materialize(df, "iterate")
    ck.count()
    ck.unpersist()
    assert _rdd_ids(spark) & {ck._jdf.queryExecution().logical().rdd().id()}
    with pytest.raises(ValueError, match="neither persisted nor checkpointed"):
        release(ck.select("id"))
    release(ck)
    with pytest.raises(ValueError):
        materialize(df, "cache")


def test_scope_releases_what_it_built_on_its_own_thread(spark):
    """A scope frees every materialization made inside it on its own
    thread (the foreachBatch callback thread runs each fold's scope),
    leaves one made outside any scope to its caller, and still frees
    when its body raises."""
    df = spark.range(20)
    outside = materialize(df, "share")
    outside.count()

    def body():
        with materialized():
            for why in ("iterate", "share"):
                materialize(df.filter(F.col("id") > 3), why).count()

    assert _new_rdds(spark, body) == set()
    t = threading.Thread(target=body)
    added = _new_rdds(spark, lambda: (t.start(), t.join(60)))
    assert not t.is_alive() and added == set()

    def failing():
        with materialized():
            materialize(df, "iterate", eager=True)
            raise RuntimeError("fold failed")

    before = _rdd_ids(spark)
    with pytest.raises(RuntimeError, match="fold failed"):
        failing()
    assert _rdd_ids(spark) - before == set()
    assert outside.is_cached
    release(outside)


def test_no_materialization_outside_session():
    """Every persist/checkpoint/unpersist in the package goes through
    ``session.materialize``/``release``: a module that calls one of them
    directly again fails here."""
    raw = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}
    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        if path.name == "session.py" and path.parent == root:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in raw
            ):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert hits == []


def test_bpe_train_leaves_no_checkpoint(spark, sf_dir):
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    assert _new_rdds(spark, lambda: rt.bpe_train(docs, 6).collect()) == set()


def test_connected_components_keeps_only_its_result(spark):
    """Each propagation round releases the state it replaced: only the
    checkpoint the returned labels read survives the call."""
    chain = [(i, i + 1) for i in range(1, 9)] + [(20, 21), (21, 22)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    out = {}

    def run():
        out["labels"] = dd.connected_components(pairs)
        out["rows"] = {tuple(r) for r in out["labels"].collect()}

    left = _new_rdds(spark, run)
    assert out["rows"] == {(i, 1) for i in range(1, 10)} | {
        (i, 20) for i in (20, 21, 22)
    }
    assert len(left) == 1
    assert {out["labels"]._jdf.queryExecution().analyzed().collectLeaves()
            .head().rdd().id()} == left


def test_labels_stream_leaves_no_cache(spark, sf_dir, tmp_path):
    """A labels fold over four micro-batches frees every frame it
    materialized, the CC rounds inside ``incremental_components``
    included, by the end of each batch."""
    docs = load_tables(spark, sf_dir, "documents")["documents"].select(
        "doc_id", "text"
    )
    src = str(tmp_path / "src")
    for i in range(4):
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.3)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def run():
        q = jobs.streaming_minhash_dedup(
            stream, str(tmp_path / "idx"), str(tmp_path / "pairs"),
            checkpoint=str(tmp_path / "ckpt"), threshold=0.0,
            labels_dir=str(tmp_path / "labels"),
        )
        q.awaitTermination(300)
        assert not q.isActive
        assert len(q.recentProgress) >= 4

    assert _new_rdds(spark, run) == set()
    assert jobs.read_dedup_labels(spark, str(tmp_path / "labels")).count() > 0
