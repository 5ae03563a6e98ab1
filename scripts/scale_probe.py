#!/usr/bin/env python
"""sf1 scale probe for the heavy operator families (round 7).

The per-round bench runs at sf0.1; this probe answers the question that
bench cannot: do the dedup/CC/ANN/graph/CMS families actually scale
LINEARLY when the data grows 10x, as their docstrings claim?

Probe data (written once to --out, default .scale_probe/sf1): each base
table from /root/testdata/sf0.1 replicated --factor times with DISJOINT
key/vocabulary domains per replica —

* documents: doc_id shifted; replica r>0 Caesar-rotates letters by r
  (and digits by r mod 10) — a character BIJECTION, so each replica is
  an independent sf0.1-like corpus with IDENTICAL word-shingle AND
  char-k-gram statistics (same near-dup density, same boilerplate
  profile, n_chars unchanged) while letter-bearing vocabulary stays
  disjoint across replicas; total true pairs grow exactly linearly.
  Without the disjoint vocabulary, replicas would be near-dups of each
  other and the PAIR COUNT itself would grow quadratically — a property
  of the copied data, not of the engine, drowning the signal the probe
  is after.  (Round 8 note: the earlier token-suffix mutation preserved
  word-shingle statistics but distorted char-gram statistics — every
  word-boundary gram absorbed the replica-constant ``_rN`` substring —
  which made the winnowing probe unrepresentative; rotation preserves
  both.)
* embeddings: vec_id shifted; replica r's vectors are cyclically
  rotated by r dimensions — norms and within-replica cosines are
  preserved exactly, cross-replica cosines decorrelate, so IVF/LSH see
  10x the points with the same local geometry.
* events / lineitem / orders / customer / supplier / part: ids shifted
  into disjoint ranges with ONE step per key domain shared by every
  table that references it (orderkey, partkey, suppkey, custkey), so
  cross-table foreign keys hold in every replica; nation/region stay
  verbatim with nationkeys unshifted.  Values/timestamps untouched
  (10x density over the same time span).

Probe queries: the registered heavy-family queries, run with the same
adjacent warm->clear->time discipline as bench.py at BOTH scales in one
session.  Output: a per-query table of (sf0.1 s, sf1 s, ratio) plus one
JSON line, and a per-family verdict — ratio ~<= factor means the claim
of linear scaling holds at this step (AQE re-plans, fixed planning
latency and codegen amortization usually land ratios well UNDER the
data factor for the cheap queries).

Usage: python scripts/scale_probe.py [--factor 10] [--out DIR] [--skip-gen]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"

PROBE_QUERIES = {
    "dedup": [
        "dedup_exact",
        "dedup_ngram_jaccard",
        "dedup_winnow",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "cross_source_shingle_overlap",
        "boilerplate_screen",
        "dedup_blocks",
        "winnow_contamination",
        "dsir_select",
    ],
    "cc": [
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_clusters_incremental",
        "dedup_clusters_incremental_sliver",
        "dup_cluster_size_histogram",
    ],
    "ann": ["ann_lsh_bucketed", "ann_ivf", "ann_quantized"],
    "graph": ["pagerank_neardup", "copurchase_triangles"],
    "cms": ["term_cms_heavy_hitters", "cms_contamination_probe"],
    # round-7 late additions that compose the heavy CC/pair subplans
    # (the rest of that batch — SCD2, FK audit, recall report — is
    # plain join/window/agg shapes the TPC-H families already probe)
    "dedup_lifecycle": ["dedup_keep_best", "leakage_safe_split"],
    # round-10 additions: the NB classifier shares DSIR's two-exchange
    # scoring shape (train + score in one plan here); the resample arms
    # add the exact-rank path / per-source windows on top of
    # dsir_select's sub-plan
    "selection": [
        "quality_classifier_score",
        "dsir_resample",
        "dsir_resample_by_source",
        "dedup_winnow_keep_best",
    ],
    # round-11 additions: the LM scorer is the DSIR two-exchange shape
    # with dictionary joins; bpe_train's corpus term is one word-count
    # pass (the loop is vocabulary-sized); ann_pq is map-only encode +
    # broadcast-query scoring; the sweep is the eval sub-plan + exact
    # ntile; the two corpus-build views compose the audited screens
    # (expect the sum of their parts, never superlinear)
    "corpus_build": [
        "trigram_lm_score",
        "bpe_train",
        "ann_pq",
        "quality_classifier_sweep",
        "build_training_corpus",
        "corpus_attrition_card",
    ],
    # round-12 additions: the tercile card adds a per-source ntile +
    # bounded rollup on top of the LM scorer; IVF-PQ is one corpus scan
    # against broadcast rows + the top-k window; line dedup is the
    # substring_dup_spans shuffle shape with ~1x (tumbling) volume plus
    # a per-doc reassembly agg; the zipf fit is one term hash-agg +
    # per-source windows over Zipf-bounded vocabularies
    "r12": [
        "lm_perplexity_bins",
        "ivf_pq_topk",
        "line_dedup_rewrite",
        "zipf_fit_report",
        "distinct_ngram_diversity",
        "quality_ensemble_topk",
        "ann_ivf_pq_residual",
    ],
    # round-12 late additions: MMR is k bounded argmax jobs over one
    # scored frame (expect ~flat in corpus size beyond the scoring
    # pass); the bloom probe is a map-side filter + semi-join (linear);
    # BFS is three join+distinct rounds over the support>=2 edge list;
    # KMV is the WindowGroupLimit bottom-k + one bounded merge
    "r12b": [
        "ann_mmr_rerank",
        "bloom_filtered_lineitems",
        "kmv_distinct_users",
        "kmv_join_cardinality",
        "part_copurchase_bfs",
        "dedup_bcubed_eval",
        "asof_next_purchase",
        "weighted_median_price",
    ],
    # round-13 additions: Q4 is a date-pruned semi join (linear in the
    # date window's facts); Q5 is the broadcast-dim star + one
    # fact-fact orderkey shuffle; Q11 is one part hash-agg + a 1-row
    # threshold broadcast; nearest-asof is the union+carry single
    # shuffle (the asof_next_purchase shape with both carries)
    "r13": [
        "overdue_orders_by_priority",
        "local_supplier_region_revenue",
        "part_revenue_share_screen",
        "asof_nearest_event",
    ],
}


def build(spark, out: str, factor: int, src: str = SRC, tables: set | None = None) -> None:
    """Replicate ``src`` ``factor``× into ``out``.  ``tables`` (round
    13): restrict replication to a subset (e.g. {'documents'} for the
    100× document-family probe — replicating lineitem 100× would cost
    GBs the document queries never read); non-listed tables are copied
    VERBATIM at base scale, and the function prints which, so a mixed
    directory can never silently masquerade as a uniformly scaled one."""
    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.queries.core import load_tables

    os.makedirs(out, exist_ok=True)

    def wanted(name: str) -> bool:
        return tables is None or name in tables

    def replicas(df, shifts: dict, mutate=None):
        parts = []
        for r in range(factor):
            part = df
            for col, step in shifts.items():
                part = part.withColumn(col, F.col(col) + F.lit(r * step))
            if mutate is not None:
                part = mutate(part, r)
            parts.append(part)
        res = parts[0]
        for p in parts[1:]:
            res = res.unionByName(p)
        return res

    t = load_tables(
        spark,
        src,
        "documents",
        "embeddings",
        "events",
        "lineitem",
        "orders",
        "customer",
        "supplier",
        "part",
    )

    # shift steps derived from the actual id ranges (review r7: hardcoded
    # guesses would silently overlap replicas if the testdata were ever
    # regenerated at a different sf) — one tiny max() job per table
    def step(df, *cols):
        row = df.agg(*(F.max(c) for c in cols)).first()
        return {c: int(v) + 1 for c, v in zip(cols, row)}

    # ONE step per key DOMAIN, shared by every table referencing it
    # (review r7: per-table steps broke all cross-table foreign keys —
    # replica r's l_partkey pointed at parts that were never generated,
    # so any join-family query added to the probe would silently measure
    # ~1x effective data).  events.user_id belongs to the custkey domain
    # too (customer joins events on c_custkey == user_id); nation/region
    # stay verbatim and nationkeys unshifted, so customer/supplier ->
    # nation joins hold in every replica.  One multi-column max() job
    # per table.
    domain_cols = {
        "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
        "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
        "part": {"p_partkey": "partkey"},
        "supplier": {"s_suppkey": "suppkey"},
        "customer": {"c_custkey": "custkey"},
        "events": {"user_id": "custkey"},
    }
    dom = {}
    for table, cols in domain_cols.items():
        steps = step(t[table], *cols)
        for col, domain in cols.items():
            dom[domain] = max(dom.get(domain, 0), steps[col])

    def dsteps(*cols):
        return {c: dom[domain_cols_flat[c]] for c in cols}

    domain_cols_flat = {c: d for cols in domain_cols.values() for c, d in cols.items()}

    # rotation-validity guard BEFORE any expensive writes: replica
    # indices run 0..factor-1, so rotations stay distinct while
    # factor-1 < dim (review r7: the earlier >= guard was off by one
    # and ran after the documents replica set was already written)
    if wanted("embeddings"):
        dim = len(t["embeddings"].select("embedding").first()[0])
        if factor > dim:
            raise ValueError(
                f"--factor {factor} > embedding dim {dim}: replica rotations would "
                "wrap to identity, making exact vector duplicates of replica 0 and "
                "reintroducing the quadratic cross-replica pairing the disjoint "
                "replica design exists to prevent"
            )

    # Per-replica ALPHABET ROTATION (replica r Caesar-rotates letters by
    # r and digits by r mod 10): a character bijection, so every
    # statistic any text operator sees — document/word/gram lengths,
    # word-shingle and char-k-gram frequency distributions, near-dup
    # structure, boilerplate density — is preserved EXACTLY per replica,
    # while letter-bearing grams are disjoint across replicas.  The
    # earlier token-suffix mutation (``word_r3``) preserved word-shingle
    # statistics but wrecked char-gram statistics: every word-boundary
    # k-gram absorbed the replica-constant ``_rN `` substring, so
    # char-gram methods (winnowing) saw a frequency distribution unlike
    # any real corpus — hot-gram df inflated ~7× and true pairs diluted
    # to zero in suffixed replicas.  Rotation also keeps n_chars valid
    # (lengths unchanged).  Guard: r in 1..9 — at r=10 the DIGIT
    # rotation (mod 10) wraps to identity, so digit-run tokens,
    # digit-bearing shingles and pure-digit k-grams in replica 10 would
    # duplicate replica 0's (letters wrap later, at 26); both
    # reintroduce the cross-replica pairing the disjoint design exists
    # to prevent (review r8 — the first guard only caught the letter
    # wrap).  Round 13 (verdict r12 #5: the 100× probe): replicas
    # r >= 10 switch to SEEDED RANDOM character permutations — still
    # bijections, so every per-replica statistic (lengths, shingle and
    # char-gram frequency distributions, near-dup density) is preserved
    # exactly like the rotations, while two independent random
    # alphabet permutations agree on ~1 letter in expectation, so a
    # whole WORD mapping identically across two replicas has
    # probability ~26^-len — the vocabularies stay effectively
    # disjoint (and a random permutation colliding with one of the 10
    # rotations is equally improbable).  Replicas 1-9 keep the exact
    # rotations so a factor-10 build is byte-identical to the r8-r12
    # probe data.  random.Random(r).shuffle is deterministic for a
    # fixed seed (Mersenne Twister, stable across CPython versions),
    # so the build is reproducible.
    import random as _random
    import string as _string

    _lo, _up, _dg = _string.ascii_lowercase, _string.ascii_uppercase, _string.digits

    def mut_docs(df, r):
        if r == 0:
            return df
        if r < 10:
            rot = (
                _lo[r % 26 :] + _lo[: r % 26]
                + _up[r % 26 :] + _up[: r % 26]
                + _dg[r % 10 :] + _dg[: r % 10]
            )
        else:
            rng = _random.Random(1_000_003 * r + 17)
            lo, dg = list(_lo), list(_dg)
            rng.shuffle(lo)
            rng.shuffle(dg)
            rot = (
                "".join(lo)
                + "".join(c.upper() for c in lo)  # case-consistent map
                + "".join(dg)
            )
        return df.withColumn("text", F.translate("text", _lo + _up + _dg, rot))

    if wanted("documents"):
        replicas(t["documents"], step(t["documents"], "doc_id"), mut_docs).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "documents.parquet"))

    def mut_vecs(df, r):
        if r == 0:
            return df
        rot = F.expr(
            f"concat(slice(embedding, {r + 1}, {dim - r}), "
            f"slice(embedding, 1, {r}))"
        )
        return df.withColumn("embedding", rot)

    if wanted("embeddings"):
        replicas(t["embeddings"], step(t["embeddings"], "vec_id"), mut_vecs).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "embeddings.parquet"))

    # events/orders are replicated even though no current probe family
    # reads them: a "10x" directory where only some fact tables scaled
    # would silently under-measure any family added later — the disk
    # cost at these SFs is trivial, the footgun is not.
    if wanted("events"):
        ev_steps = step(t["events"], "event_id")
        ev_steps["user_id"] = dom["custkey"]
        replicas(t["events"], ev_steps).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet")
        )

    if wanted("lineitem"):
        replicas(
            t["lineitem"], dsteps("l_orderkey", "l_partkey", "l_suppkey")
        ).write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))

    if wanted("orders"):
        replicas(t["orders"], dsteps("o_orderkey", "o_custkey")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out, "orders.parquet"))

    if wanted("customer"):
        replicas(t["customer"], dsteps("c_custkey")).write.mode("overwrite").parquet(
            os.path.join(out, "customer.parquet")
        )
    if wanted("supplier"):
        replicas(t["supplier"], dsteps("s_suppkey")).write.mode("overwrite").parquet(
            os.path.join(out, "supplier.parquet")
        )
    if wanted("part"):
        replicas(t["part"], dsteps("p_partkey")).write.mode("overwrite").parquet(
            os.path.join(out, "part.parquet")
        )

    # nation/region verbatim (nationkeys unshifted — see the FK note),
    # plus any table excluded by --tables, copied at BASE scale so the
    # directory stays loadable — printed loudly (a mixed-scale dir must
    # never silently pass for a uniformly scaled one).
    import shutil

    verbatim = ["region", "nation"]
    if tables is not None:
        skipped = sorted(
            {"documents", "embeddings", "events", "lineitem",
             "orders", "customer", "supplier", "part"} - tables
        )
        verbatim += skipped
        if skipped:
            print(
                f"NOTE: mixed-scale probe dir — only {sorted(tables)} replicated "
                f"{factor}x; {skipped} copied VERBATIM at base scale"
            )
    for name in verbatim:
        dst = os.path.join(out, f"{name}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(src, f"{name}.parquet"), dst)


# ---------------------------------------------------------------------------
# --streaming: fold-cost probes (verdict r7 #3/#4).  The batch probe above
# answers "does a query scale with the data"; these answer "does one
# MICRO-BATCH FOLD scale with the DELTA rather than with accumulated
# history/state" — the claim every streaming maintainer's docstring makes
# and round 7 never measured.  Each probe times a single availableNow
# drain of ONE delta batch against a pre-built target; the pair of runs
# differs ONLY in history size, so flat wall-clock = delta-local fold.
# (Timings include ~1 s of fixed stream start-up, which biases ratios
# TOWARD flat for sub-second folds — read them against the batch sizes,
# not as microbenchmarks.)


def _timed(run) -> float:
    import time

    t0 = time.time()
    run()
    return round(time.time() - t0, 3)


def probe_scd2_fold(spark, work: str, closed_versions: int, tag: str) -> float:
    """One fold of streaming_scd2_dimension against a target whose CLOSED
    history holds n_keys*closed_versions rows; open size (20k keys) and
    delta (2k changed keys) fixed.  Flat across closed_versions is the
    open-partition-local contract (the r7 weak this round fixed)."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.streaming import jobs

    n_keys, n_delta = 20_000, 2_000
    tgt = os.path.join(work, f"scd2_{tag}")
    src = os.path.join(work, f"scd2_src_{tag}")
    ckpt = os.path.join(work, f"scd2_ck_{tag}")
    for d in (tgt, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    spark.range(n_keys).select(
        F.col("id").cast("int").alias("custkey"),
        F.lit("SEG0").alias("seg"),
        F.lit(0).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    ).write.parquet(os.path.join(tgt, "open"))
    v = F.floor(F.col("id") / n_keys).cast("int")
    spark.range(n_keys * closed_versions).select(
        (F.col("id") % n_keys).cast("int").alias("custkey"),
        F.concat(F.lit("OLD"), v.cast("string")).alias("seg"),
        (-v - 1).alias("valid_from"),
        (-v).alias("valid_to"),
    ).write.parquet(os.path.join(tgt, "closed", "batch=9999"))
    spark.range(n_delta).select(
        F.col("id").cast("int").alias("custkey"),
        F.lit(5).alias("as_of"),
        F.lit("SEG1").alias("seg"),
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("custkey int, as_of int, seg string").parquet(
        src
    )

    def run():
        q = jobs.streaming_scd2_dimension(
            stream, tgt, keys=["custkey"], checkpoint=ckpt
        )
        q.awaitTermination(600)

    return _timed(run)


def probe_minhash_fold(spark, work: str, docs_path: str, tag: str) -> float:
    """One 500-doc micro-batch folded through streaming_minhash_dedup
    against a signature index built from ``docs_path`` — per-batch cost
    is O(delta + one map-side index pass), so 10x history may grow the
    scan term but must never approach 10x wall-clock."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.operators import dedup as dd
    from firmable_company_data_pipeline_spark.streaming import jobs

    index_dir = os.path.join(work, f"mh_index_{tag}")
    pairs_dir = os.path.join(work, f"mh_pairs_{tag}")
    src = os.path.join(work, f"mh_src_{tag}")
    ckpt = os.path.join(work, f"mh_ck_{tag}")
    for d in (index_dir, pairs_dir, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    hist = spark.read.parquet(os.path.join(docs_path, "documents.parquet"))
    # seed in the fold's banded index layout, so the fold measures its
    # partition-pruned path (pbucket = hash(band, bucket) % 64)
    dd.minhash_band_rows(dd.minhash_signatures(hist)).write.partitionBy(
        "pbucket"
    ).parquet(os.path.join(index_dir, "batch_id=9999"))
    # external seed => declare the layout (the fold refuses unmarked
    # non-empty targets since round 11 — advice r10)
    jobs.declare_upsert_layout(spark, index_dir, 64)
    # the delta is IDENTICAL at both history sizes (500 sf0.1 docs,
    # ids shifted clear of any replica) so only the index size varies
    spark.read.parquet(os.path.join(SRC, "documents.parquet")).filter(
        F.col("doc_id") < 500
    ).withColumn("doc_id", F.col("doc_id") + 10_000_000).coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema(hist.schema).parquet(src)

    def run():
        q = jobs.streaming_minhash_dedup(
            stream, index_dir, pairs_dir, checkpoint=ckpt
        )
        q.awaitTermination(600)

    return _timed(run)


def probe_winnow_fold(spark, work: str, docs_path: str, tag: str) -> float:
    """One 500-doc micro-batch folded through streaming_winnow_dedup
    against a fingerprint index + additive df table built from
    ``docs_path`` — since round 9 the fold's per-batch cost is
    O(delta + one map-side pruned index pass): the df cap comes from
    the persisted (fp, df) table instead of a window over index∪delta,
    and broadcast_delta streams the index without exchanging it, so
    10x history may grow the scan term but must never approach 10x
    wall-clock (the r8 winnow weak, measured closed)."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.operators import dedup as dd
    from firmable_company_data_pipeline_spark.streaming import jobs

    index_dir = os.path.join(work, f"wn_index_{tag}")
    pairs_dir = os.path.join(work, f"wn_pairs_{tag}")
    df_dir = os.path.join(work, f"wn_df_{tag}")
    src = os.path.join(work, f"wn_src_{tag}")
    ckpt = os.path.join(work, f"wn_ck_{tag}")
    for d in (index_dir, pairs_dir, df_dir, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    hist = spark.read.parquet(os.path.join(docs_path, "documents.parquet"))
    # seed in the round-10 bucketed layout (bucket = fp % 64) so the
    # fold measures the partition-pruned index + df scans
    dd.winnow_fingerprint_rows(hist).withColumn(
        "bucket", F.pmod(F.col("fp"), F.lit(64))
    ).write.partitionBy("bucket").parquet(
        os.path.join(index_dir, "batch_id=9999")
    )
    dd.winnow_df_table(
        spark.read.parquet(os.path.join(index_dir, "batch_id=9999"))
    ).withColumn("bucket", F.pmod(F.col("fp"), F.lit(64))).write.partitionBy(
        "bucket"
    ).parquet(os.path.join(df_dir, "batch_id=9999"))
    # external seeds => declare the layouts (the fold refuses unmarked
    # non-empty targets since round 11 — advice r10)
    jobs.declare_upsert_layout(spark, index_dir, 64)
    jobs.declare_upsert_layout(spark, df_dir, 64)
    # the delta is IDENTICAL at both history sizes (500 sf0.1 docs,
    # ids shifted clear of any replica) so only the index size varies
    spark.read.parquet(os.path.join(SRC, "documents.parquet")).filter(
        F.col("doc_id") < 500
    ).withColumn("doc_id", F.col("doc_id") + 10_000_000).coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema(hist.schema).parquet(src)

    def run():
        q = jobs.streaming_winnow_dedup(
            stream, index_dir, pairs_dir, checkpoint=ckpt,
            min_shared=3, max_df=100, df_dir=df_dir,
        )
        q.awaitTermination(600)

    return _timed(run)


def probe_block_fold(spark, work: str, docs_path: str, tag: str) -> float:
    """One 500-doc micro-batch through streaming_block_dedup against a
    block index seeded with ``docs_path``'s full distinct-block
    universe — the fold probes the index with a broadcast of the
    batch's blocks (map-side semi over the scan, bucket partition
    pruning on top), so 10x history may grow the pruned-scan term but
    must never approach 10x wall-clock."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.operators.dedup import block_rows
    from firmable_company_data_pipeline_spark.streaming import jobs

    index_dir = os.path.join(work, f"blk_index_{tag}")
    out_dir = os.path.join(work, f"blk_out_{tag}")
    src = os.path.join(work, f"blk_src_{tag}")
    ckpt = os.path.join(work, f"blk_ck_{tag}")
    for d in (index_dir, out_dir, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    hist = spark.read.parquet(os.path.join(docs_path, "documents.parquet"))
    B, n_buckets = 16, 64
    hist_blocks = (
        block_rows(hist, block_tokens=B)
        .select("block_text")
        .distinct()
        .select(
            "block_text",
            F.pmod(F.xxhash64("block_text"), F.lit(n_buckets)).alias("bucket"),
        )
    )
    hist_blocks.write.partitionBy("bucket").parquet(
        os.path.join(index_dir, "batch_id=9999")
    )
    spark.read.parquet(os.path.join(SRC, "documents.parquet")).filter(
        F.col("doc_id") < 500
    ).withColumn("doc_id", F.col("doc_id") + 10_000_000).coalesce(1).write.parquet(
        src
    )
    stream = spark.readStream.schema(hist.schema).parquet(src)

    def run():
        q = jobs.streaming_block_dedup(
            stream, index_dir, out_dir, checkpoint=ckpt,
            block_tokens=B, n_buckets=n_buckets,
        )
        q.awaitTermination(600)

    return _timed(run)


def probe_ivf_fold(spark, work: str, emb_path: str, tag: str) -> float:
    """One 500-vector micro-batch through streaming_ivf_index with the
    index pre-populated from ``emb_path`` — the fold reads only frozen
    centroids and writes its own partition, so this must be flat by
    construction (measured to back the docstring's claim)."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.operators.similarity_search import (
        default_centroids,
        ivf_assign,
    )
    from firmable_company_data_pipeline_spark.session import hadoop_fs
    from firmable_company_data_pipeline_spark.streaming import jobs

    index_dir = os.path.join(work, f"ivf_index_{tag}")
    cents_dir = os.path.join(work, f"ivf_cents_{tag}")
    src = os.path.join(work, f"ivf_src_{tag}")
    ckpt = os.path.join(work, f"ivf_ck_{tag}")
    for d in (index_dir, cents_dir, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    emb = spark.read.parquet(os.path.join(emb_path, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    cents = default_centroids(emb, n_cells=8)
    cents.coalesce(1).write.parquet(cents_dir)
    fs, marker = hadoop_fs(spark, cents_dir + "/_CENTROIDS_FROZEN")
    fs.createNewFile(marker)
    ivf_assign(emb, spark.read.parquet(cents_dir)).write.parquet(
        os.path.join(index_dir, "batch_id=9999")
    )
    spark.read.parquet(os.path.join(SRC, "embeddings.parquet")).select(
        "vec_id", "embedding"
    ).filter(F.col("vec_id") < 500).withColumn(
        "vec_id", F.col("vec_id") + 10_000_000
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("vec_id long, embedding array<float>").parquet(
        src
    )

    def run():
        q = jobs.streaming_ivf_index(stream, index_dir, cents_dir, checkpoint=ckpt)
        q.awaitTermination(600)

    return _timed(run)


def probe_upsert_fold(spark, work: str, n_rows: int, tag: str) -> float:
    """One micro-batch (1k keys) through the bucket-local
    foreach_batch_upsert against a target seeded with ``n_rows`` keys —
    the fold reads/rewrites only the buckets the batch touches, so 10x
    the target must not approach 10x the fold time."""
    import shutil

    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.streaming import jobs

    tgt = os.path.join(work, f"ups_{tag}")
    src = os.path.join(work, f"ups_src_{tag}")
    ckpt = os.path.join(work, f"ups_ck_{tag}")
    for d in (tgt, src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    # seed the target directly in the sink's layout
    spark.range(n_rows).select(
        F.col("id").alias("k"),
        F.lit("seed").alias("v"),
        F.pmod(F.xxhash64(F.col("id")), F.lit(32)).alias("_bucket"),
    ).write.partitionBy("_bucket").parquet(tgt)
    jobs.declare_upsert_layout(spark, tgt, 32)
    # delta = 1k keys that all hash into ONE bucket (a delta spraying
    # every bucket legitimately degrades to a full-target merge; the
    # locality claim is about the common narrow-delta case)
    spark.range(200_000).filter(
        F.pmod(F.xxhash64(F.col("id")), F.lit(32)) == 0
    ).limit(1_000).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("k long, v string").parquet(src)

    def run():
        q = jobs.foreach_batch_upsert(stream, tgt, key="k", checkpoint=ckpt)
        q.awaitTermination(600)

    return _timed(run)


def probe_cc_sliver_fold(spark, sf_dir: str) -> dict:
    """The sliver-delta point of the incremental-CC story (verdict r7
    #3): previous labels materialized OUTSIDE the timer, then ONLY the
    1%-delta fold is timed and compared to batch-clustering the full
    pair graph at the same SF.  fold ≪ batch is what the delta-local
    rewrite bought."""
    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.operators import dedup as dd
    from firmable_company_data_pipeline_spark.queries.core import load_tables

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.8).persist()
    n_pairs = pairs.count()  # one action: materializes the cache AND counts
    is_new = (F.col("id_a") % 100 == 0) | (F.col("id_b") % 100 == 0)
    delta = pairs.filter(is_new).persist()
    n_delta = delta.count()
    prev = dd.connected_components(
        pairs.filter(~is_new), deep_graphs=True
    ).localCheckpoint(eager=True)

    fold = _timed(
        lambda: dd.incremental_components(prev, delta)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    batch = _timed(
        lambda: dd.connected_components(pairs, deep_graphs=True)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    pairs.unpersist()
    delta.unpersist()
    return {
        "delta_pairs": n_delta,
        "total_pairs": n_pairs,
        "fold_secs": fold,
        "batch_secs": batch,
        "fold_over_batch": round(fold / batch, 3) if batch else None,
    }


def run_streaming_probes(spark, out: str, passes: int) -> dict:
    work = os.path.join(os.path.dirname(out.rstrip("/")), "streaming")
    os.makedirs(work, exist_ok=True)
    res = {}
    res["scd2_fold_hist1x"] = min(
        probe_scd2_fold(spark, work, 5, f"v5_p{p}") for p in range(passes)
    )
    res["scd2_fold_hist10x"] = min(
        probe_scd2_fold(spark, work, 50, f"v50_p{p}") for p in range(passes)
    )
    res["minhash_fold_hist1x"] = min(
        probe_minhash_fold(spark, work, SRC, f"1x_p{p}") for p in range(passes)
    )
    res["minhash_fold_hist10x"] = min(
        probe_minhash_fold(spark, work, out, f"10x_p{p}") for p in range(passes)
    )
    res["winnow_fold_hist1x"] = min(
        probe_winnow_fold(spark, work, SRC, f"1x_p{p}") for p in range(passes)
    )
    res["winnow_fold_hist10x"] = min(
        probe_winnow_fold(spark, work, out, f"10x_p{p}") for p in range(passes)
    )
    res["block_fold_hist1x"] = min(
        probe_block_fold(spark, work, SRC, f"1x_p{p}") for p in range(passes)
    )
    res["block_fold_hist10x"] = min(
        probe_block_fold(spark, work, out, f"10x_p{p}") for p in range(passes)
    )
    res["ivf_fold_hist1x"] = min(
        probe_ivf_fold(spark, work, SRC, f"1x_p{p}") for p in range(passes)
    )
    res["ivf_fold_hist10x"] = min(
        probe_ivf_fold(spark, work, out, f"10x_p{p}") for p in range(passes)
    )
    res["upsert_fold_hist1x"] = min(
        probe_upsert_fold(spark, work, 100_000, f"1x_p{p}") for p in range(passes)
    )
    res["upsert_fold_hist10x"] = min(
        probe_upsert_fold(spark, work, 1_000_000, f"10x_p{p}") for p in range(passes)
    )
    res["cc_sliver_sf0.1"] = probe_cc_sliver_fold(spark, SRC)
    res["cc_sliver_10x"] = probe_cc_sliver_fold(spark, out)
    for fam in ("scd2", "minhash", "winnow", "block", "ivf", "upsert"):
        a, b = res[f"{fam}_fold_hist1x"], res[f"{fam}_fold_hist10x"]
        res[f"{fam}_fold_ratio"] = round(b / a, 2) if a else None
    return res


def time_queries(spark, qs, names, sf_dir: str) -> dict:
    # bench.py's exact measurement discipline (warm -> clear+gc -> timed
    # with one retry -> clear+gc), shared so probe ratios are comparable
    # to bench numbers (review r7)
    from bench import timed_query_run

    out = {}
    for name in names:
        secs, err = timed_query_run(spark, qs[name], sf_dir)
        out[name] = secs if secs is not None else f"ERROR: {err}"
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scale_probe/sf1",
        ),
    )
    ap.add_argument("--skip-gen", action="store_true")
    ap.add_argument(
        "--src",
        default=SRC,
        help="BASE side of the comparison (and replication source for "
        "--factor builds).  The 100× document probe passes the existing "
        "10× dir here and a factor-100 documents-only dir as --out, so "
        "the reported ratio is one further decade (verdict r12 #5).",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated tables to replicate in the build; the rest "
        "are copied verbatim at base scale (documents-only 100× builds "
        "stay cheap).  Default: all.",
    )
    ap.add_argument(
        "--streaming",
        action="store_true",
        help="run the streaming fold-cost probes (per-batch fold time at "
        "history 1x vs 10x for the scd2/minhash/winnow/block/ivf maintainers, plus "
        "the sliver-delta CC fold vs full batch clustering) instead of "
        "the batch query ratios",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="comma-separated query names: probe only this subset of the "
        "batch families (new-round rows without re-running the full table)",
    )
    ap.add_argument(
        "--passes",
        type=int,
        default=3,
        help="timing passes; the table reports per-query MINIMA across "
        "passes (single sf0.1-scale runs swing several x under JVM/GC/"
        "codegen interference; the minimum is the robust what-can-the-"
        "engine-do estimator, and the per-pass values are kept in the "
        "JSON line for inspection)",
    )
    args = ap.parse_args()

    # the same session factory bench uses (review r7): hand-rolling the
    # builder dropped the codegen-cache sizing, worker PYTHONPATH export
    # and CPU autodetection that keep timings comparable to bench's
    from firmable_company_data_pipeline_spark.session import get_spark

    spark = get_spark("firmable-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    if not args.skip_gen:
        print(f"generating factor-{args.factor} probe data at {args.out} ...")
        build(
            spark,
            args.out,
            args.factor,
            src=args.src,
            tables=set(args.tables.split(",")) if args.tables else None,
        )

    if args.streaming:
        res = run_streaming_probes(spark, args.out, max(1, args.passes))
        print(f"\n{'fold':14s} {'hist 1x':>9s} {'hist 10x':>9s} {'ratio':>7s}   (minima over {args.passes} passes, fixed delta)")
        for fam in ("scd2", "minhash", "winnow", "block", "ivf", "upsert"):
            print(
                f"{fam:14s} {res[f'{fam}_fold_hist1x']:9.2f} "
                f"{res[f'{fam}_fold_hist10x']:9.2f} "
                f"{res[f'{fam}_fold_ratio']:7.2f}"
            )
        for key in ("cc_sliver_sf0.1", "cc_sliver_10x"):
            cc = res[key]
            print(
                f"{key}: fold {cc['fold_secs']:.2f}s vs batch "
                f"{cc['batch_secs']:.2f}s (fold/batch {cc['fold_over_batch']}, "
                f"delta {cc['delta_pairs']}/{cc['total_pairs']} pairs)"
            )
        print(json.dumps({"streaming": res, "passes": args.passes}))
        return

    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for fam in PROBE_QUERIES.values() for n in fam]
    if args.only:
        keep = set(args.only.split(","))
        unknown = keep - set(names)
        if unknown:
            raise SystemExit(f"--only names not in PROBE_QUERIES: {sorted(unknown)}")
        names = [n for n in names if n in keep]
    base_passes, big_passes = [], []
    for p in range(max(1, args.passes)):
        base_passes.append(time_queries(spark, qs, names, args.src))
        big_passes.append(time_queries(spark, qs, names, args.out))

    def minima(passes):
        out = {}
        for n in names:
            vals = [p[n] for p in passes if isinstance(p.get(n), (int, float))]
            out[n] = min(vals) if vals else passes[-1].get(n)
        return out

    base, big = minima(base_passes), minima(big_passes)

    base_tag = os.path.basename(args.src.rstrip("/")) or "base"
    big_tag = os.path.basename(args.out.rstrip("/")) or "scaled"
    print(f"\n{'query':34s} {base_tag:>10s} {big_tag:>10s} {'ratio':>7s}   (minima over {len(base_passes)} passes)")
    ratios = {}
    for fam, fam_names in PROBE_QUERIES.items():
        for n in fam_names:
            b, g = base.get(n), big.get(n)
            if isinstance(b, float) and isinstance(g, float) and b > 0:
                ratios[n] = round(g / b, 2)
                print(f"{n:34s} {b:10.2f} {g:10.2f} {ratios[n]:7.2f}")
            else:
                print(f"{n:34s} {b!s:>10s} {g!s:>10s}     n/a")
    print(
        json.dumps(
            {
                "factor": args.factor,
                "src": args.src,
                "out": args.out,
                "passes": len(base_passes),
                "base": base,
                "scaled": big,
                "ratios": ratios,
                "base_passes": base_passes,
                "scaled_passes": big_passes,
            }
        )
    )


if __name__ == "__main__":
    main()
