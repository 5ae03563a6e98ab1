"""Corpus-curation operators for LLM training-data pipelines (charter
extension, round 4 — no reference counterpart; the reference's cleaning
stage, ``transform/data_cleaning.py``, stops at per-row normalization).

Five operators, all UDF-free DataFrame compositions:

* ``repetition_stats``     — Gopher-style repetition quality signals
                             (Rae et al. 2021 §A1.1): duplicate-word,
                             top-bigram and duplicate-trigram fractions
                             per document, with a keep/drop verdict —
                             two exchanges end-to-end (one unified
                             (id, kind, gram) hash-agg + one per-id
                             rollup), grams computed map-side.
* ``stratified_split``     — deterministic hash-based train/val/test
                             assignment, stratified so every stratum
                             splits at the same ratios.
* ``pack_sequences``       — contiguous token-budget packing plan:
                             assigns each document a (bin, offset) in
                             fixed-size training sequences, packed
                             within a shard key so the plan is one
                             window per shard, never a global sort.
* ``unigram_surprise``     — corpus-level unigram LM score: mean
                             -ln p(token) per document (the cheap
                             perplexity proxy used for quality
                             filtering before a real LM is available).
* ``semantic_dedup_pairs`` — embedding near-dup pairs restricted to
                             IVF cells (the sub-quadratic scale path
                             for ``dedup.embedding_cosine_pairs``).

Scale notes: every aggregation is a hash-groupBy with map-side partial
combine; the packing window partitions on the shard key (parallel, no
global sort); semantic dedup pairs only within cells (expected cell
size N/n_cells, same candidate-generation contract as IVF ANN).

Operators whose plan reads an intermediate from BOTH sides of a join
(``unigram_surprise``'s tf table, ``semantic_dedup_pairs``'s
assignment) materialize it and leave it to the caller: the returned
DataFrame is lazy (ARCHITECTURE §3b).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from firmable_company_data_pipeline_spark.functions.textstats import (
    HASH_MOD,
    char_fold_hash,
    tokens,
)
from firmable_company_data_pipeline_spark.functions.vectors import dot, norm2, to_double
from firmable_company_data_pipeline_spark.session import materialize, spread

# Gopher-style repetition thresholds (Rae et al. 2021 use 0.30 /
# 0.20 / 0.60 on natural-language corpora for duplicate lines, top
# 2-gram character fraction and duplicate n-gram character fraction;
# these are the token-level analogs, calibrated so the synthetic
# small-vocabulary test corpus splits roughly 60/40 keep/drop —
# dup_word_frac carries the signal there: median 0.54, p95 0.69).
DUP_WORD_MAX = 0.60
TOP_BIGRAM_MAX = 0.35
DUP_TRIGRAM_MAX = 0.50


def _gram_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, kind, gram) — one row per token / bigram / trigram
    OCCURRENCE (kind 1/2/3), computed entirely MAP-SIDE: the
    bigram/trigram at position p reads the token array via ``F.get``
    (NULL-safe out-of-bounds) while the array is still in the row, so
    no window, no sort, no exchange happens before the gram strings are
    projected out."""
    toks = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    ex = toks.select("id", "toks", F.posexplode("toks").alias("pos", "tok"))
    n1 = F.get("toks", F.col("pos") + 1)
    n2 = F.get("toks", F.col("pos") + 2)
    grams = F.array(
        F.struct(F.lit(1).alias("kind"), F.col("tok").alias("gram")),
        F.struct(
            F.lit(2).alias("kind"),
            F.when(n1.isNotNull(), F.concat_ws(" ", "tok", n1)).alias("gram"),
        ),
        F.struct(
            F.lit(3).alias("kind"),
            F.when(n2.isNotNull(), F.concat_ws(" ", F.col("tok"), n1, n2)).alias(
                "gram"
            ),
        ),
    )
    return (
        ex.select("id", F.explode(grams).alias("g"))
        .select("id", F.col("g.kind").alias("kind"), F.col("g.gram").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals and keep/drop verdict.

    Output: (doc_id, n_tok, dup_word_frac, top_bigram_frac,
    dup_trigram_frac, keep) where

    * ``dup_word_frac``    = 1 − distinct/total token occurrences,
    * ``top_bigram_frac``  = tokens covered by the most frequent bigram
                             (2 × its count) / total tokens,
    * ``dup_trigram_frac`` = 1 − distinct/total trigram occurrences,
    * ``keep``             = all three under their thresholds.

    Shape: the three gram granularities ride ONE keyed stream — a
    single (id, kind, gram) hash-groupBy with map-side combine (the
    exact-dedup shape), then one per-id rollup with conditional
    aggregates.  TWO exchanges end-to-end, no window, no joins, no
    count(DISTINCT) expansion, no per-doc quadratic array work.
    """
    counted = (
        _gram_rows(df, text_col, id_col)
        .groupBy("id", "kind", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    is_tok = F.col("kind") == 1
    is_big = F.col("kind") == 2
    is_tri = F.col("kind") == 3
    per_id = counted.groupBy("id").agg(
        F.sum(F.when(is_tok, F.col("c"))).alias("n_tok"),
        F.sum(F.when(is_tok, 1).otherwise(0)).alias("n_distinct_tok"),
        F.max(F.when(is_big, F.col("c"))).alias("top_bigram_n"),
        F.sum(F.when(is_tri, F.col("c"))).alias("n_tri"),
        F.sum(F.when(is_tri, 1)).alias("n_distinct_tri"),
    )
    dup_word = F.round(1.0 - F.col("n_distinct_tok") / F.col("n_tok"), 6)
    top_big = F.round(
        F.coalesce(F.col("top_bigram_n"), F.lit(0)) * 2.0 / F.col("n_tok"), 6
    )
    dup_tri = F.round(
        F.when(
            F.col("n_tri").isNotNull() & (F.col("n_tri") > 0),
            1.0 - F.col("n_distinct_tri") / F.col("n_tri"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return per_id.select(
        F.col("id").alias("doc_id"),
        "n_tok",
        dup_word.alias("dup_word_frac"),
        top_big.alias("top_bigram_frac"),
        dup_tri.alias("dup_trigram_frac"),
    ).withColumn(
        "keep",
        (F.col("dup_word_frac") <= DUP_WORD_MAX)
        & (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX)
        & (F.col("dup_trigram_frac") <= DUP_TRIGRAM_MAX),
    )


# Split thresholds over the 100 hash buckets: [0,80) train, [80,90)
# val, [90,100) test.
SPLIT_TRAIN, SPLIT_VAL = 80, 90


def stratified_split(
    df: DataFrame,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment.

    Bucket = fold-hash of ``"{stratum}|{id}"`` mod 100, so (a) the
    assignment is reproducible run-to-run and engine-to-engine (no RNG),
    and (b) including the stratum in the hash decorrelates bucket
    patterns across strata (the same id set splits differently in
    different strata).  Pure projection — zero shuffles; the split
    ratios hold per-stratum in expectation exactly as global hash
    sampling does.
    """
    bucket = char_fold_hash(
        F.concat_ws("|", F.col(strata_col), F.col(id_col).cast("string"))
    ) % 100
    return df.select(
        F.col(id_col), F.col(strata_col), bucket.alias("bucket")
    ).withColumn(
        "split",
        F.when(F.col("bucket") < SPLIT_TRAIN, F.lit("train"))
        .when(F.col("bucket") < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def pack_sequences(
    df: DataFrame,
    budget: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str = "source",
) -> DataFrame:
    """Contiguous token-budget packing plan: documents are laid out
    end-to-end in (shard, id) order and cut into fixed ``budget``-token
    training sequences.  Output (doc_id, shard, n_tok, seq_bin,
    tok_offset): the document's first token lands at ``tok_offset`` of
    sequence ``seq_bin`` (bins numbered within shard).

    Scale shape: ONE window per shard key — cumulative sum partitioned
    by ``shard_col``, never a global sort.  At 100 TB the shard key is
    the file/partition id and each task packs its shard independently;
    a greedy first-fit packer would need stateful iteration for ~2%
    less padding and is deliberately not worth the sequential bottleneck.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sized = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(shard_col).alias("shard"),
        F.size(tokens(F.col(text_col))).alias("n_tok"),
    )
    cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0).cast("long"))
    return sized.select(
        F.col("id").alias(id_col),
        F.col("shard"),
        "n_tok",
        F.floor(cum / budget).alias("seq_bin"),
        (cum % budget).alias("tok_offset"),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    retrieval/training prep step (RAG indexing, fixed-context training
    examples).  Output (doc_id, chunk_id, tok_start, n_chunk_tok,
    chunk_text); chunk c covers tokens [c·stride, c·stride+size).

    Chunk count: 1 when the doc fits in one window, else enough strided
    windows for the last one to reach the end (final chunk may be
    short).  The short-doc arm is a CASE, not min/max over a negative
    integer division — Spark's ``div`` truncates toward zero while
    DuckDB's ``//`` floors, so negative numerators would diverge.

    Scale shape: ZERO shuffles — tokenize, per-doc window arithmetic and
    the chunk explode are all map-side; chunking a 100 TB corpus is one
    pass with no exchange.  The per-doc ``transform`` over chunk starts
    runs interpreted, but its work is bounded by doc length (same
    contract as the other per-doc HOF paths).
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    sized = toks.select("id", "toks", F.size("toks").alias("n_tok"))
    n_chunks = F.when(F.col("n_tok") <= size, F.lit(1)).otherwise(
        F.expr(f"(n_tok - {size} + {stride} - 1) div {stride}") + 1
    )
    chunk = sized.select(
        "id",
        "n_tok",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, size)
    return chunk.select(
        F.col("id").alias(id_col),
        "chunk_id",
        (F.col("chunk_id") * stride).alias("tok_start"),
        F.size(piece).alias("n_chunk_tok"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def unigram_surprise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean unigram surprisal −ln p(tok) per document, with p estimated
    from the corpus itself — the classic cheap quality score (a real-LM
    perplexity filter has the same plan shape with the frequency table
    replaced by a scored column).

    Shape: occurrences collapse FIRST to per-(doc, term) counts (one
    hash-groupBy with map-side combine), the corpus frequency table
    derives from that same tf table (second hash-agg over distinct
    doc-terms), and the term equi-join + per-doc rollup then run over
    tf rows — |distinct (doc, term)|, not |token occurrences|.  The
    per-doc mean is the count-weighted form ``Σ c·ln(N/n_t) / Σ c``,
    algebraically identical to the occurrence-level average the oracle
    computes.  No driver-side collect: the corpus total is a broadcast
    1-row aggregate, the Zipf dictionary never leaves the executors.

    The tf table feeds BOTH the frequency build and the probe side of
    the join, but is deliberately NOT persisted: its aggregation
    Exchange is identical on both paths, so Spark reuses the shuffle
    output (ReusedExchange) — cheaper than materializing the rows
    through the block manager.
    """
    tf = (
        spread(df)
        .select(
            F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freq = tf.groupBy("tok").agg(F.sum("c").alias("tok_n"))
    total = freq.agg(F.sum("tok_n").alias("corpus_n"))
    scored = tf.join(freq, "tok").join(broadcast(total), how="cross")
    return (
        scored.groupBy("id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.round(
                F.sum(F.col("c") * F.log(F.col("corpus_n") / F.col("tok_n")))
                / F.sum("c"),
                4,
            ).alias("avg_surprise"),
        )
        .select(F.col("id").alias(id_col), "n_tok", "avg_surprise")
    )


def _dsir_tf(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
    is_target: Column | None = None,
) -> DataFrame:
    """(id[, _tgt], bucket, c) — per-document hashed-bigram bucket
    counts, the shared front of the DSIR family: bigram OCCURRENCES
    assembled map-side from the in-row token array, fold-hashed into
    ``n_buckets``, one hash-agg with map-side combine."""
    cols = [F.col(id_col).alias("id")]
    if is_target is not None:
        cols.append(is_target.alias("_tgt"))
    toks = spread(df).select(*cols, tokens(F.col(text_col)).alias("toks"))
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
        ),
    )
    keys = ["id"] + (["_tgt"] if is_target is not None else [])
    return (
        toks.select(
            *keys,
            F.explode(
                F.when(F.size("toks") >= 2, grams).otherwise(
                    F.array().cast("array<string>")
                )
            ).alias("gram"),
        )
        .select(
            *keys, (char_fold_hash(F.col("gram")) % n_buckets).alias("bucket")
        )
        .groupBy(*keys, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def dsir_weight_table(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """The FROZEN half of DSIR: the (bucket, w) log-ratio weight table
    — build it once from a corpus snapshot (write to parquet; ≤
    ``n_buckets`` rows) and score any number of incoming documents
    against it with :func:`dsir_score_docs` / the streaming job.  The
    per-bucket distribution is persisted (tiny) because both the
    totals and the weights read it — without the cache the corpus
    bigram scan would run twice."""
    tf = _dsir_tf(df, text_col, id_col, n_buckets, is_target)
    dist = (
        tf.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
            F.sum(F.when(~F.col("_tgt"), F.col("c")).otherwise(F.lit(0))).alias("cs"),
        )
        .transform(materialize, "iterate")
    )
    totals = dist.agg(F.sum("ct").alias("tt"), F.sum("cs").alias("ts"))
    # One row for EVERY bucket in range(n_buckets), not just the buckets
    # the training snapshot happened to populate (advice r9): scoring
    # inner-joins doc buckets against this table, so a missing bucket
    # would silently drop grams from n_grams and the score sums —
    # contradicting the add-alpha smoothing contract.  Unseen buckets
    # get ct = cs = 0, i.e. exactly the smoothed floor
    # log(alpha/(tt+alpha*B)) - log(alpha/(ts+alpha*B)).  The table
    # stays <= n_buckets rows — the broadcast bound is unchanged.
    full = (
        df.sparkSession.range(n_buckets)
        .select(F.col("id").cast("long").alias("bucket"))
        .join(broadcast(dist), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ct", F.lit(0)).alias("ct"),
            F.coalesce("cs", F.lit(0)).alias("cs"),
        )
    )
    return full.join(broadcast(totals), how="cross").select(
        "bucket",
        (
            F.log((F.col("ct") + alpha) / (F.col("tt") + alpha * n_buckets))
            - F.log((F.col("cs") + alpha) / (F.col("ts") + alpha * n_buckets))
        ).alias("w"),
    )


def dsir_score_docs(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score documents against a prebuilt DSIR weight table — one
    bigram-bucket hash-agg over ``docs``, a broadcast join against the
    ≤ ``n_buckets``-row table, one per-doc rollup; entirely independent
    of the corpus the weights were trained on (the streaming job's
    per-batch fold, flat by construction: the only state is the frozen
    broadcast table).  Same output contract as
    :func:`dsir_importance`."""
    tf = _dsir_tf(docs, text_col, id_col, n_buckets)
    return (
        tf.join(broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("w")), 4).alias("logratio_sum"),
            F.round(F.sum(F.col("c") * F.col("w")) / F.sum("c"), 6).alias(
                "avg_logratio"
            ),
        )
        .select(F.col("id").alias(id_col), "n_grams", "logratio_sum", "avg_logratio")
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling" — hashed-n-gram flavor):
    score every RAW-pool document by how much more likely its hashed
    bigram features are under the TARGET distribution than under the
    raw pool's own, log w(x) = Σ_b c_x(b)·(ln p_target(b) − ln
    p_raw(b)).  Selecting the top-scored documents (or Gumbel-top-k
    resampling on these scores) is the published recipe for tilting a
    web-scale pool toward a high-quality target domain.

    ``is_target`` is any boolean Column over ``df``'s rows (e.g.
    ``F.col("source") == "wiki"``).  Features are bigram OCCURRENCES
    hashed into ``n_buckets`` by the shared fold hash (oracle-exact);
    both distributions are add-``alpha`` smoothed over the bucket
    space, so buckets unseen in the target still score finitely.
    Output for every NON-target document: (doc_id, n_grams,
    logratio_sum, avg_logratio), rounded where floats surface.

    Scale shape: one (id, bucket) hash-agg over the corpus's bigram
    stream (map-side combined), ONE reuse of that table for the two
    distribution builds (a single groupBy(bucket) with conditional
    sums), a broadcast of the ≤ ``n_buckets``-row weight table and of
    the 1-row totals, then a per-doc rollup — the per-doc join is
    map-side, so scoring 100 TB is two exchanges (the tf agg and the
    final per-doc agg)."""
    # carry_cols: per-doc attributes (e.g. the source) threaded through
    # the tf aggregation keys — id is unique per doc, so widening the
    # groupBy with functionally-dependent columns adds no exchange and
    # saves the corpus-sized join a caller would otherwise pay to get
    # them back
    carry = list(carry_cols)
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        is_target.alias("_tgt"),
        *carry,
        tokens(F.col(text_col)).alias("toks"),
    )
    grams = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 2),
        lambda i: F.concat_ws(
            " ", F.element_at("toks", i + 1), F.element_at("toks", i + 2)
        ),
    )
    rows = toks.select(
        "id",
        "_tgt",
        *carry,
        F.explode(
            F.when(F.size("toks") >= 2, grams).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("gram"),
    ).select(
        "id", "_tgt", *carry,
        (char_fold_hash(F.col("gram")) % n_buckets).alias("bucket"),
    )
    # per-(doc, bucket) feature counts — the one corpus-sized exchange;
    # the distribution build and the scoring join both read it
    tf = (
        rows.groupBy("id", "_tgt", *carry, "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, "iterate")
    )
    dist = tf.groupBy("bucket").agg(
        F.sum(F.when(F.col("_tgt"), F.col("c")).otherwise(F.lit(0))).alias("ct"),
        F.sum(F.when(~F.col("_tgt"), F.col("c")).otherwise(F.lit(0))).alias("cs"),
    )
    totals = dist.agg(
        F.sum("ct").alias("tt"), F.sum("cs").alias("ts")
    )
    w = (
        dist.join(broadcast(totals), how="cross")
        .select(
            "bucket",
            (
                F.log((F.col("ct") + alpha) / (F.col("tt") + alpha * n_buckets))
                - F.log((F.col("cs") + alpha) / (F.col("ts") + alpha * n_buckets))
            ).alias("w"),
        )
    )
    return (
        tf.filter(~F.col("_tgt"))
        .join(broadcast(w), "bucket")
        .groupBy("id", *carry)
        .agg(
            F.sum("c").alias("n_grams"),
            F.round(F.sum(F.col("c") * F.col("w")), 4).alias("logratio_sum"),
            F.round(F.sum(F.col("c") * F.col("w")) / F.sum("c"), 6).alias(
                "avg_logratio"
            ),
        )
        .select(
            F.col("id").alias(id_col),
            *carry,
            "n_grams",
            "logratio_sum",
            "avg_logratio",
        )
    )


def gumbel_key(
    id_expr: Column, seed: int, resolution: int = 1_000_000
) -> Column:
    """Deterministic standard-Gumbel draw per row: g = −ln(−ln(u)) with
    u derived from the shared fold hash of ``"<seed>:<id>"``, passed
    through one QUADRATIC mixing step — u = (((h² + h) mod p) mod
    resolution + 0.5) / resolution ∈ (0, 1) strictly, so both logs are
    finite.  The quadratic step matters: the fold hash is a short
    polynomial, so changing the seed shifts every equal-length id's
    hash by the SAME δ·31^n — any affine post-mix would preserve the
    cross-document ordering and the "sample" would never vary with the
    seed; the h² cross term (2hδ) breaks the common shift.
    Hash-derived (not ``F.rand``) because the oracle must reproduce the
    exact draw: the integer arithmetic is engine-exact (h < p ≈ 1e9 so
    h² fits a 64-bit long) and the double ``ln`` agrees to far below
    the 6-decimal rounding the callers apply.  Mirror:
    ``-ln(-ln((((h*h + h) % p) % R + 0.5) / R))`` with
    ``h = fold('<seed>:' || id::VARCHAR)``."""
    h = char_fold_hash(F.concat(F.lit(f"{seed}:"), id_expr.cast("string")))
    mixed = (h * h + h) % F.lit(HASH_MOD)
    u = (mixed % resolution + F.lit(0.5)) / resolution
    return -F.log(-F.log(u))


def dsir_resample(
    df: DataFrame,
    is_target: Column,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
    seed: int = 7,
    temperature: float = 1.0,
) -> DataFrame:
    """The SELECTION step DSIR exists for (Xie et al. 2023 §2: sampling
    without replacement via the Gumbel-top-k trick): perturb each raw-
    pool document's importance score with deterministic Gumbel noise
    and keep the global top ``k`` — a sample whose inclusion
    probabilities track the importance weights, unlike a hard top-k,
    which collapses onto near-duplicate high-scorers.

    Score = ``avg_logratio/temperature + g`` with ``g`` a UNIT Gumbel
    draw from :func:`gumbel_key` (seeded, hash-derived, oracle-exact)
    and ``avg_logratio`` from :func:`dsir_importance` — the Gumbel-max
    identity then makes inclusion probabilities ∝ exp(w/T): higher
    temperature → noisier, more diverse selection; ``temperature → 0``
    degenerates to deterministic top-k (review r10: the previous
    ``w + g/T`` form implemented the inverse of this contract; at the
    default T=1 the two forms are value-identical, so the registered
    query and its oracle are unaffected).  Rounded to 6 decimals BEFORE
    ranking so both engines rank identical values; ties broken by
    ``id_col``.

    Output: (doc_id, avg_logratio, gumbel_score, sel_rank) for the
    ``sel_rank <= k`` winners.

    Scale shape: the importance sub-plan's two exchanges, one map-side
    projection for the perturbation, then the distributed exact-rank
    path (``operators/ranks.exact_global_row_number``: range
    repartition + per-partition window + broadcast offsets) — never a
    single-reducer global window or sort (the round-5 scale-killer
    class this query is pinned against)."""
    from firmable_company_data_pipeline_spark.operators import ranks

    scored = dsir_importance(
        df, is_target, text_col, id_col, n_buckets, alpha
    ).select(
        id_col,
        "avg_logratio",
        F.round(
            F.col("avg_logratio") / temperature + gumbel_key(F.col(id_col), seed),
            6,
        ).alias("gumbel_score"),
    )
    # ascending-only rank machinery: negate the (already-rounded) score
    # — IEEE negation is exact, so no second rounding can disagree
    ranked = ranks.exact_global_row_number(
        scored.withColumn("_neg", -F.col("gumbel_score")),
        ["_neg", id_col],
        out="sel_rank",
    )
    return (
        ranked.filter(F.col("sel_rank") <= k)
        .select(id_col, "avg_logratio", "gumbel_score", "sel_rank")
    )


def dsir_resample_by_source(
    df: DataFrame,
    is_target: Column,
    budget: int,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
    seed: int = 7,
    temperature: float = 1.0,
) -> DataFrame:
    """Budgeted-per-source Gumbel-top-k DSIR selection — the mixing-
    aware variant of :func:`dsir_resample`: each raw-pool SOURCE keeps
    its own top ``budget`` Gumbel-perturbed documents, so one
    target-like source can never crowd every other source out of the
    sample (the per-source budget is how production mixing plans
    consume importance weights).  Same seeded, oracle-exact
    perturbation and ``exp(w/T)`` temperature contract as the global
    arm.

    Output: (doc_id, source, avg_logratio, gumbel_score, src_rank)
    for the ``src_rank <= budget`` winners of each source.

    Scale shape: the importance sub-plan's two exchanges (``source``
    rides the tf aggregation keys via ``carry_cols`` — id is unique,
    so the wider key adds NO exchange and no join), then ONE window
    per source partition — parallel across sources, never global.
    For a corpus where a single source is itself shuffle-partition-
    sized, swap the exact per-source rank for an ``approx_percentile``
    score threshold broadcast back (the :func:`quality_prune` seam —
    documented approximation, same output contract)."""
    scored = dsir_importance(
        df, is_target, text_col, id_col, n_buckets, alpha,
        carry_cols=(source_col,),
    ).select(
        id_col,
        source_col,
        "avg_logratio",
        F.round(
            F.col("avg_logratio") / temperature + gumbel_key(F.col(id_col), seed),
            6,
        ).alias("gumbel_score"),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.desc("gumbel_score"), F.asc(id_col)
    )
    return (
        scored.withColumn("src_rank", F.row_number().over(w))
        .filter(F.col("src_rank") <= budget)
        .select(id_col, source_col, "avg_logratio", "gumbel_score", "src_rank")
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding near-duplicate pairs restricted to IVF cells — the
    sub-quadratic scale path for ``dedup.embedding_cosine_pairs``
    (SemDeDup-style: cluster, then pair only within clusters).

    Candidate generation is the IVF assignment from
    ``similarity_search.ivf_topk`` (deterministic lowest-id centroids so
    the oracle reproduces the index bit-for-bit; swap in
    ``kmeans_centroids`` for recall).  Cost: one broadcast cross-score
    against n_cells rows (map-only) + one self-join on the cell id —
    expected pair work Σ|cell|² ≈ N²/n_cells, tunable by n_cells, vs the
    exact operator's N².  Recall < 1 across cell boundaries by
    construction (documented approximation, same contract as IVF ANN).

    Output: (id_a, id_b, cell, cos_sim) with id_a < id_b, cos ≥
    threshold.
    """
    from firmable_company_data_pipeline_spark.operators.similarity_search import (
        nearest_cells,
    )

    cents = broadcast(
        emb.select(F.col(id_col).alias("cell"), to_double(F.col(vec_col)).alias("centv"))
        .orderBy("cell")
        .limit(n_cells)
        .withColumn("centn", F.sqrt(norm2(F.col("centv"))))
    )
    # Shared: the pair self-join reads the assignment on BOTH sides and
    # picks its strategy from this frame's size.  nearest_cells is
    # map-only (advice r7: the former per-id window here was a
    # corpus-sized shuffle).
    assigned = materialize(
        nearest_cells(spread(emb), cents, id_col, vec_col, "id", 1), "share"
    )
    a = assigned.select(
        F.col("id").alias("id_a"), "cell", F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = assigned.select(
        F.col("id").alias("id_b"), "cell", F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cell", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quality_prune(
    docs_with_quality: DataFrame,
    keep_frac: float = 0.6,
    quality_col: str = "quality",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source adaptive quality pruning: keep the top ``keep_frac``
    of each source's documents by quality score (rank ties broken by
    id, so the cut is deterministic).  Sources with different quality
    distributions each keep their best — the standard alternative to
    one global threshold that would wipe out whole sources.

    Output (doc_id, source, quality, src_rank, n_src, keep).

    Shape: ONE window per source partition (rank + partition count
    share the same exchange) — parallel across sources, never a global
    sort.  For a corpus where single sources are shuffle-partition-
    sized (billions of docs in one source at 100 TB), swap the exact
    rank for an ``approx_percentile`` threshold per source (broadcast
    back) — documented approximation, same output contract.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    wn = Window.partitionBy(group_col)
    ranked = docs_with_quality.select(
        F.col(id_col),
        F.col(group_col),
        F.col(quality_col),
        F.row_number().over(w).alias("src_rank"),
        F.count(F.lit(1)).over(wn).alias("n_src"),
    )
    return ranked.withColumn(
        "keep",
        F.col("src_rank") <= F.ceil(F.col("n_src") * keep_frac).cast("long"),
    )


# Add-k smoothing constant for the bigram LM (Jurafsky & Martin ch. 3's
# add-k with k < 1; k = 0.5 keeps unseen-bigram mass moderate).
BIGRAM_ADD_K = 0.5


def bigram_surprise(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mean bigram surprisal −ln p(w2|w1) per document with add-k
    smoothed conditional probabilities estimated from the corpus itself
    — the next step up from ``unigram_surprise`` toward a real LM
    perplexity filter (same plan shape again: swap the count-derived
    probability for a model-scored column).

    ``p(w2|w1) = (c(w1 w2) + k) / (c(w1·) + k·V)`` where ``c(w1·)`` is
    the context count (Σ over following words) and ``V`` the corpus
    vocabulary size.

    Shape: the bigram list is built MAP-SIDE inside the tokenize
    projection (zip of the token array with its own tail) — no window,
    no per-position shuffle; occurrences then collapse to per-(doc,
    bigram) counts exactly like the unigram operator.  Context counts
    and V derive from the bigram/token tables (hash-aggs over
    dictionary-sized inputs); V is a broadcast 1-row aggregate.  The
    per-doc mean is count-weighted over distinct (doc, bigram) rows —
    |distinct doc-bigrams| join work, not |occurrences|.
    """
    t = tokens(F.col(text_col))
    n = F.size(t)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.explode(bigrams).alias("bg"))
        .groupBy("id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c2 = tf.groupBy("bg").agg(F.sum("c").alias("bg_n"))
    ctx = c2.groupBy(F.split(F.col("bg"), " ").getItem(0).alias("w1")).agg(
        F.sum("bg_n").alias("ctx_n")
    )
    vocab = (
        spread(df)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .agg(F.count_distinct("tok").alias("v"))
    )
    scored = (
        tf.join(c2, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
        .join(ctx, "w1")
        .join(broadcast(vocab), how="cross")
    )
    logp = F.log(
        (F.col("bg_n") + F.lit(BIGRAM_ADD_K))
        / (F.col("ctx_n") + F.lit(BIGRAM_ADD_K) * F.col("v"))
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(-F.sum(F.col("c") * logp) / F.sum("c"), 4).alias(
                "avg_bigram_surprise"
            ),
        )
        .select(F.col("id").alias(id_col), "n_bigrams", "avg_bigram_surprise")
    )


# Boilerplate screen: an n-gram is "boilerplate" within a source when it
# appears in at least BOILER_DOC_DECIFRAC/10 of that source's documents
# (integer-rational threshold — `10*doc_freq >= n_docs` — so the
# comparison is exact on both engines, never a float multiply).
BOILER_N = 2
BOILER_DOC_DECIFRAC = 1  # 1/10 of the source's documents


def boilerplate_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    n: int = BOILER_N,
    doc_decifrac: int = BOILER_DOC_DECIFRAC,
) -> DataFrame:
    """Cross-document boilerplate detection (CCNet §4.2-adjacent: CCNet
    drops paragraphs duplicated across documents; here the unit is the
    n-gram because the corpus is single-line text), per source.

    An n-gram is boilerplate in a source when it occurs in at least
    ``doc_decifrac``/10 of that source's documents — the shared
    header/footer/navigation phrases a crawl pipeline must discount
    before near-dup scoring or quality filtering.  Output, one row per
    document that has at least one n-gram: (doc_id, source, n_gram,
    n_boiler_gram, boiler_frac) where the counts are n-gram
    OCCURRENCES and boiler_frac = n_boiler_gram / n_gram.

    Shape (three exchanges, no window, no skew-prone hot key):

    1. map-side n-gram assembly (`F.get` over the in-row token array —
       the ``_gram_rows`` trick), then one (source, doc, gram)
       hash-groupBy with partial combine;
    2. one (source, gram) hash-groupBy of that — doc-frequency —
       with partial combine;
    3. the boilerplate set is then **provably broadcastable**: within a
       source, sum_g doc_freq(g) <= n_docs * L (L = n-grams per doc),
       so at most L * 10/doc_decifrac grams can clear the threshold —
       a bound independent of corpus size.  The per-doc rollup is a
       broadcast left-join + one (doc) hash-groupBy.

    At 100 TB nothing in the plan holds more than the gram vocabulary
    of a single aggregation partition; the only data-sized shuffles are
    the two hash-aggs, both map-side-combined.
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        tokens(F.col(text_col)).alias("toks"),
    )
    ex = toks.select(
        "id", "source", "toks", F.posexplode("toks").alias("pos", "tok")
    )
    parts = [F.col("tok")] + [F.get("toks", F.col("pos") + i) for i in range(1, n)]
    gram = F.when(
        parts[-1].isNotNull() if n > 1 else F.lit(True),
        F.concat_ws(" ", *parts),
    )
    occ = ex.select("id", "source", gram.alias("gram")).filter(
        F.col("gram").isNotNull()
    )
    # pg feeds BOTH the doc-frequency branch and the per-doc rollup's
    # probe side.  Three narrow columns per (doc, gram); at 100 TB swap
    # the gram string for xxhash64(gram) on both join sides to shrink
    # the materialized footprint to 8-byte keys.
    pg = (
        occ.groupBy("source", "id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(materialize, "iterate")
    )
    doc_freq = pg.groupBy("source", "gram").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    src_docs = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    boiler = (
        doc_freq.join(broadcast(src_docs), "source")
        .filter(F.col("doc_freq") * 10 >= F.col("n_docs") * doc_decifrac)
        .select("source", "gram", F.lit(True).alias("_boiler"))
    )
    rolled = (
        pg.join(broadcast(boiler), ["source", "gram"], "left")
        .groupBy("id", "source")
        .agg(
            F.sum("c").alias("n_gram"),
            F.coalesce(
                F.sum(F.when(F.col("_boiler"), F.col("c"))), F.lit(0)
            ).alias("n_boiler_gram"),
        )
    )
    from firmable_company_data_pipeline_spark.functions.money import half_up

    return rolled.select(
        F.col("id").alias(id_col),
        "source",
        "n_gram",
        "n_boiler_gram",
        # half_up, not round(): x/640-style ratios land on exact 6-dp
        # ties where Spark's decimal HALF_UP and DuckDB's
        # round-the-double disagree (the documented cross-engine class)
        half_up(F.col("n_boiler_gram") / F.col("n_gram"), 6).alias(
            "boiler_frac"
        ),
    )


# Log-odds clamp before the sigmoid: |log_odds| above 30 already rounds
# to probability 0.0 / 1.0 at 6 decimals, and clamping keeps exp()
# comfortably in range on every engine (exp(30) ~ 1.07e13 — no overflow,
# no engine-specific inf handling in the oracle comparison).
NB_LOGODDS_CLAMP = 30.0


def nb_quality_weights(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """Closed-form multinomial Naive-Bayes trainer for the model-based
    quality classifier (the fastText/DCLM-style hashed linear scorer
    production pipelines rank with — Joulin et al. 2016's bag-of-feature
    linear model; DataComp-LM trains the same shape with fastText).

    The feature table is EXACTLY :func:`dsir_weight_table` with the
    labeled positive class as the target: per hashed-bigram bucket,
    w_b = ln P(b|good) − ln P(b|bad), add-``alpha`` smoothed over the
    bucket space (every bucket in ``range(n_buckets)`` gets a row, so
    unseen-at-training buckets score the finite smoothed floor).  On
    top of that the class-prior log-odds ln((n_good + α)/(n_bad + α))
    is stored as the ``bucket = -1`` row — the whole trained model
    ships as ONE ≤ ``n_buckets``+1-row table, broadcastable anywhere
    (the frozen-table streaming pattern shared with DSIR).

    ``label`` is any boolean Column over ``df``'s rows; pass the
    LABELED TRAIN SPLIT as ``df`` (filter before calling) — scoring any
    corpus against the frozen table is :func:`nb_quality_score`.

    Scale shape: the dsir_weight_table plan (one corpus-sized bigram
    hash-agg, one dictionary-sized distribution agg) plus one 1-row
    class-count aggregate — training on 100 TB of labeled docs is two
    exchanges.
    """
    feats = dsir_weight_table(df, label, text_col, id_col, n_buckets, alpha)
    prior = df.agg(
        F.sum(F.when(label, F.lit(1)).otherwise(F.lit(0))).alias("npos"),
        F.sum(F.when(~label, F.lit(1)).otherwise(F.lit(0))).alias("nneg"),
    ).select(
        F.lit(-1).cast("long").alias("bucket"),
        (
            F.log(F.col("npos") + F.lit(alpha))
            - F.log(F.col("nneg") + F.lit(alpha))
        ).alias("w"),
    )
    return feats.unionByName(prior)


def nb_quality_score(
    docs: DataFrame,
    weights: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score documents against a frozen quality-classifier table from
    :func:`nb_quality_weights` (or the import-gated
    :func:`lr_quality_weights` — same ``(bucket, w)`` + ``bucket = -1``
    intercept contract, so one scorer serves both estimators).  A table
    WITHOUT a ``bucket = -1`` row (e.g. a raw :func:`dsir_weight_table`)
    scores with prior 0 — even prior odds (advice r10; previously this
    case silently returned an empty frame).

    Output per document with ≥ 1 hashed bigram: (doc_id, n_grams,
    log_odds, prob_good, is_good) where ``log_odds = prior +
    Σ_b c(b)·w_b`` rounded to 4 decimals BEFORE the sigmoid (both
    engines then exponentiate the identical double), ``prob_good =
    σ(clamp(log_odds, ±NB_LOGODDS_CLAMP))`` rounded to 6, and
    ``is_good = 1`` iff log_odds > 0.  Documents with fewer than two
    tokens have no features and are absent — the same contract as the
    DSIR scorer.

    Scale shape (the streaming job's per-batch fold): one bigram-bucket
    hash-agg over ``docs``, a broadcast join against the ≤
    ``n_buckets``+1-row table, one per-doc rollup, then a map-side
    broadcast crossJoin of the 1-row prior — scoring is two exchanges
    at any corpus size, with no dependence on the training corpus.
    """
    # The prior is folded through an aggregate so the broadcast side is
    # ALWAYS exactly one row (advice r10): a bare filter+crossJoin
    # silently emptied the whole result when the table lacked the
    # ``bucket = -1`` row — e.g. a raw :func:`dsir_weight_table` passed
    # directly, which is a legitimate call (score against the DSIR
    # log-ratio features with no class prior): it now scores with
    # prior 0, i.e. even prior odds.  max() over the ≤1 matching row is
    # the row's value; over zero rows it is NULL → coalesce to 0.0.
    prior = weights.filter(F.col("bucket") == -1).agg(
        F.coalesce(F.max("w"), F.lit(0.0)).alias("prior_w")
    )
    feats = weights.filter(F.col("bucket") >= 0)
    tf = _dsir_tf(docs, text_col, id_col, n_buckets)
    lo = (
        tf.join(broadcast(feats), "bucket")
        .groupBy("id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.sum(F.col("c") * F.col("w")).alias("_s"),
        )
        .join(broadcast(prior), how="cross")
        .select(
            F.col("id").alias(id_col),
            "n_grams",
            F.round(F.col("_s") + F.col("prior_w"), 4).alias("log_odds"),
        )
    )
    clamped = F.least(
        F.greatest(F.col("log_odds"), F.lit(-NB_LOGODDS_CLAMP)),
        F.lit(NB_LOGODDS_CLAMP),
    )
    return lo.select(
        id_col,
        "n_grams",
        "log_odds",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-clamped)), 6).alias(
            "prob_good"
        ),
        (F.col("log_odds") > 0).cast("int").alias("is_good"),
    )


def lr_quality_weights(
    df: DataFrame,
    label: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    max_iter: int = 50,
    reg_param: float = 0.0,
) -> DataFrame:
    """MLlib LogisticRegression arm of the quality classifier — same
    hashed-bigram features, same output contract as
    :func:`nb_quality_weights` (``(bucket, w)`` rows + the intercept at
    ``bucket = -1``), so :func:`nb_quality_score` scores either table.
    Discriminative training beats the NB closed form when features
    correlate (NB double-counts them); it costs L-BFGS passes over the
    featurized corpus instead of one aggregation, and its weights are
    solver outputs — NOT oracle-expressible, so this arm is pytest-
    gated, never registered (the established import-gate seam:
    rapidfuzz parity, PIL decode).

    Features are the dense ``n_buckets``-dim bucket-count vector per
    document, assembled JVM-side from the shared ``_dsir_tf`` rows and
    handed to MLlib via ``array_to_vector`` — no Python-side row work;
    only the n_buckets-dim coefficient vector returns to the driver.
    """
    try:
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover - env-gated
        raise NotImplementedError(
            "lr_quality_weights needs pyspark.ml (numpy): " + str(exc)
        ) from exc

    tf = _dsir_tf(df, text_col, id_col, n_buckets, is_target=label)
    counts = (
        tf.groupBy("id", "_tgt")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("bucket"), F.col("c")))
            ).alias("m")
        )
        .select(
            F.col("_tgt").cast("double").alias("label"),
            array_to_vector(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_buckets - 1)),
                    # try_element_at, not element_at: under ANSI mode
                    # (the Spark 4 default) element_at on a map RAISES
                    # MAP_KEY_DOES_NOT_EXIST for the common missing-
                    # bucket case instead of returning NULL, so the
                    # coalesce would never run (advice r10)
                    lambda b: F.coalesce(
                        F.try_element_at("m", b.cast("long")), F.lit(0)
                    ).cast("double"),
                )
            ).alias("features"),
        )
    )
    model = LogisticRegression(maxIter=max_iter, regParam=reg_param).fit(
        counts
    )
    rows = [(b, float(w)) for b, w in enumerate(model.coefficients)]
    rows.append((-1, float(model.intercept)))
    return df.sparkSession.createDataFrame(rows, "bucket long, w double")


# Stupid-Backoff discount (Brants et al. 2007, "Large Language Models in
# Machine Translation" §3: alpha = 0.4 "works well" at web scale and
# needs no normalization) and the add-k floor applied at the UNIGRAM
# level only, so an OOV token scores a finite smoothed probability
# instead of ln(0) (a documented deviation from pure SB, which leaves
# OOV at score 0; k matches BIGRAM_ADD_K).
SB_ALPHA = 0.4
SB_UNIGRAM_ADD_K = 0.5


def trigram_lm_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Train the frozen half of the Stupid-Backoff trigram LM (the
    CCNet-style reference-free quality signal — Wenzek et al. 2020 bin
    corpora by LM perplexity; Brants et al. 2007's Stupid Backoff is
    the count-table form that trains in one aggregation pass): ONE
    table holding all three n-gram orders plus the token total,

        (order, gram, c)  with  order ∈ {1, 2, 3}
        and the ``order = 0, gram = ''`` row carrying N = Σ unigram c

    — the same ship-one-broadcastable-table contract as
    :func:`dsir_weight_table` / :func:`nb_quality_weights`, so the
    streaming scorer composes identically (frozen table read per
    batch, map-side joins).

    Scale shape: ONE corpus pass — unigrams, bigrams and trigrams are
    assembled MAP-SIDE from the in-row token array (transform/zip_with
    over slices, no window, no posexplode shuffle) into a single tagged
    gram stream, then one hash-agg with map-side combine; the total is
    a 1-row aggregate over the dictionary-sized result.  The table is
    Zipf-bounded (vocab + bigram + trigram vocabularies), not
    corpus-sized; production builds prune ``c < threshold`` rows before
    publishing — scoring below treats absent rows as unseen, so pruning
    only sharpens the backoff, never breaks it."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    empty = F.array().cast("array<struct<o:int,g:string>>")

    def tag(order: int, g: Column) -> Column:
        return F.struct(F.lit(order).alias("o"), g.alias("g"))

    unis = F.transform(t, lambda x: tag(1, x))
    bis = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: tag(2, F.concat_ws(" ", a, b)),
        ),
    ).otherwise(empty)
    bc = F.zip_with(
        F.slice(t, 2, n - 2),
        F.slice(t, 3, n - 2),
        lambda b, c: F.concat_ws(" ", b, c),
    )
    tris = F.when(
        n >= 3,
        F.zip_with(
            F.slice(t, 1, n - 2), bc, lambda a, x: tag(3, F.concat_ws(" ", a, x))
        ),
    ).otherwise(empty)
    grams = (
        spread(df)
        .select(F.explode(F.concat(unis, bis, tris)).alias("gr"))
        .select(F.col("gr.o").alias("order"), F.col("gr.g").alias("gram"))
        .groupBy("order", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = grams.filter(F.col("order") == 1).agg(
        F.lit(0).alias("order"), F.lit("").alias("gram"), F.sum("c").alias("c")
    )
    return grams.unionByName(total)


def trigram_lm_score_docs(
    docs: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = SB_ALPHA,
    add_k: float = SB_UNIGRAM_ADD_K,
) -> DataFrame:
    """Score documents against a frozen :func:`trigram_lm_table` —
    per-trigram Stupid-Backoff score

        S(c | a b) = c3(abc)/c2(ab)                    if c3 > 0
                   = α · c2(bc)/c1(b)                  elif c2(bc) > 0
                   = α² · (c1(c) + k)/(N + k·V)        otherwise

    (α = 0.4 per Brants et al. 2007; the final unigram level is
    add-``k`` smoothed over the train vocabulary V so OOV tokens score
    finitely — documented deviation from pure SB's score-0 OOV).
    Output per document with ≥ 1 trigram: (doc_id, n_trigrams,
    avg_logscore) with ``avg_logscore = Σ c·ln S / Σ c`` rounded to 6
    (count-weighted over DISTINCT doc-trigrams — algebraically the
    occurrence-level mean).  Fluent text re-uses seen trigrams and
    scores high; shuffled text with the identical unigram multiset
    falls through to the α²-discounted floor — exactly the signal
    unigram surprisal cannot see (pinned by the planted fixture in
    tests/test_curation_ops.py).

    Scale shape (the frozen-table fold, shared with
    :func:`dsir_score_docs`): one (doc, trigram) hash-agg over ``docs``
    (trigrams assembled map-side), five broadcast joins against the
    dictionary-sized model slices (order-3 / order-2 ×2 / order-1 ×2),
    a broadcast 1-row totals crossJoin, one per-doc rollup — scoring is
    two exchanges at any corpus size.  If the trigram slice outgrows
    the broadcast threshold, drop the hint: the joins degrade to
    shuffle hash joins on the gram key and the contract is unchanged."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    bc = F.zip_with(
        F.slice(t, 2, n - 2),
        F.slice(t, 3, n - 2),
        lambda b, c: F.concat_ws(" ", b, c),
    )
    tris = F.when(
        n >= 3,
        F.zip_with(F.slice(t, 1, n - 2), bc, lambda a, x: F.concat_ws(" ", a, x)),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        spread(docs)
        .select(F.col(id_col).alias("id"), F.explode(tris).alias("tg"))
        .groupBy("id", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    parts = F.split(F.col("tg"), " ")
    keyed = tf.select(
        "id",
        "tg",
        "c",
        F.concat_ws(" ", parts[0], parts[1]).alias("w12"),
        F.concat_ws(" ", parts[1], parts[2]).alias("w23"),
        parts[1].alias("w2"),
        parts[2].alias("w3"),
    )
    m3 = model.filter(F.col("order") == 3).select(
        F.col("gram").alias("tg"), F.col("c").alias("c3")
    )
    m2a = model.filter(F.col("order") == 2).select(
        F.col("gram").alias("w12"), F.col("c").alias("c2ab")
    )
    m2b = model.filter(F.col("order") == 2).select(
        F.col("gram").alias("w23"), F.col("c").alias("c2bc")
    )
    m1b = model.filter(F.col("order") == 1).select(
        F.col("gram").alias("w2"), F.col("c").alias("c1b")
    )
    m1c = model.filter(F.col("order") == 1).select(
        F.col("gram").alias("w3"), F.col("c").alias("c1c")
    )
    totals = model.agg(
        F.sum(F.when(F.col("order") == 0, F.col("c"))).alias("n_tok"),
        F.sum((F.col("order") == 1).cast("long")).alias("v"),
    )
    scored = (
        keyed.join(broadcast(m3), "tg", "left")
        .join(broadcast(m2a), "w12", "left")
        .join(broadcast(m2b), "w23", "left")
        .join(broadcast(m1b), "w2", "left")
        .join(broadcast(m1c), "w3", "left")
        .join(broadcast(totals), how="cross")
    )
    s = (
        F.when(F.col("c3").isNotNull(), F.col("c3") / F.col("c2ab"))
        .when(
            F.col("c2bc").isNotNull(), F.lit(alpha) * F.col("c2bc") / F.col("c1b")
        )
        .otherwise(
            F.lit(alpha * alpha)
            * (F.coalesce(F.col("c1c"), F.lit(0)) + F.lit(add_k))
            / (F.col("n_tok") + F.lit(add_k) * F.col("v"))
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.round(F.sum(F.col("c") * F.log(s)) / F.sum("c"), 6).alias(
                "avg_logscore"
            ),
        )
        .select(F.col("id").alias(id_col), "n_trigrams", "avg_logscore")
    )


def ngram_diversity(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Distinct-n diversity card (Li et al. 2016, "A Diversity-Promoting
    Objective Function for Neural Conversation Models" — distinct-1/2
    are the standard text-diversity metrics; templated or looping
    sources collapse toward 0, varied prose stays high): per source,

        distinct_n = |unique n-grams| / n-gram occurrences,  n ∈ {1,2,3}

    Output: (source, n_tokens, distinct_1, distinct_2, distinct_3),
    ratios rounded to 6.  Complements :func:`repetition_stats` (per-DOC
    Gopher screens) and ``zipf_fit_report`` (frequency-shape) with the
    corpus-level diversity number a dataset card quotes.

    Scale shape: the :func:`trigram_lm_table` gram assembly — all three
    orders built MAP-SIDE from the in-row token array into one tagged
    stream — then one (source, order, gram) hash-agg with map-side
    combine and a (source, order) rollup pivoted in-expression; two
    exchanges at any corpus size, output bounded by sources."""
    t = tokens(F.col(text_col))
    n = F.size(t)
    empty = F.array().cast("array<struct<o:int,g:string>>")

    def tag(order: int, g: Column) -> Column:
        return F.struct(F.lit(order).alias("o"), g.alias("g"))

    unis = F.transform(t, lambda x: tag(1, x))
    bis = F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 1, n - 1),
            F.slice(t, 2, n - 1),
            lambda a, b: tag(2, F.concat_ws(" ", a, b)),
        ),
    ).otherwise(empty)
    bc = F.zip_with(
        F.slice(t, 2, n - 2),
        F.slice(t, 3, n - 2),
        lambda b, c: F.concat_ws(" ", b, c),
    )
    tris = F.when(
        n >= 3,
        F.zip_with(
            F.slice(t, 1, n - 2), bc, lambda a, x: tag(3, F.concat_ws(" ", a, x))
        ),
    ).otherwise(empty)
    per = (
        spread(df)
        .select(
            F.col(source_col).alias("source"),
            F.explode(F.concat(unis, bis, tris)).alias("gr"),
        )
        .select("source", F.col("gr.o").alias("o"), F.col("gr.g").alias("g"))
        .groupBy("source", "o", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source", "o")
        .agg(F.count(F.lit(1)).alias("n_unique"), F.sum("c").alias("n_occ"))
    )

    def ratio(o: int) -> Column:
        return F.round(
            F.sum(F.when(F.col("o") == o, F.col("n_unique")))
            / F.sum(F.when(F.col("o") == o, F.col("n_occ"))),
            6,
        )

    return per.groupBy("source").agg(
        F.sum(F.when(F.col("o") == 1, F.col("n_occ")))
        .cast("long")
        .alias("n_tokens"),
        ratio(1).alias("distinct_1"),
        ratio(2).alias("distinct_2"),
        ratio(3).alias("distinct_3"),
    )


def lm_perplexity_bins(
    docs: DataFrame,
    model: DataFrame,
    n_bins: int = 3,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CCNet head/middle/tail card (Wenzek et al. 2020 §3.3: corpora
    are released in LM-perplexity TERCILES per language; here per
    source): bin each source's documents into ``n_bins`` equal-count
    buckets by their Stupid-Backoff LM score and report the bin
    boundaries and sizes — the quality-tiering artifact a corpus
    release quotes.  Bin 1 = the most-fluent (highest-score) tier.

    Output per (source, bin): (source, bin, n_docs, n_unscored,
    min_logscore, max_logscore, avg_logscore) — ``n_unscored`` (the
    same value on every bin row of a source) counts the source's
    documents too short to score (< 3 tokens ⇒ no trigrams), which
    CANNOT be tiered and are excluded from the bins; surfacing the
    count keeps a dataset card quoting these tiers honest about the
    source's full document population (review r11: they were silently
    absent before).  A source whose documents are ALL unscoreable
    still emits one row (bin NULL, n_docs 0, the logscore columns
    NULL) so its n_unscored count survives — the per-source frame is
    the preserved side of the final join (advice r11: the previous
    inner join dropped such sources entirely).

    Shape: the frozen-table scorer (:func:`trigram_lm_score_docs` — two
    exchanges) + one ntile window PER SOURCE PARTITION (parallel across
    sources, never a global sort — the dsir_resample_by_source window
    class) + one (source, bin) hash-agg.  For a single source that is
    itself shuffle-partition-sized, swap the per-source ntile for
    approx_percentile cutoffs broadcast back (the quality_prune seam;
    documented approximation)."""
    base = spread(docs).select(
        F.col(id_col), F.col(source_col).alias("source")
    )
    # Materialized ONCE (r14, verdict r13 #6): the unscored rollup and
    # the binning window BOTH consume the scored frame — without the pin
    # the whole five-broadcast-join scorer executes twice, and the two
    # consumers are sibling subtrees of one action, so a lazy pin would
    # still race the first materialization.  Three narrow columns per
    # doc; downstream join strategy is broadcast-hinted (stats-free
    # checkpoint is safe here).
    scored = (
        base.join(
            trigram_lm_score_docs(docs, model, text_col, id_col),
            id_col,
            "left",
        )
        .select(id_col, "source", "avg_logscore")  # n_trigrams unused here
        .transform(materialize, "iterate", eager=True)
    )
    unscored = scored.groupBy("source").agg(
        F.sum(F.col("avg_logscore").isNull().cast("long")).alias("n_unscored")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("avg_logscore"), F.asc(id_col)
    )
    binned = scored.filter(F.col("avg_logscore").isNotNull()).withColumn(
        "bin", F.ntile(n_bins).over(w)
    )
    per_bin = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("avg_logscore").alias("min_logscore"),
        F.max("avg_logscore").alias("max_logscore"),
        F.round(F.avg("avg_logscore"), 6).alias("avg_logscore"),
    )
    # unscored carries EVERY source (it aggregates the unfiltered doc
    # frame), so left-joining the bin rollup onto it preserves
    # all-unscoreable sources as a single (bin NULL, n_docs 0) row.
    # Both sides are source×bin-bounded; broadcast the smaller rollup.
    return unscored.join(broadcast(per_bin), "source", "left").select(
        "source",
        "bin",
        F.coalesce(F.col("n_docs"), F.lit(0).cast("long")).alias("n_docs"),
        "n_unscored",
        "min_logscore",
        "max_logscore",
        "avg_logscore",
    )
