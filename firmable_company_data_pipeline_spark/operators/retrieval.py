"""Retrieval / training-mix operators (charter extension, round 4 —
no reference counterpart; the reference stops at fuzzy entity matching,
``transform/entity_matching.py``).

Four operators, all UDF-free DataFrame compositions:

* ``bm25_topk``            — BM25-ranked keyword retrieval over the
                             corpus (Robertson/Spärck Jones idf with the
                             Lucene ``ln(1 + ...)`` floor).
* ``random_project``       — deterministic ±1 random-projection
                             (Achlioptas-style) embedding reduction;
                             the sign matrix derives from the repo's
                             char-fold hash so any engine reproduces it.
* ``mixing_plan``          — temperature-weighted per-source sampling
                             quotas (the w_i ∝ n_i^alpha dataset-mixing
                             rule used for multi-source pretraining).
* ``bpe_pair_counts``      — byte-pair-encoding merge-step statistics:
                             corpus-weighted adjacent-character-pair
                             frequencies over the distinct-word table.

Scale shapes: BM25 filters occurrences to the (broadcast) query-term
set BEFORE any shuffle, so only matching postings move; its df/idf
tables are bounded by |query| and broadcast. Random projection is
map-only against a literal sign matrix (a broadcast constant at 100 TB).
The mixing plan aggregates to one row per source. BPE pair counting
shuffles the distinct-word table (vocabulary-sized, not corpus-sized)
and never the raw occurrences beyond the first word-count hash-agg.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from firmable_company_data_pipeline_spark.functions.textstats import tokens
from firmable_company_data_pipeline_spark.functions.vectors import dot, to_double
from firmable_company_data_pipeline_spark.session import materialize, release, spread

# BM25 shape parameters (standard Robertson defaults).
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 20,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents for a keyword query, ranked by BM25.

    ``score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    (tf(t,d) + k1·(1 − b + b·|d|/avgdl))`` with
    ``idf(t) = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))`` (the Lucene
    non-negative variant).

    Plan shape: document lengths are a map-only projection; occurrences
    are filtered to the broadcast query-term set *before* the (id, term)
    hash-agg, so posting-list construction only shuffles matching
    occurrences (at 100 TB: |postings of q|, not |corpus tokens|).  The
    df table is ≤ |query| rows → broadcast; N and avgdl are broadcast
    1-row aggregates; the final top-k is a TakeOrdered, never a global
    sort.  Output (doc_id, bm25, rank), rank 1-based, score rounded to
    6 dp with doc_id tie-break.
    """
    terms = F.array(*[F.lit(t) for t in query_terms])
    toks = spread(docs).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    sized = toks.select("id", "toks", F.size("toks").alias("dl"))
    stats = sized.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    occ = sized.select(
        "id", "dl", F.explode("toks").alias("tok")
    ).filter(F.array_contains(terms, F.col("tok")))
    # df_t derives FROM tf and joins back to it (once to build the
    # broadcast df table, once for the probe side).  Size is bounded by
    # |matched docs| × |query terms|.
    tf = (
        occ.groupBy("id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .transform(materialize, "iterate")
    )
    df_t = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(broadcast(df_t), "tok")
        .join(broadcast(stats), how="cross")
        .groupBy("id")
        # 4 dp (not 6): the per-doc sum has ≤ |query| addends whose
        # order differs between engines; 4 dp absorbs the last-ulp
        # drift while keeping rank ties deterministic (rank is computed
        # AFTER rounding on both engines).
        .agg(F.round(F.sum(contrib), 4).alias("bm25"))
    )
    ranked = scored.select(
        F.col("id").alias(id_col),
        "bm25",
        # Single-partition window over the matched-doc set only; the
        # rank<=k filter keeps the materialized result TakeOrdered-sized.
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("id")))
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Deterministic random projection.


def projection_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """±1 sign matrix [out_dim][in_dim], derived from sha256 of
    ``"{j}|{i}"``.

    The matrix reaches BOTH engines as inlined literals (generated once
    at import time), so only Python-level determinism is required — and
    a cryptographic hash is necessary here: the repo's char-fold hash
    has parity linear in the digit parities of i and j, which collapses
    the matrix to two alternating rows (a useless projection)."""
    import hashlib

    def sign(j: int, i: int) -> int:
        d = hashlib.sha256(f"{j}|{i}".encode()).digest()
        return 1 if d[0] % 2 == 0 else -1

    return [[sign(j, i) for i in range(in_dim)] for j in range(out_dim)]


def random_project(
    emb: DataFrame,
    in_dim: int,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson–Lindenstrauss-style ±1 random projection to ``out_dim``
    dimensions: ``y_j = Σ_i s_ji·x_i / sqrt(out_dim)``.

    The sign matrix is a compile-time literal (``projection_signs``) —
    at 100 TB it is a broadcast constant and the whole operator is one
    map-only projection, zero shuffles.  Output is long-form
    (vec_id, dim, rp_val) so the driver hashes scalars, not arrays.
    """
    signs = projection_signs(in_dim, out_dim)
    scale = 1.0 / math.sqrt(out_dim)
    v = to_double(F.col(vec_col))
    # vectors.dot is the repo's sequential-fold contract (oracle-parity
    # IEEE order) — the sign rows ride as literal arrays.
    outs = [
        F.round(
            dot(v, F.array(*[F.lit(float(s)) for s in signs[j]])) * scale, 6
        )
        for j in range(out_dim)
    ]
    return spread(emb).select(
        F.col(id_col), F.posexplode(F.array(*outs)).alias("dim", "rp_val")
    )


# ---------------------------------------------------------------------------
# Dataset mixing plan.

MIX_ALPHA = 0.5
MIX_BUDGET_TOKENS = 1_000_000


def mixing_plan(
    docs: DataFrame,
    alpha: float = MIX_ALPHA,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-weighted per-source sampling quotas for a token
    budget: ``w_s = n_s^alpha / Σ n^alpha`` (alpha < 1 upsamples small
    sources — the standard multilingual/multi-source pretraining mix),
    ``quota_s = round(w_s · budget)``, ``epochs_s = quota_s / n_s`` (>1
    means the source repeats).

    Plan shape: one hash-agg to a row per source, a broadcast 1-row
    total, map-side arithmetic.  Corpus-size-independent output.
    """
    per_src = (
        spread(docs)
        .groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col(text_col)))).alias("n_tokens"),
        )
        .withColumn("raw_w", F.pow(F.col("n_tokens").cast("double"), alpha))
    )
    total = per_src.agg(F.sum("raw_w").alias("tot_w"))
    weight = F.round(F.col("raw_w") / F.col("tot_w"), 6)
    quota = F.round(weight * budget_tokens, 0).cast("long")
    return (
        per_src.join(broadcast(total), how="cross")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            weight.alias("mix_weight"),
            quota.alias("quota_tokens"),
            F.round(quota / F.col("n_tokens"), 4).alias("epochs"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge-step pair statistics.


def bpe_pair_counts(
    docs: DataFrame,
    top_n: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-weighted adjacent character-pair frequencies — the
    statistic a byte-pair-encoding trainer maximizes at each merge step
    (Sennrich et al. 2016).  Output the ``top_n`` pairs:
    (pair, n_words, n_occurrences, rank).

    Plan shape: word counting is the exact-dedup hash-agg (map-side
    combine, corpus-sized input, vocabulary-sized output); pair
    explosion and the second hash-agg run over the *vocabulary*, which
    is Zipf-bounded — at 100 TB the expensive pass is the first
    hash-agg and everything after is dictionary-scale.  Final top-n is
    a TakeOrdered.
    """
    words = (
        spread(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    cs = F.split(F.col("tok"), "")
    pairs = F.when(
        F.size(cs) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(cs) - 2),
            lambda i: F.concat(
                F.element_at(cs, i + 1), F.element_at(cs, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = words.select("wc", F.explode(pairs).alias("pair"))
    agg = exploded.groupBy("pair").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("wc").alias("n_occurrences"),
    )
    ranked = agg.select(
        "pair",
        "n_words",
        "n_occurrences",
        F.row_number()
        .over(Window.orderBy(F.desc("n_occurrences"), F.asc("pair")))
        .alias("rank"),
    )
    return ranked.filter(F.col("rank") <= top_n)


def apply_mixing(
    docs: DataFrame,
    alpha: float = MIX_ALPHA,
    budget_tokens: int = MIX_BUDGET_TOKENS,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize a :func:`mixing_plan`: per document, how many copies
    enter the training mix.  ``n_copies = floor(epochs_s)`` plus one
    more for the deterministic hash-fraction of the source that covers
    the fractional epoch — expected per-source token volume equals the
    plan quota, with zero RNG (fold-hash bucket of ``"{source}|{id}"``,
    the same device as the stratified split).

    Shape: the plan is one row per source → broadcast join onto the
    corpus scan; the bucket is a map-side projection.  One pass.
    """
    from firmable_company_data_pipeline_spark.functions.textstats import (
        char_fold_hash,
    )

    plan = mixing_plan(docs, alpha, budget_tokens, source_col, text_col)
    bucket = char_fold_hash(
        F.concat_ws("|", F.col("source"), F.col(id_col).cast("string"))
    ) % 100
    e = F.col("epochs")
    frac_buckets = F.floor((e - F.floor(e)) * 100)
    return (
        spread(docs)
        .select(F.col(id_col), F.col(source_col).alias("source"))
        .join(broadcast(plan.select("source", "epochs")), "source")
        .select(
            id_col,
            "source",
            (
                F.floor(e)
                + F.when(bucket < frac_buckets, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_copies"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    checkpoints: tuple[int, ...] = (100, 1000, 5000),
    text_col: str = "text",
) -> DataFrame:
    """Cumulative corpus coverage of the top-N vocabulary: for each
    checkpoint N, the fraction of all token occurrences covered by the
    N most frequent tokens — the tokenizer-sizing curve (how much OOV
    mass a vocab budget leaves behind).

    Output (vocab_size, covered_tokens, coverage) rows, one per
    checkpoint.  Shape: corpus-sized hash-agg to the vocabulary, then —
    because only ranks <= max(checkpoints) can contribute (everything
    beyond adds 0 to every coverage sum) — a TakeOrdered top-max(cp)
    prefilter bounds the rank window by the CHECKPOINT BUDGET, a config
    constant, before the 1-row conditional rollup.  The full vocabulary
    (billions of distinct typo-laden tokens at 100 TB) never flows
    through one reducer; the previous spelling ranked it all (round-6
    fix, the doc_length_deciles defect class).
    """
    max_cp = max(checkpoints)
    # the vocabulary feeds the top-N branch AND the total-sum branch
    freq = (
        spread(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize, "iterate")
    )
    # deterministic total order -> limit picks exactly the rank-filter set
    top = freq.orderBy(F.desc("n"), F.asc("tok")).limit(max_cp)
    ranked = top.select(
        "n", F.row_number().over(Window.orderBy(F.desc("n"), F.asc("tok"))).alias("r")
    )
    total = broadcast(freq.agg(F.sum("n").alias("total")))
    wide = ranked.agg(
        *[
            F.sum(F.when(F.col("r") <= cp, F.col("n")).otherwise(0))
            .cast("long")
            .alias(f"c{cp}")
            for cp in checkpoints
        ]
    ).crossJoin(total)
    stack = ", ".join(f"{cp}, c{cp}" for cp in checkpoints)
    return wide.selectExpr(
        f"stack({len(checkpoints)}, {stack}) as (vocab_size, covered_tokens)",
        "total",
    ).select(
        "vocab_size",
        "covered_tokens",
        F.round(F.col("covered_tokens") / F.col("total"), 6).alias("coverage"),
    )


# Reciprocal-rank-fusion constant (Cormack et al. 2009's k=60).
RRF_K = 60


def hybrid_rrf(
    lexical: DataFrame,
    dense: DataFrame,
    k: int = 10,
    rrf_k: int = RRF_K,
) -> DataFrame:
    """Fuse a lexical (BM25) and a dense (ANN) result list with
    reciprocal-rank fusion: ``rrf(d) = Σ_sys 1/(rrf_k + rank_sys(d))``
    over the systems that returned ``d`` (Cormack, Clarke & Büttcher,
    SIGIR 2009 — rank-only fusion, no score calibration needed).

    Inputs: ``lexical`` with (doc_id, rank), ``dense`` with
    (neighbor_id, rank) — the shapes ``bm25_topk`` and the ANN
    operators emit.  Output: (doc_id, lex_rank, dense_rank, rrf_score,
    rank), top-``k`` by fused score, doc_id ascending tie-break.

    Scale shape: both inputs are ALREADY top-k lists (≤ k_each rows,
    driver-bounded constants at any corpus size), so the fusion
    full-outer join and the final sort are free — the heavy plans are
    the retrieval branches, each independently scale-audited.  No new
    shuffle beyond two ≤k-row exchanges.
    """
    lex = lexical.select(F.col("doc_id"), F.col("rank").alias("lex_rank"))
    den = dense.select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dense_rank")
    )
    fused = (
        lex.join(den, "doc_id", "full_outer")
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round(
                F.coalesce(1.0 / (F.lit(rrf_k) + F.col("lex_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(rrf_k) + F.col("dense_rank")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# Fixed BPE merge table (standard English pairs; any ordered list works —
# `bpe_pair_counts` is the training step that would produce one from the
# corpus).  Applied IN ORDER, each merge replacing all adjacent
# occurrences left-to-right — textbook BPE inference (Sennrich et al.
# 2016 §3).
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"),
    ("th", "e"),
    ("i", "n"),
    ("a", "n"),
    ("an", "d"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
)

# Token delimiter for the spelled representation: codepoint 124 ('|')
# never appears in the corpus (ASCII ≤ 'y'); delimiters INSIDE the
# search pattern ('|a|b|' → '|ab|') make merges boundary-safe — 'l lo'
# can never match the tail of an 'll' token.
_BPE_SEP = "|"


def bpe_apply(
    words: "F.Column", merges: tuple[tuple[str, str], ...] = BPE_MERGES
) -> "F.Column":
    """Apply a fixed BPE merge table to an ARRAY of words, returning the
    array of subword tokens — ENTIRELY native (no UDF): each word is
    spelled into a delimited char sequence ('|h|e|l|l|o|') and each
    merge is one boundary-safe ``replace`` ('|a|b|' → '|ab|');
    ``replace`` scans left-to-right past each substitution, which is
    exactly BPE's greedy all-occurrences semantics (('a','a') on
    'a a a' merges the first pair only).

    Cost: |merges| string passes per word, whole-stage-codegen'd — the
    map-only shape that scales by partition count; contrast a
    row-at-a-time Python tokenizer at ~100× the cost.
    """
    def encode_word(w: F.Column) -> F.Column:
        spelled = F.concat(F.lit(_BPE_SEP), F.regexp_replace(w, "(.)", "$1" + _BPE_SEP))
        for a, b in merges:
            # Each merge applies TWICE: back-to-back occurrences of the
            # same pair ('|a|n|a|n|') share their boundary delimiter, so
            # one non-overlapping replace pass merges every other
            # occurrence; the survivors are isolated by construction and
            # the second pass catches them all.  (Self-pairs a==b over
            # runs ≥ 3 keep replace's leftmost-nonoverlapping grouping —
            # 'aaaaa' → aa,a,aa — a documented deviation from
            # iterative-leftmost BPE's aa,aa,a; the default table has no
            # self-pairs.)
            pat = F.lit(_BPE_SEP + a + _BPE_SEP + b + _BPE_SEP)
            rep = F.lit(_BPE_SEP + a + b + _BPE_SEP)
            spelled = F.replace(F.replace(spelled, pat, rep), pat, rep)
        return F.filter(F.split(spelled, "\\" + _BPE_SEP), lambda t: t != "")

    return F.flatten(F.transform(words, encode_word))


def bpe_token_stats(
    docs: DataFrame,
    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
    top_n: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """Corpus subword-frequency profile under a fixed BPE merge table:
    top-``top_n`` subwords by occurrence count (the post-merge twin of
    ``vocab_coverage``'s word-level view).  One corpus hash-agg after
    the map-only encode; TakeOrdered top-n."""
    occ = spread(docs).select(
        F.explode(bpe_apply(tokens(F.col(text_col)), merges)).alias("subword")
    )
    agg = occ.groupBy("subword").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("subword"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("subword", "n", "rank")
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> DataFrame:
    """LEARN a BPE merge table from the corpus (Sennrich et al. 2016
    Algorithm 1) — the iterative loop :func:`bpe_pair_counts` scores one
    step of and :func:`bpe_apply` consumes the result of: at each step,
    count corpus-weighted adjacent symbol pairs, take the most frequent
    (ties by symbol strings ascending — both engines compare binary
    ASCII), merge it everywhere, repeat.  Output, one row per learned
    merge: (step, lhs, rhs, n_occurrences) with ``step`` = 1-based merge
    rank — exactly the ranked merge list ``bpe_apply(words,
    tuple((r.lhs, r.rhs) ...))`` consumes.

    Shape (the bounded driver-side loop convention shared with
    pagerank/connected-components): the ONE corpus-sized pass is the
    word-frequency hash-agg; every iteration after that runs on the
    VOCABULARY table (Zipf-bounded, independent of corpus size) —
    symbol splitting and pair assembly are map-side array ops on the
    delimited spelling (the ``bpe_apply`` device), pair counting is one
    dictionary-scale hash-agg, the arg-max is a 1-ROW driver collect
    (the bounded-read contract), and the merge applies as one
    boundary-safe double ``replace`` projection.  The vocab frame is
    re-persisted per step and localCheckpointed so the replace-chain
    lineage stays O(1) per step, not O(step).  Merging semantics match
    ``bpe_apply`` exactly, including its documented self-pair deviation
    (runs >= 3 of a self-pair group leftmost-nonoverlapping).

    Stops early when fewer than ``n_merges`` distinct pairs exist."""
    spark = docs.sparkSession
    words = (
        spread(docs)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select(
            "wc",
            F.concat(
                F.lit(_BPE_SEP),
                F.regexp_replace("tok", "(.)", "$1" + _BPE_SEP),
            ).alias("spelled"),
        )
        .transform(materialize, "iterate")
    )
    merges: list[tuple[int, str, str, int]] = []
    cur = words
    for step in range(1, n_merges + 1):
        syms = F.filter(
            F.split(F.col("spelled"), "\\" + _BPE_SEP), lambda t: t != ""
        )
        n = F.size(syms)
        pairs = (
            cur.select("wc", syms.alias("s"), n.alias("n"))
            .filter(F.col("n") >= 2)
            .select(
                "wc",
                F.explode(
                    F.zip_with(
                        F.slice("s", 1, F.col("n") - 1),
                        F.slice("s", 2, F.col("n") - 1),
                        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("wc").alias("n_occurrences"))
        )
        best = pairs.orderBy(
            F.desc("n_occurrences"), F.asc("lhs"), F.asc("rhs")
        ).limit(1).collect()
        if not best:
            break
        lhs, rhs, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["n_occurrences"]
        merges.append((step, lhs, rhs, int(cnt)))
        pat = F.lit(_BPE_SEP + lhs + _BPE_SEP + rhs + _BPE_SEP)
        rep = F.lit(_BPE_SEP + lhs + rhs + _BPE_SEP)
        nxt = cur.select(
            "wc",
            F.replace(F.replace("spelled", pat, rep), pat, rep).alias("spelled"),
        ).transform(materialize, "iterate", eager=True)
        release(cur)
        cur = nxt
    release(cur)
    return spark.createDataFrame(
        merges, "step int, lhs string, rhs string, n_occurrences long"
    )
