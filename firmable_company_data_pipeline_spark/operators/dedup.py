"""Deduplication operators for LLM training-data pipelines (charter
extension, SURVEY.md §7 phase 5 — generalizing the reference's
``drop_duplicates`` A1/A2, ``transform/data_cleaning.py:177-179``, to
near-duplicate detection at scale).

Five strategies, all shuffle-minimal and UDF-free:

* ``exact``            — hash-groupBy on a normalized fingerprint.
* ``ngram_jaccard``    — inverted-index similarity join: explode distinct
                         word n-grams, equi-join on shingle, count common
                         per pair → Jaccard. Never materializes the N×N
                         cross product; cost is Σ per-shingle df².
* ``minhash_lsh``      — k-permutation MinHash signatures + banded LSH:
                         candidate pairs share ≥1 band bucket; estimate =
                         fraction of equal signature positions.
* ``simhash``          — 60-bit SimHash fingerprint; candidates blocked on
                         15-bit bands (pigeonhole: hamming ≤ 3 ⇒ some band
                         equal), verified with bit_count(xor).
* ``embedding cosine`` — exact pairwise cosine above threshold (brute
                         force; the LSH-bucketed scale path lives in
                         ``operators/similarity_search.py``).

Scale notes: the explode/equi-join/groupBy shape is the standard
100-TB-safe formulation — one shuffle on the shingle/bucket key, one on
the pair key; hot shingles (stopword n-grams) are bounded because we
shingle *distinct* n-grams per doc and can drop shingles with document
frequency > ``max_df`` (AQE skew-join splits the rest).

All hashing is the arithmetic fold from ``functions/textstats.py`` so
the DuckDB oracles reproduce results exactly (no Murmur3).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions.textstats import (
    HASH_MOD,
    char_fold_hash,
    doc_fingerprint,
    tokens,
)
from firmable_company_data_pipeline_spark.functions.vectors import (
    dot,
    norm2,
    probe_dim,
    to_double,
)
from firmable_company_data_pipeline_spark.session import materialize, release, spread

# Deterministic MinHash permutation parameters (a*h + b) % HASH_MOD.
# Fixed Knuth-style multiplicative constants — shared verbatim with the
# oracle SQL (queries/llmops.py interpolates these exact lists).
MINHASH_K = 16
MINHASH_A = [(2654435761 * (i + 1)) % HASH_MOD for i in range(MINHASH_K)]
MINHASH_B = [(40503 * (i + 1) * (i + 1) + 17) % HASH_MOD for i in range(MINHASH_K)]
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS

# SimHash fingerprint width.  The base feature hash has ~30 usable bits
# (mod 1e9+7), so bits 30-59 come from a second derived permutation
# h2 = (A2*h + B2) % mod of the same shingle hash.  60 bits keeps the
# fingerprint in positive BIGINT range on both Spark and DuckDB (no
# sign-bit headaches at bit 63) while giving 4 bands × 15 bits = 32768
# buckets per band — the round-1 32-bit/8-bit version saturated its 256
# buckets at ~10M docs and went quadratic.
SIMHASH_BITS = 60
SIMHASH_HALF = 30
SIMHASH_A2 = 1_566_083_941 % HASH_MOD
SIMHASH_B2 = 1_013_904_223 % HASH_MOD
SIMHASH_BAND_BITS = 15
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a (materialized) token array.

    Prefer passing an attribute column: if ``toks`` is the raw split
    expression, the interpreted HOF path re-evaluates it for every
    element_at inside the lambda.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)])
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingle_array(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the whitespace-tokenized text.

    Docs shorter than ``n`` tokens yield an empty array (they can never
    near-dup-match; callers may union them back as singletons).
    """
    return shingles_from_tokens(tokens(text), n)


def shingle_hashes(text: Column, n: int = 3) -> Column:
    """array<long> of rolling hashes of the distinct n-gram shingles."""
    return F.transform(shingle_array(text, n), char_fold_hash)


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shset array<string>) — the distinct word-n-gram set per doc.

    This is the 100-TB shape for shingling, and it costs ONE shuffle
    with NO sort: ``posexplode`` the token array (no shuffle —
    generator), assemble each n-gram MAP-SIDE while the token array is
    still in the row (``F.get(toks, pos+j)`` — codegen'd, NULL-safe),
    then a hash-agg ``collect_set`` per id whose map-side partial
    combine dedups grams before the exchange — shuffle volume is
    distinct grams, not gram occurrences.  (Earlier formulations paid a
    window sort here — lead() over (id, pos) — and before that two
    extra shuffles: a row-level ``distinct()`` and a count-over-window.)
    Codegen'd gram assembly is ~10× faster than the interpreted
    higher-order-function transform over per-doc arrays (which the
    Column-level :func:`shingle_array` keeps for small-data /
    oracle-mirror use).

    Docs shorter than ``n`` tokens yield no row (callers union empties
    back if their semantics need them).  Per-doc set size is bounded by
    doc length, so the collect_set state is task-safe at any corpus
    scale.
    """
    toks = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    ex = toks.select(
        "id", F.size("toks").alias("n_tok"), "toks", F.posexplode("toks").alias("pos", "tok")
    )
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.get("toks", F.col("pos") + j) for j in range(1, n)]
    )
    return (
        ex.filter(F.col("pos") <= F.col("n_tok") - n)
        .select("id", gram.alias("shingle"))
        .groupBy("id")
        .agg(F.collect_set("shingle").alias("shset"))
    )


def shingle_rows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) rows — one per (doc, distinct word n-gram), exploded
    from :func:`shingle_sets`.  Rows arrive clustered by id, so a
    downstream ``groupBy(id)`` (MinHash signatures, SimHash bit votes)
    satisfies its distribution from the existing exchange — no second
    shuffle."""
    return shingle_sets(df, text_col, id_col, n).select(
        "id", F.explode("shset").alias("shingle")
    )


def _shingle_hash_rows(sh: DataFrame) -> DataFrame:
    """(id, h) rows from (id, shingle) rows: each distinct shingle hashed
    exactly once; downstream ``groupBy(id).agg(...)`` does map-side
    partial aggregation in whole-stage codegen.  The per-row arithmetic
    ((a*h+b) % mod, bit tests) is plain codegen'd projection work — no
    interpreted higher-order-function folds over per-doc arrays."""
    return sh.select("id", char_fold_hash(F.col("shingle")).alias("h"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by normalized-text fingerprint: one row per group with
    the canonical (min) id and the duplicate count.  One shuffle on the
    fingerprint — the 100-TB path for exact dedup (hash-groupBy, never a
    sort or a cross product)."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _pair_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    carry: list[str],
    delta: bool = False,
    broadcast_right: bool = False,
) -> DataFrame:
    """The candidate-pair join of every near-dup family here: rows of
    (id, *on, *carry) meet on the blocking key ``on`` (a shingle, a
    winnow fingerprint, an LSH (band, bucket), a Hamming (band, key)).
    Output: the ``on`` columns, ``id_a``/``id_b`` and each ``carry``
    column suffixed ``_a``/``_b``.  Cost is Σ per-key df², never N².

    Orientation, so each unordered pair forms once per shared key:

    * self-join (``left`` and ``right`` the same rows): ``id_a < id_b``;
    * ``delta=True``: ``left`` is index ∪ delta with a boolean ``_new``
      tag, ``right`` the delta alone.  An index×delta pair has exactly
      one orientation (index ids never appear on the right); a
      delta×delta pair is kept only as ``id_a < id_b`` — one predicate,
      ``id_a != id_b AND (id_a < id_b OR NOT _new_a)``.  Callers
      normalize with least/greatest.

    ``broadcast_right`` hints the right side to broadcast: the join is
    then a map-side pass over the left, which is how the streaming folds
    scan a growing index without shuffling it."""
    tag = ["_new"] if delta else []
    a = left.select(
        F.col("id").alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in carry + tag], *on
    )
    b = right.select(F.col("id").alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in carry], *on)
    pairs = a.join(F.broadcast(b) if broadcast_right else b, on)
    if delta:
        return pairs.filter(F.col("id_a") != F.col("id_b")).filter(
            (F.col("id_a") < F.col("id_b")) | ~F.col("_new_a")
        )
    return pairs.filter(F.col("id_a") < F.col("id_b"))


def _earlier_band_match(n_bands: int, band_eq: Callable[[int], str]) -> Column:
    """First-band-wins: a pair sharing several band keys meets once per
    shared band; instead of a distinct() (a full shuffle of the
    candidate stream) keep it only at its FIRST matching band.  True
    when some band before the row's ``band`` is already equal —
    ``band_eq(j)`` is the SQL test of band j on the ``_a``/``_b`` carry
    columns — a pure predicate evaluated map-side, so callers filter on
    its negation."""
    arms = " ".join(
        f"WHEN band = {i} THEN ({' OR '.join(band_eq(j) for j in range(i))})"
        for i in range(1, n_bands)
    )
    return F.expr(f"CASE {arms} ELSE false END")


def _df_cap(ex: DataFrame, key: str, max_df: int | None) -> DataFrame:
    """Drop rows whose ``key`` occurs in more than ``max_df`` rows of
    ``ex`` (None keeps all) — the CCNet-style hot-key cap of a pairing
    index.  A hot key's df² is the one superlinear term of the pair
    join; callers count ``ex`` at one row per (doc, key), so the count
    is the key's document frequency over whatever corpus ``ex`` holds
    (:func:`winnow_delta_pairs` reaches the same decisions from
    additive per-batch counts instead).  Does not materialize: the
    caller picks ``share`` or ``iterate``."""
    if max_df is None:
        return ex
    return (
        ex.withColumn("_df", F.count("*").over(Window.partitionBy(key)))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard via inverted-index join.

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|) over distinct shingle sets.
    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.

    ``max_df``: when set, shingles appearing in more than ``max_df``
    documents are dropped from the *pairing* index (their df² pair
    blowup is the one quadratic term in this plan — stopword-like
    n-grams at corpus scale). Denominators still count every shingle,
    so scores are exact for pairs whose common shingles are all rare,
    and downward-biased otherwise: a recall/cost knob (CCNet-style),
    default off for oracle-exact semantics.
    """
    sets = shingle_sets(df, text_col, id_col, n)
    # Set size is free from the array — no count-over-window shuffle.
    ex = sets.select(
        "id", F.size("shset").alias("n_sh"), F.explode("shset").alias("shingle")
    )
    # Shared, not checkpointed: the inverted-index join reads this table
    # as both sides and picks broadcast from its size; the checkpoint
    # leaf regressed the ngram-pair consumers (dup_cluster_size_histogram
    # 2.52 s -> 3.21 s, curation_report 3.37 s -> 3.82 s; verdict r13 #4).
    ex = materialize(_df_cap(ex, "shingle", max_df), "share")
    # Size filter (PPJoin-family): jaccard(A,B) >= t forces
    # min(|A|,|B|)/max(|A|,|B|) >= t (common <= min and the denominator
    # >= max), so size-mismatched pairs are dropped INSIDE the join
    # (Catalyst pushes the filter into the join condition) — evaluated
    # per candidate row, before any pair ever reaches the (id_a, id_b)
    # aggregation.  On Zipf-ish corpora this removes the bulk of the df²
    # blowup of hot shingles (short docs pair with everything).  The
    # bound is slackened by 1e-6 because the OUTPUT filter compares the
    # ROUNDED jaccard (round(j,6) >= t admits true j >= t - 5e-7); with
    # the slack no emitted pair can be pruned.
    size_t = threshold - 1e-6
    na, nb = F.col("n_sh_a"), F.col("n_sh_b")
    return (
        _pair_join(ex, ex, ["shingle"], ["n_sh"])
        .filter((na >= size_t * nb) & (nb >= size_t * na))
        .groupBy("id_a", "id_b", "n_sh_a", "n_sh_b")
        .agg(F.count(F.lit(1)).alias("common"))
        .withColumn("jaccard", F.round(F.col("common") / (na + nb - F.col("common")), 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signature(text: Column, n: int = 3) -> Column:
    """MinHash signature: array of MINHASH_K minima of permuted shingle
    hashes.  Empty shingle set → signature of HASH_MOD sentinels (never
    collides with a real minimum).

    Note: this single-Column form runs the interpreted HOF fold path —
    fine for a few rows, wrong for bulk work.  ``minhash_lsh_pairs``
    computes the same values via explode + codegen hash aggregation;
    prefer that shape for anything large."""
    return minhash_signature_from_hashes(shingle_hashes(text, n))


def minhash_signature_from_hashes(hashes: Column) -> Column:
    """MinHash signature from a materialized array<long> of feature
    hashes.

    Each position is its own fold with the permutation constants baked
    in as scalar literals — indexing a constant array per lambda step
    would allocate it on every evaluation (interpreted HOF path).
    """
    def perm_min(a: int, b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(HASH_MOD).cast("long"),
            lambda acc, h: F.least(acc, (F.lit(a) * h + F.lit(b)) % HASH_MOD),
        )

    return F.array(*[perm_min(a, b) for a, b in zip(MINHASH_A, MINHASH_B)])


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, sig array<long>) MinHash signature table — the persistent
    near-dup INDEX of a corpus (16 longs per doc; write it to parquet and
    maintain it incrementally with :func:`minhash_delta_pairs`).

    Computed as ``explode(shingles) → hash per row → groupBy(id).agg(min
    per permutation)`` — whole-stage-codegen hash aggregation with
    map-side partial combine, identical values to the per-doc array fold
    (min is order-insensitive) but ~MINHASH_K× cheaper: each shingle is
    hashed once and each permutation is one codegen'd arithmetic
    expression, not an interpreted HOF fold.  Docs with no shingles
    produce no rows (the oracle's ``sig[1] < mod`` filter drops the same
    docs).

    Expressions are generated as SQL strings (one F.expr → one py4j
    round-trip, parsed JVM-side) rather than composed Column-by-Column:
    building the 16 permutation minima through the Column API costs
    hundreds of py4j calls and showed up as ~1s of per-query plan
    CONSTRUCTION time in the bench — pure driver overhead that recurs
    on every invocation.  The parsed expression trees are identical.
    """
    rows = _shingle_hash_rows(shingle_rows(df, text_col, id_col, n))
    mins = [
        F.expr(f"min(({a}L * h + {b}L) % {HASH_MOD}) AS _m{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return (
        rows.groupBy("id")
        .agg(*mins)
        .selectExpr(
            "id", f"array({', '.join(f'_m{i}' for i in range(MINHASH_K))}) AS sig"
        )
    )


def _lsh_bands(sig: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, sig, *extra, band, bucket) — one row per signature band;
    bucket is the band's row values joined as a string key."""
    band_structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {elems}) AS bucket)".format(
            b=b,
            elems=", ".join(
                f"cast(sig[{b * LSH_ROWS + r}] AS string)" for r in range(LSH_ROWS)
            ),
        )
        for b in range(LSH_BANDS)
    )
    return sig.selectExpr("id", "sig", *extra, f"inline(array({band_structs}))")


def _lsh_band_eq(i: int) -> str:
    """SQL: LSH band ``i`` of the two signatures is equal (the
    ``band_eq`` of :func:`_earlier_band_match`)."""
    return (
        f"slice(sig_a, {i * LSH_ROWS + 1}, {LSH_ROWS})"
        f" = slice(sig_b, {i * LSH_ROWS + 1}, {LSH_ROWS})"
    )


_EST_JACCARD = (
    "round(size(filter(zip_with(sig_a, sig_b, (x, y) -> cast(x = y AS int)),"
    f" eq -> eq = 1)) / {MINHASH_K}, 6)"
)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup candidates: band the signature into
    LSH_BANDS buckets of LSH_ROWS rows; docs sharing any band bucket are
    candidates; estimate similarity as the fraction of equal signature
    positions; keep estimates ≥ threshold.

    Scale shape: explode bands (LSH_BANDS rows/doc), shuffle on the
    (band, bucket) key, pair within buckets — the classic
    sub-quadratic near-dedup join.
    """
    # Persisted: the band self-join references the signature table on BOTH
    # sides, and the branches are not canonically identical after the
    # id_a/id_b renames — without the persist the whole scan→shingle→agg
    # pipeline runs twice (measured 4-8× end-to-end).  16 longs per doc:
    # tiny relative to the corpus, spill-safe at scale.
    # Shared, not checkpointed: the checkpoint leaf regressed
    # minhash_recall_report 2.71 s -> 3.11 s (verdict r13 #4).
    sig = materialize(minhash_signatures(df, text_col, id_col, n), "share")
    bands = _lsh_bands(sig)
    cand = (
        _pair_join(bands, bands, ["band", "bucket"], ["sig"])
        .filter(~_earlier_band_match(LSH_BANDS, _lsh_band_eq))
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    return cand.select(
        "id_a", "id_b", F.expr(_EST_JACCARD).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)


def minhash_band_rows(sigs: DataFrame, n_buckets: int = 64) -> DataFrame:
    """(id, sig, band, bucket, pbucket) — the BANDED, partition-prunable
    layout of a MinHash signature index: one row per (doc, LSH band)
    with the full signature carried for the estimate step, plus
    ``pbucket = pmod(xxhash64(band, bucket), n_buckets)`` as the
    physical partition key.  Write index appends
    ``partitionBy("pbucket")`` and an ingest fold reads back only the
    delta's ≤ ``n_buckets`` touched pbuckets — the posting-list trade:
    LSH_BANDS× the storage of the flat (id, sig) layout, bought back as
    a per-batch index scan of roughly touched/total buckets of the
    bytes (the block index's layout, applied to the signature index).
    Feed the pruned scan to :func:`minhash_delta_pairs` via
    ``index_bands``."""
    return _lsh_bands(sigs).withColumn(
        "pbucket", F.pmod(F.xxhash64("band", "bucket"), F.lit(n_buckets))
    )


def minhash_delta_pairs(
    index_sigs: DataFrame,
    delta_sigs: DataFrame,
    threshold: float = 0.5,
    broadcast_delta: bool = False,
    index_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection for a growing corpus: pair a NEW
    batch's signatures against an existing signature index — emits
    delta×index and delta×delta pairs, NEVER re-pairs index×index.

    This is the 100-TB ingest shape: signatures are computed once per
    document (``minhash_signatures`` on the delta only — the expensive
    shingle scan never re-reads the historical corpus), appended to the
    parquet index, and each batch's LSH join touches |delta| band rows
    on one side.  Cost per batch is O(delta + matching buckets), not
    O(corpus).

    Output: (id_a, id_b, est_jaccard) with id_a < id_b, est ≥ threshold
    — identical contract to :func:`minhash_lsh_pairs`, so running it
    over every historical batch reproduces the batch operator's output.

    Orientation: :func:`_pair_join`'s delta mode — the left side is
    index ∪ delta tagged ``_new``, the right side delta only.

    ``broadcast_delta=True`` (the streaming micro-batch path) hints the
    delta band table to broadcast: the bucket join then becomes a
    map-side pass over the index — the ever-growing side is SCANNED but
    never shuffled or sorted per batch, which is what keeps per-batch
    cost at O(delta + one pruned index pass) instead of re-exchanging
    all history every fold.  Leave False when the "delta" is a large
    backfill that would not fit a broadcast.

    ``index_bands`` (round 10): pass the PRE-BANDED index rows — the
    :func:`minhash_band_rows` layout, typically the partition-pruned
    scan of a ``pbucket``-bucketed parquet index — instead of
    ``index_sigs``; the fold then reads only the buckets the delta's
    band keys can touch.  ``index_sigs`` is ignored when given.
    """
    delta_tagged = delta_sigs.select("id", "sig", F.lit(True).alias("_new"))
    if index_bands is not None:
        banded = index_bands.select(
            "id", "sig", "band", "bucket", F.lit(False).alias("_new")
        ).unionByName(_lsh_bands(delta_tagged, extra=("_new",)))
    else:
        tagged = index_sigs.select(
            "id", "sig", F.lit(False).alias("_new")
        ).unionByName(delta_tagged)
        banded = _lsh_bands(tagged, extra=("_new",))
    cand = (
        _pair_join(
            banded, _lsh_bands(delta_sigs), ["band", "bucket"], ["sig"],
            delta=True, broadcast_right=broadcast_delta,
        )
        .filter(~_earlier_band_match(LSH_BANDS, _lsh_band_eq))
        .select("id_a", "id_b", "sig_a", "sig_b")
    )
    return (
        cand.select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.expr(_EST_JACCARD).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def _sim_bit(h: Column, j: int) -> Column:
    """Bit j of the 60-bit feature vector for one shingle hash ``h``:
    bits 0-29 come from h itself, bits 30-59 from the derived second
    permutation (A2·h + B2) mod m (h has only ~30 usable bits)."""
    if j < SIMHASH_HALF:
        return F.shiftright(h, j).bitwiseAND(F.lit(1))
    h2 = (h * SIMHASH_A2 + SIMHASH_B2) % HASH_MOD
    return F.shiftright(h2, j - SIMHASH_HALF).bitwiseAND(F.lit(1))


def simhash_from_hashes(hashes: Column) -> Column:
    """60-bit SimHash from an array<long> of feature hashes: bit j of the
    fingerprint is the sign of Σ_features (2·bit_j(h) − 1).

    Callers should materialize ``hashes`` as a real column first (one
    projection) so the 60 bit-vote folds reference an attribute instead
    of recomputing the feature hashing 60×."""
    bit_vote = lambda j: F.aggregate(  # noqa: E731
        hashes,
        F.lit(0).cast("long"),
        lambda acc, h: acc + (_sim_bit(h, j) * 2 - 1),
    )
    out = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        out = out + F.when(bit_vote(j) > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash_fp(text: Column, n: int = 3) -> Column:
    """60-bit SimHash over the distinct word n-gram shingles.  Shingles
    (not unigrams) as the feature set: corpora with small vocabularies
    make unigram *sets* nearly identical across documents, which would
    collapse every fingerprint to the same value."""
    return simhash_from_hashes(shingle_hashes(text, n))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs, blocked on the four 15-bit bands of the
    60-bit fingerprint (pigeonhole: hamming ≤ 3 ⇒ at least one band
    identical, so recall is exact for the threshold ≤ 3; a larger
    ``max_hamming`` raises ValueError), verified with bit_count(xor)
    (:func:`_hamming_band_pairs`).  Output (id_a, id_b, hamming).

    Scale note: 15-bit bands give 32768 buckets per band.  With a
    roughly uniform fingerprint distribution the within-bucket pairing
    stays sub-quadratic into the billions-of-docs range (expected
    bucket size N/32768); pathological corpora that collapse onto few
    fingerprints are already near-duplicates and land in the verify
    step's bounded output.  (Round 1 shipped 32-bit/8-bit = 256
    buckets, which saturated at ~10M docs.)

    Fingerprints come from ``explode(shingles) → groupBy(id).agg(60 bit
    votes)`` — codegen hash aggregation, same values as the per-doc
    array fold (Σ(2·bit−1) is order-insensitive).  Docs with an empty
    shingle set are unioned back with fp = 0 (the empty fold), matching
    the array semantics and the oracle."""
    # Materialize the derived permutation once per row; the 60 bit votes
    # then reference the two attribute columns instead of recomputing
    # (A2·h + B2) mod m thirty times per row.
    rows = _shingle_hash_rows(shingle_rows(df, text_col, id_col, n)).selectExpr(
        "id",
        "h",
        f"(h * {SIMHASH_A2}L + {SIMHASH_B2}L) % {HASH_MOD} AS h2",
    )

    def _bit(j: int) -> str:
        col, sh = ("h", j) if j < SIMHASH_HALF else ("h2", j - SIMHASH_HALF)
        return f"(shiftright({col}, {sh}) & 1L)"

    # Bit-vote aggregation with lane packing: 3 per-bit counters share one
    # 64-bit sum (20-bit lanes), so the aggregate carries 20 buffer columns
    # instead of 60 and the generated code is a third the size (smaller
    # janino compile, less codegen-cache pressure).  A lane accumulates
    # Σ bit_j ∈ [0, n_shingles]; votes are recovered as 2·Σbit − n against
    # the group count, identical values to the per-bit ±1 sums.  Lane
    # overflow would need 2^20 (~1M) DISTINCT shingles in one doc — a
    # >1M-token document; collect_set state bounds the same quantity
    # earlier in the pipeline, so the cap is not the binding constraint.
    # All built as SQL strings — the Column-API construction of these 20
    # aggregates plus the 60-term fingerprint sum was ~2s of py4j-bound
    # plan-build time PER CALL (the dominant cost of this operator at
    # bench scale; the parsed trees are identical).
    lanes, width = 3, 20
    groups = SIMHASH_BITS // lanes
    votes = [F.expr("count(1) AS _n")]
    for g in range(groups):
        lane_sum = " + ".join(
            f"{_bit(g * lanes + lane)} * {1 << (width * lane)}L"
            for lane in range(lanes)
        )
        votes.append(F.expr(f"sum({lane_sum}) AS _p{g}"))
    fp_terms = []
    for g in range(groups):
        for lane in range(lanes):
            j = g * lanes + lane
            s = f"(shiftright(_p{g}, {width * lane}) & {(1 << width) - 1}L)"
            fp_terms.append(f"if({s} * 2 > _n, {1 << j}L, 0L)")
    fp_expr = F.expr(" + ".join(fp_terms))
    no_shingles = (
        spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        .filter(F.size("toks") < n)
        .select("id", F.lit(0).cast("long").alias("fp"))
    )
    # Persisted for the same both-sides-of-the-band-join reason as the
    # MinHash signature table (one long per doc).
    fp = (
        rows.groupBy("id")
        .agg(*votes)
        .select("id", fp_expr.alias("fp"))
        .unionByName(no_shingles)
        .transform(materialize, "iterate")
    )
    return _hamming_band_pairs(fp, SIMHASH_BITS, SIMHASH_BANDS, max_hamming)


def _hamming_band_pairs(
    fps: DataFrame, bits: int, n_bands: int, max_hamming: int
) -> DataFrame:
    """(id_a, id_b, hamming) for every pair of ``bits``-bit fingerprints
    in (id, fp) rows within ``max_hamming`` bits — the SimHash and
    perceptual-hash verify join.  The fingerprint splits into
    ``n_bands`` equal bit-bands; ONE :func:`_pair_join` on (band, key)
    forms the candidates, first-band-wins keeps each pair once, and one
    ``bit_count(xor)`` verifies it.

    Exact only while ``max_hamming < n_bands`` (pigeonhole: fewer
    differing bits than bands leaves some band intact).  At
    ``max_hamming >= n_bands`` a pair with one differing bit in every
    band shares no band and would be dropped silently, so that call
    raises instead."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs more than {n_bands} bands for"
            " exact banded recall (pigeonhole); lower max_hamming"
        )
    width = -(-bits // n_bands)

    def band(col: str, i: int) -> str:
        return f"(shiftright({col}, {width * i}) & {(1 << width) - 1}L)"

    structs = ", ".join(f"struct({i} AS band, {band('fp', i)} AS key)" for i in range(n_bands))
    bands = fps.selectExpr("id", "fp", f"inline(array({structs}))")
    return (
        _pair_join(bands, bands, ["band", "key"], ["fp"])
        .filter(~_earlier_band_match(n_bands, lambda j: f"{band('fp_a', j)} = {band('fp_b', j)}"))
        .withColumn("hamming", F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def token_windows(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(id, gram) — EVERY k-token window occurrence (not distinct-per-doc
    like shingles): substring-level dedup needs occurrence counts.

    Same MAP-SIDE codegen'd assembly as :func:`shingle_sets`
    (``F.get(toks, pos+j)`` against the in-row token array) — ZERO
    exchanges; window rows leave this operator unshuffled."""
    toks = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    )
    ex = toks.select(
        "id", F.size("toks").alias("n_tok"), "toks", F.posexplode("toks").alias("pos", "tok")
    )
    gram = F.concat_ws(
        " ", F.col("tok"), *[F.get("toks", F.col("pos") + j) for j in range(1, k)]
    )
    return (
        ex.filter(F.col("pos") <= F.col("n_tok") - k)
        .select("id", gram.alias("gram"))
    )


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated k-token windows across documents — the
    substring-granular dedup signal of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), reformulated from
    their suffix array into Spark's native shape: window rows →
    hash-groupBy on the gram → filter on distinct-doc count.

    Output: (win_hash, n_docs, n_occ, first_doc) for every k-token
    window appearing in ≥ ``min_docs`` distinct documents.  ``win_hash``
    is the deterministic char-fold hash of the gram; grouping is on the
    gram ITSELF so hash collisions cannot merge distinct windows (the
    oracle groups the same way).

    Scale note: grouping on the gram string shuffles ~k× the corpus
    text.  At 100 TB, group on ``xxhash64(gram)`` instead (8-byte
    shuffle keys, collision odds ~N²/2⁶⁴ — acceptable for a dedup
    *signal*); kept exact here for oracle parity.  One shuffle either
    way, map-side partial aggregation applies."""
    wins = token_windows(df, text_col, id_col, k)
    # Two-phase distinct: (gram, id) pre-aggregation then gram rollup —
    # avoids the Expand node a countDistinct-with-other-aggs plans (which
    # doubles the shuffled row volume of the already text-heavy grams),
    # and the first phase gets map-side combine on per-doc repeats.
    per_doc = wins.groupBy("gram", "id").agg(F.count(F.lit(1)).alias("occ"))
    return (
        per_doc.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("occ").alias("n_occ"),
            F.min("id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            char_fold_hash(F.col("gram")).alias("win_hash"),
            "n_docs",
            F.col("n_occ").cast("long").alias("n_occ"),
            "first_doc",
        )
    )


def segment_dedup_rewrite(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """APPLY cross-document repeated-segment removal — the CCNet §3.1 /
    RefinedWeb line-dedup step (drop every line occurring verbatim in
    other documents: boilerplate, headers, licence blocks) adapted to
    unstructured text as TUMBLING ``w``-token segments, and rewriting
    the surviving text.  :func:`substring_dup_spans` *reports* the
    duplicated grams; this is the transformation a pipeline actually
    runs: per document, drop each segment whose exact text appears in
    ≥ ``min_docs`` distinct documents, reassemble the rest in order.

    Output: (doc_id, n_segments, n_dropped, kept_frac, text_kept) —
    ``text_kept`` is the space-joined surviving segments in original
    order ('' when everything was boilerplate), ``kept_frac`` rounded
    to 6.

    Scale shape: segments are assembled MAP-SIDE from the in-row token
    array (transform over a sequence — no window, no posexplode
    shuffle), the document-frequency table is ONE hash-agg with
    map-side combine, the verdict returns by ONE shuffle join on the
    segment text, and the rewrite is a per-doc hash-agg whose ordered
    reassembly sorts ≤ (doc_len / w) structs in-expression.  Tumbling
    (not sliding) windows keep the exploded volume at ~1× corpus text.
    At 100 TB, join on ``xxhash64(seg_text)`` instead of the text
    (8-byte shuffle keys) — kept exact here for oracle parity, same
    note as :func:`substring_dup_spans`."""
    t = tokens(F.col(text_col))
    n_seg = F.ceil(F.size(t) / F.lit(w)).cast("int")
    # NULL-text guard (review r12): size(NULL) is -1 under non-ANSI
    # semantics, and sequence(0, -1) steps DOWNWARD to [0, -1] — two
    # phantom segments where the oracle (len(NULL) -> NULL -> no rows)
    # emits none.  A NULL-text doc contributes no segments and no row.
    segs = F.when(
        t.isNotNull(),
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda s: F.struct(
                s.alias("seg"),
                F.concat_ws(" ", F.slice(t, s * w + 1, w)).alias("seg_text"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<seg:int,seg_text:string>>"))
    occ = (
        spread(df)
        .select(F.col(id_col).alias("id"), F.explode(segs).alias("s"))
        .select("id", F.col("s.seg").alias("seg"), F.col("s.seg_text").alias("seg_text"))
    )
    dfreq = occ.groupBy("seg_text").agg(
        F.count_distinct("id").alias("n_docs")
    )
    verdicts = occ.join(dfreq, "seg_text").withColumn(
        "dup", F.col("n_docs") >= min_docs
    )
    return (
        verdicts.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.col("dup").cast("long")).alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("dup"),
                                F.struct("seg", "seg_text"),
                            )
                        )
                    ),
                    lambda e: e["seg_text"],
                ),
                " ",
            ).alias("text_kept"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_segments",
            "n_dropped",
            F.round(
                (F.col("n_segments") - F.col("n_dropped")) / F.col("n_segments"), 6
            ).alias("kept_frac"),
            "text_kept",
        )
    )


# Winnowing parameters (Schleimer, Wilkerson, Aiken, "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD 2003 — public
# algorithm).  Guarantee: any substring shared by two documents of
# length >= WINNOW_W + WINNOW_K - 1 characters (21 here) contributes at
# least one common fingerprint; no k-gram match shorter than WINNOW_K
# is ever reported.  k=12 keeps common-English k-grams rare enough that
# the inverted-index join stays sparse; w=10 samples ~2/(w+1) ≈ 18% of
# positions.
WINNOW_K = 12
WINNOW_W = 10
# Position packing radix for the (hash, position) argmin: selection key
# = h * RADIX + (RADIX-1-pos) so MIN(key) is (min hash, rightmost pos)
# — the paper's §4 winnowing tie-break (rightmost minimum) — decodable
# by integer div/mod in both engines.  Requires pos < RADIX, i.e. documents under 2**21
# (~2.1M) characters; h < 1e9+7 keeps h*RADIX well inside BIGINT.
_WINNOW_RADIX = 1 << 21


def _unrolled_gram_hash(t: Column, pos: Column, k: int) -> Column:
    """char_fold_hash of ``substr(t, pos, k)`` with the k-step fold
    UNROLLED into a plain arithmetic expression tree: h_j = (h_{j-1}*31
    + ascii(substr(t, pos+j, 1))) % mod.  Identical values to the HOF
    fold (same operations in the same order — pinned by
    ``tests/test_dedup_fastpaths.py``), but whole-stage-codegen'd: no
    per-row char-array allocation and no interpreted lambda steps,
    which is the difference between a projection and a per-position
    interpreter loop when the position stream is corpus-length-sized."""
    h: Column = F.lit(0).cast("long")
    for j in range(k):
        c = F.ascii(t.substr(pos + F.lit(j), F.lit(1))).cast("long")
        h = (h * 31 + c) % HASH_MOD
    return h


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowed document fingerprints — (id, pos, fp) with one row per
    distinct selected (position, k-gram hash), the MOSS fingerprinting
    scheme (Schleimer et al., SIGMOD'03): hash every character k-gram of
    the whitespace-normalized lowercased text, slide a window of ``w``
    consecutive k-gram hashes, and in each window select the minimum
    hash (rightmost position on ties — the §4 winnowing tie-break of
    the paper, so equal texts select identical position sets; the §5
    "robust" variant, which prefers re-selecting the previous window's
    fingerprint, is NOT what this implements).  Documents
    with fewer than ``w`` k-grams collapse to a single whole-document
    window; documents shorter than ``k`` characters yield no rows.

    Scale shape: one generator explode of the position range (the gram
    is assembled MAP-SIDE via ``substr`` while the text is still in the
    row — no second pass over the corpus), one hash-fold per position,
    then a single per-document window (partitionBy id, orderBy pos, w-1
    FOLLOWING frame) — the exchange is on the document id and each
    partition is bounded by document length, so the sort never sees
    more than one document's positions.  The trailing ``distinct`` runs
    on the already-small selection stream (~2/(w+1) of positions).  At
    100 TB the per-position fold costs k char-ops per position; switch
    the gram hash to a true O(1) rolling recurrence (prefix hashes +
    modular inverse) if profile shows it — kept as the plain fold here
    for bit-exact oracle parity.
    """
    return _winnow_selection(df, text_col, id_col, k, w).select(
        "id", "pos", "fp"
    ).distinct()


def _winnow_selection(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    """Pre-distinct winnowing selection stream — (id, pos, fp), one row
    per ANCHOR window (overlapping windows that select the same
    (pos, fp) repeat it).  ``winnow_fingerprints`` distincts the full
    (id, pos, fp) triple; ``winnow_overlap_pairs`` skips that extra
    exchange and dedups per-doc fingerprints inside its own
    ``collect_set``, which reuses the window's id-partitioning."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col).alias("id"), norm.alias("t")).withColumn(
        "n_grams", F.length("t") - k + 1
    )
    # Runtime guard on the documented packing limit (review r8): a
    # document with >= 2**21 k-gram positions would make
    # (radix-1-pos) negative and borrow from the hash half of the
    # selection key — corrupted fingerprints, silently wrong pairs.
    # assert_true is fused into the hash projection so the job fails
    # loudly map-side instead.  (At 100 TB: split such documents, or
    # widen _WINNOW_RADIX — h*radix has ~33 spare bits below BIGINT.)
    radix = _WINNOW_RADIX
    pos_ok = F.assert_true(
        F.col("n_grams") < F.lit(radix),
        F.concat(
            F.lit("winnow_fingerprints: document with "),
            F.col("n_grams").cast("string"),
            F.lit(
                f" k-gram positions exceeds the position-packing radix"
                f" {radix}; split the document or widen _WINNOW_RADIX"
            ),
        ),
    )
    rows = base.select(
        "id",
        "n_grams",
        F.explode(
            F.when(
                F.col("n_grams") >= 1, F.sequence(F.lit(1), F.col("n_grams"))
            ).otherwise(F.array().cast("array<int>"))
        ).alias("pos"),
        "t",
    ).select(
        "id",
        "n_grams",
        "pos",
        # assert_true returns NULL on success, so this IS the gram hash
        # with the guard riding the pre-window projection
        F.when(
            pos_ok.isNull(), _unrolled_gram_hash(F.col("t"), F.col("pos"), k)
        ).alias("h"),
    )
    frame = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    )
    key = F.col("h") * F.lit(radix) + (F.lit(radix - 1) - F.col("pos"))
    return (
        rows.withColumn("selkey", F.min(key).over(frame))
        # Full windows anchor at pos <= n_grams-w+1; short docs keep the
        # single truncated window anchored at pos 1 (frame clips at the
        # partition end, which IS the whole-document window).
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - w + 1, F.lit(1)))
        .select(
            "id",
            (F.lit(radix - 1) - F.col("selkey") % radix).cast("int").alias("pos"),
            F.expr(f"selkey div {radix}").alias("fp"),
        )
    )


def winnow_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """(id, n_fp, fp) — the persistent winnow INDEX rows of a corpus:
    one row per (doc, distinct selected fingerprint) with the doc's
    total distinct-fingerprint count carried on every row.  Write this
    to parquet once per corpus and maintain it incrementally with
    :func:`winnow_delta_pairs` (the expensive gram scan + selection
    window never re-reads the historical corpus).

    collect_set dedups the selection stream's per-doc fingerprints
    directly — it satisfies its groupBy(id) from the selection window's
    existing id-partitioning, so no extra exchange beyond the window's."""
    return _fp_set_rows(_winnow_selection(df, text_col, id_col, k, w))


def _fp_set_rows(fps: DataFrame) -> DataFrame:
    """(id, n_fp, fp) index rows from any (id, fp) stream: one row per
    (doc, distinct fingerprint), the doc's distinct count on each."""
    sets = fps.groupBy("id").agg(F.collect_set("fp").alias("fpset"))
    return sets.select(
        "id", F.size("fpset").alias("n_fp"), F.explode("fpset").alias("fp")
    )


def winnow_df_table(index_fps: DataFrame) -> DataFrame:
    """Per-fingerprint document-frequency side table — (fp, df) — for a
    winnow fingerprint index (the ``(id, n_fp, fp)`` rows of
    :func:`winnow_fingerprint_rows`).  Persist this next to the index
    parquet and MAINTAIN IT ADDITIVELY: df is a plain count of distinct
    documents per fingerprint, so appending each ingest batch's
    ``winnow_df_table(delta_fps)`` rows keeps the table exact without
    ever re-reading the index — ``winnow_delta_pairs`` sums partial
    rows per fp after pruning, so a batch-partitioned layout of
    partial counts IS the table (no compaction required for
    correctness; compact opportunistically if the file count grows)."""
    return index_fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))


def winnow_delta_pairs(
    index_fps: DataFrame,
    delta_fps: DataFrame,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
    index_df: DataFrame | None = None,
    broadcast_delta: bool = False,
) -> DataFrame:
    """Incremental winnow near-dup detection for a growing corpus: pair
    a NEW batch's fingerprint rows against the existing fingerprint
    index — emits delta×index and delta×delta pairs, NEVER re-pairs
    index×index (the same ingest contract as
    :func:`minhash_delta_pairs`; fingerprints are computed once per
    document on the delta only and appended to the index).

    Output: (id_a, id_b, shared, containment) with id_a < id_b —
    identical contract to :func:`winnow_overlap_pairs`, so the union of
    every historical batch's delta pairs reproduces the batch operator
    (pinned by ``tests/test_dedup_fastpaths.py``).

    ``max_df`` is evaluated over index ∪ delta — the df the batch
    operator would see on the grown corpus — so a fingerprint that
    crosses the cap as the corpus grows stops pairing from that batch
    on (absolute-df caps are corpus-size-relative by nature; pairs
    already emitted in earlier batches are not retracted).  Since
    round 9 the cap is O(delta) per batch, not O(index): df is
    ADDITIVE, so the union df of a fingerprint = its index df + its
    delta count, and only fingerprints PRESENT IN THE DELTA can pair
    at all (the pair join is an inner join whose right side is the
    delta) — so the cap decision needs index dfs for delta
    fingerprints only.  Those come from ``index_df`` (the persisted
    :func:`winnow_df_table` — partial per-batch rows welcome, they are
    summed after pruning) via a broadcast-semi prune + tiny aggregate;
    when ``index_df`` is None they are derived by the same pruned
    map-side pass over ``index_fps`` itself.  Either way the
    historical index is SCANNED, never shuffled — the r8 verdict's
    window-over-union (a full index exchange per batch) is gone.

    ``broadcast_delta=True`` (the streaming micro-batch path, exactly
    mirroring :func:`minhash_delta_pairs`): hints every delta-derived
    frame to broadcast, so each per-batch join is a map-side pass over
    the index — history is scanned but never exchanged (pinned by
    ``tests/test_plan_shapes.py``).  Leave False when the "delta" is a
    large backfill that would not fit a broadcast; the joins then fall
    back to shuffles (of the index too — the same documented trade-off
    as the MinHash arm).

    Orientation: :func:`_pair_join`'s delta mode (left index ∪ delta
    tagged ``_new``, right delta only), then least/greatest normalizes
    the output.

    Persisting is the CALLER's job: ``delta_fps`` is read up to three
    times (cap counts, cap filter, pair join) and should be persisted
    or parquet-backed; ``index_fps`` is read once per pass (twice when
    ``index_df`` is None) and in production is parquet, so each read
    is an independent pruned scan, not a recompute."""
    _b = F.broadcast if broadcast_delta else (lambda d: d)
    right = delta_fps
    if max_df is not None:
        delta_cnt = delta_fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_ddf"))
        if index_df is None:
            index_df = index_fps.select("fp", F.lit(1).alias("df"))
        # index side: pruned to delta fingerprints map-side (broadcast
        # semi), THEN aggregated — the shuffle input is Σ_{fp∈delta}
        # df(fp) rows, never the index
        rel = (
            index_df.join(_b(delta_cnt.select("fp")), "fp", "left_semi")
            .groupBy("fp")
            .agg(F.sum("df").alias("_idf"))
        )
        union_df = delta_cnt.join(_b(rel), "fp", "left").select(
            "fp",
            (F.coalesce(F.col("_idf"), F.lit(0)) + F.col("_ddf")).alias("_udf"),
        )
        ok_fps = union_df.filter(F.col("_udf") <= max_df).select("fp")
        # capping the RIGHT side alone caps the pair join exactly: a
        # left row with a hot fingerprint finds no right row to meet
        right = right.join(_b(ok_fps), "fp", "left_semi")
    tagged = index_fps.select(
        "id", "n_fp", "fp", F.lit(False).alias("_new")
    ).unionByName(delta_fps.select("id", "n_fp", "fp", F.lit(True).alias("_new")))
    return (
        _pair_join(tagged, right, ["fp"], ["n_fp"], delta=True, broadcast_right=broadcast_delta)
        .groupBy("id_a", "id_b", "n_fp_a", "n_fp_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "shared",
            F.round(F.col("shared") / F.least("n_fp_a", "n_fp_b"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= min_containment)
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_shared`` winnowed fingerprints —
    the plagiarism/near-dup detection join of the MOSS scheme.  Output:
    (id_a, id_b, shared, containment) with id_a < id_b, where
    ``containment`` = shared / min(|fp(A)|, |fp(B)|) over DISTINCT
    fingerprint hashes (a fingerprint shared at several positions
    counts once, as in MOSS match scoring).

    The inverted-index join is :func:`_pair_join`, shared with the
    n-gram, MinHash and Hamming families: explode the per-document
    distinct fingerprint set, equi-join on the fingerprint hash, count
    per pair — never a cross product; cost is Σ per-fingerprint df².  Winnowing keeps the index sparse by
    construction (only ~2/(w+1) of k-grams survive selection, and
    12-char grams are far rarer than word shingles).

    ``max_df``: drop fingerprints whose document frequency exceeds the
    cap from the *pairing* index (exactly the n-gram family's hot-key
    knob).  Hot winnow fingerprints are cross-document boilerplate by
    definition — shared templates, navigation chrome, repeated long
    words — and their df² is the one superlinear term in this plan: the
    10× probe measured Σdf² dropping 197× (1.87G → 9.5M candidate rows)
    at df ≤ 100 on a corpus with a 3 856-df fingerprint.  Denominators
    still count every fingerprint, so ``shared``/``containment`` are
    exact for pairs whose overlap is rare-fingerprint-borne and
    downward-biased for boilerplate-borne pairs — a precision-oriented
    cost knob, deterministic and identically mirrored in the oracle."""
    # Checkpointed: the capped index is read as both sides of the join
    # (hot fingerprint = cross-document boilerplate).
    rows = winnow_fingerprint_rows(df, text_col, id_col, k, w)
    ex = materialize(_df_cap(rows, "fp", max_df), "iterate")
    return _winnow_pairs_join(ex, min_shared, min_containment)


def _winnow_pairs_join(ex: DataFrame, min_shared: int, min_containment: float) -> DataFrame:
    """Inverted-index pair join over (already capped, PERSISTED)
    ``(id, n_fp, fp)`` fingerprint rows — the shared tail of
    :func:`winnow_overlap_pairs` and :func:`winnow_match_spans` (one
    definition so the pair gate the span listing applies can never
    drift from the pair operator's own scoring)."""
    return (
        _pair_join(ex, ex, ["fp"], ["n_fp"])
        .groupBy("id_a", "id_b", "n_fp_a", "n_fp_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "shared",
            F.round(F.col("shared") / F.least("n_fp_a", "n_fp_b"), 6).alias("containment"),
        )
        # Filter on the ROUNDED value so both engines apply the same
        # boundary (the oracle's HAVING compares the same round(.,6)).
        .filter(F.col("containment") >= min_containment)
    )


def winnow_match_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Matched fingerprint coordinates for every qualifying near-dup
    pair — the MOSS-style alignment evidence behind
    :func:`winnow_overlap_pairs`: (id_a, id_b, fp, pos_a, pos_b), one
    row per (shared fingerprint, position-in-A, position-in-B).  This
    is what a reviewer actually looks at: WHERE the two documents
    match, at character-position grain (each matched coordinate marks
    a guaranteed >= k-char common run anchored at that position; a
    fingerprint selected at several positions contributes every
    coordinate combination, per the paper's matching semantics).

    Plan: the audited pair sub-plan gates which (id_a, id_b) qualify,
    then two joins attach each side's selected positions from the
    (id, pos, fp) fingerprint table — output volume is bounded by
    Σ per-pair shared-fingerprint coordinate products, never corpus-
    sized.  ``max_df`` restricts the span listing to the same capped
    fingerprint set the pair scores counted, so every span row is one
    of the matches that made its pair qualify.

    ONE gram-scan pipeline feeds both sub-plans (round 9, verdict r8
    #2): the positioned fingerprint table is computed and persisted
    once, the pair gate's (id, n_fp, fp) index rows are DERIVED from
    it (groupBy + collect_set + explode — the same dedup
    ``winnow_fingerprint_rows`` applies to the raw selection stream),
    and the capped index is what both the pair join and the span
    semi-filter read — the corpus-length gram scan + per-doc selection
    window runs exactly once (pinned by ``tests/test_plan_shapes.py``)."""
    return _matched_coords(*_winnow_evidence(
        df, text_col, id_col, k, w, min_shared, min_containment, max_df
    ))


def _winnow_evidence(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int,
    min_shared: int, min_containment: float, max_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """The shared prefix of the span and report operators: (pairs,
    capped) where ``pairs`` is the audited pair gate over the capped
    index rows and ``capped`` the positioned (id, pos, fp) fingerprints
    restricted to that same capped set.  One gram scan feeds both."""
    fps_pos = materialize(winnow_fingerprints(df, text_col, id_col, k, w), "iterate")
    ex = materialize(_df_cap(_fp_set_rows(fps_pos), "fp", max_df), "iterate")
    capped = (
        fps_pos.join(ex.select("id", "fp"), ["id", "fp"], "left_semi")
        if max_df is not None
        else fps_pos
    )
    return _winnow_pairs_join(ex, min_shared, min_containment), capped


def _matched_coords(pairs: DataFrame, capped: DataFrame) -> DataFrame:
    """(id_a, id_b, fp, pos_a, pos_b): every capped position of each
    shared fingerprint, on both sides of every gated pair."""
    a = capped.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "fp")
    b = capped.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "fp")
    return (
        pairs.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "fp"])
        .select("id_a", "id_b", "fp", "pos_a", "pos_b")
    )


def _coalesce_runs(coords: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands coalescing of matched (id_a, id_b, pos_a,
    pos_b) coordinates into maximal runs — the ONE definition of the
    run semantics shared by :func:`winnow_match_runs` and
    :func:`winnow_pair_report` (advice r9: the construction had drifted
    into two inline copies).  Two coordinates join the same run when
    they share the alignment diagonal (pos_a − pos_b) and their k-char
    covered intervals overlap or touch (next pos_a ≤ prev pos_a + k).

    ``coords`` must already be DISTINCT on (id_a, id_b, pos_a, pos_b).
    Output: one row per maximal run — (id_a, id_b, diag, start_a,
    start_b, run_len, n_coords).  Plan: one window partitioned by
    (pair, diagonal) ordered by pos_a (partition sizes are per-pair
    coordinate counts, never corpus-sized), a lag to flag breaks, a
    running sum to number islands, one hash aggregation per island;
    callers that use only a subset of the aggregates get the rest
    pruned by Catalyst."""
    coords = coords.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    ordered = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    brk = F.when(
        F.col("pos_a") - F.lag("pos_a").over(ordered) > k, F.lit(1)
    ).otherwise(F.lit(0))
    islands = coords.withColumn("_brk", brk).withColumn(
        "_isl",
        F.sum("_brk").over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return islands.groupBy("id_a", "id_b", "diag", "_isl").agg(
        F.min("pos_a").alias("start_a"),
        F.min("pos_b").alias("start_b"),
        (F.max("pos_a") + k - F.min("pos_a")).alias("run_len"),
        F.count(F.lit(1)).alias("n_coords"),
    ).drop("_isl")


def winnow_match_runs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Maximal matched character runs per near-dup pair — the MOSS
    report a reviewer actually reads: the per-coordinate evidence of
    :func:`winnow_match_spans` coalesced into (id_a, id_b, start_a,
    start_b, run_len, n_coords) intervals.  Two matched coordinates
    belong to the same run when they sit on the same alignment diagonal
    (pos_a − pos_b equal — the texts advance in lockstep) and their
    k-char covered intervals overlap or touch (next pos_a ≤ prev
    pos_a + k).  ``run_len`` is the covered character length
    max(pos_a) + k − min(pos_a); ``n_coords`` the matched coordinates
    coalesced into the run (duplicate coordinates reachable through
    several fingerprints count once).

    Plan: :func:`_coalesce_runs` (the shared gaps-and-islands
    coalescing) over the span coordinates — everything downstream of
    the span operator's audited sub-plans; no new corpus-scale
    stage."""
    coords = (
        winnow_match_spans(
            df, text_col, id_col, k, w, min_shared, min_containment, max_df
        )
        .select("id_a", "id_b", "pos_a", "pos_b")
        .distinct()
    )
    return _coalesce_runs(coords, k).select(
        "id_a", "id_b", "start_a", "start_b", "run_len", "n_coords"
    )


def winnow_pair_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 3,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """The per-pair MOSS summary row — what a dedup review queue
    renders per candidate pair: the overlap scores of
    :func:`winnow_overlap_pairs` joined with run statistics from
    :func:`winnow_match_runs`'s coalescing — (id_a, id_b, shared,
    containment, n_runs, sum_run_len, longest_run, covered_a,
    covered_b).  ``sum_run_len`` sums covered characters per run and
    can double-count characters matched on several alignment diagonals
    (each diagonal is its own alignment, per the paper's matching
    semantics); ``covered_a`` / ``covered_b`` are the per-side INTERVAL
    UNIONS of the matched k-char windows — each side's characters
    counted once however many diagonals matched them — i.e. the
    numerator of the "% of document matched" figure a MOSS report
    quotes (so covered_a <= sum_run_len always).  Each side's union is
    the same gaps-and-islands coalescing on a degenerate diagonal
    (:func:`_coalesce_runs` with both positions set to that side's),
    so the run semantics stay single-sourced.

    ONE selection stream feeds everything (the
    :func:`winnow_match_spans` construction): the positioned
    fingerprint table is persisted once; the pair gate, the span
    coordinates, and the islands coalescing are all derived from it —
    the corpus gram scan never re-runs."""
    pairs, capped = _winnow_evidence(
        df, text_col, id_col, k, w, min_shared, min_containment, max_df
    )
    pairs = materialize(pairs, "iterate")
    # three consumers below (runs + the two per-side coverages) —
    # without it the pair gate + two position joins rerun 3×
    coords = (
        _matched_coords(pairs, capped)
        .select("id_a", "id_b", "pos_a", "pos_b")
        .distinct()
        .transform(materialize, "iterate")
    )
    runs = _coalesce_runs(coords, k)
    stats = runs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("run_len").alias("sum_run_len"),
        F.max("run_len").alias("longest_run"),
    )

    # Per-side interval union: projecting BOTH positions to one side
    # puts every coordinate of a pair on diagonal 0, so _coalesce_runs
    # degenerates to exactly the union of that side's [pos, pos+k)
    # windows — one definition of "touching intervals merge" for runs
    # and coverage alike.
    def side_cover(pos: str, out: str) -> DataFrame:
        one_side = coords.select(
            "id_a", "id_b", F.col(pos).alias("pos_a"), F.col(pos).alias("pos_b")
        ).distinct()
        return (
            _coalesce_runs(one_side, k)
            .groupBy("id_a", "id_b")
            .agg(F.sum("run_len").alias(out))
        )

    cov = side_cover("pos_a", "covered_a").join(
        side_cover("pos_b", "covered_b"), ["id_a", "id_b"]
    )
    return (
        pairs.join(stats, ["id_a", "id_b"])
        .join(cov, ["id_a", "id_b"])
        .select(
            "id_a", "id_b", "shared", "containment",
            "n_runs", "sum_run_len", "longest_run",
            "covered_a", "covered_b",
        )
    )


def block_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 16,
) -> DataFrame:
    """(id, block_idx, block_text) — the non-overlapping token-block
    split of every document, entirely map-side (tokenize, explode over
    per-doc block counts, in-row slice+join).  The shared front of
    :func:`block_dedup` and ``streaming/jobs.streaming_block_dedup``."""
    B = block_tokens
    sized = spread(df).select(
        F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks")
    ).withColumn("n_tok", F.size("toks"))
    nb = F.expr(f"(n_tok + {B} - 1) div {B}")
    return sized.select(
        "id",
        "toks",
        F.explode(
            F.when(F.col("n_tok") >= 1, F.sequence(F.lit(0), nb - 1)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("block_idx"),
    ).select(
        "id",
        "block_idx",
        F.array_join(
            F.slice(F.col("toks"), F.col("block_idx") * B + 1, B), " "
        ).alias("block_text"),
    )


def _first_block_flag(blocks: DataFrame) -> DataFrame:
    """Attach ``kept`` = is-this-the-first-(id, block_idx)-occurrence
    of the block text, via min-struct agg + equi-join (NOT a window:
    the agg's map-side partial combine collapses hot duplicate blocks
    before the shuffle, and AQE can skew-split the join — a window
    over the hot key can do neither)."""
    firsts = blocks.groupBy("block_text").agg(
        F.min(F.struct("id", "block_idx")).alias("_first")
    )
    return blocks.join(firsts, "block_text").withColumn(
        "kept",
        (F.col("id") == F.col("_first.id"))
        & (F.col("block_idx") == F.col("_first.block_idx")),
    )


def _reassemble_blocks(flagged: DataFrame, keep_col: str) -> DataFrame:
    """(doc_id, n_blocks, n_kept, clean_text) from a flagged block
    frame — one hash aggregation on the doc id with an in-expression
    sort of the surviving (idx, text) structs; ``clean_text`` NULL when
    nothing survives.  Shared tail of :func:`block_dedup` and
    :func:`block_delta_dedup` (and therefore the streaming job) so the
    reassembly semantics can never drift between arms."""
    surv = F.array_sort(
        F.collect_list(
            F.when(F.col(keep_col), F.struct("block_idx", "block_text"))
        )
    )
    return (
        flagged.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.col(keep_col).cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(surv, lambda s: s["block_text"]), " "
            ).alias("_joined"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "n_blocks",
            "n_kept",
            F.when(F.col("n_kept") > 0, F.col("_joined")).alias("clean_text"),
        )
    )


def block_delta_flags(
    index_blocks: DataFrame,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 16,
    broadcast_delta: bool = True,
    delta_blocks: DataFrame | None = None,
) -> DataFrame:
    """Incremental block dedup fold — flag every block of a NEW batch
    of documents against the set of blocks EVER SEEN: ``_keep`` is true
    iff the block text is absent from ``index_blocks`` (a one-column
    ``block_text`` frame, in production the parquet block index) AND
    this row is the batch's first (doc_id, block_idx) occurrence of the
    text.  Returns the flagged (id, block_idx, block_text, kept, _hit,
    _keep) frame so callers derive both the cleaned documents
    (:func:`_reassemble_blocks` over ``_keep``) and the index append
    (``_keep`` rows are exactly the batch's new distinct blocks)
    without recomputing the fold.

    Scale shape (the minhash/winnow fold contract): the index is probed
    with a BROADCAST of the batch's distinct block texts (left-semi,
    map-side over the index scan), the hit set is bounded by the batch,
    and the follow-up membership join broadcasts it — history is
    scanned, never shuffled.  ``broadcast_delta=False`` for a backfill
    batch too large to broadcast (the joins then fall back to
    shuffles, index included — the documented trade-off shared with
    ``minhash_delta_pairs``).

    Caching contract: the returned plan references the batch-local
    first-occurrence subtree twice (the index probe and the membership
    join), so pass a PERSISTED ``delta_blocks`` — the expensive
    tokenize+split is then computed once and only the batch-sized agg
    and join replay per reference (no internal persist: a per-call
    cache could never be released by a long-running streaming job).
    :func:`block_delta_dedup` and the streaming job both do this;
    callers consuming the RETURNED frame through several actions should
    additionally persist it (one index scan instead of one per action —
    the streaming job does)."""
    _b = F.broadcast if broadcast_delta else (lambda d: d)
    blocks = (
        delta_blocks
        if delta_blocks is not None
        else block_rows(delta_docs, text_col, id_col, block_tokens)
    )
    flagged = _first_block_flag(blocks)
    probe = flagged.filter(F.col("kept")).select("block_text")
    hits = (
        index_blocks.select("block_text")
        .join(_b(probe), "block_text", "left_semi")
        .select("block_text")
        .distinct()
    )
    return flagged.join(
        _b(hits.withColumn("_hit", F.lit(1))), "block_text", "left"
    ).withColumn("_keep", F.col("kept") & F.col("_hit").isNull())


def block_delta_dedup(
    index_blocks: DataFrame,
    delta_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 16,
    broadcast_delta: bool = True,
) -> DataFrame:
    """Cleaned documents of an ingest batch under first-SEEN-wins block
    dedup against the historical block index — the batch-callable view
    of the :func:`block_delta_flags` fold (the streaming job derives
    its index append from the same flags).  Output contract identical
    to :func:`block_dedup` restricted to the delta's documents; when
    ingest order is doc_id order the union over batches equals the
    batch operator (pinned in ``tests/test_streaming.py``)."""
    blocks = block_rows(delta_docs, text_col, id_col, block_tokens).transform(
        materialize, "iterate"
    )
    return _reassemble_blocks(
        block_delta_flags(
            index_blocks, delta_docs, text_col, id_col, block_tokens,
            broadcast_delta, delta_blocks=blocks,
        ),
        "_keep",
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_tokens: int = 16,
) -> DataFrame:
    """C4-style corpus-wide duplicate-block removal (Raffel et al. 2020
    discard repeated three-sentence spans; here the unit is a
    non-overlapping ``block_tokens``-token block, the corpus-generic
    equivalent): every duplicated block is removed from ALL documents
    except its first occurrence in (doc_id, block_idx) order, and each
    document is reassembled from its surviving blocks.  Output:
    (doc_id, n_blocks, n_kept, clean_text) with ``clean_text`` NULL
    when nothing survives (a document that is a verbatim copy of
    earlier corpus content loses every block).

    Scale shape: tokenize + block split are map-side (the explode is
    over per-doc block counts); first-occurrence selection is a
    min-of-(id, idx)-struct HASH AGGREGATION on the block text plus an
    equi-join back — deliberately an agg+join rather than a row_number
    window, because the agg gets a map-side partial combine (a block
    duplicated a million times collapses to one row per mapper before
    the shuffle) and the join is eligible for AQE skew-splitting,
    neither of which a window over the hot key can do; then one hash
    aggregation back on doc_id with an in-expression sort of the
    surviving (idx, text) structs.  Exact, never hash-collision-lossy
    (the key is the block text itself)."""
    blocks = block_rows(df, text_col, id_col, block_tokens)
    return _reassemble_blocks(_first_block_flag(blocks), "kept")


def winnow_contamination(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    eval_mod: int = 10,
    min_shared: int = 2,
    min_containment: float = 0.0,
    max_df: int | None = None,
) -> DataFrame:
    """Substring-grain train/eval contamination screen: which TRAINING
    document shares winnowed fingerprints with which EVAL document
    (``doc_id % eval_mod == 0``), scored by the fraction of the EVAL
    document's fingerprints the training document contains.  Output:
    (train_id, eval_id, shared, eval_containment).

    This is the decontamination report :func:`contamination_check`
    cannot give: word-n-gram overlap tells you THAT a training doc
    leaks eval content, winnow fingerprints tell you WHICH eval doc,
    survive whitespace/case reformatting, and guarantee any shared run
    of w+k−1 characters is caught (the MOSS detection bound) — the
    screen GPT-style benchmark-leak audits actually need.  Bipartite
    by construction: train×train and eval×eval pairs are never formed,
    so the join is strictly cheaper than the full near-dup pairing.

    Scale shape: one gram-scan + selection pipeline over the corpus
    (persisted, read by both sides), the same df-cap knob as the pair
    family (``max_df`` evaluated over the full corpus), then one
    inverted-index equi-join filtered to train-left/eval-right and one
    pair-key aggregation."""
    rows = winnow_fingerprint_rows(df, text_col, id_col, k, w)
    rows = materialize(_df_cap(rows, "fp", max_df), "iterate")
    is_eval = (F.col("id") % eval_mod) == 0
    return fp_containment_flags(
        rows.filter(~is_eval), rows.filter(is_eval), min_shared, min_containment
    )


def fp_containment_flags(
    train_rows: DataFrame,
    eval_rows: DataFrame,
    min_shared: int = 2,
    min_containment: float = 0.0,
) -> DataFrame:
    """The contamination rule over winnow fingerprint rows (id, n_fp,
    fp): a training document is flagged against an eval document when
    it shares ≥ ``min_shared`` fingerprints with it AND covers ≥
    ``min_containment`` of the eval document's fingerprints.  Output:
    (train_id, eval_id, shared, eval_containment), the containment
    rounded to 6 places.

    One definition for the batch screen (:func:`winnow_contamination`),
    the stream screen against a frozen eval index
    (``streaming.jobs.streaming_frozen_score``) and the ingest verdict
    of ``streaming.jobs.streaming_corpus_screen``.  Bipartite: one
    inverted-index equi-join train-left/eval-right and one pair-key
    aggregation; a broadcast hint on ``eval_rows`` carries through."""
    tr = train_rows.select(F.col("id").alias("train_id"), "fp")
    ev = eval_rows.select(
        F.col("id").alias("eval_id"), F.col("n_fp").alias("ne"), "fp"
    )
    return (
        tr.join(ev, "fp")
        .groupBy("train_id", "eval_id", "ne")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
        .select(
            "train_id",
            "eval_id",
            "shared",
            F.round(F.col("shared") / F.col("ne"), 6).alias("eval_containment"),
        )
        .filter(F.col("eval_containment") >= min_containment)
    )


def contamination_check(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    eval_mod: int = 10,
    min_overlap: float = 0.2,
) -> DataFrame:
    """Train/eval n-gram contamination: for every training document, the
    fraction of its distinct n-gram shingles that appear anywhere in the
    held-out eval split — the standard benchmark-leakage screen run
    before training (e.g. GPT-3 appendix C; n-gram overlap flavor).

    The eval split is deterministic (``doc_id % eval_mod == 0``) so both
    engines agree without RNG.  Output: (doc_id, n_sh, n_common,
    overlap_frac) for training docs with overlap ≥ ``min_overlap``.

    Scale shape: eval shingle universe is deduped once (one shuffle),
    then a broadcast-unfriendly (it scales with eval corpus size)
    inverted-index SEMI join on the shingle — shuffle volume O(train
    shingles + eval shingles), never pairwise.  Per-doc overlap is one
    hash aggregation reusing the join's shingle partitioning."""
    is_eval = (F.col("id") % eval_mod) == 0
    sets = shingle_sets(df, text_col, id_col, n)
    train = sets.filter(~is_eval).select(
        "id", F.size("shset").alias("n_sh"), F.explode("shset").alias("shingle")
    )
    eval_universe = (
        sets.filter(is_eval)
        .select(F.explode("shset").alias("shingle"))
        .distinct()
    )
    common = train.join(eval_universe, "shingle", "left_semi")
    return (
        common.groupBy("id", "n_sh")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn("overlap_frac", F.round(F.col("n_common") / F.col("n_sh"), 6))
        .filter(F.col("overlap_frac") >= min_overlap)
        .select(F.col("id").alias("doc_id"), "n_sh", "n_common", "overlap_frac")
    )


def _cc_star(edges: DataFrame, max_iter: int = 20) -> tuple[DataFrame, int]:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): converges in O(log n) rounds on ANY
    graph, vs O(diameter) for plain min-label propagation — the deep-
    chain insurance `connected_components(deep_graphs=True)` selects.

    One round = large-star then small-star, each a groupBy-min plus a
    re-emit join on the (distinct, canonicalized big>small) edge set:

    * large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u),
      v > u — hooks every larger neighbor directly onto the local min.
    * small-star(u): over smaller neighbors only, m = min(N_<(u));
      emit (u, m) and (v, m) for the other v ∈ N_<(u) — flattens the
      remaining chains into stars.

    Fixpoint (edge-set signature stable round-over-round) is a forest
    of stars rooted at each component's min id.  Only the O(1)-row
    signature ever reaches the driver.  Returns (labels, rounds) so the
    property test can pin the logarithmic round count.

    Each round ends in ``localCheckpoint`` — not ``persist``: the round
    plan references the previous round's edges several times, so the
    logical plan grows ~4× per round and Catalyst re-analysis turns
    exponential by round 3 (measured: 6s, 3s, 39s, >130s on a 16-node
    chain).  Checkpointing truncates lineage, making every round
    constant-cost.  On a real cluster prefer reliable ``checkpoint()``
    (executor loss under localCheckpoint forfeits the partitions).

    The checkpoint is LAZY (``eager=False``, round 7): the signature
    aggregation is the round's only action, and materializing it both
    computes the signature and saves the checkpoint blocks — one job
    submission per round instead of two (the r6 shape paid a second
    fixed job latency per round just to read the 1-row signature).

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without the
    edge-set signature stabilizing: an unconverged star forest's
    ``a→b`` edges need not point at component roots, so returning the
    groupBy-min labels would be silently wrong — and callers like
    :func:`incremental_components` would durably persist that wrong
    clustering (advice r6).  O(log n) convergence means the default cap
    covers any graph these pipelines produce; hitting it means the cap
    is too low — raise ``max_iter``.
    """
    # Checkpoint the INPUT edge set before deriving anything from it
    # (r13, guide §2.4/§3.3 "materialise an intermediate"): ``nodes``
    # below and the round-0 ``cur`` both reference ``edges``, whose
    # lineage is the caller's full pair pipeline (shingle scan +
    # inverted-index self-join for the jaccard family).  Un-truncated,
    # the final ``nodes.join(labels)`` re-EXECUTED that pair join a
    # second time when downstream consumers materialized — one full
    # extra pair-plan execution per CC consumer (measured on
    # dedup_clusters_star and the corpus flagship).  Lazy: the
    # signature-seed action below materializes cur AND these blocks in
    # the same job.
    edges = materialize(edges, "iterate")
    # Node domain from the UNFILTERED endpoints: a node whose only
    # edges are self-loops must still appear in the output (as its own
    # cluster), matching the propagation path's contract — the
    # self-loop filter below would otherwise drop it (review r6).
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cur = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b"))
        .distinct()
        .transform(materialize, "iterate")
    )
    # Seed the convergence signature from the INITIAL edge set (the same
    # action also materializes cur's checkpoint): an input that is
    # already a star forest — the common case for incremental folds,
    # where prev labels are stars and the delta is a sliver — then
    # converges after ONE round instead of needing a second
    # confirmation round whose only job is to observe a repeat
    # signature (round 7; each avoided round saves a full Catalyst
    # planning + job cycle).
    prev_sig = tuple(
        cur.agg(F.count(F.lit(1)), F.expr("bit_xor(xxhash64(a, b))")).first()
    )
    rounds = 0
    converged = False
    for _ in range(max_iter):
        rounds += 1
        nbrs = cur.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            cur.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        # large-star output is already canonical: v > u >= m, so a > b.
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        d = large.select(F.col("a").alias("u"), F.col("b").alias("v"))
        small_min = d.groupBy("u").agg(F.min("v").alias("m"))
        j = d.join(small_min, "u")
        # lazy: the signature action below materializes the blocks
        nxt = (
            j.select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(j.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .transform(materialize, "iterate")
        )
        # order-independent edge-set signature: count + XOR of row
        # hashes (a SUM would overflow long under ANSI; XOR cannot, and
        # the edge set is distinct so XOR cancellation needs a real
        # 64-bit collision).  This action also saves the checkpoint —
        # the round's ONE job.
        sig = tuple(
            nxt.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(a, b))")
            ).first()
        )
        # nxt's blocks are saved: no later plan reads the previous round
        release(cur)
        cur = nxt
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        raise RuntimeError(
            f"_cc_star: edge set did not stabilize within max_iter={max_iter} "
            "rounds; labels would be unreliable (non-root edges can survive). "
            "Raise max_iter — star CC needs only O(log n) rounds."
        )
    roots = (
        cur.select(F.col("b").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    labels = (
        cur.select(F.col("a").alias("id"), F.col("b").alias("label"))
        .unionByName(roots)
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    # restore nodes the self-loop filter removed (their own clusters)
    full = nodes.join(labels, "id", "left").select(
        "id", F.coalesce("label", F.col("id")).alias("label")
    )
    return (
        full.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")),
        rounds,
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    deep_graphs: bool = False,
) -> DataFrame:
    """Min-label propagation over a near-dup pair graph: every node gets
    ``cluster_id`` = the minimum id reachable from it.  The canonical
    final step of corpus dedup — pairs from any of the near-dup
    detectors become keep/drop decisions per *cluster*, not per pair
    (A~B, B~C must collapse to one survivor even when A~C was never
    emitted).

    Iterative (label propagation to fixpoint): each round joins labels
    across edges and takes the neighborhood min — O(cluster diameter)
    rounds, and near-dup clusters are shallow (pairs/stars/short
    chains).  Each round is one shuffle join + partial-agg min; the only
    driver-side value is the converged? count, never data.  This is the
    standard Spark formulation of CC (cf. GraphFrames' label
    propagation).  ``deep_graphs=True`` switches to alternating
    large-star/small-star (:func:`_cc_star`) — O(log n) rounds
    regardless of diameter, the right choice when the pair graph can
    contain long chains (e.g. transitive near-dup drift across
    versions) rather than the shallow stars typical of template dups.

    Output: (doc_id, cluster_id) for every node that appears in
    ``pairs`` (singletons are their own trivial clusters and are
    omitted, matching the pair-graph domain).
    """
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if deep_graphs:
        labels, _ = _cc_star(edges, max_iter=max_iter)
        return labels
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).transform(materialize, "iterate")
    # checkpointed, not shared, label state: the update references the
    # previous labels twice, so the logical plan doubles per round and
    # Catalyst re-analysis turns superlinear once the graph needs many
    # rounds.  Shallow near-dup graphs never hit it; a diameter-8
    # component did.
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("id"), F.col("src").alias("label"))
        .transform(materialize, "iterate")
    )

    converged = False
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # Carry the previous label through the update so convergence is one
        # filter over the already-materialized result, not a second join.
        # Lazy checkpoint: the count below is the round's single action —
        # it materializes the checkpoint blocks AND reads the changed
        # count in one job submission (round 7; was two jobs per round).
        upd = (
            labels.join(nbr_min, labels["id"] == nbr_min["src"], "left")
            .select(
                labels["id"].alias("id"),
                labels["label"].alias("_old"),
                F.least(labels["label"], F.coalesce("nbr_label", labels["label"])).alias(
                    "label"
                ),
            )
            .transform(materialize, "iterate")
        )
        changed = upd.filter(F.col("label") != F.col("_old")).count()
        # upd's blocks are saved: no later plan reads the previous labels
        release(labels)
        labels = upd
        if changed == 0:
            converged = True
            break
    release(edges)
    if not converged:
        raise RuntimeError(
            f"connected_components: min-label propagation still changing after "
            f"max_iter={max_iter} rounds (graph diameter exceeds the cap); "
            "returning would yield silently under-merged clusters. "
            "Use deep_graphs=True (O(log n) star CC) or raise max_iter."
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def _delta_local_split(
    prev_labels: DataFrame, delta: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split an incremental-CC refresh into (cc_input_edges,
    untouched_labels) so only the clusters a delta edge actually touches
    are re-clustered — the delta-locality contract of
    :func:`incremental_components` (and the unit the delta-locality test
    introspects).

    * ``endpoints`` — distinct delta node ids, semi-joined against
      ``prev_labels`` to find the touched ``cluster_id`` set;
    * ``affected`` / ``untouched`` — ``prev_labels`` split by semi/anti
      join on that (even smaller) touched-cluster set;
    * cc input = affected star edges (doc_id → cluster_id) ∪ delta.

    Join strategy is left to AQE deliberately (review r7): when the
    delta is the daily sliver, runtime stats convert both splits to
    broadcast joins; when a caller feeds a corpus-sized delta (backfill,
    replay, the era-thirds of ``dedup_clusters_incremental2``), AQE
    keeps a shuffle join instead of forcing a driver-OOM-sized
    broadcast — a hard ``F.broadcast`` here would be a cliff, not an
    optimization.

    ``prev_labels`` is consumed twice (the semi and the anti side) and
    embedded several times in the fold's OUTPUT plan; when it is a
    computed frame rather than a parquet source, the caller should
    ``localCheckpoint`` it, not merely persist: persist caches execution
    but Catalyst still re-analyzes the full lineage per consumer, and in
    a fold CHAIN (the daily-refresh shape — each day folds into the
    previous day's output) that analysis compounds ~3× per fold
    (measured: fold 2 of ``dedup_clusters_incremental2`` cost 24 s of
    planning at sf0.1 under persist, ~4 s checkpointed).  The streaming
    fold needs neither: each generation round-trips through parquet,
    which truncates lineage for free.
    """
    endpoints = (
        delta.select(F.col("src").alias("doc_id"))
        .unionByName(delta.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    touched = (
        prev_labels.join(endpoints, "doc_id", "left_semi")
        .select("cluster_id")
        .distinct()
    )
    affected = prev_labels.join(touched, "cluster_id", "left_semi")
    untouched = prev_labels.join(touched, "cluster_id", "left_anti")
    stars = affected.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")
    )
    return stars.unionByName(delta), untouched


def incremental_components(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Incremental connected components: fold a delta pair-batch into an
    existing ``(doc_id, cluster_id)`` labeling WITHOUT re-clustering
    history — the daily-refresh shape of corpus dedup at 100 TB, where
    yesterday's corpus is billions of docs and today's delta is a sliver.

    Delta-local (round 7; the r6 version fed ALL previous stars into the
    CC fold, paying corpus-wide shuffle rounds per refresh): only the
    previous clusters containing a delta endpoint enter the fold —
    :func:`_delta_local_split` semi-joins ``prev_labels`` to the delta
    endpoints' cluster_ids, runs :func:`_cc_star` over (affected stars ∪
    delta) only, and unions the untouched labels back verbatim.  Refresh
    cost now scales with |delta| + |affected clusters|, not |corpus|.

    Correctness: the previous labeling is a star forest whose labels are
    min member ids (what :func:`connected_components`/:func:`_cc_star`
    produce), and a star forest preserves connectivity — so
    ``CC(affected stars ∪ delta) = CC(affected old pairs ∪ delta)``.
    Untouched clusters share no node with the fold input (clusters are
    disjoint), so their min-id labels can neither change nor collide
    with a re-clustered label.  Singleton labels (doc_id == cluster_id)
    become self-loops, which :func:`_cc_star` keeps as their own
    clusters (the r6 node-domain contract).  A delta edge that bridges
    two old clusters merges them under the min cluster_id — exactly what
    a batch recompute over the union would produce, which is the
    equivalence the incremental test and the driver oracle pin.

    Pair with :func:`minhash_delta_pairs` (delta-vs-index candidate
    pairs; registered as the ``dedup_incremental_minhash`` query) for
    the full incremental dedup path: new signatures probe the banded
    index for delta pairs, and this fold turns them into the refreshed
    clustering — ``streaming/jobs.streaming_minhash_dedup(labels_dir=…)``
    is that composition as a running stream.
    """
    delta = new_pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    cc_input, untouched = _delta_local_split(prev_labels, delta)
    labels, _ = _cc_star(cc_input, max_iter=max_iter)
    return labels.unionByName(
        untouched.select(
            F.col("doc_id"), F.col("cluster_id")
        )
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.45,
    d: int | None = None,
) -> DataFrame:
    """Exact embedding near-dup pairs: pairwise cosine ≥ threshold.

    Brute force O(N²) — correct baseline; use
    ``similarity_search.lsh_bucketed_topk`` as the sub-quadratic scale
    path.  Cosine is the sequential double fold (oracle-exact); norms
    are precomputed per row (not per pair) — same IEEE values, N instead
    of N² norm folds.  The per-PAIR dot runs the dimension-unrolled
    codegen path (r13, guide §1.2/§4.1: the interpreted HOF fold over
    N² pairs was the query's entire cost — measured 23.4 s → the
    arithmetic itself is milliseconds); values are bit-identical (same
    IEEE ops, same order — see functions/vectors.py).  ``d``: pass the
    known dimension to skip the per-call driver probe (r14)."""
    if d is None:
        d = probe_dim(df, vec_col)
    base = spread(df).select(
        F.col(id_col).alias("id"),
        to_double(F.col(vec_col)).alias("v"),
        F.sqrt(norm2(to_double(F.col(vec_col)), d)).alias("nrm"),
    ).transform(materialize, "iterate")  # read as both join sides
    a = base.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("norm_a")
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("norm_b")
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot(F.col("va"), F.col("vb"), d) / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# B-cubed cluster evaluation (round 12) — Bagga & Baldwin 1998, the
# standard entity-resolution / dedup clustering metric: per-document
# precision = |C_pred(d) ∩ C_gold(d)| / |C_pred(d)|, recall with the
# gold cluster in the denominator, averaged over documents.  The whole
# metric reduces to three hash-aggs over the (pred, gold) assignment
# pairs: P = (1/N)·Σ_{p,g} n_pg²/n_p and R = (1/N)·Σ_{p,g} n_pg²/n_g.
#
# Cross-engine determinism: each term is computed as EXACT scaled
# integer arithmetic — (n_pg²·10⁹) div n_p — and summed as BIGINT
# (order-independent), so the oracle hash-matches; truncation loses
# < 1 unit per (p,g) group → error on P/R < #groups/(N·10⁹), invisible
# at the 6-dp rounding.  Overflow bound: n_pg²·10⁹ needs the largest
# cluster ≤ ~3 000 docs to stay in int64 — at a corpus where clusters
# exceed that, drop the scale a digit (documented seam).
B3_SCALE = 10**9


def bcubed_eval(assignments: DataFrame) -> DataFrame:
    """(doc_id, p, g) → ONE row (n_docs, n_pred_clusters,
    n_gold_clusters, bcubed_precision, bcubed_recall, bcubed_f1).
    ``assignments`` must have one row per document with its predicted
    and gold cluster ids.

    r14 (verdict r13 #6, guide §2.4): ONE pass over the assignment
    stream.  The r13 shape scanned the (checkpointed) assignments four
    times — the (p,g) agg, a per-p agg, a per-g agg, and the counts row
    with its two count-distincts (an Expand tripling the data).  Every
    one of those derives EXACTLY from the (p,g) contingency table:
    n_p = Σ_g n_pg, n_g = Σ_p n_pg, n_docs = Σ n_pg, and the distinct
    p/g sets of npg are the distinct sets of the assignments (every
    assignment row lands in exactly one (p,g) group) — same integers,
    same results, three corpus-sized passes removed.  npg (one narrow
    row per distinct (p,g) pair) is persisted: it feeds the two
    side-tables, the join probe and the counts row, and its
    InMemoryRelation stats let the planner broadcast the per-p/per-g
    sides when they fit.  Materialized EAGERLY: the four consumers are
    sibling subtrees of one action, so a lazy pin would race the first
    materialization — each racer re-running the caller's full
    assignment pipeline (for dedup_bcubed_eval, the whole near-dup
    clustering)."""
    npg = (
        assignments.groupBy("p", "g")
        .agg(F.count(F.lit(1)).alias("n_pg"))
        .transform(materialize, "share", eager=True)  # see docstring
    )
    np_ = npg.groupBy("p").agg(F.sum("n_pg").alias("n_p"))
    ng = npg.groupBy("g").agg(F.sum("n_pg").alias("n_g"))
    terms = (
        npg.join(np_, "p")
        .join(ng, "g")
        .agg(
            F.sum(F.expr(f"n_pg * n_pg * {B3_SCALE} div n_p")).alias("sp"),
            F.sum(F.expr(f"n_pg * n_pg * {B3_SCALE} div n_g")).alias("sr"),
        )
    )
    counts = npg.agg(
        F.sum("n_pg").cast("long").alias("n_docs"),
        F.count_distinct("p").alias("n_pred_clusters"),
        F.count_distinct("g").alias("n_gold_clusters"),
    )
    row = counts.crossJoin(terms)
    denom = F.col("n_docs") * F.lit(float(B3_SCALE))
    p = F.round(F.col("sp") / denom, 6)
    r = F.round(F.col("sr") / denom, 6)
    return row.select(
        "n_docs",
        "n_pred_clusters",
        "n_gold_clusters",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
        F.round(2 * p * r / (p + r), 6).alias("bcubed_f1"),
    )
