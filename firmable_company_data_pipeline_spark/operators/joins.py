"""Skew-mitigation join operators (charter extension — the reference
joins everything through pandas merges / SQL on a single Postgres node,
`transform/entity_matching.py:103-128`, and never meets shuffle skew).

At 100 TB a handful of hot keys (the NULL-like placeholder customer, a
viral user_id) concentrate an entire shuffle partition on one reducer.
AQE's skew-join split (`spark.sql.adaptive.skewJoin.*`, on in our
session factory) handles SORT-MERGE skew after the fact; explicit
salting is the a-priori fix that also covers shuffle-hash joins and
bounds the per-reducer working set deterministically.

``salted_join`` is semantics-preserving by construction: the small side
is replicated once per salt value, so every (left-row, right-row) match
that exists un-salted exists in exactly one salt bucket — results are
IDENTICAL to the plain join (the oracle for the demo query is the plain
SQL join), only the shuffle layout changes: a key that previously
hashed to one reducer now spreads over ``n_salt`` of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.session import materialize


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    n_salt: int = 8,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """Join ``left`` (big, possibly key-skewed) to ``right`` (small
    enough to replicate ``n_salt``×, too big or deliberately not
    broadcast) with a salted key.

    The left side gets a per-row salt and the right side is exploded
    once per salt value (``n_salt``× replication ≪ broadcast for
    mid-sized dims since each reducer still receives only 1/n_salt of
    the big side's rows per key).  The join runs on ``(key…, _salt)``
    and the salt column is dropped.

    Salt derivation: by default ``xxhash64(all left columns) mod
    n_salt`` — DETERMINISTIC under task retry and stage recompute.  A
    per-row nondeterministic salt (``monotonically_increasing_id``,
    ``rand``) was rejected on purpose: it is a shuffle key, and if a
    left partition is recomputed after a shuffle-fetch failure its rows
    can re-salt differently and land on different reducers — the
    classic lost/duplicated-row hazard, at exactly the failure-prone
    scale this operator targets.  The cost of determinism: rows that
    are byte-identical across ALL columns share a salt and don't
    spread; in practice hot-key rows differ in their other attributes
    (the placeholder customer's orders still have distinct orderkeys).
    Pass ``salt_cols`` to pick the distinguishing columns explicitly
    when the full-row hash is wasteful or the frame carries huge
    payload columns.

    ``how`` must be one of inner/left/left_semi/left_anti: right-side
    replication would duplicate unmatched right rows under right/full
    joins.  The join is hinted ``shuffle_hash`` — under a broadcast
    there is no shuffle to de-skew and the salt would only widen the
    build side.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join does not support how={how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if salt_cols:
        hash_cols = salt_cols
    else:
        # xxhash64 rejects map-typed inputs (at any nesting depth) at
        # analysis time — exclude them from the default full-row hash so
        # the operator keeps working on frames with properties maps; the
        # join keys are always hashable, so the fallback is never empty.
        def _hashable(dt) -> bool:
            from pyspark.sql.types import ArrayType, MapType, StructType

            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _hashable(dt.elementType)
            if isinstance(dt, StructType):
                return all(_hashable(f.dataType) for f in dt.fields)
            return True

        hash_cols = [f.name for f in left.schema.fields if _hashable(f.dataType)]
        # If nothing beyond the join keys is hashable, the salt is a
        # pure function of the key — a hot key still lands on one
        # reducer, so the n_salt-fold right-side replication buys zero
        # skew spreading.  Don't pay for nothing (advice r5): warn and
        # fall back to a plain shuffle-hash join (the n_salt=1
        # degenerate), and tell the caller to pass salt_cols.
        if set(hash_cols) <= set(keys):
            import warnings

            warnings.warn(
                "salted_join: only the join key columns are hashable on the "
                "left side, so the default salt cannot spread a skewed key "
                "across reducers — falling back to an unsalted join; pass "
                "salt_cols with a map-free distinguishing column to salt",
                stacklevel=2,
            )
            n_salt = 1
            hash_cols = keys
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in hash_cols]), F.lit(n_salt))
    l_salted = left.withColumn("_salt", salt.cast("int"))
    r_salted = right.withColumn(
        "_salt", F.explode(F.array([F.lit(i) for i in range(n_salt)]))
    )
    out = l_salted.join(r_salted.hint("shuffle_hash"), keys + ["_salt"], how)
    return out.drop("_salt")


# ---------------------------------------------------------------------------
# Bloom-filtered semi-join: the explicit runtime-filter (semi-join
# reduction) every warehouse engine applies when a selective dim filter
# should prune a fact scan BEFORE the join shuffle.  Spark's own AQE
# injects these opportunistically (spark.sql.optimizer.runtimeFilter.*);
# this operator is the deterministic, always-on form with a documented
# bit budget, and — unlike the built-in — its filter stage is visible in
# the plan and testable.
#
# Exactness: the bloom pass only DELETES left rows whose key provably
# has no partner (no bit-vector miss can be a true match); survivors are
# then exact-verified with a left-semi join, so the result is IDENTICAL
# to the plain semi-join — the oracle for the demo query is plain
# EXISTS SQL.  What changes is the shuffle volume: at 100 TB the fact
# side sheds non-matching rows map-side (a ~KB bit vector broadcast to
# every task) and only candidates enter the verify shuffle.
_BLOOM_P = 1_000_000_007
# Independent affine hashes (classic public LCG multipliers/increments:
# glibc, Marsaglia, MSVC).  Affine maps mod a prime are bijections, so
# each hash spreads a dense integer key domain uniformly over the bits.
_BLOOM_AB = ((1103515245, 12345), (69069, 362437), (214013, 2531011))


def _require_integral_key(df: DataFrame, col: str) -> None:
    """The affine bloom hashes work on integral keys; any other type
    would cast to NULL long, every bit test would evaluate NULL, and
    the 'identical to the plain semi-join' contract would silently
    return ZERO rows (review r12) — refuse loudly instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    dt = df.schema[col].dataType
    if not isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"bloom key column {col!r} must be integral, got {dt.simpleString()}"
            " — hash non-integral keys to a long (e.g. xxhash64) first"
        )


def _bloom_positions(key: F.Column, n_bits: int, n_hashes: int) -> list[F.Column]:
    k = F.pmod(key.cast("long"), F.lit(_BLOOM_P))
    return [
        F.pmod(F.pmod(k * F.lit(a) + F.lit(b), F.lit(_BLOOM_P)), F.lit(n_bits))
        for a, b in _BLOOM_AB[:n_hashes]
    ]


def bloom_partial(
    keys: DataFrame,
    key_col: str,
    n_bits: int = 8192,
    n_hashes: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """(w, m) bit-vector words for one key stream — ≤ n_bits/32 rows
    however large the input; the map-side build of the mergeable pair
    (``bloom_merge`` is the combiner — set bits OR, the same
    partial/merge split as ``sketches.cms_partial``/``kmv_partial``),
    which also makes the vector a streaming-refresh target."""
    if n_hashes > len(_BLOOM_AB):
        raise ValueError(f"n_hashes must be <= {len(_BLOOM_AB)}")
    _require_integral_key(keys, key_col)
    # No distinct on positions: bit_or is idempotent, so duplicate
    # positions cannot change any word — a dropDuplicates here was a
    # whole redundant exchange per build (review r12).  The KEY dedup
    # (which bounds the explode to n_distinct·n_hashes rows) is
    # likewise skippable when the caller already deduped — set
    # ``assume_distinct`` and the build runs exchange-free map-side
    # straight into the word agg (advice r12: bloom_semi_join's rk is
    # pre-deduped, so deduping again here was the same waste class).
    # bit_or idempotence means a WRONG assume_distinct=True still
    # yields the identical vector — only the explode volume grows.
    keyed = keys.select(F.col(key_col).alias("_k"))
    if not assume_distinct:
        keyed = keyed.dropDuplicates(["_k"])
    pos = (
        keyed.select(
            F.explode(
                F.array(*_bloom_positions(F.col("_k"), n_bits, n_hashes))
            ).alias("p")
        )
    )
    # 2^(p mod 32) as a long: pow is exact for exponents < 53, and the
    # pyspark shiftleft wrapper only takes a literal shift amount.
    bit = F.pow(F.lit(2.0), (F.col("p") % 32).cast("double")).cast("long")
    return pos.groupBy(F.floor(F.col("p") / 32).alias("w")).agg(
        F.bit_or(bit).alias("m")
    )


def bloom_merge(partials: DataFrame) -> DataFrame:
    """Fold any union of per-batch bloom words into one vector — set
    bits OR, so the folded vector is IDENTICAL to a one-pass build over
    the union of the key streams (stream-vs-batch pinned)."""
    return partials.groupBy("w").agg(F.bit_or(F.col("m")).alias("m"))


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_bits: int = 8192,
    n_hashes: int = 3,
) -> DataFrame:
    """``left`` rows whose ``left_key`` appears in ``right.right_key``
    (exact left-semi semantics), evaluated as bloom prefilter → exact
    verify.

    Build: the right keys' ``n_hashes`` bit positions, distinct (≤
    ``n_bits`` rows however large the right side is), packed into 32-bit
    words and collected into ONE map row that broadcasts to the probe.
    Probe: a map-side conjunction of ``n_hashes`` O(1) bit tests — zero
    shuffle, no join — then the surviving candidates run the real
    left-semi join.  With the default 8192 bits / 3 hashes the false-
    positive rate at 1000 distinct build keys is ~0.4% (k·n/m = 0.37),
    so the verify shuffle carries essentially only true matches.
    """
    _require_integral_key(left, left_key)
    # rk feeds BOTH the bloom build and the exact verify join, so the
    # right side's scan + key-dedup shuffle runs once (review r12)
    rk = (
        right.select(F.col(right_key).alias("_k"))
        .dropDuplicates(["_k"])
        .transform(materialize, "iterate")
    )
    words = bloom_partial(rk, "_k", n_bits, n_hashes, assume_distinct=True)
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "m"))).alias("_bloom")
    )
    probe_pos = _bloom_positions(F.col(left_key), n_bits, n_hashes)
    bit_tests = [
        (
            F.coalesce(
                F.element_at(F.col("_bloom"), F.floor(p / 32)), F.lit(0).cast("long")
            ).bitwiseAND(F.pow(F.lit(2.0), (p % 32).cast("double")).cast("long"))
            != 0
        )
        for p in probe_pos
    ]
    cond = bit_tests[0]
    for t in bit_tests[1:]:
        cond = cond & t
    candidates = (
        left.crossJoin(F.broadcast(bloom)).filter(cond).drop("_bloom")
    )
    # Exact verify: un-hinted — Catalyst/AQE broadcasts rk when it is
    # small enough, else a shuffle that now carries only candidates.
    return candidates.join(
        rk, candidates[left_key] == F.col("_k"), "left_semi"
    )
