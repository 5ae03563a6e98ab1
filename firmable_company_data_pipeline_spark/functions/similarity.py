"""String similarity scoring (reference F17/F18,
transform/entity_matching.py:151-153, test/entity_matching_test.py:71).

Two modes, per SURVEY.md §7:

* **native** (default): token-sort + Levenshtein ratio, pure Column
  expressions — JVM-side, codegen-friendly, oracle-expressible. This is
  the scorer the fuzzy-match cascade uses; at 100 TB the whole similarity
  join stays inside whole-stage codegen.
* **exact rapidfuzz parity** lives in ``operators/matching.py`` as an
  optional Arrow-batched pandas UDF (``scorer="rapidfuzz"``) for users who
  need bug-for-bug token_sort_ratio, at UDF cost.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def token_sort(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics, split, sort tokens, re-join.

    Mirrors fuzzywuzzy's ``full_process`` + token_sort preprocessing:
    punctuation (e.g. ``&``) is dropped before tokenizing, so punctuation
    variants ("A & B" vs "a and b") aren't over-penalized by the
    Levenshtein ratio the way raw strings would be.
    """
    # Single-pass normalization: any run of non-alphanumerics (punctuation
    # AND whitespace) is one separator — provably identical to the two-pass
    # punct→space + collapse-\s+ form, at one regex pass per value.
    normalized = F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " ")
    tokens = F.split(F.trim(normalized), " ")
    return F.array_join(F.array_sort(tokens), " ")


def levenshtein_ratio(a: Column, b: Column) -> Column:
    """``(1 - levenshtein/max(len)) * 100`` — 0..100, 100 = identical (F18).

    Note: rapidfuzz ``fuzz.ratio`` is an indel ratio over ``len(a)+len(b)``;
    this Levenshtein variant is the documented native approximation. Both
    are 100 iff strings are equal, which is what the match thresholds key on.
    """
    max_len = F.greatest(F.length(a), F.length(b))
    return F.when(max_len == 0, F.lit(100.0)).otherwise(
        (F.lit(1.0) - F.levenshtein(a, b) / max_len) * 100.0
    )


def token_sort_ratio(a: Column, b: Column) -> Column:
    """Native token_sort_ratio approximation (F17): sort tokens, then ratio."""
    return levenshtein_ratio(token_sort(a), token_sort(b))


def py_indel_ratio(a: str, b: str) -> float:
    """Pure-Python normalized indel similarity, rapidfuzz ``fuzz.ratio``
    semantics: ``(len(a)+len(b) - indel_distance) / (len(a)+len(b)) * 100``
    where indel distance = insertions+deletions only (substitution costs
    2, i.e. ``len(a)+len(b) - 2*LCS``).

    This is the exact quantity rapidfuzz computes (its C++ core is just
    faster); used as the fallback for the UD3 parity scorer when
    rapidfuzz is not installed, so the code path is exercised everywhere.
    O(len(a)*len(b)) DP — fine for entity names inside an Arrow batch.
    """
    if not a and not b:
        return 100.0
    if not a or not b:
        return 0.0
    # LCS length, rolling 1-D DP.
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0] * (len(b) + 1)
        for j, cb in enumerate(b):
            cur[j + 1] = prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j])
        prev = cur
    lcs = prev[len(b)]
    lensum = len(a) + len(b)
    return (lensum - (lensum - 2 * lcs)) / lensum * 100.0


def py_token_sort_ratio(a: str, b: str) -> float:
    """Pure-Python rapidfuzz ``fuzz.token_sort_ratio`` semantics:
    whitespace-tokenize, sort, re-join with single spaces, then indel
    ratio (rapidfuzz 3.x applies no default character processing)."""
    sa = " ".join(sorted((a or "").split()))
    sb = " ".join(sorted((b or "").split()))
    return py_indel_ratio(sa, sb)


def bounded_levenshtein_ratio(a: Column, b: Column, min_ratio: float) -> Column:
    """Levenshtein ratio with early abandon: identical values to
    :func:`levenshtein_ratio` for every pair scoring ≥ ``min_ratio``;
    pairs below come back as -1.0 (callers filter on ≥ ``min_ratio``, so
    the sentinel is never observable).

    ``ratio ≥ r ⟺ distance ≤ (1 - r/100)·max_len``, so Spark's bounded
    ``levenshtein(l, r, threshold)`` (banded DP, O(threshold·len) instead
    of O(len²)) prunes the dissimilar majority of a similarity join's
    candidate pairs at a fraction of the full-DP cost."""
    max_len = F.greatest(F.length(a), F.length(b))
    limit = F.floor(max_len * (1.0 - min_ratio / 100.0)).cast("int")
    # call_function: the Python levenshtein() wrapper only takes an int
    # threshold, but the underlying SQL function accepts a per-row column.
    d = F.call_function("levenshtein", a, b, limit)
    # ``d`` stays in both branches: bound once (bind.let) the scorer runs
    # interpreted, and match_fuzzy_blocked went 2.2-2.7 -> 6.4-6.7 s at sf0.1.
    return (
        F.when(max_len == 0, F.lit(100.0))
        .when(d >= 0, (F.lit(1.0) - d / max_len) * 100.0)
        .otherwise(F.lit(-1.0))
    )


def phonetic_key(col: Column, max_len: int = 5, n_tokens: int = 2) -> Column:
    """Consonant-skeleton blocking key over a name's first ``n_tokens``
    tokens: lowercase → strip non-letters → per token keep the leading
    character, drop vowels from the rest, truncate to ``max_len`` —
    skeletons joined by a space.

    A Soundex-lite: robust to the vowel-level misspellings and casing
    noise that break exact blocking, while staying expressible as plain
    ``regexp_replace``/``substring`` in ANY engine (true Soundex needs
    per-letter digit classes, and run-collapse needs regex
    backreferences — RE2-based engines such as DuckDB have neither).
    Used as a recall-oriented alternative block key for the fuzzy
    cascade when the postcode analog is missing or dirty.

    ``n_tokens`` is the selectivity dial: ONE token over a corpus whose
    names draw their leading word from a small vocabulary (brands,
    colors) produces blocks of thousands and a quadratic pair
    explosion — measured 23 s vs 3 s at bench scale for one- vs
    two-token keys on the part-name corpus.  Two tokens keeps recall
    for single-word typos (the second skeleton still matches) while
    multiplying distinct keys.  Pass the TOKEN-SORTED name (e.g.
    ``phonetic_key(token_sort(col))``) to make the key word-order
    invariant.
    """
    s = F.trim(F.regexp_replace(F.lower(col), r"[^a-z]+", " "))
    toks = F.slice(F.split(s, " "), 1, n_tokens)
    skel = F.transform(
        toks,
        lambda t: F.substring(
            F.concat(
                F.substring(t, 1, 1),
                F.regexp_replace(F.substring(t, 2, 1_000_000), r"[aeiou]", ""),
            ),
            1,
            max_len,
        ),
    )
    return F.array_join(skel, " ")


def py_jaro_winkler(s1: str, s2: str) -> float:
    """Pure-Python Jaro-Winkler similarity (0..1), matching the classic
    definition DuckDB's ``jaro_winkler_similarity`` implements: 0.0 when
    either string is empty (including both — DuckDB convention), prefix
    boost (≤ 4 chars, weight 0.1) applied only when jaro > 0.7.

    Used by the Arrow-batched ``fn_jaro_winkler`` scorer; the oracle is
    DuckDB's own INDEPENDENT C++ implementation, making this one of the
    strongest cross-checks in the suite (two from-scratch codebases must
    agree to 4 dp).
    """
    if not s1 or not s2:
        return 0.0
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    flags1 = [False] * l1
    flags2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo, hi = max(0, i - window), min(l2, i + window + 1)
        for j in range(lo, hi):
            if not flags2[j] and s2[j] == c:
                flags1[i] = flags2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    transpositions = 0
    j = 0
    for i in range(l1):
        if flags1[i]:
            while not flags2[j]:
                j += 1
            if s1[i] != s2[j]:
                transpositions += 1
            j += 1
    t = transpositions // 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix == 4:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1 - jaro)
