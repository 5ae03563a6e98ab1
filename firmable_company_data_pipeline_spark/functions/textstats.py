"""Text-analysis functions for LLM training-data pipelines (charter
extension beyond the reference, SURVEY.md §7 phase 5): language-ID,
quality scoring, token counting, document fingerprinting.

Everything here is a pure Column expression — JVM-side, whole-stage
codegen, no Python boundary — so the same logic is expressible in the
DuckDB oracle SQL (list lambdas mirror Spark's higher-order functions).

Determinism contract: the rolling hash is an explicit arithmetic fold
``h = (h*31 + codepoint) mod 1_000_000_007`` rather than Spark's
``hash()`` (Murmur3) so the oracle can reproduce values bit-for-bit.
At 100 TB these run in one map stage over the documents scan — no
shuffle, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007

# "BPE-ish" pre-tokenizer: letter runs, digit runs, single punctuation —
# the usual byte-pair-encoding pre-split shape (cf. GPT-2's regex).
BPE_SPLIT_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"

# Small per-language stopword profiles for the n-gram/stopword language
# heuristic. Deterministic tie-break: first-listed language wins.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "mit", "von", "zu", "ein", "nicht"),
    "fr": ("le", "les", "et", "est", "pour", "dans", "une", "du", "que", "pas"),
    "es": ("el", "los", "y", "es", "para", "con", "una", "del", "que", "no"),
}

STOPWORDS_EN = LANG_PROFILES["en"]


def tokens(col: Column) -> Column:
    """Whitespace tokenization (lowercased), empty-safe."""
    return F.split(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-style pre-tokens (letter runs / digit runs / punct)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_SPLIT_REGEX), 0))


def char_fold_hash(col: Column) -> Column:
    """Rolling polynomial hash over characters:
    ``fold(c: (h*31 + codepoint(c)) % 1_000_000_007)``.

    Used for document fingerprints, shingle hashing (MinHash input) and
    SimHash token hashing.  Oracle mirror:
    ``list_reduce(list_prepend(0, list_transform(string_split(s,''),
    c -> ascii(c))), (h,c) -> (h*31+c) % 1000000007)``.
    """
    return F.aggregate(
        F.transform(F.split(col, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % HASH_MOD,
    )


def doc_fingerprint(col: Column) -> Column:
    """Document fingerprint: rolling hash over the *normalized* text
    (collapsed whitespace, lowercased) so formatting variants collide."""
    return char_fold_hash(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


def _profile_hits(toks: Column, words: tuple[str, ...]) -> Column:
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(wordset, t)))


def detect_language_from(toks: Column) -> Column:
    """Argmax language over the stopword profiles of a token-array
    column; 'und' (undetermined) when no profile scores a hit.  Ties
    break in LANG_PROFILES order (deterministic)."""
    hits = {lang: _profile_hits(toks, ws) for lang, ws in LANG_PROFILES.items()}
    best = F.greatest(*hits.values())
    out = F.lit("und")
    # Build CASE WHEN backwards so first-listed language wins ties.
    for lang in reversed(list(LANG_PROFILES)):
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


def quality_score_from(toks: Column, stripped: Column) -> Column:
    """Quality score from pre-computed token-array and stripped-text
    columns (see :func:`quality_score` for the formula)."""
    n_tok = F.size(toks)
    n_alpha = F.length(F.regexp_replace(stripped, r"[^a-zA-Z]", ""))
    alpha_ratio = F.when(F.length(stripped) > 0, n_alpha / F.length(stripped)).otherwise(
        F.lit(0.0)
    )
    mean_wlen = F.when(n_tok > 0, F.length(stripped) / n_tok).otherwise(F.lit(0.0))
    len_band = F.least(F.lit(1.0), n_tok / F.lit(100.0)) * F.when(
        n_tok >= 10, F.lit(1.0)
    ).otherwise(F.lit(0.0))
    wlen_ok = F.when((mean_wlen >= 3.0) & (mean_wlen <= 12.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    stop_hit = F.when(_profile_hits(toks, STOPWORDS_EN) > 0, F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    score = (
        F.lit(0.4) * len_band
        + F.lit(0.2) * wlen_ok
        + F.lit(0.3) * alpha_ratio
        + F.lit(0.1) * stop_hit
    )
    return F.round(score, 4)


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1] (Gopher/C4-style signals):

    * length band   — 0 below 10 tokens, saturates at 100 tokens
    * mean word len — penalize <3 or >12 (gibberish / concatenation)
    * alpha ratio   — share of alphabetic chars among non-space chars
    * stopword hit  — any common-word presence (fluency proxy)

    Weighted sum, rounded to 4 dp (round in oracle too).
    """
    return quality_score_from(tokens(col), F.regexp_replace(col, r"\s+", ""))


def text_features(df, text_col: str = "text", keep: tuple[str, ...] = ("doc_id",)):
    """All text features with the token array and stripped text staged
    in ONE projection below the feature expressions.

    The single-Column forms above inline ``tokens()`` into every
    feature (token count, four language profiles, quality's three
    token-derived signals) — ~9 tokenizations per row and a huge
    codegen unit (multi-second janino compile).  Staging computes each
    shared subexpression once per row; CollapseProject keeps the
    projection because the alias is referenced many times.  Unused
    features are pruned by Catalyst when callers select a subset.

    Output: keep... , n_tokens, n_bpe_tokens, fingerprint, quality,
    lang_pred — identical values to the per-Column forms.
    """
    staged = df.select(
        *keep,
        F.col(text_col).alias("_text"),
        tokens(F.col(text_col)).alias("_toks"),
        F.regexp_replace(F.col(text_col), r"\s+", "").alias("_stripped"),
    )
    toks, stripped = F.col("_toks"), F.col("_stripped")
    return staged.select(
        *keep,
        F.size(toks).cast("long").alias("n_tokens"),
        bpe_token_count(F.col("_text")).cast("long").alias("n_bpe_tokens"),
        doc_fingerprint(F.col("_text")).alias("fingerprint"),
        quality_score_from(toks, stripped).alias("quality"),
        detect_language_from(toks).alias("lang_pred"),
    )
