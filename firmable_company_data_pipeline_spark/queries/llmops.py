"""LLM-training-data pipeline queries (charter extensions, SURVEY.md §7
phase 5): text analysis, five dedup strategies, and ANN similarity
search over the driver's ``documents`` / ``embeddings`` tables.

Oracle-parity design: every hash is the arithmetic character fold from
``functions/textstats.py`` and every vector reduction is a sequential
double fold, so the DuckDB SQL below reproduces Spark's values exactly
(same integer arithmetic, same IEEE-754 operation order).  The MinHash
permutation constants are interpolated from the *same* Python lists the
Spark operator uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions import textstats as ts
from firmable_company_data_pipeline_spark.operators import dedup as dd
from firmable_company_data_pipeline_spark.operators import similarity_search as ann
from firmable_company_data_pipeline_spark.operators.curation import SPLIT_TRAIN, SPLIT_VAL
from firmable_company_data_pipeline_spark.session import load_tables, materialize, spread

# --------------------------------------------------------------------------
# Shared DuckDB SQL fragments (mirrors of the Spark expressions).

_MOD = ts.HASH_MOD

# char_fold_hash(expr) — rolling polynomial hash
def _fold(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(string_split({expr}, ''), "
        f"c -> ascii(c)::BIGINT)), (h, c) -> (h*31 + c) % {_MOD})"
    )


# tokens(text) — normalized whitespace tokenization
_TOKENS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"

# normalized-text fingerprint + BPE pre-token list (precomputed: f-string
# expressions cannot contain backslashes)
_NORM_TEXT = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_FP = None  # assigned below after _fold is defined
_BPE_LIST = r"regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')"
_STRIPPED = r"regexp_replace(text, '\s+', '', 'g')"

# distinct word 3-gram shingles from token list t
_SHINGLES = (
    "CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(range(len(t)-2), "
    "i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) ELSE []::VARCHAR[] END"
)

_TOK_CTE = f"tok AS (SELECT doc_id, {_TOKENS} AS t FROM documents)"
_FP = _fold(_NORM_TEXT)
_SH_CTE = f"sh AS (SELECT doc_id, {_SHINGLES} AS s FROM tok)"
_HS_CTE = f"hs_t AS (SELECT doc_id, list_transform(s, g -> {_fold('g')}) AS hs FROM sh)"

_A_SQL = "[" + ", ".join(str(a) for a in dd.MINHASH_A) + "]"
_B_SQL = "[" + ", ".join(str(b) for b in dd.MINHASH_B) + "]"

# Shared oracle CTE chains (review r7: these blocks previously existed
# verbatim in three or more oracle strings each — a constant change or
# bug fix must land exactly once).  The signature chain composes after
# {_TOK_CTE}, {_SH_CTE}, {_HS_CTE}; the pair/cluster chain after
# {_TOK_CTE}, {_SH_CTE} under WITH RECURSIVE.
_BAND_KEY = " || '|' || ".join(
    f"sig[b.band*{dd.LSH_ROWS}+{r + 1}]::VARCHAR" for r in range(dd.LSH_ROWS)
)
_SIG_BANDS_CTES = f"""sig_t AS (
  SELECT doc_id AS id,
         list_transform(range({dd.MINHASH_K}), i ->
           list_reduce(
             list_prepend({_MOD}::BIGINT,
               list_transform(hs, h ->
                 (list_extract({_A_SQL}, i+1) * h + list_extract({_B_SQL}, i+1)) % {_MOD})),
             (x, y) -> least(x, y))) AS sig
  FROM hs_t
),
live AS (SELECT * FROM sig_t WHERE sig[1] < {_MOD}),
bands AS (
  SELECT id, sig, b.band,
         {_BAND_KEY} AS bucket
  FROM live, range({dd.LSH_BANDS}) AS b(band)
)"""
_EST_JACCARD = (
    f"round(len(list_filter(range({dd.MINHASH_K}), i -> sig_a[i+1] = sig_b[i+1]))::DOUBLE"
    f" / {dd.MINHASH_K}, 6)"
)
_EX_JPAIRS_CTES = """ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
jpairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
           count(*) AS common
    FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
  ) WHERE round(common::DOUBLE / (na + nb - common), 6) >= 0.8
)"""
_CLUSTERS_CTES = _EX_JPAIRS_CTES + """,
edges AS (
  SELECT id_a AS src, id_b AS dst FROM jpairs
  UNION
  SELECT id_b, id_a FROM jpairs
),
walk(src, lbl) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT e.src, w.lbl FROM edges e JOIN walk w ON e.dst = w.src
)"""


# --------------------------------------------------------------------------
# text_stats — row-level token counts, fingerprint, quality, language.
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return ts.text_features(docs)


_PROFILE_HITS = {
    lang: (
        "len(list_filter(t, x -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + "], x)))"
    )
    for lang, words in ts.LANG_PROFILES.items()
}
_BEST = "greatest(" + ", ".join(f"h_{lang}" for lang in ts.LANG_PROFILES) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN h_{lang} > 0 AND h_{lang} = {_BEST} THEN '{lang}'"
        for lang in ts.LANG_PROFILES
    )
    + " ELSE 'und' END"
)
_STOP_EN = "[" + ", ".join(f"'{w}'" for w in ts.STOPWORDS_EN) + "]"

TEXT_STATS_SQL = f"""
WITH {_TOK_CTE},
base AS (
  SELECT doc_id, t,
         {_STRIPPED} AS stripped,
         len({_BPE_LIST}) AS n_bpe,
         {_FP} AS fingerprint
  FROM documents JOIN tok USING (doc_id)
),
feat AS (
  SELECT doc_id, t, n_bpe, fingerprint,
         len(t) AS n_tok,
         length(stripped) AS n_strip,
         length(regexp_replace(stripped, '[^a-zA-Z]', '', 'g')) AS n_alpha,
         {" , ".join(f"{hits} AS h_{lang}" for lang, hits in _PROFILE_HITS.items())}
  FROM base
)
SELECT doc_id,
       n_tok::BIGINT AS n_tokens,
       n_bpe::BIGINT AS n_bpe_tokens,
       fingerprint,
       round(
         0.4 * (least(1.0, n_tok / 100.0) * (CASE WHEN n_tok >= 10 THEN 1.0 ELSE 0.0 END))
       + 0.2 * (CASE WHEN n_tok > 0 AND n_strip / n_tok >= 3.0 AND n_strip / n_tok <= 12.0
                     THEN 1.0 ELSE 0.0 END)
       + 0.3 * (CASE WHEN n_strip > 0 THEN n_alpha / n_strip ELSE 0.0 END)
       + 0.1 * (CASE WHEN len(list_filter(t, x -> list_contains({_STOP_EN}, x))) > 0
                     THEN 1.0 ELSE 0.0 END), 4) AS quality,
       {_LANG_CASE} AS lang_pred
FROM feat
"""


# --------------------------------------------------------------------------
# corpus_profile_by_source — aggregate quality/volume per source.
def corpus_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    feats = ts.text_features(spread(docs), keep=("source",))
    return (
        feats.select("source", "n_tokens", "quality")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
    )


CORPUS_PROFILE_BY_SOURCE_SQL = f"""
WITH {_TOK_CTE},
feat AS (
  SELECT d.source, t, len(t) AS n_tok,
         {_STRIPPED} AS stripped
  FROM documents d JOIN tok ON d.doc_id = tok.doc_id
),
q AS (
  SELECT source, t, n_tok,
         round(
           0.4 * (least(1.0, n_tok / 100.0) * (CASE WHEN n_tok >= 10 THEN 1.0 ELSE 0.0 END))
         + 0.2 * (CASE WHEN n_tok > 0
                        AND length(stripped) / n_tok >= 3.0
                        AND length(stripped) / n_tok <= 12.0 THEN 1.0 ELSE 0.0 END)
         + 0.3 * (CASE WHEN length(stripped) > 0
                       THEN length(regexp_replace(stripped, '[^a-zA-Z]', '', 'g'))
                            / length(stripped) ELSE 0.0 END)
         + 0.1 * (CASE WHEN len(list_filter(t, x -> list_contains({_STOP_EN}, x))) > 0
                       THEN 1.0 ELSE 0.0 END), 4) AS quality
  FROM feat
)
SELECT source, count(*) AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       round(avg(quality), 4) AS avg_quality
FROM q GROUP BY source
"""


# --------------------------------------------------------------------------
# corpus_quality_filter — the C4/Gopher-style curation step: keep documents
# above a quality threshold in the target language.  Pure filter over the
# text_stats features; at 100 TB this is one map stage with the predicate
# evaluated next to the scan.
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = text_stats(spark, sf_dir)
    return stats.select("doc_id", "quality", "lang_pred").filter(
        (F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")
    )


CORPUS_QUALITY_FILTER_SQL = f"""
SELECT doc_id, quality, lang_pred FROM ({TEXT_STATS_SQL}) t
WHERE quality >= 0.5 AND lang_pred = 'en'
"""


# --------------------------------------------------------------------------
# corpus_sample — deterministic hash-based ~10% sample: stable across runs,
# executors, and engines (no RNG), the reproducible-subset primitive for
# eval splits and ablations.
def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    bucket = F.pmod(ts.char_fold_hash(F.col("doc_id").cast("string")), F.lit(10))
    return docs.select("doc_id", "source").filter(bucket == 3)


CORPUS_SAMPLE_SQL = f"""
SELECT doc_id, source FROM documents
WHERE {_fold("CAST(doc_id AS VARCHAR)")} % 10 = 3
"""


# --------------------------------------------------------------------------
# dedup_exact — hash-groupBy dedup over the corpus unioned with itself
# (the driver corpus has no exact dups; the self-union demonstrates the
# group/canonicalize semantics with n_dups = 2 per group).
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.exact_dedup(docs.unionByName(docs))


DEDUP_EXACT_SQL = f"""
WITH doubled AS (SELECT * FROM documents UNION ALL SELECT * FROM documents)
SELECT {_FP} AS fp,
       min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM doubled
GROUP BY 1
"""


# --------------------------------------------------------------------------
# dedup_ngram_jaccard — inverted-index n-gram Jaccard join (threshold .8).
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.ngram_jaccard_pairs(docs, threshold=0.8)


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_TOK_CTE}, {_SH_CTE},
ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n_sh AS na, b.n_sh AS nb,
         count(*) AS common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, round(common::DOUBLE / (na + nb - common), 6) AS jaccard
FROM pairs
WHERE round(common::DOUBLE / (na + nb - common), 6) >= 0.8
"""


# --------------------------------------------------------------------------
# dedup_winnow — winnowed-fingerprint overlap pairs (Schleimer et al.
# SIGMOD'03 / MOSS): character-k-gram rolling hashes, per-window min
# selection (rightmost tie-break), inverted-index join on the selected
# fingerprints.  Complements the word-shingle families with substring-
# granular matching: any shared run >= w+k-1 chars is guaranteed caught.
def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    # max_df=100: the hot-fingerprint cap that keeps the pairing join's
    # Σdf² linear in corpus size (measured 197× candidate-row reduction
    # at 10×); the oracle filters document frequency identically, so
    # parity is exact.
    return dd.winnow_overlap_pairs(
        docs, min_shared=3, min_containment=0.5, max_df=100
    )


_WINNOW_GRAMS_CTES = f"""norm AS (
  SELECT doc_id, {_NORM_TEXT} AS t FROM documents
),
posns AS (
  SELECT doc_id, t, length(t) - {dd.WINNOW_K} + 1 AS n_grams,
         unnest(range(1, greatest(length(t) - {dd.WINNOW_K} + 2, 1))) AS pos
  FROM norm
),
grams AS (
  SELECT doc_id, pos, n_grams,
         {_fold(f"substring(t, pos::INT, {dd.WINNOW_K})")} AS h
  FROM posns
),
sel AS (
  SELECT doc_id, pos, n_grams,
         min(h * {dd._WINNOW_RADIX} + ({dd._WINNOW_RADIX} - 1 - pos))
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN CURRENT ROW AND {dd.WINNOW_W - 1} FOLLOWING) AS selkey
  FROM grams
),
wfps AS (
  SELECT DISTINCT doc_id, selkey // {dd._WINNOW_RADIX} AS fp
  FROM sel WHERE pos <= greatest(n_grams - {dd.WINNOW_W} + 1, 1)
)"""

DEDUP_WINNOW_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
counted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
idx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
       round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) AS containment
FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
JOIN counted ca ON ca.doc_id = a.doc_id
JOIN counted cb ON cb.doc_id = b.doc_id
GROUP BY 1, 2, ca.n_fp, cb.n_fp
HAVING count(*) >= 3
   AND round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) >= 0.5
"""


# --------------------------------------------------------------------------
# winnow_match_spans — MOSS-style alignment evidence: the matched
# fingerprint coordinates (WHERE documents match, at character-position
# grain) for every pair dedup_winnow reports.
def winnow_match_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return dd.winnow_match_spans(
        docs, min_shared=3, min_containment=0.5, max_df=100
    )


WINNOW_MATCH_SPANS_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
wsel AS (
  SELECT DISTINCT doc_id,
         CAST({dd._WINNOW_RADIX} - 1 - selkey % {dd._WINNOW_RADIX} AS INT) AS pos,
         selkey // {dd._WINNOW_RADIX} AS fp
  FROM sel WHERE pos <= greatest(n_grams - {dd.WINNOW_W} + 1, 1)
),
counted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
idx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN counted ca ON ca.doc_id = a.doc_id
  JOIN counted cb ON cb.doc_id = b.doc_id
  GROUP BY 1, 2, ca.n_fp, cb.n_fp
  HAVING count(*) >= 3
     AND round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) >= 0.5
),
capped AS (SELECT w.* FROM wsel w JOIN idx USING (doc_id, fp))
SELECT p.id_a, p.id_b, s1.fp, s1.pos AS pos_a, s2.pos AS pos_b
FROM pairs p
JOIN capped s1 ON s1.doc_id = p.id_a
JOIN capped s2 ON s2.doc_id = p.id_b AND s2.fp = s1.fp
"""


# --------------------------------------------------------------------------
# winnow_match_runs — the MOSS report itself: matched coordinates
# coalesced into maximal character runs per pair (same diagonal,
# overlapping/adjacent k-char coverage), via gaps-and-islands over the
# span evidence.
def winnow_match_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return dd.winnow_match_runs(
        docs, min_shared=3, min_containment=0.5, max_df=100
    )


WINNOW_MATCH_RUNS_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
wsel AS (
  SELECT DISTINCT doc_id,
         CAST({dd._WINNOW_RADIX} - 1 - selkey % {dd._WINNOW_RADIX} AS INT) AS pos,
         selkey // {dd._WINNOW_RADIX} AS fp
  FROM sel WHERE pos <= greatest(n_grams - {dd.WINNOW_W} + 1, 1)
),
counted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
idx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
),
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN counted ca ON ca.doc_id = a.doc_id
  JOIN counted cb ON cb.doc_id = b.doc_id
  GROUP BY 1, 2, ca.n_fp, cb.n_fp
  HAVING count(*) >= 3
     AND round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) >= 0.5
),
capped AS (SELECT w.* FROM wsel w JOIN idx USING (doc_id, fp)),
coords AS (
  SELECT DISTINCT p.id_a, p.id_b, s1.pos AS pos_a, s2.pos AS pos_b
  FROM prs p
  JOIN capped s1 ON s1.doc_id = p.id_a
  JOIN capped s2 ON s2.doc_id = p.id_b AND s2.fp = s1.fp
),
flagged AS (
  SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
         CASE WHEN pos_a - lag(pos_a) OVER (
                PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
              ) > {dd.WINNOW_K} THEN 1 ELSE 0 END AS brk
  FROM coords
),
islands AS (
  SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a
                           ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
)
SELECT id_a, id_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
       max(pos_a) + {dd.WINNOW_K} - min(pos_a) AS run_len,
       count(*) AS n_coords
FROM islands GROUP BY id_a, id_b, diag, isl
"""


# --------------------------------------------------------------------------
# winnow_pair_report — the per-pair MOSS summary row: overlap scores
# joined with run statistics (how many maximal matched runs, their
# total covered characters, the longest) — all off ONE selection
# stream.
def winnow_pair_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return dd.winnow_pair_report(
        docs, min_shared=3, min_containment=0.5, max_df=100
    )


WINNOW_PAIR_REPORT_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
wsel AS (
  SELECT DISTINCT doc_id,
         CAST({dd._WINNOW_RADIX} - 1 - selkey % {dd._WINNOW_RADIX} AS INT) AS pos,
         selkey // {dd._WINNOW_RADIX} AS fp
  FROM sel WHERE pos <= greatest(n_grams - {dd.WINNOW_W} + 1, 1)
),
counted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
idx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
),
prs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
         round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) AS containment
  FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN counted ca ON ca.doc_id = a.doc_id
  JOIN counted cb ON cb.doc_id = b.doc_id
  GROUP BY 1, 2, ca.n_fp, cb.n_fp
  HAVING count(*) >= 3
     AND round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) >= 0.5
),
capped AS (SELECT w.* FROM wsel w JOIN idx USING (doc_id, fp)),
coords AS (
  SELECT DISTINCT p.id_a, p.id_b, s1.pos AS pos_a, s2.pos AS pos_b
  FROM prs p
  JOIN capped s1 ON s1.doc_id = p.id_a
  JOIN capped s2 ON s2.doc_id = p.id_b AND s2.fp = s1.fp
),
flagged AS (
  SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
         CASE WHEN pos_a - lag(pos_a) OVER (
                PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
              ) > {dd.WINNOW_K} THEN 1 ELSE 0 END AS brk
  FROM coords
),
islands AS (
  SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b, diag ORDER BY pos_a
                           ROWS UNBOUNDED PRECEDING) AS isl
  FROM flagged
),
runs AS (
  SELECT id_a, id_b, max(pos_a) + {dd.WINNOW_K} - min(pos_a) AS run_len
  FROM islands GROUP BY id_a, id_b, diag, isl
),
rstats AS (
  SELECT id_a, id_b, count(*) AS n_runs,
         CAST(sum(run_len) AS BIGINT) AS sum_run_len,
         max(run_len) AS longest_run
  FROM runs GROUP BY 1, 2
),
pa AS (
  SELECT id_a, id_b, pos_a AS pos,
         CASE WHEN pos_a - lag(pos_a) OVER (
                PARTITION BY id_a, id_b ORDER BY pos_a
              ) > {dd.WINNOW_K} THEN 1 ELSE 0 END AS brk
  FROM (SELECT DISTINCT id_a, id_b, pos_a FROM coords)
),
pb AS (
  SELECT id_a, id_b, pos_b AS pos,
         CASE WHEN pos_b - lag(pos_b) OVER (
                PARTITION BY id_a, id_b ORDER BY pos_b
              ) > {dd.WINNOW_K} THEN 1 ELSE 0 END AS brk
  FROM (SELECT DISTINCT id_a, id_b, pos_b FROM coords)
),
cova AS (
  SELECT id_a, id_b, CAST(sum(mx + {dd.WINNOW_K} - mn) AS BIGINT) AS covered_a
  FROM (
    SELECT id_a, id_b, min(pos) AS mn, max(pos) AS mx
    FROM (SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS isl FROM pa)
    GROUP BY id_a, id_b, isl
  ) GROUP BY 1, 2
),
covb AS (
  SELECT id_a, id_b, CAST(sum(mx + {dd.WINNOW_K} - mn) AS BIGINT) AS covered_b
  FROM (
    SELECT id_a, id_b, min(pos) AS mn, max(pos) AS mx
    FROM (SELECT *, sum(brk) OVER (PARTITION BY id_a, id_b ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS isl FROM pb)
    GROUP BY id_a, id_b, isl
  ) GROUP BY 1, 2
)
SELECT p.id_a, p.id_b, p.shared, p.containment,
       n_runs, sum_run_len, longest_run, covered_a, covered_b
FROM prs p
JOIN rstats USING (id_a, id_b)
JOIN cova USING (id_a, id_b)
JOIN covb USING (id_a, id_b)
"""


# --------------------------------------------------------------------------
# dedup_incremental_winnow — incremental index maintenance for the
# winnow family: the held-out batch (doc_id % 10 == 0) pairs against
# the existing fingerprint index; index×index is never re-paired (the
# 100-TB per-batch ingest shape, same contract as
# dedup_incremental_minhash).  Must equal the batch operator's pairs
# restricted to those touching the delta — which is exactly what the
# oracle computes.
def dedup_incremental_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    # Fingerprints are per-doc, so one fingerprint table split by id
    # replaces two full pipelines.  PERSISTED (advice r8): the operator
    # reads the delta side three times (cap counts, cap filter, pair
    # join) and the index side twice — without the cache each read
    # re-runs the gram-scan + selection-window pipeline.  In production
    # both sides come back from parquet (index_dir + the additive
    # winnow_df_table), so this cache stands in for that storage.
    fps = materialize(dd.winnow_fingerprint_rows(docs), "iterate")
    index = fps.filter(F.col("id") % 10 != 0)
    delta = fps.filter(F.col("id") % 10 == 0)
    # broadcast_delta: the delta is a bounded ingest batch by contract,
    # so every per-batch join runs map-side over the index — the index
    # is scanned, never exchanged (the r8 weak, closed in round 9).
    return dd.winnow_delta_pairs(
        index,
        delta,
        min_shared=3,
        min_containment=0.5,
        max_df=100,
        broadcast_delta=True,
    )


DEDUP_INCREMENTAL_WINNOW_SQL = f"""
SELECT * FROM ({DEDUP_WINNOW_SQL})
WHERE id_a % 10 = 0 OR id_b % 10 = 0
"""


# --------------------------------------------------------------------------
# dedup_blocks — C4-style corpus-wide duplicate-block removal: every
# duplicated 16-token block is dropped from all but its first
# (doc_id, block_idx) occurrence and documents are reassembled from the
# survivors (Raffel et al. 2020's three-sentence-span dedup, with a
# token block as the corpus-generic span unit).
def dedup_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return dd.block_dedup(docs, block_tokens=16)


DEDUP_BLOCKS_SQL = f"""
WITH {_TOK_CTE},
blocks AS (
  SELECT doc_id, CAST(b AS INT) AS block_idx,
         array_to_string(t[b*16+1 : b*16+16], ' ') AS block_text
  FROM tok, unnest(range(CAST(ceil(len(t) / 16.0) AS BIGINT))) AS u(b)
  WHERE len(t) >= 1
),
flagged AS (
  SELECT doc_id, block_idx, block_text,
         row_number() OVER (PARTITION BY block_text
                            ORDER BY doc_id, block_idx) = 1 AS kept
  FROM blocks
)
SELECT doc_id, count(*) AS n_blocks,
       CAST(sum(kept::INT) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN kept THEN block_text END, ' '
                  ORDER BY block_idx) AS clean_text
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# dedup_incremental_blocks — the ingest arm of C4 block dedup: the
# held-out batch (doc_id % 10 == 0) is cleaned against the block index
# of everything already ingested (first-SEEN-wins; the index is never
# re-deduped).  Probe-with-broadcast-delta fold: the index is scanned
# map-side, never shuffled — the minhash/winnow fold contract.
def dedup_incremental_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    # in production the index side reads the bucket-partitioned parquet
    # block index (streaming_block_dedup's layout), not a recompute
    index_blocks = (
        dd.block_rows(docs.filter(F.col("doc_id") % 10 != 0), block_tokens=16)
        .select("block_text")
        .distinct()
    )
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    return dd.block_delta_dedup(index_blocks, delta, block_tokens=16)


DEDUP_INCREMENTAL_BLOCKS_SQL = f"""
WITH {_TOK_CTE},
blocks AS (
  SELECT doc_id, CAST(b AS INT) AS block_idx,
         array_to_string(t[b*16+1 : b*16+16], ' ') AS block_text
  FROM tok, unnest(range(CAST(ceil(len(t) / 16.0) AS BIGINT))) AS u(b)
  WHERE len(t) >= 1
),
idxu AS (SELECT DISTINCT block_text FROM blocks WHERE doc_id % 10 != 0),
delta AS (SELECT * FROM blocks WHERE doc_id % 10 = 0),
flagged AS (
  SELECT d.doc_id, d.block_idx, d.block_text,
         (row_number() OVER (PARTITION BY d.block_text
                             ORDER BY d.doc_id, d.block_idx) = 1
          AND i.block_text IS NULL) AS keep
  FROM delta d LEFT JOIN idxu i USING (block_text)
)
SELECT doc_id, count(*) AS n_blocks,
       CAST(sum(keep::INT) AS BIGINT) AS n_kept,
       string_agg(CASE WHEN keep THEN block_text END, ' '
                  ORDER BY block_idx) AS clean_text
FROM flagged GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# winnow_contamination — substring-grain train/eval decontamination:
# which training document shares winnowed fingerprints with which eval
# document (doc_id % 10 == 0), scored by the eval doc's covered
# fraction.  Word-n-gram overlap (contamination_check) says THAT a doc
# leaks; this says WHICH eval doc, survives reformatting, and carries
# the MOSS guarantee on shared runs >= w+k-1 chars.
def winnow_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return dd.winnow_contamination(
        docs, eval_mod=10, min_shared=2, min_containment=0.2, max_df=100
    )


# The contamination screen's shared CTE chain (fingerprint counts, the
# df-capped index, the train/eval sides, and the flagged-train set) —
# ONE definition consumed by winnow_contamination, decontaminate_corpus
# and the build_training_corpus flagship (the advice-r10 dedup rule).
_CONTAM_BASE_CTES = """counted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
idx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
),
tr AS (SELECT doc_id AS train_id, fp FROM idx WHERE doc_id % 10 != 0),
ev AS (
  SELECT i.doc_id AS eval_id, c.n_fp AS ne, i.fp
  FROM idx i JOIN counted c USING (doc_id)
  WHERE i.doc_id % 10 = 0
)"""

_CONTAM_FLAGGED_CTE = """flagged AS (
  SELECT DISTINCT train_id AS doc_id FROM (
    SELECT train_id, eval_id, count(*) AS shared,
           round(count(*)::DOUBLE / ne, 6) AS ec
    FROM tr JOIN ev USING (fp)
    GROUP BY train_id, eval_id, ne
    HAVING count(*) >= 2 AND round(count(*)::DOUBLE / ne, 6) >= 0.2
  )
)"""

WINNOW_CONTAMINATION_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
{_CONTAM_BASE_CTES}
SELECT train_id, eval_id, count(*) AS shared,
       round(count(*)::DOUBLE / ne, 6) AS eval_containment
FROM tr JOIN ev USING (fp)
GROUP BY train_id, eval_id, ne
HAVING count(*) >= 2
   AND round(count(*)::DOUBLE / ne, 6) >= 0.2
"""


# --------------------------------------------------------------------------
# decontaminate_corpus — the end-to-end decontamination report: drop
# every training document winnow_contamination flags, then state per
# source what survives (the corpus-card row a release review reads).
# Composition of the audited screen + one left join + one hash-agg;
# eval docs are excluded from the denominators (they are not training
# data).  Deliberately self-contained (the registry convention, same
# as leakage_safe_split): it re-runs the winnow screen rather than
# reading winnow_contamination's output, so benching both queries pays
# the gram scan twice — in production the screen's flags are parquet
# and this query is the one join + agg over them.
def decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    flagged = dd.winnow_contamination(
        docs, eval_mod=10, min_shared=2, min_containment=0.2, max_df=100
    ).select(F.col("train_id").alias("doc_id")).distinct()
    train = docs.filter(F.col("doc_id") % 10 != 0)
    return (
        train.join(flagged.withColumn("_flag", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("_flag"), F.lit(0))).alias("n_dropped"),
            F.sum(
                F.when(F.col("_flag").isNull(), F.col("n_chars")).otherwise(F.lit(0))
            ).alias("chars_kept"),
            F.round(
                F.sum(F.coalesce(F.col("_flag"), F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("drop_frac"),
        )
    )


DECONTAMINATE_CORPUS_SQL = f"""
WITH {_WINNOW_GRAMS_CTES},
{_CONTAM_BASE_CTES},
{_CONTAM_FLAGGED_CTE}
SELECT d.source,
       count(*) AS n_train_docs,
       CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       CAST(sum(CASE WHEN f.doc_id IS NULL THEN d.n_chars ELSE 0 END) AS BIGINT)
         AS chars_kept,
       round(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*)::DOUBLE, 6) AS drop_frac
FROM documents d
LEFT JOIN flagged f ON f.doc_id = d.doc_id
WHERE d.doc_id % 10 != 0
GROUP BY d.source
"""


# --------------------------------------------------------------------------
# dedup_minhash_lsh — banded MinHash-LSH candidates, est ≥ 0.5.
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.minhash_lsh_pairs(docs, threshold=0.5)


DEDUP_MINHASH_LSH_SQL = f"""
WITH {_TOK_CTE}, {_SH_CTE}, {_HS_CTE},
{_SIG_BANDS_CTES},
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sig_a, r.sig AS sig_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
)
SELECT id_a, id_b, est_jaccard FROM (
  SELECT id_a, id_b,
         {_EST_JACCARD} AS est_jaccard
  FROM cand
) WHERE est_jaccard >= 0.5
"""


# --------------------------------------------------------------------------
# dedup_incremental_minhash — incremental index maintenance: the held-out
# batch (doc_id % 10 == 0) pairs against the existing signature index;
# index×index is never re-paired (the 100-TB per-batch ingest shape).
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # Signatures are per-doc, so one shingle pass over the corpus and a
    # split-by-id replaces two full pipelines (in production the index
    # side is read back from its parquet home, not recomputed at all).
    sigs = materialize(dd.minhash_signatures(docs), "iterate")
    index = sigs.filter(F.col("id") % 10 != 0)
    delta = sigs.filter(F.col("id") % 10 == 0)
    return dd.minhash_delta_pairs(index, delta, threshold=0.5)


DEDUP_INCREMENTAL_MINHASH_SQL = f"""
WITH {_TOK_CTE}, {_SH_CTE}, {_HS_CTE},
{_SIG_BANDS_CTES},
cand AS (
  SELECT DISTINCT least(l.id, r.id) AS id_a, greatest(l.id, r.id) AS id_b,
                  l.sig AS sig_a, r.sig AS sig_b
  FROM bands l
  JOIN (SELECT * FROM bands WHERE id % 10 = 0) r
    ON l.band = r.band AND l.bucket = r.bucket
  WHERE l.id <> r.id AND (l.id < r.id OR l.id % 10 <> 0)
)
SELECT id_a, id_b, est_jaccard FROM (
  SELECT id_a, id_b,
         {_EST_JACCARD} AS est_jaccard
  FROM cand
) WHERE est_jaccard >= 0.5
"""


# --------------------------------------------------------------------------
# minhash_recall_report — evaluation of the banded LSH index against the
# exact n-gram Jaccard ground truth (the same question ann_recall_report
# answers for ANN: how much recall does the bucketing cost at the 0.8
# working threshold, and how much of the candidate set is noise?).
# Ground truth = exact pairs with jaccard ≥ 0.8; detected = the LSH
# candidate pairs (est ≥ 0.5) that are also truth.  One full-outer join
# on the pair key, one global agg (map-side partials; the single final
# row is the only data on the reducer).  Both pair generators are the
# audited sub-quadratic plans; at 100 TB this report costs one extra
# pair-key shuffle on top of indexes a dedup deployment builds anyway —
# the standard way to tune LSH_BANDS/LSH_ROWS before committing a
# corpus-wide dedup run.
def minhash_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    truth = dd.ngram_jaccard_pairs(docs, threshold=0.8).select(
        "id_a", "id_b", F.lit(1).alias("t")
    )
    cand = dd.minhash_lsh_pairs(docs, threshold=0.5).select(
        "id_a", "id_b", F.lit(1).alias("c")
    )
    both = truth.join(cand, ["id_a", "id_b"], "full_outer")
    return both.agg(
        F.count("t").alias("n_truth"),
        F.count("c").alias("n_candidates"),
        F.count(F.when(F.col("t").isNotNull() & F.col("c").isNotNull(), 1)).alias(
            "n_hit"
        ),
    ).select(
        "n_truth",
        "n_candidates",
        "n_hit",
        F.round(F.col("n_hit") / F.nullif(F.col("n_truth"), F.lit(0)), 6).alias(
            "pair_recall"
        ),
        F.round(F.col("n_hit") / F.nullif(F.col("n_candidates"), F.lit(0)), 6).alias(
            "pair_precision"
        ),
    )


MINHASH_RECALL_REPORT_SQL = f"""
WITH {_TOK_CTE}, {_SH_CTE}, {_HS_CTE},
{_EX_JPAIRS_CTES},
{_SIG_BANDS_CTES},
lsh AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b, {_EST_JACCARD} AS est_jaccard
    FROM (
      SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sig_a, r.sig AS sig_b
      FROM bands l JOIN bands r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
    )
  ) WHERE est_jaccard >= 0.5
),
agg AS (
  SELECT (SELECT count(*) FROM jpairs) AS n_truth,
         (SELECT count(*) FROM lsh) AS n_candidates,
         (SELECT count(*) FROM jpairs JOIN lsh USING (id_a, id_b)) AS n_hit
)
SELECT n_truth, n_candidates, n_hit,
       round(n_hit::DOUBLE / nullif(n_truth, 0), 6) AS pair_recall,
       round(n_hit::DOUBLE / nullif(n_candidates, 0), 6) AS pair_precision
FROM agg
"""


# --------------------------------------------------------------------------
# dedup_simhash — banded SimHash pairs, hamming ≤ 3.
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.simhash_pairs(docs)


DEDUP_SIMHASH_SQL = f"""
WITH {_TOK_CTE}, {_SH_CTE}, {_HS_CTE},
fp_t AS (
  SELECT doc_id AS id,
         list_reduce(list_prepend(0::BIGINT, list_transform(range({dd.SIMHASH_BITS}), j ->
           CASE WHEN list_reduce(list_prepend(0::BIGINT,
                       list_transform(hs, h ->
                         ((CASE WHEN j < {dd.SIMHASH_HALF} THEN (h >> j)
                                ELSE (((h * {dd.SIMHASH_A2} + {dd.SIMHASH_B2}) % {_MOD})
                                      >> (j - {dd.SIMHASH_HALF})) END) & 1) * 2 - 1)),
                     (a, v) -> a + v) > 0
                THEN (1::BIGINT << j) ELSE 0::BIGINT END)),
           (a, v) -> a + v) AS fp
  FROM hs_t
),
bands AS (
  SELECT id, fp, b.band,
         (fp >> ({dd.SIMHASH_BAND_BITS} * b.band)) & {dd.SIMHASH_BAND_MASK} AS key
  FROM fp_t, range({dd.SIMHASH_BANDS}) AS b(band)
),
cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.fp AS fp_a, r.fp AS fp_b
  FROM bands l JOIN bands r ON l.band = r.band AND l.key = r.key AND l.id < r.id
)
SELECT id_a, id_b, hamming FROM (
  SELECT id_a, id_b, bit_count(xor(fp_a, fp_b))::BIGINT AS hamming FROM cand
) WHERE hamming <= 3
"""


# --------------------------------------------------------------------------
# dedup_clusters — connected components over the n-gram-Jaccard pair graph:
# (doc_id, cluster_id = min reachable doc_id).  Spark side is iterative
# min-label propagation to fixpoint; the oracle computes the same min
# reachable id via a recursive transitive-closure CTE (fine at oracle
# scale; the iterative join IS the 100-TB path).
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.connected_components(dd.ngram_jaccard_pairs(docs, threshold=0.8))


# dedup_clusters_star — identical contract to dedup_clusters, computed
# through the alternating large-star/small-star formulation
# (operators/dedup._cc_star, round 6): O(log n) rounds regardless of
# graph diameter, vs O(diameter) for plain propagation.  Registering it
# against the SAME recursive-CTE oracle gives the deep-graph code path
# its own driver-checked evidence row — both paths must produce
# bit-identical (doc_id, cluster_id) labels.
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return cluster_labels(docs)


# dedup_clusters_incremental — the incremental-refresh contract (round
# 6): cluster the "old corpus" (doc_id % 4 != 0) pairs first, then fold
# ONLY the delta pairs (those touching a "new" doc) into that labeling
# via operators/dedup.incremental_components.  Because the previous
# labeling is a connectivity-preserving star forest, the result must be
# IDENTICAL to batch-clustering the full pair graph — which is exactly
# what the shared DEDUP_CLUSTERS_SQL oracle computes.  The pair
# generator runs once and is checkpointed; so is the previous
# labeling, not shared: the fold
# consumes it twice (affected semi join + untouched anti join) AND
# embeds it several times in its own output plan, so persist alone
# leaves Catalyst re-analyzing the full CC lineage per consumer — the
# same persist-vs-checkpoint lesson as the CC round loops, one level up
# (measured round 7: the two-fold chain went 24 s -> ~4 s of planning).
def dedup_clusters_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = materialize(dd.ngram_jaccard_pairs(docs, threshold=0.8), "iterate")
    is_new_a = F.col("id_a") % 4 == 0
    is_new_b = F.col("id_b") % 4 == 0
    old_pairs = pairs.filter(~is_new_a & ~is_new_b)
    delta = pairs.filter(is_new_a | is_new_b)
    prev = materialize(
        dd.connected_components(old_pairs, deep_graphs=True), "iterate"
    )
    return dd.incremental_components(prev, delta)


# dedup_clusters_incremental2 — TWO successive delta folds (round 7):
# the actual daily-refresh contract is not one fold but a chain of
# them, each building on the labeling the previous fold produced.
# Partition the pair set into three eras by the max endpoint mod 3
# (era-0 pairs = "history", era-1 = day 1's delta, era-2 = day 2's),
# batch-cluster era 0, then fold era 1 and era 2 in sequence — the
# final labeling must STILL equal the batch clustering of the full
# graph (the shared DEDUP_CLUSTERS_SQL oracle).  Each fold's input
# labeling is localCheckpoint'ed at the fold boundary: the delta-local
# split consumes it twice and embeds it in the next fold's plan, so a
# chain under plain persist compounds Catalyst re-analysis ~3x per fold
# (fold 2 measured 24 s of planning at sf0.1 before the checkpoint; the
# daily-refresh deployment shape is exactly this chain, one fold per
# day, so truncating lineage per fold is the load-bearing pattern).
def dedup_clusters_incremental2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = materialize(dd.ngram_jaccard_pairs(docs, threshold=0.8), "iterate")
    era = F.greatest(F.col("id_a"), F.col("id_b")) % 3
    base = pairs.filter(era == 0)
    day1 = pairs.filter(era == 1)
    day2 = pairs.filter(era == 2)
    labels0 = materialize(dd.connected_components(base, deep_graphs=True), "iterate")
    labels1 = materialize(dd.incremental_components(labels0, day1), "iterate")
    return dd.incremental_components(labels1, day2)


# dedup_clusters_incremental_sliver — the ≤1%-delta point of the
# incremental story (verdict r7 #3): dedup_clusters_incremental marks
# ~25% of docs new, so ~44% of pairs are delta and most clusters are
# touched — its bench time cannot show what the delta-local fold buys.
# Here the "new" sliver is doc_id % 100 == 0 (1% of docs), the
# daily-refresh shape where the fold's CC input is bounded by the few
# touched clusters and everything else unions back verbatim.  Same
# batch-label oracle as the whole family: the fold must be exactly
# equivalent to re-clustering the full graph.  scripts/scale_probe.py
# --streaming additionally times THIS fold in isolation (labels
# precomputed outside the timer) against the full batch clustering.
def dedup_clusters_incremental_sliver(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pairs = materialize(dd.ngram_jaccard_pairs(docs, threshold=0.8), "iterate")
    is_new_a = F.col("id_a") % 100 == 0
    is_new_b = F.col("id_b") % 100 == 0
    old_pairs = pairs.filter(~is_new_a & ~is_new_b)
    delta = pairs.filter(is_new_a | is_new_b)
    prev = materialize(
        dd.connected_components(old_pairs, deep_graphs=True), "iterate"
    )
    return dd.incremental_components(prev, delta)


def cluster_labels(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The ONE audited (doc_id, cluster_id) labels entry point for the
    dedup-lifecycle family (verdict r7 #7): n-gram-Jaccard pairs →
    large-star/small-star connected components.  ``dedup_keep_best``
    and ``leakage_safe_split`` both build on exactly this labeling; in
    a persisted pipeline it is computed once per refresh and reused
    (each registered query recomputes it so the oracle comparison stays
    self-contained)."""
    return dd.connected_components(
        dd.ngram_jaccard_pairs(docs, threshold=threshold), deep_graphs=True
    )


def winnow_cluster_labels(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) labels over the WINNOW pair graph — the
    MOSS-fingerprint family's entry into the shared dedup lifecycle
    (verdict r9 #3: winnow pairs previously flowed nowhere): the
    audited ``dedup_winnow`` pair sub-plan (min_shared=3,
    containment>=0.5, df<=100 — the registered query's knobs) feeding
    the SAME large-star/small-star connected components every other
    pair family uses.  No new clustering implementation — only the
    pair source differs from :func:`cluster_labels`."""
    return dd.connected_components(
        dd.winnow_overlap_pairs(
            docs, min_shared=3, min_containment=0.5, max_df=100
        ),
        deep_graphs=True,
    )


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
{_CLUSTERS_CTES}
SELECT src AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY src
"""


# --------------------------------------------------------------------------
# dedup_bcubed_eval — B-cubed evaluation (Bagga & Baldwin 1998) of the
# n-gram-Jaccard clustering against the exact-fingerprint gold: the
# standard ER/dedup cluster metric, closing the evaluation gap next to
# minhash_recall_report (pair-level) and match_quality_report
# (match-stage level).  Docs in no near-dup pair are singletons in the
# predicted clustering (coalesce to doc_id) so the metric covers the
# whole corpus.  All arithmetic is exact scaled-integer (see
# operators/dedup.bcubed_eval) so the oracle hash-matches.
def dedup_bcubed_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    pred = cluster_labels(docs)
    goldfp = docs.select("doc_id", ts.doc_fingerprint(F.col("text")).alias("fp"))
    goldid = goldfp.groupBy("fp").agg(F.min("doc_id").alias("g"))
    assignments = (
        docs.select("doc_id")
        .join(pred, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("cluster_id", F.col("doc_id")).alias("p")
        )
        .join(goldfp, "doc_id")
        .join(goldid, "fp")
        .select("doc_id", "p", "g")
    )
    return dd.bcubed_eval(assignments)


DEDUP_BCUBED_EVAL_SQL = f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
{_CLUSTERS_CTES},
pred AS MATERIALIZED (SELECT src AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY src),
goldfp AS MATERIALIZED (SELECT doc_id, {_FP} AS fp FROM documents),
goldid AS (SELECT fp, min(doc_id) AS g FROM goldfp GROUP BY fp),
lab AS MATERIALIZED (
  SELECT d.doc_id, coalesce(p.cluster_id, d.doc_id) AS p, gi.g
  FROM documents d
  LEFT JOIN pred p ON d.doc_id = p.doc_id
  JOIN goldfp gf ON d.doc_id = gf.doc_id
  JOIN goldid gi ON gf.fp = gi.fp),
npg AS (SELECT p, g, count(*) AS n_pg FROM lab GROUP BY 1, 2),
np AS (SELECT p, count(*) AS n_p FROM lab GROUP BY 1),
ng AS (SELECT g, count(*) AS n_g FROM lab GROUP BY 1),
t AS (SELECT sum(n_pg * n_pg * {dd.B3_SCALE} // n_p) AS sp,
             sum(n_pg * n_pg * {dd.B3_SCALE} // n_g) AS sr
      FROM npg JOIN np USING (p) JOIN ng USING (g)),
c AS (SELECT count(*) AS n_docs, count(DISTINCT p) AS n_pred_clusters,
             count(DISTINCT g) AS n_gold_clusters FROM lab),
e AS (SELECT n_docs, n_pred_clusters, n_gold_clusters,
             round(sp / (n_docs * {dd.B3_SCALE}.0), 6) AS bcubed_precision,
             round(sr / (n_docs * {dd.B3_SCALE}.0), 6) AS bcubed_recall
      FROM c, t)
SELECT n_docs, n_pred_clusters, n_gold_clusters, bcubed_precision,
       bcubed_recall,
       round(2 * bcubed_precision * bcubed_recall /
             (bcubed_precision + bcubed_recall), 6) AS bcubed_f1
FROM e
"""


# --------------------------------------------------------------------------
# dedup_keep_best — canonical-survivor selection: the *point* of dedup in
# a training-data pipeline is not the cluster labels but the keep/drop
# decision.  Per near-dup cluster keep the highest-quality member
# (quality = n_chars here; any scoring column slots in), ties to the
# lowest doc_id.  One row per clustered doc with its keep verdict, so
# the corpus filter downstream is a semi-join on (doc_id, keep).
# Plan: the audited pair+CC sub-plans, one shuffle join to attach
# n_chars, then a single row_number window partitioned by cluster_id —
# bounded by the largest cluster, never corpus-wide.
def _keep_best_from_labels(labels: DataFrame, docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, n_chars, rn) from ANY (doc_id, cluster_id)
    labeling — the ONE definition of the survivor policy (quality =
    n_chars DESC, ties to lowest doc_id; the keeper is rn == 1).
    ``dedup_keep_best``, ``dedup_winnow_keep_best`` and
    ``dedup_effectiveness_report`` all derive from exactly this frame
    (review r8: the window had been duplicated, so a policy change
    could silently desynchronize the corpus card from the actual
    keep/drop decisions it summarizes).  The row_number window is
    partitioned by cluster_id — bounded by the largest cluster, never
    corpus-wide."""
    from pyspark.sql import Window

    scored = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return scored.withColumn("rn", F.row_number().over(w))


def _keep_best_ranked(docs: DataFrame) -> DataFrame:
    """The jaccard-lifecycle instantiation of
    :func:`_keep_best_from_labels` (labels = :func:`cluster_labels`)."""
    return _keep_best_from_labels(cluster_labels(docs), docs)


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return _keep_best_ranked(docs).select(
        "doc_id", "cluster_id", "n_chars", (F.col("rn") == 1).alias("keep")
    )


# The ONE oracle mirror of the survivor policy (shared by keep-best
# and the effectiveness report, matching _keep_best_ranked).
_KEEP_BEST_RANKED_CTE = """labels AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY src),
ranked AS (
  SELECT doc_id, cluster_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM labels JOIN documents USING (doc_id)
)"""

DEDUP_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
{_CLUSTERS_CTES},
{_KEEP_BEST_RANKED_CTE}
SELECT doc_id, cluster_id, n_chars, rn = 1 AS keep FROM ranked
"""


# --------------------------------------------------------------------------
# dedup_winnow_keep_best — the winnow family's LIFECYCLE (verdict r9
# #3): MOSS-fingerprint pairs -> the shared CC labeler -> the shared
# keep-best survivor policy.  Exactly the composition MinHash/jaccard
# already has; the only new piece is the pair source.  Oracle mirror:
# the dedup_winnow pair construction under WITH RECURSIVE, the same
# min-label walk, the same ranked CTE.
_WINNOW_CC_CTES = f"""{_WINNOW_GRAMS_CTES},
wcounted AS (SELECT doc_id, count(*) AS n_fp FROM wfps GROUP BY 1),
widx AS (
  SELECT doc_id, fp FROM (
    SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM wfps
  ) WHERE df <= 100
),
wpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM widx a JOIN widx b ON a.fp = b.fp AND a.doc_id < b.doc_id
  JOIN wcounted ca ON ca.doc_id = a.doc_id
  JOIN wcounted cb ON cb.doc_id = b.doc_id
  GROUP BY 1, 2, ca.n_fp, cb.n_fp
  HAVING count(*) >= 3
     AND round(count(*)::DOUBLE / least(ca.n_fp, cb.n_fp), 6) >= 0.5
),
wedges AS (
  SELECT id_a AS src, id_b AS dst FROM wpairs
  UNION
  SELECT id_b, id_a FROM wpairs
),
wwalk(src, lbl) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM wedges)
  UNION
  SELECT e.src, w.lbl FROM wedges e JOIN wwalk w ON e.dst = w.src
)"""

_WINNOW_KEEP_BEST_CTE = """wlabels AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM wwalk GROUP BY src),
wranked AS (
  SELECT doc_id, cluster_id, n_chars,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM wlabels JOIN documents USING (doc_id)
)"""


def dedup_winnow_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    labels = winnow_cluster_labels(spread(docs))
    return _keep_best_from_labels(labels, docs).select(
        "doc_id", "cluster_id", "n_chars", (F.col("rn") == 1).alias("keep")
    )


DEDUP_WINNOW_KEEP_BEST_SQL = f"""
WITH RECURSIVE {_WINNOW_CC_CTES},
{_WINNOW_KEEP_BEST_CTE}
SELECT doc_id, cluster_id, n_chars, rn = 1 AS keep FROM wranked
"""


# --------------------------------------------------------------------------
# dedup_effectiveness_report — the corpus-card number dedup exists to
# produce: per (strategy, source), how many documents/tokens the
# near-dup keep-best policy removes.  Two strategy rows since round 10
# (verdict r9 #3): 'jaccard' (word-shingle n-gram pairs) and 'winnow'
# (MOSS fingerprint pairs) — both through the SAME cluster labeler and
# the SAME _keep_best_from_labels survivor policy, so the card compares
# pair SOURCES, never divergent lifecycles.  Plan: the audited pair+CC
# sub-plans per strategy, a 2-row broadcast crossJoin to replicate the
# corpus grain per strategy, one left join of the (bounded) drop lists,
# one hash-agg on (strategy, source).  This is the before/after table a
# dataset card reports (cf. the dedup sections of Gopher/RefinedWeb
# dataset cards).
def dedup_effectiveness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]

    def drops_for(labels: DataFrame, strategy: str) -> DataFrame:
        return (
            _keep_best_from_labels(labels, docs)
            .filter(F.col("rn") > 1)
            .select(
                F.lit(strategy).alias("strategy"),
                "doc_id",
                F.lit(True).alias("dropped"),
            )
        )

    drops = drops_for(cluster_labels(docs), "jaccard").unionByName(
        drops_for(winnow_cluster_labels(spread(docs)), "winnow")
    )
    strategies = spark.createDataFrame(
        [("jaccard",), ("winnow",)], "strategy string"
    )
    base = (
        docs.select(
            "doc_id", "source", ts.token_count(F.col("text")).alias("n_tok")
        )
        .crossJoin(F.broadcast(strategies))
        .join(drops, ["strategy", "doc_id"], "left")
    )
    return (
        base.groupBy("strategy", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count("dropped").alias("docs_removed"),
            F.coalesce(
                F.sum(F.when(F.col("dropped"), F.col("n_tok"))), F.lit(0)
            ).alias("tokens_removed"),
        )
        .select(
            "strategy",
            "source",
            "n_docs",
            "n_tokens",
            "docs_removed",
            "tokens_removed",
            F.round(F.col("docs_removed") / F.col("n_docs"), 6).alias(
                "pct_docs_removed"
            ),
            F.round(F.col("tokens_removed") / F.col("n_tokens"), 6).alias(
                "pct_tokens_removed"
            ),
        )
    )


DEDUP_EFFECTIVENESS_REPORT_SQL = f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
{_CLUSTERS_CTES},
{_KEEP_BEST_RANKED_CTE},
{_WINNOW_CC_CTES},
{_WINNOW_KEEP_BEST_CTE},
base AS (
  SELECT 'jaccard' AS strategy, d.source, len(t.t) AS n_tok,
         (v.rn > 1) AS dropped
  FROM documents d
  JOIN tok t USING (doc_id)
  LEFT JOIN ranked v ON d.doc_id = v.doc_id AND v.rn > 1
  UNION ALL
  SELECT 'winnow' AS strategy, d.source, len(t.t) AS n_tok,
         (v.rn > 1) AS dropped
  FROM documents d
  JOIN tok t USING (doc_id)
  LEFT JOIN wranked v ON d.doc_id = v.doc_id AND v.rn > 1
)
SELECT strategy, source,
       count(*) AS n_docs,
       sum(n_tok)::BIGINT AS n_tokens,
       count(dropped) AS docs_removed,
       coalesce(sum(n_tok) FILTER (dropped), 0)::BIGINT AS tokens_removed,
       round(count(dropped)::DOUBLE / count(*), 6) AS pct_docs_removed,
       round(coalesce(sum(n_tok) FILTER (dropped), 0)::DOUBLE / sum(n_tok), 6)
         AS pct_tokens_removed
FROM base
GROUP BY strategy, source
"""


# --------------------------------------------------------------------------
# leakage_safe_split — train/val/test assignment at the near-dup-CLUSTER
# grain: hashing per-document (train_split_stratified) can put two
# near-duplicates on opposite sides of the split, leaking training
# content into eval — the classic contamination bug dedup exists to
# prevent.  Split unit = CC cluster id (singletons fall back to their
# own doc_id via the left join), bucket = the standard fold-hash of the
# unit id mod 100 with the shared 80/10/10 cut points, so every member
# of a cluster lands on the same side by construction.  Plan: the
# audited pair+CC sub-plans + one left join + a pure projection (the
# split itself adds zero shuffles).
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.functions.textstats import (
        char_fold_hash,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    labels = cluster_labels(docs)
    unit = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = char_fold_hash(unit.cast("string")) % 100
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            unit.alias("unit_id"),
            bucket.alias("bucket"),
            F.when(bucket < SPLIT_TRAIN, F.lit("train"))
            .when(bucket < SPLIT_VAL, F.lit("val"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE {_TOK_CTE}, {_SH_CTE},
{_CLUSTERS_CTES},
labels AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY src),
assigned AS (
  SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS unit_id
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
)
SELECT doc_id, unit_id,
       {_fold("unit_id::VARCHAR")} % 100 AS bucket,
       CASE WHEN {_fold("unit_id::VARCHAR")} % 100 < {SPLIT_TRAIN} THEN 'train'
            WHEN {_fold("unit_id::VARCHAR")} % 100 < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM assigned
"""


# --------------------------------------------------------------------------
# dedup_embedding_cosine — exact pairwise cosine near-dups (≥ 0.45).
_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(len(va)), i -> va[i+1] * vb[i+1])), (x, y) -> x + y)"
)


def _norm(v: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({v}, x -> x * x)), (x, y) -> x + y))"
    )


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return dd.embedding_cosine_pairs(emb)


DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT id_a, id_b,
         round({_DOT} / ({_norm("va")} * {_norm("vb")}), 6) AS cos_sim
  FROM pairs
) WHERE cos_sim >= 0.45
"""


# --------------------------------------------------------------------------
# ann_brute_force — exact cosine top-10 for query vectors vec_id < 5.
def ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.brute_force_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


ANN_BRUTE_FORCE_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_DOT.replace("va", "qv").replace("vb", "e.v").replace("len(qv)", "len(qv)")}
               / ({_norm("qv")} * {_norm("e.v")}), 6) AS cos_sim
  FROM e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ann_lsh_bucketed — sign-plane LSH ANN (approximate; same output shape).
_BUCKET = (
    "list_reduce(list_prepend(0::BIGINT, list_transform(range(6), i -> "
    "CASE WHEN {v}[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)), (a, b) -> a + b)"
)


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


ANN_LSH_BUCKETED_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  {_BUCKET.format(v="(embedding::DOUBLE[])")} AS bucket
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round({_DOT.replace("va", "qv").replace("vb", "e.v")}
               / ({_norm("qv")} * {_norm("e.v")}), 6) AS cos_sim
  FROM e JOIN q USING (bucket)
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ann_mmr_rerank — Maximal Marginal Relevance diversified top-k
# (operators/similarity_search.mmr_rerank): the greedy rerank between
# retrieval and consumption.  The oracle unrolls the k greedy steps as
# chained CTEs — each picks the argmax of round(λ·rel − (1−λ)·max
# cos-to-selected, 6) with a vec_id tie-break, exactly the operator's
# per-step argmax job.
_MMR_K, _MMR_LAM, _MMR_QID = 8, 0.7, 0


def ann_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.mmr_rerank(emb, query_id=_MMR_QID, k=_MMR_K, lam=_MMR_LAM)


def _mmr_sql(k: int, lam: float, qid: int) -> str:
    def cos(a: str, b: str) -> str:
        d = _DOT.replace("va", a).replace("vb", b)
        return f"round({d} / ({_norm(a)} * {_norm(b)}), 6)"

    # AS MATERIALIZED on every step CTE: s7's penalty references the
    # UNION of s1..s6, each of which references its own predecessors —
    # left to the inliner this expands exponentially in k (measured:
    # the un-hinted form did not finish at k=8 where the materialized
    # form runs in milliseconds).
    ctes = [
        "e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {qid})",
        f"rel AS MATERIALIZED (SELECT vec_id, v, {cos('v', 'qv')} AS rel"
        f" FROM e, q WHERE vec_id <> {qid})",
    ]
    for i in range(1, k + 1):
        if i == 1:
            pen = "0.0"
            excl = ""
        else:
            sel = " UNION ALL ".join(
                f"SELECT vec_id, v FROM s{j}" for j in range(1, i)
            )
            pen = f"(SELECT max({cos('r.v', 's.v')}) FROM ({sel}) s)"
            excl = f" WHERE r.vec_id NOT IN (SELECT vec_id FROM ({sel}) sx)"
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT r.vec_id, r.v,"
            f" round({lam} * r.rel - {round(1.0 - lam, 10)} * {pen}, 6) AS mmr"
            f" FROM rel r{excl}"
            f" ORDER BY mmr DESC, r.vec_id ASC LIMIT 1)"
        )
    final = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, mmr AS mmr_score FROM s{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + final


ANN_MMR_RERANK_SQL = _mmr_sql(_MMR_K, _MMR_LAM, _MMR_QID)


# --------------------------------------------------------------------------
# ann_ivf — IVF-cell ANN: deterministic centroids (8 lowest-id vectors),
# nearest-cell assignment, nprobe=2 probing, exact re-score in probed cells.
def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.ivf_topk(
        emb.filter(F.col("vec_id") < 5), emb, k=10, n_cells=8, nprobe=2
    )


_CENT_COS = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(len(v)), i -> v[i+1] * centv[i+1])), (x, y) -> x + y)"
    f" / ({_norm('v')} * {_norm('centv')})"
)

ANN_IVF_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cell, v AS centv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id AS neighbor_id, v AS cv, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CENT_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, v AS qv, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_CENT_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.neighbor_id,
         round({_DOT.replace("va", "qv").replace("vb", "cv")}
               / ({_norm("qv")} * {_norm("cv")}), 6) AS cos_sim
  FROM probes p JOIN assign a USING (cell)
  WHERE p.query_id <> a.neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ann_ivf_incremental — delta upsert into the IVF index: assignment is
# per-vector independent (a map-only broadcast cross-score against the
# frozen centroid set), so a new batch (vec_id % 4 == 0 here) is
# assigned on its own and unioned with the existing index — no
# previously indexed vector is ever touched, the same never-reindex
# contract as dedup_incremental_minhash.  Because the centroids are
# frozen, the upserted index is definitionally identical to a full
# rebuild, which is exactly what the shared ANN_IVF_SQL oracle checks.
# At 100 TB the index lives in parquet partitioned by cell; the daily
# delta is one map pass plus an append, vs a full-corpus rebuild.
def ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    # Frozen centroid set (8 rows); materialized because three consumers
    # (two assigns, one probe) would otherwise re-run the TakeOrdered.
    cents = materialize(ann.default_centroids(emb, n_cells=8), "iterate")
    base = ann.ivf_assign(emb.filter(F.col("vec_id") % 4 != 0), cents)
    delta = ann.ivf_assign(emb.filter(F.col("vec_id") % 4 == 0), cents)
    index = base.unionByName(delta)
    return ann.ivf_search(
        index, emb.filter(F.col("vec_id") < 5), cents, k=10, nprobe=2
    )


# --------------------------------------------------------------------------
# multimodal_features — binary-column plumbing: documents → opaque binary
# payloads + typed metadata → Arrow-batched mapInPandas feature extraction
# (deterministic fake decoder; payload is ASCII so bytes == codepoints and
# the oracle reproduces the features from the source text).
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import multimodal as mm

    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return mm.extract_features(mm.as_media_table(docs))


# Vectorized byte sum: one aggregate over the codepoint list, mod applied
# once at the end — identical to the per-byte incremental mod because the
# sum of ≤553 ASCII bytes can never reach the modulus (max ~70k ≪ 1e9+7).
# The per-element list_reduce form took ~0.9s per 500 docs; this is ~30×
# faster, which matters because the driver runs the oracle at sf0.01.
_BYTE_SUM = (
    # Outer ::BIGINT matters: DuckDB's list_aggregate(...,'sum') returns
    # HUGEINT/int128, which hash-mismatches Spark's int64 even when the
    # values are identical (round-1 driver hash FAIL).
    "(list_aggregate(list_transform(string_split(text, ''), "
    f"c -> ascii(c)::BIGINT), 'sum') % {_MOD})::BIGINT"
)

MULTIMODAL_FEATURES_SQL = f"""
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
       octet_length(encode(text))::BIGINT AS n_bytes,
       ascii(substr(text, 1, 1))::BIGINT AS first_byte,
       {_BYTE_SUM} AS byte_sum_mod
FROM documents
"""


# --------------------------------------------------------------------------
# label_centroids — per-label mean embedding (the centroid build step of
# IVF/KMeans and of class-prototype dedup), flattened to (label, pos, val)
# rows so the hash comparison is dimension-exact. Plan: posexplode (JVM
# generator, no Python) → one partial-agg shuffle on (label, pos) —
# 64·|labels| groups regardless of corpus size; map-side combine reduces
# each partition to ≤640 rows before the wire.
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_tables(spark, sf_dir, "embeddings")["embeddings"])
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"),
        )
    )


LABEL_CENTROIDS_SQL = """
SELECT label,
       CAST(i AS INT) AS pos,
       count(*) AS n_vecs,
       round(avg(CAST(embedding[i + 1] AS DOUBLE)), 6) AS centroid_val
FROM embeddings,
     LATERAL (SELECT unnest(range(len(embedding))) AS i) r
GROUP BY label, i
"""


# --------------------------------------------------------------------------
# embedding_drift — per-label centroid cosine between two index
# generations (even/odd vec_id split simulating consecutive snapshots):
# the embedding-space sibling of corpus_drift_psi, the monitor that
# tells a retrieval/ANN deployment "this class's embedding distribution
# moved — re-cluster / re-calibrate before search quality decays".
# centroid_cos ~ 1.0 means no drift.
#
# Determinism: both sides' centroids are rounded to 6 places FIRST (the
# label_centroids convention, order-safe at that precision), then the
# cosine is a sequential pos-order fold over those rounded values —
# identical arithmetic on both engines, HALF_UP(6) at the end.
# Shape: ONE (label, pos) hash-agg with conditional averages (both
# snapshots ride the same exchange), then a label-grain fold over
# dim-sized arrays — nothing data-sized after the first agg.
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.functions.money import half_up

    emb = spread(load_tables(spark, sf_dir, "embeddings")["embeddings"])
    is_a = F.col("vec_id") % 2 == 0
    ex = emb.select(
        "label", is_a.alias("is_a"), F.posexplode("embedding").alias("pos", "v")
    )
    v = F.col("v").cast("double")
    cent = ex.groupBy("label", "pos").agg(
        F.round(F.avg(F.when(F.col("is_a"), v)), 6).alias("a_val"),
        F.round(F.avg(F.when(~F.col("is_a"), v)), 6).alias("b_val"),
    )
    folded = cent.groupBy("label").agg(
        F.sort_array(F.collect_list(F.struct("pos", "a_val", "b_val"))).alias(
            "ps"
        )
    )

    def fold(term):
        return F.aggregate("ps", F.lit(0.0), lambda acc, s: acc + term(s))

    dot = fold(lambda s: s["a_val"] * s["b_val"])
    na = F.sqrt(fold(lambda s: s["a_val"] * s["a_val"]))
    nb = F.sqrt(fold(lambda s: s["b_val"] * s["b_val"]))
    return folded.select(
        "label", half_up(dot / (na * nb), 6).alias("centroid_cos")
    )


EMBEDDING_DRIFT_SQL = """
WITH cent AS (
  SELECT label, i AS pos,
         round(avg(CASE WHEN vec_id % 2 = 0
                        THEN CAST(embedding[i + 1] AS DOUBLE) END), 6) AS a_val,
         round(avg(CASE WHEN vec_id % 2 = 1
                        THEN CAST(embedding[i + 1] AS DOUBLE) END), 6) AS b_val
  FROM embeddings,
       LATERAL (SELECT unnest(range(len(embedding))) AS i) r
  GROUP BY label, i
),
f AS (
  SELECT label,
         list_reduce(list_prepend(0.0::DOUBLE, list(a_val * b_val ORDER BY pos)),
                     (acc, x) -> acc + x) AS dot,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(a_val * a_val ORDER BY pos)),
                          (acc, x) -> acc + x)) AS na,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE, list(b_val * b_val ORDER BY pos)),
                          (acc, x) -> acc + x)) AS nb
  FROM cent GROUP BY label
)
SELECT label, floor(dot / (na * nb) * 1000000.0 + 0.5) / 1000000.0 AS centroid_cos
FROM f
"""


# --------------------------------------------------------------------------
# embedding_norm_histogram — embedding-hygiene norm distribution.
_NORM_BIN_W = 0.5


def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.similarity_search import (
        norm_histogram,
    )

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return norm_histogram(emb, bin_width=_NORM_BIN_W)


EMBEDDING_NORM_HISTOGRAM_SQL = f"""
WITH e AS (
  SELECT CAST(floor(sqrt(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(embedding::DOUBLE[], x -> x * x)), (a, x) -> a + x))
           / {_NORM_BIN_W}) AS BIGINT) AS bin
  FROM embeddings
)
SELECT bin, round(bin * {_NORM_BIN_W}::DOUBLE, 2) AS lo, count(*)::BIGINT AS n_vecs
FROM e GROUP BY bin
"""


# --------------------------------------------------------------------------
# media_phash_dups — perceptual-hash near-dup pairs over the binary media
# table (the SimHash join at the media layer: Arrow-batch hash, then
# dedup._hamming_band_pairs — one (band, key) _pair_join, first-band-wins,
# bit_count verify).  Oracle recomputes the 64-bit block hash
# from the source text (payload bytes == ASCII codepoints) and applies
# the Hamming predicate naively — banding changes candidate COST, not the
# pair set.  Chunk sums are exact integer-valued doubles (< 2^53) in both
# engines, so the mean comparisons are bit-deterministic; bit 63 is added
# as the signed two's-complement value so the sum stays in BIGINT and
# matches Spark's long column exactly.
def media_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import multimodal as mm

    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    return mm.phash_dup_pairs(mm.as_media_table(docs), max_hamming=2)


def _phash_bit_sql(i: int, bits: int = 64) -> str:
    lo = f"(({i} * n) // {bits})"
    hi = f"((({i} + 1) * n) // {bits})"
    chunk_avg = f"list_aggregate(codes[{lo} + 1 : {hi}], 'avg')"
    # 1<<63 overflows BIGINT; emit its two's-complement value instead
    # (disjoint-bit addition keeps every partial sum in range).
    term = "(-9223372036854775807 - 1)" if i == 63 else str(1 << i)
    return (
        f"CASE WHEN {hi} > {lo} AND {chunk_avg} > gm"
        f" THEN {term}::BIGINT ELSE 0::BIGINT END"
    )


MEDIA_PHASH_DUPS_SQL = f"""
WITH codes AS (
  SELECT doc_id AS media_id,
         list_transform(string_split(text, ''), c -> ascii(c)::DOUBLE) AS codes
  FROM documents
),
sized AS (
  SELECT media_id, codes, len(codes) AS n,
         list_aggregate(codes, 'avg') AS gm
  FROM codes WHERE len(codes) > 0
),
hashed AS (
  SELECT media_id,
         ({" + ".join(_phash_bit_sql(i) for i in range(64))}) AS phash
  FROM sized
)
SELECT a.media_id AS id_a, b.media_id AS id_b,
       bit_count(xor(a.phash, b.phash)) AS hamming
FROM hashed a JOIN hashed b ON a.media_id < b.media_id
WHERE bit_count(xor(a.phash, b.phash)) <= 2
"""


# --------------------------------------------------------------------------
# media_frame_plan — metadata-only frame-sampling plan (which byte ranges
# a decoder would fetch); map-only, binary column pruned away entirely.
def media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import multimodal as mm

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return mm.frame_sample_plan(mm.as_media_table(docs), frame_bytes=64, every_n=4)


MEDIA_FRAME_PLAN_SQL = """
WITH sized AS (
  SELECT doc_id AS media_id,
         octet_length(encode(text))::BIGINT // 64 AS nf
  FROM documents
)
SELECT media_id,
       unnest(range(0, nf, 4)) AS frame_idx,
       unnest(range(0, nf, 4)) * 64 AS byte_offset,
       64::BIGINT AS n_frame_bytes
FROM sized WHERE nf > 0
"""


# --------------------------------------------------------------------------
# media_resize_checksum — the resize operator end-to-end with an oracle:
# nearest-neighbor 16×h → 8×8 over the fake-decoded byte grid, checksum
# of the resized bytes.  The oracle recomputes every resampled byte from
# the source text with the same integer index arithmetic
# (src = (dst·src_dim) // dst_dim), so the binary→binary Arrow stage is
# value-checked, not just shape-checked.  Spark side reads the resized
# payload back out of the binary column via hex pairs — native
# expressions, no second Python stage.
def media_resize_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import multimodal as mm

    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    resized = mm.resize_image(mm.as_media_table(docs), width=8, height=8)
    return resized.select(
        "media_id",
        "n_bytes",
        F.expr(
            "aggregate(transform(sequence(0, 63), "
            "k -> cast(conv(substr(hex(content), k*2+1, 2), 16, 10) AS BIGINT)), "
            "0L, (a, x) -> a + x)"
        ).alias("byte_sum"),
    )


MEDIA_RESIZE_CHECKSUM_SQL = """
WITH sized AS (
  SELECT doc_id AS media_id, text,
         octet_length(encode(text)) // 16 AS h
  FROM documents
)
SELECT media_id, 64::BIGINT AS n_bytes,
       (list_aggregate(list_transform(range(64),
          k -> ascii(substr(text,
                 ((((k // 8) * h) // 8) * 16 + (((k % 8) * 16) // 8)) + 1,
                 1))::BIGINT), 'sum'))::BIGINT AS byte_sum
FROM sized WHERE h > 0
"""


# --------------------------------------------------------------------------
# embedding_standardize — per-dimension z-normalization of the embedding
# corpus (the ML-prep step before quantization/projection assumes zero
# mean, unit variance per dim).  Shape: posexplode → per-dim moment agg
# (64 groups regardless of corpus size) → broadcast back onto the
# explode.  Moments ride DECIMAL sums (exact, order-free) and convert to
# double ONCE, so z-scores are IEEE-identical across engines.
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    x = F.col("x").cast("double")
    long_form = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim", "x")
    )
    moments = long_form.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x.cast("decimal(27,10)")).alias("s"),
        F.sum((x * x).cast("decimal(27,10)")).alias("s2"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mu * mu
    stats = moments.select("dim", mu.alias("mu"), F.sqrt(var).alias("sd"))
    return long_form.join(F.broadcast(stats), "dim").select(
        "vec_id",
        "dim",
        F.round((x - F.col("mu")) / F.col("sd"), 6).alias("z"),
    )


EMBEDDING_STANDARDIZE_SQL = """
WITH long_form AS (
  SELECT vec_id, i AS dim, CAST(embedding[i+1] AS DOUBLE) AS x
  FROM embeddings, range(64) r(i)
),
moments AS (
  SELECT dim, count(*) AS n,
         sum(CAST(x AS DECIMAL(27,10))) AS s,
         sum(CAST(x * x AS DECIMAL(27,10))) AS s2
  FROM long_form GROUP BY dim
),
stats AS (
  SELECT dim,
         CAST(s AS DOUBLE) / n AS mu,
         sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
           AS sd
  FROM moments
)
SELECT l.vec_id, l.dim, round((l.x - st.mu) / st.sd, 6) AS z
FROM long_form l JOIN stats st USING (dim)
"""


# --------------------------------------------------------------------------
# pagerank_neardup — centrality over the near-dup graph.  Round 5: the
# rank arithmetic is scaled-integer (operators/graph.py PR_SCALE), so
# every contribution sum is exact and order-independent and the query
# carries a REAL hash-checked oracle — a 5-iteration unrolled-CTE DuckDB
# mirror over the same integer ops (the r1-r4 rows-only limitation is
# gone).  Semantics vs float PageRank pinned by tests/test_graph_ops.py
# (error < 1e-9 at fixture scale).
def pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.graph import pagerank

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return pagerank(dd.ngram_jaccard_pairs(docs, threshold=0.8), iters=5)


def _pagerank_sql(iters: int = 5, d_num: int = 850, d_den: int = 1000) -> str:
    """Unrolled power-iteration mirror of operators/graph.pagerank in
    DuckDB SQL — same scaled-integer arithmetic (PR_SCALE = 10^12,
    truncating ``//``), so the hash check is exact.  sum(BIGINT) is
    HUGEINT in DuckDB — cast back before reuse (the r1 lesson)."""
    scale = 10**12
    its = []
    for k in range(1, iters + 1):
        prev = f"it{k - 1}"
        its.append(
            f"""it{k} AS (
  SELECT d.src, d.deg,
         (({(d_den - d_num) * scale} // ({d_den} * nn.n))
          + ({d_num} * COALESCE(c.in_sum, 0)) // {d_den})::BIGINT AS pr
  FROM deg d
  CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, CAST(sum(p.pr // p.deg) AS BIGINT) AS in_sum
    FROM edges e JOIN {prev} p ON e.src = p.src
    GROUP BY e.dst
  ) c ON d.src = c.dst
)"""
        )
    its_sql = ",\n".join(its)
    return f"""
WITH pr_pairs AS ({DEDUP_NGRAM_JACCARD_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pr_pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pr_pairs
),
deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
nn AS (SELECT count(*)::BIGINT AS n FROM deg),
it0 AS (
  SELECT d.src, d.deg, ({scale} // nn.n)::BIGINT AS pr
  FROM deg d CROSS JOIN nn
),
{its_sql}
SELECT src AS id,
       CAST((pr + 500000) // 1000000 AS DOUBLE) / 1e6 AS pagerank
FROM it{iters}
"""


PAGERANK_NEARDUP_SQL = _pagerank_sql(iters=5)


# --------------------------------------------------------------------------
# dup_cluster_size_histogram — duplicate-cluster size distribution over
# the connected components of the near-dup graph (round 5): the one-look
# health metric of a dedup run (a fat tail = template farms; all-2s =
# pairwise noise).  Two tiny hash-aggs on top of the CC output; the CC
# itself is the iterative min-label propagation, oracle-mirrored by the
# recursive CTE.
#
# CC-path choice, measured (round 7, sf0.1, 5 warm reps each on a quiet
# machine): propagation 1.8-2.0 s vs large-star/small-star 2.9-3.2 s on
# this graph.  Propagation stays the default because near-dup graphs at
# threshold 0.8 are shallow (template stars / short chains, diameter
# ~2-3): it converges in ~diameter+1 rounds of ONE join+agg each, while
# a star round costs ~2× (two groupBy-mins + re-emit join) plus a
# label-finalize pass, and star's O(log n) advantage only bites once
# diameter exceeds roughly 2·log₂(n) — long transitive-drift chains,
# which is exactly what deep_graphs=True is for (dedup_clusters_star
# exercises that path against the same oracle).
def dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = dd.connected_components(dd.ngram_jaccard_pairs(docs, threshold=0.8))
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


DUP_CLUSTER_SIZE_HISTOGRAM_SQL = f"""
WITH clusters AS ({DEDUP_CLUSTERS_SQL}),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM clusters GROUP BY 1)
SELECT cluster_size, count(*) AS n_clusters FROM sizes GROUP BY 1
"""


# --------------------------------------------------------------------------
# cross_source_shingle_overlap — pairwise content overlap between
# sources, as Jaccard over each source's distinct shingle set (round 5):
# the dataset-curation signal for "these two crawls are the same site" /
# "benchmark X leaked into source Y", one level above per-document
# dedup.  Inverted-index shape: distinct (source, shingle-hash) rows
# join on the hash — Σdf² like ngram_jaccard_pairs, never
# |sources|²·|corpus|; per-source totals broadcast.  The join/distinct
# key is the 8-byte char-fold HASH of the shingle, not the ~30-byte
# string (≈4× less shuffle volume; measured the difference between a
# stable ~3 s and GC-bound double-digit runs at sf0.1): collisions
# (~|shingles|²/2·10⁻⁹ expected) merge the same shingles in BOTH
# engines, so the overlap is a deterministic, hash-checkable estimate
# with ~1e-3 relative error at worst.  Pairs with zero shared shingles
# are omitted (inner join semantics, mirrored in the oracle).
def cross_source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    # r14 rewrite (guide §2.3/§2.4 — the copurchase_triangles shape;
    # verdict r13 #2): the old distinct + self-join-on-hash plan had TWO
    # corpus-scale exchanges and a join whose strategy flapped with the
    # materialization's stats (persist ⇒ borderline broadcast of a
    # multi-MB set, checkpoint ⇒ sort-merge both sides; measured 2.1-7.1 s
    # across rounds on identical data).  Per-shingle source SETS make
    # both derivable from ONE map-side-combined exchange: collect_set
    # dedups (source, shingle) in the partial agg, per-shingle source
    # arrays are bounded by |sources| (tiny by definition), index combos
    # over the sorted array emit exactly the old src_a < src_b pairs,
    # and the per-source totals re-derive by exploding the sets —
    # deterministic plan, no join at all on the corpus-scale stream.
    # Persisted + eagerly filled: srcsets feeds the totals AND the pair
    # expansion — sibling subtrees of one action that would otherwise
    # race the first materialization, each re-running the shingle agg.
    srcsets = (
        docs.select(
            "source", F.explode(dd.shingle_hashes(F.col("text"))).alias("shingle")
        )
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .transform(materialize, "share", eager=True)
    )
    tot = (
        srcsets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    n = F.size("srcs")
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.sequence(i + 1, n - 1),
                lambda j: F.struct(
                    F.get("srcs", i).alias("src_a"),
                    F.get("srcs", j).alias("src_b"),
                ),
            ),
        )
    )
    common = (
        srcsets.filter(n >= 2)
        .select(F.explode(combos).alias("pr"))
        .groupBy(F.col("pr.src_a").alias("src_a"), F.col("pr.src_b").alias("src_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            F.broadcast(tot.select(F.col("source").alias("src_a"), F.col("n").alias("na"))),
            "src_a",
        )
        .join(
            F.broadcast(tot.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_common",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
    )


CROSS_SOURCE_SHINGLE_OVERLAP_SQL = f"""
WITH tok2 AS (SELECT source, {_TOKENS} AS t FROM documents),
sh2 AS (SELECT source, {_SHINGLES} AS s FROM tok2),
hs2 AS (SELECT source, list_transform(s, g -> {_fold("g")}) AS hs FROM sh2),
ex AS (SELECT DISTINCT source, unnest(hs) AS shingle FROM hs2),
tot AS (SELECT source, count(*) AS n FROM ex GROUP BY 1),
com AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_common,
       round(n_common::DOUBLE / (ta.n + tb.n - n_common), 6) AS jaccard
FROM com
JOIN tot ta ON com.src_a = ta.source
JOIN tot tb ON com.src_b = tb.source
"""


# --------------------------------------------------------------------------
# doc_length_deciles — exact length-decile boundaries of the corpus.
# Round-6 rewrite: the round-5 version ran NTILE(10) over an
# unpartitioned window, pushing every corpus row through ONE reducer —
# the single scale-killer the round-5 audit flagged.  The decile table
# is fully determined by (a) the per-length histogram and (b) the
# n_chars value at 20 boundary ranks, so compute exactly that:
#
#   1. hash-agg the corpus to (n_chars, cnt) — distributed, map-side
#      combined; output is |distinct lengths| rows, not |corpus|;
#   2. cumulative ranks over the HISTOGRAM (a window over distinct
#      lengths — bounded by max doc length, kilobytes at any corpus
#      size; this is the only serial step and it never sees the corpus);
#   3. derive each decile's [start,end] global rank from N via the
#      NTILE sizing rule (first N%10 buckets get one extra row), then
#      broadcast-range-join the 10 boundary rows against the histogram
#      to read off min/max chars.
#
# Per-row decile ASSIGNMENT (when a downstream stage needs it) is the
# same broadcast range-join of the corpus against the cum table — still
# no single-reducer pass.  NTILE's (n_chars, doc_id) tie-break splits
# equal lengths across adjacent deciles, but boundary VALUES are
# tie-order-independent, so the histogram formulation is exact.  The
# oracle keeps the literal NTILE spelling — at oracle scale it's fine,
# and it pins that the two formulations agree row-for-row.
def doc_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    # persist the bounded cum table (|distinct lengths| rows): it feeds
    # the total, the lo boundary join and the hi boundary join — without
    # the pin each consumer re-runs the corpus-wide hash-agg (advice r6).
    # Shared, not checkpointed: the table is kilobytes — checkpoint
    # block-store traffic cost more than the lineage truncation saved
    # (0.49 s -> 0.65 s, verdict r13 #4).
    cum = (
        hist.select(
            "n_chars",
            "cnt",
            F.sum("cnt").over(w).alias("cum_end"),
        )
        .withColumn("cum_start", F.col("cum_end") - F.col("cnt") + 1)
        .transform(materialize, "share")
    )
    total = cum.agg(F.sum("cnt").cast("long").alias("n_total"))
    q = F.floor(F.col("n_total") / 10)
    rem = F.col("n_total") % 10
    k = F.col("decile").cast("long")
    bounds = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .crossJoin(F.broadcast(total))
        .select(
            "decile",
            ((k - 1) * q + F.least(k - 1, rem) + 1).alias("r_start"),
            (k * q + F.least(k, rem)).alias("r_end"),
        )
        # NTILE emits only min(N, 10) buckets: drop empty tail deciles.
        .filter(F.col("r_end") >= F.col("r_start"))
    )
    lo = F.broadcast(bounds).join(
        cum,
        (F.col("cum_start") <= F.col("r_start")) & (F.col("r_start") <= F.col("cum_end")),
    ).select("decile", "r_start", "r_end", F.col("n_chars").alias("min_chars"))
    return (
        F.broadcast(lo)
        .join(
            cum,
            (F.col("cum_start") <= F.col("r_end")) & (F.col("r_end") <= F.col("cum_end")),
        )
        .select(
            "decile",
            (F.col("r_end") - F.col("r_start") + 1).cast("long").alias("n_docs"),
            "min_chars",
            F.col("n_chars").alias("max_chars"),
        )
    )


DOC_LENGTH_DECILES_SQL = """
WITH tiled AS (
  SELECT n_chars, ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
  FROM documents
)
SELECT decile, count(*) AS n_docs,
       min(n_chars) AS min_chars, max(n_chars) AS max_chars
FROM tiled GROUP BY decile
"""


# --------------------------------------------------------------------------
# source_lang_confusion — language-ID confusion matrix: ground-truth
# ``lang`` column × the n-gram heuristic's ``lang_pred``, with per-truth
# row shares (round 5).  The standing evaluation harness for the
# curation pipeline's language filter — row shares come from a
# broadcast-sized window over ≤|langs|² cells.
def source_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = spread(load_tables(spark, sf_dir, "documents")["documents"])
    feat = ts.text_features(docs, keep=("doc_id", "lang"))
    agg = feat.groupBy(
        F.col("lang").alias("lang_true"), F.col("lang_pred")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang_true")
    return agg.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


SOURCE_LANG_CONFUSION_SQL = f"""
WITH tsx AS ({TEXT_STATS_SQL}),
j AS (
  SELECT d.lang AS lang_true, tsx.lang_pred
  FROM documents d JOIN tsx ON d.doc_id = tsx.doc_id
),
agg AS (
  SELECT lang_true, lang_pred, count(*) AS n_docs FROM j GROUP BY 1, 2
)
SELECT lang_true, lang_pred, n_docs,
       round(n_docs::DOUBLE / sum(n_docs) OVER (PARTITION BY lang_true), 6)
         AS share
FROM agg
"""


QUERIES = {
    "text_stats": text_stats,
    "corpus_profile_by_source": corpus_profile_by_source,
    "corpus_quality_filter": corpus_quality_filter,
    "corpus_sample": corpus_sample,
    "dedup_exact": dedup_exact,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_winnow": dedup_winnow,
    "dedup_incremental_winnow": dedup_incremental_winnow,
    "winnow_match_spans": winnow_match_spans,
    "winnow_match_runs": winnow_match_runs,
    "winnow_pair_report": winnow_pair_report,
    "dedup_blocks": dedup_blocks,
    "dedup_incremental_blocks": dedup_incremental_blocks,
    "winnow_contamination": winnow_contamination,
    "decontaminate_corpus": decontaminate_corpus,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_incremental_minhash": dedup_incremental_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_clusters": dedup_clusters,
    "dedup_clusters_star": dedup_clusters_star,
    "dedup_clusters_incremental": dedup_clusters_incremental,
    "dedup_clusters_incremental2": dedup_clusters_incremental2,
    "dedup_clusters_incremental_sliver": dedup_clusters_incremental_sliver,
    "dedup_keep_best": dedup_keep_best,
    "dedup_bcubed_eval": dedup_bcubed_eval,
    "dedup_winnow_keep_best": dedup_winnow_keep_best,
    "dedup_effectiveness_report": dedup_effectiveness_report,
    "minhash_recall_report": minhash_recall_report,
    "leakage_safe_split": leakage_safe_split,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_brute_force": ann_brute_force,
    "ann_mmr_rerank": ann_mmr_rerank,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf": ann_ivf,
    "ann_ivf_incremental": ann_ivf_incremental,
    "multimodal_features": multimodal_features,
    "media_phash_dups": media_phash_dups,
    "media_resize_checksum": media_resize_checksum,
    "embedding_standardize": embedding_standardize,
    "media_frame_plan": media_frame_plan,
    "label_centroids": label_centroids,
    "embedding_drift": embedding_drift,
    "embedding_norm_histogram": embedding_norm_histogram,
    "pagerank_neardup": pagerank_neardup,
    "dup_cluster_size_histogram": dup_cluster_size_histogram,
    "cross_source_shingle_overlap": cross_source_shingle_overlap,
    "doc_length_deciles": doc_length_deciles,
    "source_lang_confusion": source_lang_confusion,
}

ORACLES = {
    "label_centroids": LABEL_CENTROIDS_SQL,
    "embedding_drift": EMBEDDING_DRIFT_SQL,
    "text_stats": TEXT_STATS_SQL,
    "corpus_profile_by_source": CORPUS_PROFILE_BY_SOURCE_SQL,
    "corpus_quality_filter": CORPUS_QUALITY_FILTER_SQL,
    "corpus_sample": CORPUS_SAMPLE_SQL,
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_winnow": DEDUP_WINNOW_SQL,
    "dedup_incremental_winnow": DEDUP_INCREMENTAL_WINNOW_SQL,
    "winnow_match_spans": WINNOW_MATCH_SPANS_SQL,
    "winnow_match_runs": WINNOW_MATCH_RUNS_SQL,
    "winnow_pair_report": WINNOW_PAIR_REPORT_SQL,
    "dedup_blocks": DEDUP_BLOCKS_SQL,
    "dedup_incremental_blocks": DEDUP_INCREMENTAL_BLOCKS_SQL,
    "winnow_contamination": WINNOW_CONTAMINATION_SQL,
    "decontaminate_corpus": DECONTAMINATE_CORPUS_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_LSH_SQL,
    "dedup_incremental_minhash": DEDUP_INCREMENTAL_MINHASH_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_clusters": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_star": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_incremental": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_incremental2": DEDUP_CLUSTERS_SQL,
    "dedup_clusters_incremental_sliver": DEDUP_CLUSTERS_SQL,
    "dedup_keep_best": DEDUP_KEEP_BEST_SQL,
    "dedup_bcubed_eval": DEDUP_BCUBED_EVAL_SQL,
    "dedup_winnow_keep_best": DEDUP_WINNOW_KEEP_BEST_SQL,
    "dedup_effectiveness_report": DEDUP_EFFECTIVENESS_REPORT_SQL,
    "minhash_recall_report": MINHASH_RECALL_REPORT_SQL,
    "leakage_safe_split": LEAKAGE_SAFE_SPLIT_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_COSINE_SQL,
    "ann_brute_force": ANN_BRUTE_FORCE_SQL,
    "ann_mmr_rerank": ANN_MMR_RERANK_SQL,
    "ann_lsh_bucketed": ANN_LSH_BUCKETED_SQL,
    "ann_ivf": ANN_IVF_SQL,
    "ann_ivf_incremental": ANN_IVF_SQL,
    "multimodal_features": MULTIMODAL_FEATURES_SQL,
    "media_phash_dups": MEDIA_PHASH_DUPS_SQL,
    "media_resize_checksum": MEDIA_RESIZE_CHECKSUM_SQL,
    "embedding_standardize": EMBEDDING_STANDARDIZE_SQL,
    "media_frame_plan": MEDIA_FRAME_PLAN_SQL,
    "embedding_norm_histogram": EMBEDDING_NORM_HISTOGRAM_SQL,
    "pagerank_neardup": PAGERANK_NEARDUP_SQL,
    "dup_cluster_size_histogram": DUP_CLUSTER_SIZE_HISTOGRAM_SQL,
    "cross_source_shingle_overlap": CROSS_SOURCE_SHINGLE_OVERLAP_SQL,
    "doc_length_deciles": DOC_LENGTH_DECILES_SQL,
    "source_lang_confusion": SOURCE_LANG_CONFUSION_SQL,
}
