"""Training-data pipeline queries, round 2 (charter extensions beyond
SURVEY.md §2): substring-granular dedup, PII redaction, train/eval
contamination screening.

Oracle-parity design follows ``queries/llmops.py``: deterministic
char-fold hashing, no RNG (the eval split is ``doc_id % 10``), every
computed column aliased identically on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import firmable_company_data_pipeline_spark.functions as lib
from firmable_company_data_pipeline_spark.functions import textstats as ts
from firmable_company_data_pipeline_spark.operators import dedup as dd
from firmable_company_data_pipeline_spark.session import load_tables, materialize

_MOD = ts.HASH_MOD

_TOKENS = r"string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')"
_TOK_CTE = f"tok AS (SELECT doc_id, {_TOKENS} AS t FROM documents)"


# Spark-side twin of _TOK_CTE (round 13; verdict r12 #6): the training
# family's tokenizing queries share ONE persisted (doc_id, source, t)
# frame per (session, sf_dir) instead of each re-tokenizing documents
# from the parquet scan.  Within a gate/contract run the first consumer
# pays the scan + tokenize once; every later consumer reads the
# InMemoryRelation (and its simpler scan stage compiles cheaper than
# the full regexp/split pipeline).  Shared, not checkpointed:
# bench.clear_cached_state unpersists everything between queries, and
# a released checkpoint cannot recompute (truncated lineage) while a
# released cache simply re-executes — so bench timings still measure
# each query's full plan, unshared.
# The dict is session-scoped by applicationId (a new session gets a
# fresh entry; stale entries are unreachable DataFrames, collected with
# the old session).  At 100 TB a team would materialize this view as a
# table; the cache is the single-session stand-in with the same shape.
_TOK_VIEW_CACHE: dict[tuple[str, str], DataFrame] = {}


def _tok_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    df = _TOK_VIEW_CACHE.get(key)
    if df is None:
        docs = load_tables(spark, sf_dir, "documents")["documents"]
        df = docs.select(
            "doc_id", "source", ts.tokens(F.col("text")).alias("t")
        ).transform(materialize, "share")
        _TOK_VIEW_CACHE[key] = df
    return df


def _fold(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(string_split({expr}, ''), "
        f"c -> ascii(c)::BIGINT)), (h, c) -> (h*31 + c) % {_MOD})"
    )


# --------------------------------------------------------------------------
# substring_dup_spans — duplicated k-token windows across docs
# (Lee et al. 2022 exact-substring dedup signal, hash-groupBy shape).
_K = 8


def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.substring_dup_spans(docs, k=_K, min_docs=2)


_GRAM_K = " || ' ' || ".join(f"t[i+{j}]" for j in range(1, _K + 1))
SUBSTRING_DUP_SPANS_SQL = f"""
WITH {_TOK_CTE},
wins AS (
  SELECT doc_id, unnest(
    CASE WHEN len(t) >= {_K}
         THEN list_transform(range(len(t)-{_K}+1), i -> {_GRAM_K})
         ELSE []::VARCHAR[] END) AS gram
  FROM tok
),
grouped AS (
  SELECT gram,
         count(DISTINCT doc_id) AS n_docs,
         count(*) AS n_occ,
         min(doc_id) AS first_doc
  FROM wins
  GROUP BY gram
  HAVING count(DISTINCT doc_id) >= 2
)
SELECT {_fold('gram')} AS win_hash,
       n_docs, n_occ, first_doc
FROM grouped
"""


# --------------------------------------------------------------------------
# pii_redaction — email/phone scrub over synthesized contact prose
# (same deterministic synthesis as fn_contacts, so the patterns are
# guaranteed to fire).
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_tables(spark, sf_dir, "customer")["customer"]
    k = F.col("c_custkey")
    text = F.concat(
        F.lit("mail info@c"), k.cast("string"), F.lit(".com.au or sales@c"),
        k.cast("string"), F.lit(".net, call (02) 9"),
        F.lpad((k % 1000).cast("string"), 3, "0"), F.lit(" 8888 at NSW "),
        (F.lit(2000) + (k % 999)).cast("string"), F.lit(" today"),
    )
    return cust.select(
        k.alias("custkey"),
        lib.redact_pii(text).alias("redacted"),
        F.size(lib.extract_emails(text)).alias("n_emails"),
        F.size(lib.extract_phones(text)).alias("n_phones"),
    )


PII_REDACTION_SQL = """
SELECT custkey,
       regexp_replace(
         regexp_replace(txt,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
         '(\\+61\\s?\\d{{1,2}}\\s?\\d{{3}}\\s?\\d{{3}}|\\(0\\d\\)\\s?\\d{{4}}\\s?\\d{{4}}|\\d{{4}}\\s?\\d{{3}}\\s?\\d{{3}})',
         '[PHONE]', 'g') AS redacted,
       len(regexp_extract_all(txt,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', 0)) AS n_emails,
       len(regexp_extract_all(txt,
           '(\\+61\\s?\\d{{1,2}}\\s?\\d{{3}}\\s?\\d{{3}}|\\(0\\d\\)\\s?\\d{{4}}\\s?\\d{{4}}|\\d{{4}}\\s?\\d{{3}}\\s?\\d{{3}})', 1)) AS n_phones
FROM (SELECT c_custkey AS custkey,
             'mail info@c' || c_custkey || '.com.au or sales@c' || c_custkey ||
             '.net, call (02) 9' || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0') ||
             ' 8888 at NSW ' || CAST(2000 + (c_custkey % 999) AS VARCHAR) || ' today' AS txt
      FROM customer)
""".format()


# --------------------------------------------------------------------------
# contamination_check — train docs whose 5-gram shingles overlap the
# deterministic eval split (doc_id % 10 == 0).
_N = 5


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.contamination_check(docs, n=_N, eval_mod=10, min_overlap=0.2)


_GRAM_N = " || ' ' || ".join("t[i+%d]" % j for j in range(1, _N + 1))
_SHINGLES_N = (
    f"CASE WHEN len(t) >= {_N} THEN list_distinct(list_transform(range(len(t)-{_N}+1), "
    f"i -> {_GRAM_N})) ELSE []::VARCHAR[] END"
)

CONTAMINATION_CHECK_SQL = f"""
WITH {_TOK_CTE},
sh AS (SELECT doc_id, {_SHINGLES_N} AS s FROM tok),
train AS (
  SELECT doc_id, len(s) AS n_sh, unnest(s) AS shingle
  FROM sh WHERE doc_id % 10 <> 0
),
eval_u AS (
  SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 10 = 0
)
SELECT doc_id, n_sh,
       count(*) AS n_common,
       round(count(*)::DOUBLE / n_sh, 6) AS overlap_frac
FROM train
WHERE shingle IN (SELECT shingle FROM eval_u)
GROUP BY doc_id, n_sh
HAVING round(count(*)::DOUBLE / n_sh, 6) >= 0.2
"""


# --------------------------------------------------------------------------
# ann_quantized — int8-quantized cosine top-k (the memory-bound ANN scale
# path: 4× smaller scan than float32).  Deterministic floor-based
# round-half-up so both engines quantize identically.
def ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import similarity_search as ann

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.quantized_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


_QDOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(len(qv)), i -> qv[i+1] * nv[i+1])), (x, y) -> x + y)"
)


def _qnorm(v: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0::DOUBLE, "
        f"list_transform({v}, x -> x * x)), (x, y) -> x + y))"
    )


ANN_QUANTIZED_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (
  SELECT list(mx ORDER BY pos) AS s
  FROM (SELECT i AS pos, max(abs(v[i+1])) AS mx
        FROM e, LATERAL (SELECT unnest(range(len(v))) AS i) r
        GROUP BY i)
),
dq AS (
  SELECT vec_id,
         list_transform(range(len(v)), i ->
           CASE WHEN s[i+1] > 0 THEN floor(v[i+1] * 127.0 / s[i+1] + 0.5) * s[i+1] / 127.0
                ELSE 0.0 END) AS v
  FROM e CROSS JOIN sc
),
q AS (SELECT vec_id AS query_id, v AS qv FROM dq WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         round({_QDOT.replace("nv", "d.v")}
               / ({_qnorm("qv")} * {_qnorm("d.v")}), 6) AS approx_sim
  FROM dq d CROSS JOIN q
  WHERE d.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, approx_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ann_pq — product-quantization ANN (verdict r10 #5; Jégou et al.
# 2011): the index stores m=8 one-byte codes per vector (vs 256 B of
# float32 — the 32x memory shape that keeps a 100-TB index resident);
# codebooks are per-subspace sub-slices of the 8 lowest-id vectors (the
# deterministic-centroid seam, so the oracle reproduces codes and
# reconstructions bit-for-bit; the KMeans sub-codebook arm rides the
# same (sub, cell, centv) contract).  approx_sim = cos(query,
# reconstruction) — ADC with the lookup table expanded in-fold.
def ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import similarity_search as ann

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.pq_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)


_PQ_DIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(8), i -> "
    "(e.v[cb.sub*8 + i + 1] - cb.centv[i + 1])"
    " * (e.v[cb.sub*8 + i + 1] - cb.centv[i + 1]))), (x, y) -> x + y)"
)

ANN_PQ_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
base AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS cell
  FROM e ORDER BY vec_id LIMIT 8
),
cb AS (
  SELECT u.j AS sub, cell, v[u.j*8 + 1 : u.j*8 + 8] AS centv
  FROM base, unnest(range(8)) AS u(j)
),
dists AS (
  SELECT e.vec_id, cb.sub, cb.cell, {_PQ_DIST} AS d
  FROM e CROSS JOIN cb
),
codes AS (
  SELECT vec_id, sub, cell FROM (
    SELECT vec_id, sub, cell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d ASC, cell ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
recon AS (
  SELECT c.vec_id, flatten(list(cb.centv ORDER BY c.sub)) AS rv
  FROM codes c JOIN cb ON cb.sub = c.sub AND cb.cell = c.cell
  GROUP BY c.vec_id
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, r.vec_id AS neighbor_id,
         round({_QDOT.replace("nv", "r.rv")}
               / ({_qnorm("qv")} * {_qnorm("r.rv")}), 6) AS approx_sim
  FROM recon r CROSS JOIN q
  WHERE r.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id, approx_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ivf_pq_topk — the IVF+PQ production ANN composition (Jégou et al.
# 2011 §IV), registered round 12 (verdict r11 #2/#5): coarse quantizer
# prunes candidates to |cell|·nprobe, product codes bound per-candidate
# state to m bytes, and scoring is the per-query ADC LOOKUP TABLE (m
# element_at's + an m-term fold per candidate — O(m), not the O(d)
# reconstruction fold).  Deterministic seams: lowest-id IVF centroids +
# lowest-id sub-sliced codebooks, so DuckDB reproduces cells, codes and
# the partial-dot tables bit-for-bit.
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import similarity_search as ann

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.ivf_pq_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_cells=8, nprobe=2
    )


# cosine(vector v, centroid centv) — the IVF assignment score, verbatim
# from the driver-green ANN_IVF_SQL fragment in queries/llmops.py.
_IVF_COS = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(len(v)), i -> v[i+1] * centv[i+1])), (x, y) -> x + y)"
    " / ({nv} * {nc})".format(nv=_qnorm("v"), nc=_qnorm("centv"))
)

# ADC partial sums per (query, sub, cell): the same left-fold
# association as the Spark pq_adc_tables entries.
_ADC_PDOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(8), i -> "
    "q.qv[cb.sub*8 + i + 1] * cb.centv[i + 1])), (x, y) -> x + y)"
)
_ADC_PNORM = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(8), i -> "
    "cb.centv[i + 1] * cb.centv[i + 1])), (x, y) -> x + y)"
)
# ordered fold over the m per-subspace partials — matches Spark's
# F.aggregate over sequence(0, m-1)
_ADC_FOLD = (
    "list_reduce(list_prepend(0.0::DOUBLE, list({col} ORDER BY sub)), "
    "(x, y) -> x + y)"
)

IVF_PQ_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cell, v AS centv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id AS neighbor_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVF_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
base AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) - 1 AS pcell
  FROM e ORDER BY vec_id LIMIT 8
),
cb AS (
  SELECT u.j AS sub, pcell, v[u.j*8 + 1 : u.j*8 + 8] AS centv
  FROM base, unnest(range(8)) AS u(j)
),
dists AS (
  SELECT e.vec_id, cb.sub, cb.pcell, {_PQ_DIST} AS d
  FROM e CROSS JOIN cb
),
codes AS (
  SELECT vec_id, sub, pcell FROM (
    SELECT vec_id, sub, pcell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d ASC, pcell ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
probes AS (
  SELECT vec_id AS query_id, {_qnorm("v")} AS qn, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVF_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, cb.sub, cb.pcell,
         {_ADC_PDOT} AS pdot, {_ADC_PNORM} AS pnorm
  FROM q CROSS JOIN cb
),
parts AS (
  SELECT p.query_id, a.neighbor_id, p.qn, l.sub, l.pdot, l.pnorm
  FROM probes p
  JOIN assign a USING (cell)
  JOIN codes k ON k.vec_id = a.neighbor_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.pcell = k.pcell
  WHERE p.query_id <> a.neighbor_id
),
scored AS (
  SELECT query_id, neighbor_id,
         round({_ADC_FOLD.format(col="pdot")}
               / (qn * sqrt({_ADC_FOLD.format(col="pnorm")})), 6) AS approx_sim
  FROM parts GROUP BY query_id, neighbor_id, qn
),
ranked AS (
  SELECT query_id, neighbor_id, approx_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# ann_ivf_pq_residual — IVFADC proper (Jégou et al. 2011 §IV-A, the
# FAISS IndexIVFPQ encoding; new round 12): PQ codes cover the RESIDUAL
# v − c(cell) so the coarse quantizer absorbs between-cell variance and
# the m bytes only encode within-cell spread.  Scoring decomposes
# v̂ = c + recon: num = <q,c> + Σ pdot; ||v̂||² = ||c||² + 2·Σ xdot +
# Σ pnorm — three ordered m-term folds per candidate, all tables
# broadcast.  Residual codebooks come from the ks lowest-id
# NON-centroid vectors (centroid residuals are identically zero).
def ann_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators import similarity_search as ann

    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return ann.ivf_pq_residual_topk(
        emb, emb.filter(F.col("vec_id") < 5), k=10, n_cells=8, nprobe=2
    )


_PQ_RDIST = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(8), i -> "
    "(r.rv0[cb.sub*8 + i + 1] - cb.centv[i + 1])"
    " * (r.rv0[cb.sub*8 + i + 1] - cb.centv[i + 1]))), (x, y) -> x + y)"
)
_QC_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, "
    "list_transform(range(len(v)), i -> v[i+1] * centv[i+1])), (x, y) -> x + y)"
)
_X_DOT = (
    "list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(8), i -> "
    "c.centv[cb.sub*8 + i + 1] * cb.centv[i + 1])), (x, y) -> x + y)"
)

ANN_IVF_PQ_RESIDUAL_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT vec_id AS cell, v AS centv
  FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)
),
assign AS (
  SELECT vec_id AS neighbor_id, v AS cv, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVF_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
  ) WHERE rn = 1
),
resid AS (
  SELECT a.neighbor_id AS vec_id, a.cell,
         list_transform(range(len(a.cv)), i -> a.cv[i+1] - c.centv[i+1]) AS rv0
  FROM assign a JOIN cents c USING (cell)
),
rbase AS (
  SELECT vec_id, rv0, row_number() OVER (ORDER BY vec_id) - 1 AS pcell
  FROM (SELECT * FROM resid
        WHERE vec_id NOT IN (SELECT cell FROM cents)
        ORDER BY vec_id LIMIT 8)
),
rcb AS (
  SELECT u.j AS sub, pcell, rv0[u.j*8 + 1 : u.j*8 + 8] AS centv
  FROM rbase, unnest(range(8)) AS u(j)
),
dists AS (
  SELECT r.vec_id, cb.sub, cb.pcell, {_PQ_RDIST} AS d
  FROM resid r CROSS JOIN rcb cb
),
codes AS (
  SELECT vec_id, sub, pcell FROM (
    SELECT vec_id, sub, pcell,
           row_number() OVER (PARTITION BY vec_id, sub
                              ORDER BY d ASC, pcell ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
xt AS (
  SELECT c.cell, cb.sub, cb.pcell, {_X_DOT} AS xdot
  FROM cents c CROSS JOIN rcb cb
),
cn AS (
  SELECT cell,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(centv, x -> x * x)), (x, y) -> x + y) AS cnorm2
  FROM cents
),
probes AS (
  SELECT query_id, cell, {_qnorm("v")} AS qn, {_QC_DOT} AS qcdot FROM (
    SELECT e.vec_id AS query_id, e.v, c.cell, c.centv,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_IVF_COS} DESC, c.cell ASC) AS rn
    FROM e CROSS JOIN cents c
    WHERE e.vec_id < 5
  ) WHERE rn <= 2
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
lut AS (
  SELECT q.query_id, cb.sub, cb.pcell,
         {_ADC_PDOT} AS pdot, {_ADC_PNORM} AS pnorm
  FROM q CROSS JOIN rcb cb
),
parts AS (
  SELECT p.query_id, a.neighbor_id, p.cell, p.qn, p.qcdot,
         l.sub, l.pdot, l.pnorm, x.xdot
  FROM probes p
  JOIN assign a USING (cell)
  JOIN codes k ON k.vec_id = a.neighbor_id
  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.pcell = k.pcell
  JOIN xt x ON x.cell = p.cell AND x.sub = k.sub AND x.pcell = k.pcell
  WHERE p.query_id <> a.neighbor_id
),
scored AS (
  SELECT p.query_id, p.neighbor_id,
         round((p.qcdot + {_ADC_FOLD.format(col="pdot")})
               / (p.qn * sqrt(cn.cnorm2
                              + 2 * {_ADC_FOLD.format(col="xdot")}
                              + {_ADC_FOLD.format(col="pnorm")})), 6)
           AS approx_sim
  FROM parts p JOIN cn ON cn.cell = p.cell
  GROUP BY p.query_id, p.neighbor_id, p.qn, p.qcdot, cn.cnorm2
),
ranked AS (
  SELECT query_id, neighbor_id, approx_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_sim DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, approx_sim, rank FROM ranked WHERE rank <= 10
"""


# --------------------------------------------------------------------------
# training_shuffle_shards — deterministic corpus shuffle + round-robin
# shard manifest: the "shuffle before sharding" step every training run
# needs, with no RNG anywhere.  Shuffle order = fold-hash of a seeded
# key (stable across runs/engines/executors); global position comes
# from the distributed exact rank (operators/ranks.py — P parallel
# windows + broadcast offsets, never a single-reducer global sort);
# shard = round-robin over the shuffled order, so shard sizes differ by
# at most one BY CONSTRUCTION and every shard is an unbiased sample of
# the corpus.  pos_in_shard is the read order inside each shard file.
_N_SHARDS = 8
_SHUFFLE_SEED = "shuffle-epoch0|"


def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.ranks import (
        exact_global_row_number,
    )

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    keyed = docs.select(
        "doc_id",
        ts.char_fold_hash(
            F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string"))
        ).alias("shuffle_key"),
    )
    # (shuffle_key, doc_id) is a total order: the doc_id tie-break makes
    # hash collisions harmless.
    ranked = exact_global_row_number(keyed, ["shuffle_key", "doc_id"], out="rn")
    return ranked.select(
        "doc_id",
        "shuffle_key",
        ((F.col("rn") - 1) % _N_SHARDS).cast("int").alias("shard"),
        (F.expr(f"(rn - 1) div {_N_SHARDS}") + 1).alias("pos_in_shard"),
    )


TRAINING_SHUFFLE_SHARDS_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         {_fold(f"'{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
  FROM documents
),
ranked AS (
  SELECT doc_id, shuffle_key,
         row_number() OVER (ORDER BY shuffle_key, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, shuffle_key,
       CAST((rn - 1) % {_N_SHARDS} AS INT) AS shard,
       (rn - 1) // {_N_SHARDS} + 1 AS pos_in_shard
FROM ranked
"""


# --------------------------------------------------------------------------
# padding_efficiency_report — length-bucketed batch planning: group
# documents into B equal-count buckets by token length (dynamic
# batching / length bucketing, the standard padding-waste mitigation in
# training dataloaders) and report each bucket's padding overhead
# (docs are padded to their bucket's max length).  The bucket
# assignment is the distributed exact NTILE (operators/ranks.py — P
# parallel windows + broadcast offsets, bit-identical to the engine
# ntile, never a single-reducer sort), then one hash-agg.  The
# waste_frac column is the number a dataloader team actually tunes
# bucket counts against.
_N_LEN_BUCKETS = 16


def padding_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from firmable_company_data_pipeline_spark.operators.ranks import exact_ntile

    lens = _tok_view(spark, sf_dir).select(
        "doc_id", F.size("t").alias("n_tok")
    )
    # (n_tok, doc_id) is a total order: ties broken by id so the bucket
    # assignment is deterministic and engine-reproducible.
    bucketed = exact_ntile(lens, _N_LEN_BUCKETS, ["n_tok", "doc_id"], out="bucket")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tok").alias("max_len"),
            F.sum("n_tok").alias("sum_len"),
        )
        .select(
            "bucket",
            "n_docs",
            "max_len",
            "sum_len",
            (F.col("n_docs") * F.col("max_len") - F.col("sum_len")).alias(
                "padded_waste"
            ),
            F.round(
                (F.col("n_docs") * F.col("max_len") - F.col("sum_len"))
                / (F.col("n_docs") * F.col("max_len")),
                6,
            ).alias("waste_frac"),
        )
    )


PADDING_EFFICIENCY_REPORT_SQL = f"""
WITH {_TOK_CTE},
lens AS (SELECT doc_id, len(t) AS n_tok FROM tok),
b AS (
  SELECT doc_id, n_tok,
         CAST(ntile({_N_LEN_BUCKETS}) OVER (ORDER BY n_tok, doc_id) AS INT) AS bucket
  FROM lens
)
SELECT bucket,
       count(*) AS n_docs,
       max(n_tok) AS max_len,
       sum(n_tok)::BIGINT AS sum_len,
       (count(*) * max(n_tok) - sum(n_tok))::BIGINT AS padded_waste,
       round((count(*) * max(n_tok) - sum(n_tok))::DOUBLE
             / (count(*) * max(n_tok)), 6) AS waste_frac
FROM b
GROUP BY bucket
"""


# --------------------------------------------------------------------------
# line_dedup_rewrite — cross-document repeated-segment REMOVAL applied
# (CCNet §3.1 / RefinedWeb line dedup, new round 12): where
# substring_dup_spans reports duplicated grams, this rewrites each
# document, dropping every tumbling 8-token segment whose exact text
# occurs in >= 2 distinct documents and reporting the retention.
_SEG_W = 8


def line_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    return dd.segment_dedup_rewrite(docs, w=_SEG_W, min_docs=2)


LINE_DEDUP_REWRITE_SQL = f"""
WITH {_TOK_CTE},
segs AS (
  SELECT doc_id, u.s AS seg,
         array_to_string(t[u.s*{_SEG_W} + 1 : u.s*{_SEG_W} + {_SEG_W}], ' ') AS seg_text
  FROM tok, unnest(range(CAST(ceil(len(t) / {_SEG_W}.0) AS BIGINT))) AS u(s)
),
dfreq AS (
  SELECT seg_text, count(DISTINCT doc_id) AS n_docs FROM segs GROUP BY 1
),
verdicts AS (
  SELECT s.doc_id, s.seg, s.seg_text, d.n_docs >= 2 AS dup
  FROM segs s JOIN dfreq d USING (seg_text)
)
SELECT doc_id,
       count(*) AS n_segments,
       CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       round((count(*) - sum(CASE WHEN dup THEN 1 ELSE 0 END))::DOUBLE
             / count(*), 6) AS kept_frac,
       coalesce(string_agg(CASE WHEN NOT dup THEN seg_text END, ' '
                           ORDER BY seg), '') AS text_kept
FROM verdicts GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# zipf_fit_report — corpus-health diagnostic (new round 12): per-source
# least-squares fit of ln(freq) ~ ln(rank) over the term-frequency
# table (Zipf's law; natural text slopes near -1, synthetic/templated
# text flattens, boilerplate-heavy crawls steepen the head — the
# at-a-glance screen a corpus card quotes next to the tercile table).
# Shape: one (source, word) hash-agg, one rank window PER SOURCE
# partition (vocabulary-sized input, Zipf-bounded), one regr_* rollup.
def zipf_fit_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    freqs = (
        _tok_view(spark, sf_dir)
        .select("source", F.explode("t").alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("freq"), F.asc("word"))
    ranked = freqs.withColumn("rank", F.row_number().over(w))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("freq").alias("n_tokens"),
            F.round(F.regr_slope(y, x), 6).alias("zipf_slope"),
            F.round(F.regr_intercept(y, x), 6).alias("zipf_intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
        )
    )


ZIPF_FIT_REPORT_SQL = f"""
WITH {_TOK_CTE},
freqs AS (
  SELECT d.source, u.word, count(*) AS freq
  FROM documents d JOIN tok USING (doc_id), unnest(tok.t) AS u(word)
  GROUP BY 1, 2
),
ranked AS (
  SELECT source, freq,
         row_number() OVER (PARTITION BY source
                            ORDER BY freq DESC, word ASC) AS rank
  FROM freqs
)
SELECT source,
       count(*) AS n_types,
       CAST(sum(freq) AS BIGINT) AS n_tokens,
       round(regr_slope(ln(freq::DOUBLE), ln(rank::DOUBLE)), 6) AS zipf_slope,
       round(regr_intercept(ln(freq::DOUBLE), ln(rank::DOUBLE)), 6) AS zipf_intercept,
       round(regr_r2(ln(freq::DOUBLE), ln(rank::DOUBLE)), 6) AS r2
FROM ranked GROUP BY source
"""


QUERIES = {
    "substring_dup_spans": substring_dup_spans,
    "line_dedup_rewrite": line_dedup_rewrite,
    "zipf_fit_report": zipf_fit_report,
    "pii_redaction": pii_redaction,
    "contamination_check": contamination_check,
    "ann_quantized": ann_quantized,
    "ann_pq": ann_pq,
    "ivf_pq_topk": ivf_pq_topk,
    "ann_ivf_pq_residual": ann_ivf_pq_residual,
    "training_shuffle_shards": training_shuffle_shards,
    "padding_efficiency_report": padding_efficiency_report,
}

ORACLES = {
    "substring_dup_spans": SUBSTRING_DUP_SPANS_SQL,
    "line_dedup_rewrite": LINE_DEDUP_REWRITE_SQL,
    "zipf_fit_report": ZIPF_FIT_REPORT_SQL,
    "pii_redaction": PII_REDACTION_SQL,
    "contamination_check": CONTAMINATION_CHECK_SQL,
    "ann_quantized": ANN_QUANTIZED_SQL,
    "ann_pq": ANN_PQ_SQL,
    "ivf_pq_topk": IVF_PQ_TOPK_SQL,
    "ann_ivf_pq_residual": ANN_IVF_PQ_RESIDUAL_SQL,
    "training_shuffle_shards": TRAINING_SHUFFLE_SHARDS_SQL,
    "padding_efficiency_report": PADDING_EFFICIENCY_REPORT_SQL,
}
