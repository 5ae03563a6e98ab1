"""The end-to-end corpus-build flagship (verdict r10 #2): ONE pipeline
chaining the audited curation stages into the artifact a training-data
team actually ships —

    quality/lang filter → repetition filter → exact-dup canon →
    keep-best near-dup survivorship → eval-split holdout →
    decontamination screen → DSIR Gumbel-top-k selection →
    mixing-plan materialization → shuffle-shards

with two registered views over the same per-document verdict frame:

* ``build_training_corpus`` — the final SHARD MANIFEST (shard, n_docs,
  n_tokens, n_sources) after mixing-epoch expansion and the
  deterministic shuffle — the file-level plan a dataloader consumes.
* ``corpus_attrition_card`` — per (stage, source): docs in / dropped /
  out and tokens out — the attrition table a dataset card quotes.

Stage semantics (each stage filters the previous stage's survivors;
every screen is the registry's audited operator, composed):

1. ``quality``         — ``quality >= 0.5 AND lang_pred = 'en'``
                         (``curate_corpus``'s q_keep).
2. ``repetition``      — Gopher repetition verdict
                         (``quality_repetition``).
3. ``exact_dup``       — fingerprint canon (min doc_id; identical text
                         ⇒ identical stage-1/2 verdicts, so corpus-wide
                         canon equals survivor-restricted canon).
4. ``near_dup``        — jaccard-CC clusters (``dedup_clusters``'s
                         labeler) with the keep-best survivor policy
                         re-ranked among stage-3 SURVIVORS (cluster
                         membership is a text property; the keeper is
                         the best REMAINING member — n_chars DESC, ties
                         to lowest doc_id, the shared policy).
5. ``eval_split``      — drop the eval holdout (doc_id % 10 == 0):
                         benchmarks are not training data.
6. ``decontamination`` — drop train docs the winnow contamination
                         screen flags against that holdout.
7. ``dsir_select``     — target-source survivors pass; pool survivors
                         keep the Gumbel-top-``_DSIR_BUDGET`` of the
                         corpus-trained importance weights (pool docs
                         with no score — under two tokens — drop here).

Scale shape: the union of the already-pinned sub-plans (text features,
one repetition pass, CC label propagation, the winnow screen, the DSIR
two-exchange scorer) plus one bounded per-cluster window, one
distributed exact rank for selection, one for the shuffle — no new
shuffle class beyond the audited components.  Self-containment note
(the registry convention, as with ``leakage_safe_split``): both
REGISTERED queries recompute the verdict frame rather than reading a
persisted one — that is the oracle contract.  The production arm
(r12, verdict r11 #3) is implemented alongside:
``write_corpus_verdicts`` materializes the frame once (parquet,
``partitionBy(ff)``), and ``build_training_corpus_from_verdicts`` /
``corpus_attrition_card_from_verdicts`` /
``write_training_corpus(verdicts_dir=...)`` are one bounded
aggregation over it — reconciled row-for-row against the
self-contained views in tests/test_corpus_build.py.

Oracle-parity: the SQL mirrors are composed from the SAME shared CTE
constants the standalone oracles use (``llmops``'s cluster walk, winnow
grams and contamination screen; ``curation``'s prefixed DSIR chain;
``retrieval``'s mixing arithmetic) — one definition per mirror, the
advice-r10 dedup rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions import textstats as ts
from firmable_company_data_pipeline_spark.operators import curation as cu
from firmable_company_data_pipeline_spark.operators import dedup as dd
from firmable_company_data_pipeline_spark.operators import retrieval as rt
from firmable_company_data_pipeline_spark.operators.ranks import (
    exact_global_row_number,
)
from firmable_company_data_pipeline_spark.session import (
    fs_write_text,
    load_tables,
    materialize,
    spread,
)

_MOD = ts.HASH_MOD


def _fold(expr: str) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, list_transform(string_split({expr}, ''), "
        f"c -> ascii(c)::BIGINT)), (h, c) -> (h*31 + c) % {_MOD})"
    )


_TARGETS = ("src0", "src1", "src2", "src3")
_DSIR_BUDGET = 150
_N_SHARDS = 8
_SHUFFLE_SEED = "corpus-v1|"

_STAGES = (
    (1, "quality"),
    (2, "repetition"),
    (3, "exact_dup"),
    (4, "near_dup"),
    (5, "eval_split"),
    (6, "decontamination"),
    (7, "dsir_select"),
)


def _corpus_ff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document verdict frame: (doc_id, source, n_tok, ff) with
    ``ff`` = the 1-based FIRST stage the document fails (NULL ⇒ it is
    in the built corpus).  One frame, two registered views."""
    from firmable_company_data_pipeline_spark.queries.llmops import cluster_labels

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    sp = spread(docs)
    stats = ts.text_features(sp).select(
        "doc_id", "n_tokens", "fingerprint", "quality", "lang_pred"
    )
    rep = cu.repetition_stats(docs).select(
        "doc_id", F.col("keep").alias("k2")
    )
    canon = stats.groupBy("fingerprint").agg(F.min("doc_id").alias("canon_id"))
    # checkpointed (r13; was persist): f3 feeds the stage-3 survivor set
    # (near-dup re-rank), the stage-6 survivor set and the final verdict
    # projection — persist dedups EXECUTION but every consumer's plan
    # still embeds (and Catalyst re-analyzes) the full text-features +
    # repetition + canon lineage; the truncated lineage is what cuts the
    # flagship's job count (guide §3.3 / §5 localCheckpoint).  Lazy: the
    # first consumer's job materializes the blocks.
    f3 = (
        sp.select("doc_id", "source", "n_chars")
        .join(stats, "doc_id")
        .join(rep, "doc_id")
        .join(canon, "fingerprint")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("n_tokens").alias("n_tok"),
            ((F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")).alias(
                "k1"
            ),
            "k2",
            (F.col("doc_id") == F.col("canon_id")).alias("k3"),
        )
        .transform(materialize, "iterate")
    )
    surv3 = f3.filter(F.col("k1") & F.col("k2") & F.col("k3"))
    near = (
        cluster_labels(docs)
        .join(surv3.select("doc_id", "n_chars"), "doc_id")
        .withColumn(
            "nrn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.desc("n_chars"), F.asc("doc_id")
                )
            ),
        )
        .select("doc_id", (F.col("nrn") == 1).alias("k4x"))
    )
    flagged = (
        dd.winnow_contamination(
            sp, eval_mod=10, min_shared=2, min_containment=0.2, max_df=100
        )
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
        .withColumn("_contam", F.lit(True))
    )
    # checkpointed (r13; was persist): f6 feeds BOTH the stage-6
    # survivor set (selection top-k) and the final verdict join —
    # without materialization the winnow contamination screen and the
    # near-dup re-rank execute once per consumer (measured: the
    # flagship's first bench run paid the whole screen pipeline several
    # times over), and with persist alone each consumer still re-embeds
    # and re-analyzes the full screen lineage (the _shard_rows lesson,
    # one level down).
    f6 = (
        f3.join(near, "doc_id", "left")
        .join(flagged, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_tok",
            "k1",
            "k2",
            "k3",
            F.coalesce("k4x", F.lit(True)).alias("k4"),
            (F.col("doc_id") % 10 != 0).alias("k5"),
            F.col("_contam").isNotNull().alias("contam"),
        )
        .transform(materialize, "iterate")
    )
    is_target = F.col("source").isin(*_TARGETS)
    gum = cu.dsir_importance(
        docs, F.col("source").isin(*_TARGETS), n_buckets=256, alpha=1.0
    ).select(
        "doc_id",
        F.round(
            F.col("avg_logratio") / 1.0 + cu.gumbel_key(F.col("doc_id"), 7), 6
        ).alias("gumbel_score"),
    )
    surv6 = f6.filter(
        F.col("k1")
        & F.col("k2")
        & F.col("k3")
        & F.col("k4")
        & F.col("k5")
        & ~F.col("contam")
    )
    pool6 = surv6.filter(~is_target).join(gum, "doc_id")
    # Stage 7 only needs top-_DSIR_BUDGET MEMBERSHIP, not the rank
    # value: ``srn <= budget`` under the total order (-gumbel, doc_id)
    # is exactly "row ∈ orderBy(-gumbel, doc_id).limit(budget)" (the
    # order is total — doc_id tie-break — so the set is unique).  A
    # TakeOrdered top-k + broadcast semi replaces the full
    # exact_global_row_number machinery (range-partition sampling job,
    # persisted repartition, offset broadcast) — r13, guide §2.4:
    # remove shuffles outright.  Docs missing from pool6 (no gumbel
    # score) had srn NULL before and are equally absent from the top-k
    # set now — both formulations fail them at stage 7.
    sel = (
        pool6.select("doc_id", (-F.col("gumbel_score")).alias("_neg"))
        .orderBy("_neg", "doc_id")
        .limit(_DSIR_BUDGET)
        .select("doc_id", F.lit(True).alias("_sel"))
    )
    ff = (
        F.when(~F.col("k1"), 1)
        .when(~F.col("k2"), 2)
        .when(~F.col("k3"), 3)
        .when(~F.col("k4"), 4)
        .when(~F.col("k5"), 5)
        .when(F.col("contam"), 6)
        .when(~is_target & F.col("_sel").isNull(), 7)
    )
    return f6.join(F.broadcast(sel), "doc_id", "left").select(
        "doc_id", "source", "n_tok", ff.alias("ff")
    )


def write_corpus_verdicts(spark: SparkSession, sf_dir: str, out_dir: str) -> None:
    """Materialize the 7-stage verdict frame ONCE — the production arm
    the flagship docstring promises (verdict r11 #3): a run writes this
    parquet after curation, and every downstream consumer (manifest,
    attrition card, shard writer, audits) is one aggregation over it
    instead of re-running text features + CC + winnow + DSIR per view.
    Layout: ``partitionBy(ff)`` (≤ 8 directories — the labels-fold
    discipline of partitioning by the pruning key), so the survivor
    read (``ff IS NULL``) partition-prunes to a single directory and a
    per-stage audit reads only its stage."""
    _corpus_ff(spark, sf_dir).write.mode("overwrite").partitionBy("ff").parquet(
        out_dir
    )


def read_corpus_verdicts(spark: SparkSession, verdicts_dir: str) -> DataFrame:
    """The persisted verdict frame, back in :func:`_corpus_ff`'s column
    order (partition discovery appends ``ff`` last and types the null
    partition as the null ff)."""
    return spark.read.parquet(verdicts_dir).select(
        "doc_id", "source", "n_tok", F.col("ff").cast("int").alias("ff")
    )


def _shard_rows(
    spark: SparkSession, sf_dir: str, verdicts: DataFrame | None = None
) -> DataFrame:
    """The shard-assigned corpus rows behind both the manifest and the
    writer: survivors → mixing-epoch copies → seeded deterministic
    shuffle → round-robin shards.  Output: (doc_id, source, n_tok, cp,
    shard, pos_in_shard).  ``verdicts``: pass a persisted
    :func:`write_corpus_verdicts` frame to skip recomputing the verdict
    pipeline (the production arm); default recomputes self-containedly
    (the registry/oracle contract)."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    # localCheckpoint, not persist (the dedup_clusters_incremental
    # lesson, one level up): the survivor set feeds the mixing plan
    # broadcast, the copy join and the expansion join — three consumers
    # that would otherwise each EMBED the entire verdict lineage (text
    # features + CC + winnow screen + DSIR + exact rank) in their own
    # plans; persist alone still re-analyzes that lineage per consumer
    # and races the broadcast thread against the main job on the first
    # materialization (measured: 73 s unshared → 24 s persisted → ~13 s
    # checkpointed, vs the attrition card's 10 s single pass)
    ffd = verdicts if verdicts is not None else _corpus_ff(spark, sf_dir)
    final = (
        ffd.filter(F.col("ff").isNull())
        .select("doc_id", "n_tok")
        .transform(materialize, "iterate", eager=True)
    )
    surv_docs = docs.join(final.select("doc_id"), "doc_id")
    copies = rt.apply_mixing(surv_docs)  # (doc_id, source, n_copies)
    exp = copies.join(final, "doc_id").select(
        "doc_id",
        "source",
        "n_tok",
        F.explode(
            F.when(
                F.col("n_copies") >= 1,
                F.sequence(F.lit(0).cast("long"), F.col("n_copies") - 1),
            ).otherwise(F.array().cast("array<long>"))
        ).alias("cp"),
    )
    keyed = exp.withColumn(
        "shuffle_key",
        ts.char_fold_hash(
            F.concat(
                F.lit(_SHUFFLE_SEED),
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("cp").cast("string"),
            )
        ),
    )
    ranked = exact_global_row_number(
        keyed, ["shuffle_key", "doc_id", "cp"], out="rn"
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_tok",
        "cp",
        ((F.col("rn") - 1) % _N_SHARDS).cast("int").alias("shard"),
        (F.expr(f"(rn - 1) div {_N_SHARDS}") + 1).alias("pos_in_shard"),
    )


def build_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard manifest: one per-shard rollup over :func:`_shard_rows`."""
    return (
        _shard_rows(spark, sf_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


def write_training_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    verdicts_dir: str | None = None,
) -> list[dict]:
    """MATERIALIZE the built corpus: shard-partitioned parquet (each row
    one training example copy — doc_id, cp, source, n_tok,
    pos_in_shard, text) plus a ``_manifest.json`` with the per-shard
    rollup — the artifact a dataloader consumes.  Returns the manifest
    rows (≤ ``_N_SHARDS``, a bounded driver read by construction).

    Shape: the :func:`_shard_rows` plan + one text equi-join + a
    ``partitionBy(shard)`` write with ``sortWithinPartitions(pos)`` so
    each shard file is already in read order; a dataloader streams
    ``shard=K`` sequentially with zero further shuffling.  The manifest
    is small json published through :func:`session.fs_write_text`
    (verdict r11 #4 — the Hadoop-FS port of the ``_latest.json``
    protocol surface): plain paths keep the atomic posix
    tmp+``os.replace``, scheme'd paths (s3a/hdfs/``file:``) go through
    the Hadoop FileSystem API so the manifest lands in the SAME store
    as the shards — the r11 refusal branch replaced by a working
    write."""
    import json as _json

    docs = load_tables(spark, sf_dir, "documents")["documents"]
    rows = _shard_rows(
        spark,
        sf_dir,
        verdicts=(
            read_corpus_verdicts(spark, verdicts_dir) if verdicts_dir else None
        ),
    )
    (
        rows.join(docs.select("doc_id", "text"), "doc_id")
        .repartition("shard")
        .sortWithinPartitions("pos_in_shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    # the manifest is computed from the WRITTEN files, not by re-running
    # the verdict pipeline: one scan of out_dir certifies exactly what a
    # dataloader will read (and costs O(written), not O(pipeline))
    manifest = [
        {
            "shard": r["shard"],
            "n_docs": r["n_docs"],
            "n_tokens": r["n_tokens"],
            "n_sources": r["n_sources"],
        }
        for r in spark.read.parquet(out_dir)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
        .orderBy("shard")
        .collect()
    ]
    fs_write_text(
        spark,
        out_dir.rstrip("/") + "/_manifest.json",
        _json.dumps({"seed": _SHUFFLE_SEED, "shards": manifest}, indent=1),
    )
    return manifest


def _attrition_card_over(spark: SparkSession, ffd: DataFrame) -> DataFrame:
    """The bounded attrition rollup over any verdict frame — shared by
    the self-contained registry view and the persisted production arm."""
    per = ffd.groupBy("source", "ff").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("n_tok").alias("tok")
    )
    stages = spark.createDataFrame(list(_STAGES), "stage_no int, stage string")
    alive_in = F.col("ff").isNull() | (F.col("ff") >= F.col("stage_no"))
    alive_out = F.col("ff").isNull() | (F.col("ff") > F.col("stage_no"))
    return (
        stages.crossJoin(per)
        .groupBy("stage_no", "stage", "source")
        .agg(
            F.sum(F.when(alive_in, F.col("cnt")).otherwise(0)).alias("docs_in"),
            F.sum(
                F.when(F.col("ff") == F.col("stage_no"), F.col("cnt")).otherwise(0)
            ).alias("docs_dropped"),
            F.sum(F.when(alive_out, F.col("cnt")).otherwise(0)).alias("docs_out"),
            F.sum(F.when(alive_out, F.col("tok")).otherwise(0)).alias(
                "tokens_out"
            ),
        )
    )


def corpus_attrition_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (stage, source) attrition: docs in / dropped / out and the
    tokens surviving the stage — derived from the (source, first-fail)
    contingency table (≤ sources × 8 rows) crossed with the 7-row stage
    dimension, so everything after the verdict frame is bounded.
    Self-contained (recomputes the verdict frame — the oracle
    contract); production runs use :func:`corpus_attrition_card_from_verdicts`."""
    return _attrition_card_over(spark, _corpus_ff(spark, sf_dir))


def build_training_corpus_from_verdicts(
    spark: SparkSession, sf_dir: str, verdicts_dir: str
) -> DataFrame:
    """The shard manifest over a PERSISTED verdict frame (verdict r11
    #3): the survivor read partition-prunes to the ``ff IS NULL``
    directory, so the view costs one mixing rollup + the shuffle rank —
    never the 7-stage pipeline.  Value-identical to
    :func:`build_training_corpus` by construction (reconciled in
    tests/test_corpus_build.py)."""
    return (
        _shard_rows(
            spark, sf_dir, verdicts=read_corpus_verdicts(spark, verdicts_dir)
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.count_distinct("source").alias("n_sources"),
        )
    )


def corpus_attrition_card_from_verdicts(
    spark: SparkSession, sf_dir: str, verdicts_dir: str
) -> DataFrame:
    """The attrition card over a PERSISTED verdict frame — one bounded
    rollup over the ≤8-partition parquet."""
    return _attrition_card_over(spark, read_corpus_verdicts(spark, verdicts_dir))


def _ff_ctes() -> str:
    """The shared oracle prefix computing bc_ff — composed from the
    standalone mirrors' own CTE constants (one definition each)."""
    from firmable_company_data_pipeline_spark.queries.curation import (
        QUALITY_REPETITION_SQL,
        _dsir_gumbel_per,
        _dsir_sel_ctes,
    )
    from firmable_company_data_pipeline_spark.queries.llmops import (
        TEXT_STATS_SQL,
        _CLUSTERS_CTES,
        _CONTAM_BASE_CTES,
        _CONTAM_FLAGGED_CTE,
        _SH_CTE,
        _TOK_CTE,
        _WINNOW_GRAMS_CTES,
    )

    targets = ", ".join(f"'{t}'" for t in _TARGETS)
    return f"""stats AS (SELECT * FROM ({TEXT_STATS_SQL}) s),
rep AS (SELECT doc_id, keep AS rep_keep FROM ({QUALITY_REPETITION_SQL}) r),
{_TOK_CTE},
{_SH_CTE},
{_CLUSTERS_CTES},
labels AS (SELECT src AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY src),
{_WINNOW_GRAMS_CTES},
{_CONTAM_BASE_CTES},
{_CONTAM_FLAGGED_CTE},
{_dsir_sel_ctes(prefix="d")},
{_dsir_gumbel_per(prefix="d")},
bc_canon AS (SELECT fingerprint, min(doc_id) AS canon_id FROM stats GROUP BY 1),
bc_f3 AS (
  SELECT s.doc_id, d.source, d.n_chars, s.n_tokens AS n_tok,
         (s.quality >= 0.5 AND s.lang_pred = 'en') AS k1,
         r.rep_keep AS k2,
         (s.doc_id = c.canon_id) AS k3
  FROM stats s
  JOIN documents d ON d.doc_id = s.doc_id
  JOIN rep r ON r.doc_id = s.doc_id
  JOIN bc_canon c ON c.fingerprint = s.fingerprint
),
bc_near AS (
  SELECT f.doc_id,
         row_number() OVER (PARTITION BY l.cluster_id
                            ORDER BY f.n_chars DESC, f.doc_id ASC) AS nrn
  FROM bc_f3 f JOIN labels l ON l.doc_id = f.doc_id
  WHERE f.k1 AND f.k2 AND f.k3
),
bc_f6 AS (
  SELECT f.doc_id, f.source, f.n_tok, f.k1, f.k2, f.k3,
         coalesce(n.nrn = 1, TRUE) AS k4,
         (f.doc_id % 10 != 0) AS k5,
         (fl.doc_id IS NOT NULL) AS contam
  FROM bc_f3 f
  LEFT JOIN bc_near n ON n.doc_id = f.doc_id
  LEFT JOIN flagged fl ON fl.doc_id = f.doc_id
),
bc_pool AS (
  SELECT f.doc_id,
         row_number() OVER (ORDER BY p.gumbel_score DESC, f.doc_id ASC) AS srn
  FROM bc_f6 f JOIN dper p ON p.doc_id = f.doc_id
  WHERE f.k1 AND f.k2 AND f.k3 AND f.k4 AND f.k5 AND NOT f.contam
),
bc_ff AS (
  SELECT f.doc_id, f.source, f.n_tok,
         CASE WHEN NOT k1 THEN 1
              WHEN NOT k2 THEN 2
              WHEN NOT k3 THEN 3
              WHEN NOT k4 THEN 4
              WHEN NOT k5 THEN 5
              WHEN contam THEN 6
              WHEN f.source NOT IN ({targets})
                   AND (p.srn IS NULL OR p.srn > {_DSIR_BUDGET}) THEN 7
         END AS ff
  FROM bc_f6 f LEFT JOIN bc_pool p ON p.doc_id = f.doc_id
)"""


def _manifest_sql() -> str:
    key = _fold(
        f"'{_SHUFFLE_SEED}' || doc_id::VARCHAR || '|' || cp::VARCHAR"
    )
    mix_bucket = _fold("concat_ws('|', f.source, f.doc_id::VARCHAR)")
    return f"""WITH RECURSIVE {_ff_ctes()},
bc_final AS (SELECT doc_id, source, n_tok FROM bc_ff WHERE ff IS NULL),
bc_plan AS (
  SELECT source, sum(n_tok)::BIGINT AS n_tokens_src,
         pow(sum(n_tok)::DOUBLE, {rt.MIX_ALPHA}) AS raw_w
  FROM bc_final GROUP BY 1
),
bc_tot AS (SELECT sum(raw_w) AS tot_w FROM bc_plan),
bc_epochs AS (
  SELECT source,
         round(CAST(round(round(raw_w / tot_w, 6) * {rt.MIX_BUDGET_TOKENS}, 0)
                    AS BIGINT) / n_tokens_src::DOUBLE, 4) AS epochs
  FROM bc_plan CROSS JOIN bc_tot
),
bc_copies AS (
  SELECT f.doc_id, f.source, f.n_tok,
         (CAST(floor(e.epochs) AS BIGINT)
          + CASE WHEN {mix_bucket} % 100
                      < CAST(floor((e.epochs - floor(e.epochs)) * 100) AS BIGINT)
                 THEN 1 ELSE 0 END) AS n_copies
  FROM bc_final f JOIN bc_epochs e USING (source)
),
bc_exp AS (
  SELECT doc_id, source, n_tok, u.c AS cp
  FROM bc_copies, unnest(range(n_copies)) AS u(c)
),
bc_ranked AS (
  SELECT source, n_tok,
         row_number() OVER (ORDER BY {key}, doc_id, cp) AS rn
  FROM bc_exp
)
SELECT CAST((rn - 1) % {_N_SHARDS} AS INT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       count(DISTINCT source) AS n_sources
FROM bc_ranked
GROUP BY 1"""


def _attrition_sql() -> str:
    stage_values = ", ".join(f"({n}, '{s}')" for n, s in _STAGES)
    return f"""WITH RECURSIVE {_ff_ctes()},
bc_src_ff AS (
  SELECT source, ff, count(*) AS cnt, sum(n_tok) AS tok
  FROM bc_ff GROUP BY 1, 2
),
bc_stages AS (
  SELECT * FROM (VALUES {stage_values}) AS t(stage_no, stage)
)
SELECT s.stage_no, s.stage, f.source,
       CAST(sum(CASE WHEN f.ff IS NULL OR f.ff >= s.stage_no
                     THEN cnt ELSE 0 END) AS BIGINT) AS docs_in,
       CAST(sum(CASE WHEN f.ff = s.stage_no THEN cnt ELSE 0 END) AS BIGINT)
         AS docs_dropped,
       CAST(sum(CASE WHEN f.ff IS NULL OR f.ff > s.stage_no
                     THEN cnt ELSE 0 END) AS BIGINT) AS docs_out,
       CAST(sum(CASE WHEN f.ff IS NULL OR f.ff > s.stage_no
                     THEN tok ELSE 0 END) AS BIGINT) AS tokens_out
FROM bc_stages s CROSS JOIN bc_src_ff f
GROUP BY 1, 2, 3"""


BUILD_TRAINING_CORPUS_SQL = _manifest_sql()
CORPUS_ATTRITION_CARD_SQL = _attrition_sql()

QUERIES = {
    "build_training_corpus": build_training_corpus,
    "corpus_attrition_card": corpus_attrition_card,
}

ORACLES = {
    "build_training_corpus": BUILD_TRAINING_CORPUS_SQL,
    "corpus_attrition_card": CORPUS_ATTRITION_CARD_SQL,
}
