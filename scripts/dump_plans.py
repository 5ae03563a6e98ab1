#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship queries
with the scale commentary inline, so the plan-shape claims in README/
ARCHITECTURE are inspectable without running Spark.

Usage: python scripts/dump_plans.py [sf_dir]   (default sf0.01)

Tree mode, for checking that a refactor leaves plans unchanged:

    python scripts/dump_plans.py SF_DIR --trees QUERY [QUERY ...]

prints, for each query, the physical operator tree (node names and tree
shape only; expressions, attribute ids and node ids are dropped) of every
frame passed to ``session.materialize`` while the query builds, then of
the final plan.  Run it on two checkouts and ``diff`` the outputs.
Naming no query is an error (exit 2), not an empty, vacuously equal dump.

Both modes run on a fixed ``local[4]`` session with 4 shuffle partitions,
so the dumped plans do not depend on the host's core count.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Fixed so `hashpartitioning(..., N)` in the dumps does not follow the host.
PLAN_CORES = 4

SHOWCASE = [
    (
        "pricing_summary",
        "Scan-side pushdown: the shipdate filter and the narrow ReadSchema"
        " reach the parquet scan; one partial-agg shuffle.",
    ),
    (
        "nation_revenue",
        "Star join: every dimension broadcasts (no SortMergeJoin); the"
        " fact table shuffles once for the aggregation.",
    ),
    (
        "match_fuzzy_blocked",
        "Blocked similarity join: token-sort normalization projected BELOW"
        " the join (per input row, not per pair), bounded levenshtein as"
        " the join-side filter, one window for the per-left top-1. No"
        " Python anywhere.",
    ),
    (
        "dedup_minhash_lsh",
        "Signature pipeline: one exchange feeds shingling; signatures are"
        " a codegen hash-agg (16 longs/doc cross the shuffle, not"
        " shingles); band self-join on (band, bucket).",
    ),
    (
        "dedup_winnow",
        "Winnowing (MOSS): codegen-unrolled k-gram hashes, one per-doc"
        " window for the selection, collect_set reusing the window's"
        " id-partitioning, hot-fingerprint df cap (the one superlinear"
        " term), persisted inverted index joined as both sides — four"
        " exchanges end to end.",
    ),
    (
        "dedup_incremental_minhash",
        "Delta-vs-index pairing: index x index pairs never form — the"
        " delta side is the only right input to the band join.",
    ),
    (
        "asof_purchase_attribution",
        "As-of join as union + carry-forward window: join-free, a single"
        " shuffle on the entity key.",
    ),
    (
        "seq_packing_plan",
        "Packing plan: ONE hash exchange (by shard) for the cumulative"
        " window — never a global single-partition sort.",
    ),
    (
        "semantic_dedup",
        "SemDeDup shape: centroid assignment is a broadcast nested loop"
        " over n_cells rows (map-only); the pair join is an equi-join on"
        " the cell id.",
    ),
    (
        "curate_corpus",
        "End-to-end curation: four independent signal branches (quality,"
        " repetition, exact fp, near-dup) meeting in doc_id equi-joins;"
        " each branch keeps its standalone plan shape.",
    ),
    (
        "quality_repetition",
        "Repetition signals: grams assembled map-side from the in-row"
        " token array (no window, no sort); all three granularities ride"
        " ONE (id, kind, gram) hash-agg + one conditional per-id rollup"
        " — two exchanges end-to-end.",
    ),
    (
        "bm25_search",
        "BM25: occurrences filtered to the broadcast query-term set"
        " BEFORE any shuffle; df/idf tables broadcast; N and avgdl are"
        " broadcast 1-row aggregates; final top-k rank over the matched"
        " set only.",
    ),
    (
        "funnel_conversion",
        "Funnel: per-step type-filtered scans (parquet pushdown) chained"
        " through per-user min aggregations; the report is a cross of"
        " broadcast 1-row aggregates.",
    ),
    (
        "waiting_suppliers",
        "Q21 shape decorrelated: per-(order,supplier) lateness and the"
        " per-order rollup are two hash-aggs — the EXISTS / NOT-EXISTS"
        " fact self-joins never form.",
    ),
    (
        "pagerank_neardup",
        "Iterative PageRank: edges/degrees persist (pre-partitioned on"
        " the join key); each power iteration is one edge-rank join plus"
        " a contribution hash-agg.",
    ),
    (
        "dedup_keep_best",
        "Canonical-survivor selection: CC labels join the quality column"
        " once, then a single row_number window PARTITIONED BY cluster_id"
        " — bounded by the largest cluster, never a global sort.",
    ),
    (
        "ann_ivf_incremental",
        "IVF delta upsert: both assignment subtrees are map-only"
        " broadcast cross-scores against the frozen 8-row centroid set;"
        " the union IS the index — no previously assigned vector is"
        " rescanned, and search joins probes to cells.",
    ),
    (
        "leakage_safe_split",
        "Cluster-grain split: the fold-hash bucket and split verdict are"
        " a pure projection over labels left-joined to the corpus — the"
        " split adds ZERO exchanges beyond the audited pair+CC subplans.",
    ),
    (
        "value_quantile_sketch",
        "Quantile sketch vs exact: the exact side's cum window runs over"
        " DISTINCT values only (value-domain-bounded), the sketch side"
        " over 256 constant bins; the 5-row target table broadcasts into"
        " both range joins.",
    ),
    (
        "bloom_filtered_lineitems",
        "Explicit runtime filter: the one-row bit-vector map reaches the"
        " fact scan as a BroadcastNestedLoopJoin (map-side conjunction of"
        " three O(1) bit tests), so only candidates enter the exact"
        " left-semi verify shuffle.",
    ),
    (
        "kmv_distinct_users",
        "Deterministic bottom-k sketch: the per-(group,salt) row_number"
        " carries the partial WindowGroupLimit, so each input partition"
        " pre-filters to k rows before the exchange; the merge is one"
        " bounded array agg.",
    ),
    (
        "salted_user_event_stats",
        "Skew-salted join: the join keys include _salt, no broadcast —"
        " each hot user spreads over 8 reducers; results identical to the"
        " plain join (its oracle).",
    ),
    (
        "copurchase_triangles",
        "Degree-ordered triangle counting: orientation filter before the"
        " wedge self-join (hubs emit no wedges), closing LEFT SEMI, then"
        " per-corner explode + hash-agg.",
    ),
    (
        "small_quantity_revenue",
        "Q17 decorrelation: the correlated scalar avg is a per-part"
        " hash-agg joined back on the part key; brand dim broadcast; no"
        " nested-loop anywhere.",
    ),
    (
        "hybrid_search_rrf",
        "RRF fusion: both retrieval branches end in <=20-row lists before"
        " the full-outer fusion join — the heavy plans are the branches,"
        " fusion is free.",
    ),
    (
        "events_rollup_incremental",
        "Continuous-aggregate refresh: base and delta rollups meet in ONE"
        " full-outer join on the rollup keys; DECIMAL sums make the merge"
        " bit-equal to a from-scratch recompute (its oracle).",
    ),
    (
        "customer_hierarchy_rollup",
        "Spark 4 WITH RECURSIVE (UNION ALL loop): per-level self-union"
        " bounded by key width; pure spark.sql surface.",
    ),
    (
        "customer_rfm",
        "Round-6 distributed ntile (operators/ranks): each quartile"
        " score is a RangePartitioning exchange + per-spark_partition_id"
        " window + broadcast P-row offsets — no unpartitioned Window"
        " ever sees the customer grain.",
    ),
    (
        "doc_length_deciles",
        "Round-6 histogram deciles: the corpus reduces to the"
        " distinct-length histogram (HashAggregate) before the only"
        " serial step (a cumulative window over distinct lengths); the"
        " 10 boundary rows broadcast-range-join back.  No ntile, no"
        " corpus-wide sort.",
    ),
    (
        "cms_error_contract",
        "CMS accuracy contract: one (d,bucket) hash-agg builds the"
        " kilobyte sketch, the exact-count agg joins against its"
        " broadcast, and the eps/delta bound lands as booleans in a"
        " 1-row rollup.",
    ),
    (
        "boilerplate_screen",
        "Round-8 cross-document boilerplate screen: the gram stream is"
        " aggregated ONCE (persisted InMemoryRelation read by both"
        " rollup sides); the boilerplate set broadcasts — at most"
        " grams-per-doc x 10/decifrac grams per source can clear the"
        " doc-frequency threshold, a bound independent of corpus size"
        " — so the per-doc rollup is a broadcast left-join, no window,"
        " no sort-merge join anywhere.",
    ),
    (
        "quality_classifier_score",
        "Round-10 model-based quality scorer: the trained Naive-Bayes"
        " table (feature log-odds + class prior, <= 257 rows) reaches"
        " the scoring rollup through BroadcastHashJoins only — the"
        " corpus pays exactly two exchanges (bigram-bucket tf agg,"
        " per-doc rollup); the prior is a 1-row broadcast crossJoin;"
        " no SortMergeJoin, no Python, anywhere.",
    ),
    (
        "dsir_resample",
        "Round-10 Gumbel-top-k DSIR selection: the seeded perturbation"
        " is a pure projection over the importance sub-plan; the global"
        " top-k rides the distributed exact rank — RANGE repartition +"
        " per-partition row_number + broadcast offsets — never a"
        " partitionless window over data rows (the round-5"
        " single-reducer class, plan-pinned).",
    ),
    (
        "trigram_lm_score",
        "Round-11 Stupid-Backoff LM scorer: the frozen one-table model"
        " reaches the per-doc rollup through five BroadcastHashJoins"
        " (order-3 / order-2 x2 / order-1 x2) + a 1-row totals"
        " crossJoin; the corpus pays exactly two exchanges (doc-trigram"
        " tf agg, per-doc rollup); no SortMergeJoin, no Python.",
    ),
    (
        "ann_pq",
        "Round-11 product-quantization ANN: the m x ks codebook folds to"
        " ONE broadcast array row; encoding (per-subspace argmin) and"
        " reconstruction are in-expression transforms inside the scan"
        " projection — map-only; queries broadcast into the scoring"
        " join; the only window partitions on query_id.",
    ),
    (
        "build_training_corpus",
        "Round-11 corpus-build flagship: the seven audited screens meet"
        " in doc_id equi-joins over one persisted verdict frame; both"
        " global ranks (DSIR selection, shuffle-shards) ride the"
        " distributed exact rank; the survivor set is localCheckpointed"
        " so the mixing broadcast, copy join and expansion join share"
        " one materialization instead of re-embedding the whole lineage.",
    ),
]

# One physical-plan tree line: the drawing prefix (which carries the
# shape), an optional whole-stage-codegen marker, then the node name
# ("Scan" keeps its source kind: parquet, ExistingRDD, ...).
_TREE_LINE = re.compile(r"^(?P<pre>[ :|+\-]*)(?:\*\(\d+\) )?(?P<name>Scan \w+|[A-Za-z]\w*)")


def operator_tree(df) -> str:
    """Node names of ``df``'s physical plan, one per line, indented as in
    ``treeString`` — everything that identifies a node instance (ids,
    expressions, statistics) is stripped, so two builds of the same plan
    print the same text."""
    plan = df._jdf.queryExecution().executedPlan().treeString()
    lines = (_TREE_LINE.match(line) for line in plan.splitlines())
    return "\n".join(m["pre"] + m["name"] for m in lines if m)


def dump_trees(sf_dir: str, names: list[str]) -> None:
    """Print the build-phase and final operator trees of ``names``."""
    # Wrap materialize before any package module binds it by import.
    import firmable_company_data_pipeline_spark.session as session

    captured: list[tuple[str, str]] = []
    plain = session.materialize

    def recording(df, why, **kw):
        captured.append((why, operator_tree(df)))
        return plain(df, why, **kw)

    session.materialize = recording

    import __spark_entry__ as entrymod
    from firmable_company_data_pipeline_spark import get_spark

    spark = get_spark(
        "plan-trees", master=f"local[{PLAN_CORES}]", shuffle_partitions=PLAN_CORES
    )
    qs = entrymod.queries()
    for name in names:
        spark.catalog.clearCache()
        captured.clear()
        with session.materialized():
            final = operator_tree(qs[name](spark, sf_dir))
        print(f"## {name}")
        for i, (why, tree) in enumerate(captured, 1):
            print(f"-- materialize {i} ({why})\n{tree}")
        print(f"-- final\n{final}\n")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if "--trees" in sys.argv:
        names = sys.argv[sys.argv.index("--trees") + 1 :]
        if not names:
            print(__doc__, file=sys.stderr)
            sys.exit(2)
        dump_trees(sf_dir, names)
        return

    import __spark_entry__ as entrymod
    from firmable_company_data_pipeline_spark import get_spark

    spark = get_spark(
        "plan-dump", master=f"local[{PLAN_CORES}]", shuffle_partitions=PLAN_CORES
    )
    qs = entrymod.queries()

    out = [
        "# PLANS — formatted physical plans of the flagship queries",
        "",
        "Generated by `scripts/dump_plans.py` (re-run after plan-affecting",
        f"changes). Source data: `{sf_dir}`. AQE is enabled, so",
        "`AdaptiveSparkPlan (isFinalPlan=false)` shows the initial plan;",
        "runtime re-planning can only improve it (broadcast conversion,",
        "partition coalescing, skew splits).",
        "",
    ]
    for name, why in SHOWCASE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", why, "", "```", buf.getvalue().rstrip(), "```", ""]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print(f"wrote {path} ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
