"""Physical-plan regression tests: the scale properties README.md claims
(pushdown, pruned scans, broadcast dims, no Python in hot paths) are
asserted here so a refactor can't silently lose them.
"""

from __future__ import annotations

import contextlib
import io

import pytest


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import __spark_entry__ as e

    # Earlier test modules persist operator intermediates (signature
    # tables, shingle indexes) over the same sf_dir; a live cache makes
    # these plans show InMemoryTableScan (with its own exchange) where
    # the natural plan has none, breaking exchange-count pins.
    spark.catalog.clearCache()

    qs = e.queries()

    def plan_of(name: str) -> str:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    return plan_of


@pytest.fixture()
def flat_plans(spark, sf_dir):
    """Like ``plans``, but with ``localCheckpoint`` made transparent
    (identity) while the plan is built: since r13 several operators cut
    lineage with lazy localCheckpoints, which replace their sub-plan
    with a LogicalRDD leaf in explain output.  A checkpoint only
    truncates lineage — it never changes the computed plan — so pins on
    the plan shape the checkpoints MATERIALIZE (range partitioning,
    bounded windows, broadcast structure) assert through this fixture.
    Patches the concrete class of live DataFrames (pyspark.sql.classic),
    not the pyspark.sql.DataFrame base, whose method the subclass
    overrides."""
    import __spark_entry__ as e

    spark.catalog.clearCache()
    qs = e.queries()
    cls = type(spark.range(1))
    orig = cls.localCheckpoint

    def plan_of(name: str) -> str:
        cls.localCheckpoint = lambda self, eager=True: self
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            return buf.getvalue()
        finally:
            cls.localCheckpoint = orig

    return plan_of


def test_pricing_summary_pushes_filter_and_prunes(plans):
    p = plans("pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # pruned scan: comment column never read
    assert "l_comment" not in p


def test_point_lookup_pushes_key(plans):
    p = plans("order_lookup")
    assert "EqualTo(o_orderkey,1)" in p
    assert "BroadcastHashJoin" in p


def test_star_join_broadcasts_dims(plans):
    p = plans("nation_revenue")
    # all three dimension joins broadcast; no sort-merge join on the fact
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_fuzzy_match_has_no_python_stage(plans):
    p = plans("match_fuzzy_blocked")
    # whole cascade stays JVM-side: no Arrow/Python eval nodes
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "FlatMapGroupsInPandas" not in p


def test_minhash_no_cartesian_and_no_python(plans):
    p = plans("dedup_minhash_lsh")
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_semi_and_anti_joins_planned(plans):
    assert "LeftSemi" in plans("order_priority_semi")
    assert "LeftAnti" in plans("customers_without_orders")


def test_dq_report_row_local_rules_single_scan(plans):
    """All row-local dq rules (not_null + accepted_values + expression)
    fold into one scan each family; no rule family shuffles on data
    (only the 1-row final agg and the per-unique-rule groupBys)."""
    p = plans("dq_summary")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # orders is a narrow table; the profile never reads o_orderpriority
    # wholesale into a join — no join nodes at all in the dq plan
    assert "Join" not in p


def test_merge_upsert_is_single_join(plans):
    """SCD1 merge plans exactly one (full-outer) join between the
    current snapshot and the updates delta — no repeated scans joined
    multiple times, no Python stages."""
    p = plans("dim_merge_upsert")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert p.count("SortMergeJoin FullOuter") + p.count("ShuffledHashJoin FullOuter") == 1


def test_column_profile_single_aggregate_pass(plans):
    """The profile is one aggregate over one scan (Expand handles the
    multiple count-distincts) — not one scan per column."""
    p = plans("column_profile_orders")
    # one file-scan node: formatted plans print each scan once in the
    # tree and once in the details, so count the detail headers
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in p


def test_ivf_has_no_global_window(plans):
    """Centroid numbering must not use a partitionless window (single-
    partition WindowExec); the cell key is the centroid id."""
    p = plans("ann_ivf")
    # Window nodes must all be partitioned — formatted plans print
    # unpartitioned windows with an empty partition spec list.
    import re

    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", p):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")


def test_asof_join_is_join_free_single_shuffle(plans):
    """The as-of join plans as union + window: NO join node of any kind
    and exactly one hash exchange (on user_id) — the formulation that
    survives heavy users at 100 TB (a range-join + argmax would be
    quadratic inside hot keys)."""
    import re

    p = plans("asof_purchase_attribution")
    assert "Join" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # forward arm (round 12): the second carry rides the SAME window
    # sort — still no join in the carry, and the only extra exchange is
    # the purchases pre-aggregation (one row per (user, ts)); the final
    # windows themselves add none.
    f = plans("asof_next_purchase")
    assert len(re.findall(r"\(\d+\) Exchange", f)) <= 2
    assert "ArrowEvalPython" not in f and "BatchEvalPython" not in f


def test_pivot_has_no_distinct_values_pass(plans):
    """Pivot with an explicit value list: only aggregate exchanges, no
    extra distinct job over the fact table, all JVM-side."""
    import re

    p = plans("priority_year_pivot")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 2
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_quantiles_reuse_window_partitioning(plans):
    """Exact grouped quantiles: the groupBy after the rank window reuses
    the window's hashpartitioning — one exchange total; dims broadcast."""
    import re

    p = plans("nation_order_quantiles")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 1
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_hourly_daily_rollup_two_exchanges(plans):
    """Hierarchical rollup: hourly agg + daily re-agg — two exchanges,
    never a third pass over raw events."""
    import re

    p = plans("events_hourly_daily_rollup")
    assert len(re.findall(r"\(\d+\) Exchange", p)) == 2


def test_doc_top_terms_stays_jvm_side(plans):
    """TF-IDF: tokenize/score/rank entirely in codegen — no Python, no
    cartesian; the corpus-size scalar rides a broadcast, not a collect."""
    p = plans("doc_top_terms")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_band_stats_has_no_join(plans):
    """Computed-key range binning: the range 'join' is a projection —
    no join node of any kind in the plan."""
    p = plans("order_price_band_stats")
    assert "Join" not in p


def test_skew_report_uses_topk_not_full_sort(plans):
    """Heavy-hitter report: global top-k plans as TakeOrderedAndProject,
    never a full Sort+Exchange of all distinct keys."""
    p = plans("skew_report_events")
    assert "TakeOrderedAndProject" in p


def test_trade_volume_broadcasts_all_dims(plans):
    """Q7 shape: two nation chains off one fact row — every dim join is
    a broadcast; the only data-sized shuffle is lineitem⋈orders."""
    p = plans("nation_trade_volume")
    assert p.count("BroadcastHashJoin") >= 4


def test_top_supplier_max_is_broadcast_not_global_window(plans):
    """Q15 HAVING-max decorrelated as broadcast 1-row max join — no
    single-partition window over the aggregated output."""
    import re

    p = plans("top_supplier_revenue")
    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", p):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_shingle_pipeline_exchange_budget(plans):
    """The r2 one-shuffle shingle refactor: each dedup family keeps its
    exchange budget (spread + window sort + pairing joins; collect_set
    reuses the window's id-partitioning, the old distinct()/count-window
    exchanges are gone). A regression that reintroduces them shows up as
    a higher count."""
    import re

    def n_exchanges(name):
        return len(re.findall(r"\(\d+\) Exchange", plans(name)))

    assert n_exchanges("dedup_ngram_jaccard") <= 3
    assert n_exchanges("dedup_minhash_lsh") <= 3
    assert n_exchanges("dedup_simhash") <= 4
    assert n_exchanges("substring_dup_spans") <= 3
    # winnowing: spread + per-doc window + fp-df cap window + pair-key
    # agg; the persisted fingerprint index must feed BOTH join sides (a
    # budget blowout here means the scan->window->agg pipeline is
    # running twice again), and the selection window must be
    # per-document, never global.
    p = plans("dedup_winnow")
    assert n_exchanges("dedup_winnow") <= 4
    assert "CartesianProduct" not in p and "Python" not in p
    # pHash: one (band, key) join with first-band-wins — no per-band
    # union and no distinct() exchange; the one exchange is spread()'s
    # fan-out under the shared hash table.
    assert "Union" not in plans("media_phash_dups")
    assert n_exchanges("media_phash_dups") == 1


def test_training_ops_stay_jvm_side(plans):
    for name in ("substring_dup_spans", "contamination_check", "pii_redaction"):
        p = plans(name)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name


def test_contamination_semi_join_shape(plans):
    """Inverted-index semi join: never a pairwise join, bounded exchange
    count (two shingle pipelines + the shingle-key join + final agg)."""
    import re

    p = plans("contamination_check")
    assert "LeftSemi" in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 5


def test_curation_ops_stay_jvm_side(plans):
    for q in (
        "quality_repetition",
        "train_split_stratified",
        "seq_packing_plan",
        "unigram_surprise_score",
        "semantic_dedup",
    ):
        p = plans(q)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, q
        assert "CartesianProduct" not in p, q


def test_stratified_split_zero_exchange(plans):
    # pure projection: hash-assign needs no shuffle at any scale
    assert "Exchange" not in plans("train_split_stratified")


def test_seq_packing_single_partitioned_window(plans):
    p = plans("seq_packing_plan")
    # ONE hash exchange (by shard, for the cumsum window; the extra
    # round-robin is spread()'s local-mode fan-out) — never a global
    # single-partition sort
    assert p.count("hashpartitioning(shard") == 1
    assert "SinglePartition" not in p


def test_dsir_resample_rank_is_distributed(flat_plans):
    """The Gumbel-top-k selection must ride the distributed exact-rank
    path: a RANGE repartition + per-partition windows, never a
    partitionless row_number over the whole pool (the round-5
    single-reducer class).  Asserted through ``flat_plans`` since r13's
    lazy localCheckpoint in the rank machinery hides the sub-plan
    behind a LogicalRDD leaf."""
    import re

    p = flat_plans("dsir_resample")
    assert "rangepartitioning" in p
    # no partitionless row_number over the data — the only global
    # window the rank machinery runs is the cumulative sum over the
    # P-row per-partition counts table (kilobytes at any scale), which
    # is not a row_number and never sees data rows
    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", p):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")


def test_semantic_dedup_joins_on_cell_only(plans):
    p = plans("semantic_dedup")
    # centroid cross-score is a broadcast nested loop against n_cells rows
    # (map-only); the pair join is an equi-join on the cell id
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_repetition_stats_no_expand(plans):
    # the two-phase distinct avoids count(DISTINCT)'s Expand node
    assert "Expand" not in plans("quality_repetition")


def test_shingles_have_no_window_sort(plans):
    """r4 map-side gram assembly: no WindowExec (lead) anywhere in the
    shingle consumers — the sort the rewrite removed must stay gone."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "contamination_check"):
        assert "Window" not in plans(name), name


def test_repetition_two_exchanges(plans):
    """r4 unified gram stream: one (id,kind,gram) hash-agg + one per-id
    rollup; spread()'s local fan-out may add round-robin exchanges but
    no window/join machinery."""
    p = plans("quality_repetition")
    assert "Window" not in p
    assert "Join" not in p


def test_bm25_broadcasts_stats_and_filters_before_shuffle(plans):
    p = plans("bm25_search")
    # df table and N/avgdl scalars broadcast; the posting shuffle carries
    # only matched terms (the array_contains filter sits below the agg)
    assert p.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in p  # 1-row stats cross join
    assert "CartesianProduct" not in p


def test_random_projection_zero_exchange(plans):
    # literal sign matrix, map-only (spread()'s round-robin fan-out is
    # the only permissible exchange kind)
    import re

    p = plans("random_projection")
    assert not [
        m for m in re.findall(r"Exchange (\w+)", p) if m != "RoundRobinPartitioning"
    ]


def test_funnel_pushes_event_type_filters(plans):
    p = plans("funnel_conversion")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # each step's scan carries its own pushed type predicate
    assert p.count("EqualTo(event_type,view)") >= 1
    assert p.count("EqualTo(event_type,click)") >= 1
    assert p.count("EqualTo(event_type,purchase)") >= 1


def test_mixing_apply_broadcasts_plan(plans):
    p = plans("apply_mixing_plan")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_norm_histogram_single_agg(plans):
    import re

    p = plans("embedding_norm_histogram")
    hash_ex = [
        m for m in re.findall(r"Exchange (\w+)", p) if m == "hashpartitioning"
    ]
    assert len(hash_ex) <= 1
    assert "Join" not in p


def test_new_analytics_windows_on_bounded_aggregates(plans):
    """trending/anomalies windows must sit ABOVE the day×type hash-agg
    (bounded frame), never on raw events; rfm windows run on the
    customer-grain aggregate."""
    for name in ("events_trending", "events_daily_anomalies", "customer_rfm"):
        p = plans(name)
        assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p, name
        assert "CartesianProduct" not in p, name
        # the aggregate exchange feeds the window, not vice versa: the
        # formatted plan lists HashAggregate before Window bottom-up
        assert "HashAggregate" in p and "Window" in p, name


def test_funnel_report_single_chained_plan(plans):
    """The explode-over-one-wide-frame rewrite: the chained count plan
    appears ONCE (12 scan references for 3 steps — the triangular
    reached-lineage), not once per output step (the pre-rewrite union
    duplicated the whole wide frame per step: 18+)."""
    p = plans("funnel_conversion")
    assert p.count("Scan parquet") <= 12


def test_q4_overdue_is_semi_join_with_pushed_window(plans):
    p = plans("overdue_orders_by_priority")
    # EXISTS decorrelated to ONE left-semi; the date window reaches the
    # orders parquet scan; no nested loop / cartesian anywhere
    assert "LeftSemi" in p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_q5_local_supplier_broadcasts_dims_single_fact_shuffle(plans):
    p = plans("local_supplier_region_revenue")
    # region→nation→supplier chain broadcast (lineitem prunes map-side);
    # the only sort-merge candidate is the fact-side orderkey join, and
    # at driver SFs AQE broadcasts that too — assert no cartesian and
    # at least 3 broadcast joins
    assert p.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in p
    # region filter pushed to its scan
    assert "EqualTo(r_name,ASIA)" in p


def test_q11_share_screen_reuses_checkpointed_agg(plans):
    p = plans("part_revenue_share_screen")
    # the 1-row threshold rides a broadcast nested-loop over ONE row
    # (the bounded crossJoin class); the per-part agg subtree is
    # localCheckpointed so lineitem is scanned once, not per consumer
    assert "BroadcastNestedLoopJoin" in p
    assert p.count("Scan parquet") <= 1  # checkpoint: at most the lazy first scan


def test_decorrelated_q17_broadcasts_dim_no_nested_loop(plans):
    p = plans("small_quantity_revenue")
    # brand dim broadcast; per-part avg joined as hash-agg, never a
    # per-row subquery (no nested-loop anywhere in the plan)
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_decorrelated_q22_anti_join_and_scalar_broadcast(plans):
    p = plans("global_sales_opportunity")
    # NOT EXISTS → left-anti hash join; the avg-balance scalar rides a
    # broadcast (1-row), not a per-row subquery
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_decorrelated_q20_semi_chain(plans):
    p = plans("excess_suppliers")
    # both EXISTS levels are semi-joins; brand dim broadcast
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_salted_query_shuffles_on_salt(plans):
    p = plans("salted_user_event_stats")
    assert "_salt" in p and "BroadcastHashJoin" not in p


def test_keyset_pagination_pushes_cursor(plans):
    p = plans("orders_page_keyset")
    # the cursor predicate reaches the parquet scan; page via TakeOrdered
    assert "GreaterThan(o_orderkey,30000)" in p
    assert "TakeOrderedAndProject" in p


def test_disjunctive_join_no_nested_loop(plans):
    p = plans("disjunctive_predicate_revenue")
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_gapfill_spine_is_broadcast(plans):
    p = plans("events_daily_gapfill")
    # the bounds/spine side broadcasts; no cartesian on the fact table
    assert "CartesianProduct" not in p


# ---- round-5 additions ----


def test_q6_pushes_all_predicates(plans):
    p = plans("forecast_revenue_change")
    # discount band and quantity cap reach the scan (row-group pruning
    # at scale); no join anywhere in a pure scan-agg
    assert "GreaterThanOrEqual(l_discount" in p and "LessThan(l_quantity" in p
    assert "Join" not in p


def test_q10_top20_is_take_ordered(plans):
    p = plans("returned_item_customers")
    # the row_number <= 20 compiles to a top-k below the final exchange
    # (TakeOrderedAndProject or WindowGroupLimit, whichever Catalyst
    # picks) — never a global sort of the full aggregate
    assert ("TakeOrderedAndProject" in p) or ("WindowGroupLimit" in p)
    assert "BroadcastHashJoin" in p  # customer/nation dims broadcast


def test_q16_excludes_suppliers_via_broadcast_anti_join(plans):
    p = plans("supplier_part_brands")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_cube_is_single_expand_single_agg_exchange(plans):
    p = plans("supplier_nation_cube")
    # CUBE = ONE Expand node feeding ONE aggregation exchange (plus
    # broadcast exchanges for the dims) — not one pass per grouping set
    # formatted explain prints each operator once in the tree and once
    # as a numbered detail header — count the detail headers.  ONE
    # Expand sitting ABOVE the (nation, year) pre-aggregation (it
    # replicates ~175 cells, never fact rows) and exactly two hash
    # exchanges: the cell agg and the cube agg.
    assert p.count(") Expand") == 1
    assert p.count(") Exchange") == 2 and "hashpartitioning" in p
    assert "CartesianProduct" not in p


def test_cross_source_overlap_no_cartesian(plans):
    p = plans("cross_source_shingle_overlap")
    # inverted-index self-join on the shingle key, never a cross product
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_transition_matrix_single_user_window(plans):
    p = plans("event_transition_matrix")
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def _assert_windows_bounded(p: str) -> int:
    """Shared round-6 guard for the single-reducer-window defect class:
    every UNPARTITIONED Window in the formatted plan must consume an
    aggregated (hence bounded: histogram / per-partition counts) frame —
    its tree subtree hits a HashAggregate before any parquet scan.
    Partitioned windows (incl. the operators/ranks _rk_pid groups) are
    parallel by construction and exempt.  Returns the Window count."""
    import re

    # node id -> partitioned? from the details section: a partition
    # column appears in windowspecdefinition(...) as a bare reference,
    # an order column carries ASC/DESC.
    partitioned = {}
    for m in re.finditer(
        r"\((\d+)\) Window\nInput[^\n]*\nArguments: [^\n]*?windowspecdefinition\(([^\n]*)",
        p,
    ):
        first_arg = m.group(2).split(",")[0]
        partitioned[int(m.group(1))] = not (
            " ASC" in first_arg or " DESC" in first_arg
        )

    # A tree line's connector is '+- ' (last child) OR ':- ' (non-last
    # child, e.g. a join's first input — where the ranks pattern puts
    # its windows; review r6 found the first version blind to these).
    def connector_at(ln: str) -> int:
        idxs = [i for i in (ln.find("+- "), ln.find(":- ")) if i != -1]
        return min(idxs) if idxs else (0 if ln.strip() else -1)

    tree = [
        ln
        for ln in p.splitlines()
        if "+- " in ln or ":- " in ln or ln.strip().startswith("* ")
    ]
    n_windows = 0
    for i, ln in enumerate(tree):
        wm = re.search(r"Window(?:GroupLimit)? \((\d+)\)", ln)
        if not wm or "WindowGroupLimit" in ln:
            continue
        n_windows += 1
        if partitioned.get(int(wm.group(1)), False):
            continue
        indent = connector_at(ln)
        agg_first = False
        for sub in tree[i + 1 :]:
            d = connector_at(sub)
            if d <= indent:
                break
            if "HashAggregate" in sub:
                agg_first = True
                break
            assert "Scan parquet" not in sub, (
                "unpartitioned Window sits on an unaggregated scan: " + ln
            )
        assert agg_first, "unpartitioned Window input is not aggregated: " + ln
    return n_windows


def test_doc_length_deciles_no_corpus_wide_window(flat_plans):
    """Round-6 rewrite pin: exact deciles must come from the per-length
    histogram + boundary-rank join, never an NTILE whose unpartitioned
    window funnels the whole corpus through one reducer (the round-5
    scale-killer).  The only Window allowed is the cumulative sum over
    the distinct-length HISTOGRAM, i.e. its child is the hash-agg."""
    p = flat_plans("doc_length_deciles")
    assert "ntile" not in p.lower()
    assert _assert_windows_bounded(p) >= 1, "expected the histogram cum-sum Window"
    # boundary lookups broadcast the 10-row decile table
    assert "BroadcastNestedLoopJoin" in p


def test_customer_rfm_distributed_ntile(flat_plans):
    """Round-6 rewrite pin: the three quartile scores run through
    operators/ranks.exact_ntile — range-partitioned rank + broadcast
    offsets — never an engine ntile whose unpartitioned window funnels
    the customer grain through one reducer."""
    p = flat_plans("customer_rfm")
    assert "ntile(" not in p.lower()  # the engine fn; _rk_ntile_rn is ours
    assert "RangePartitioning" in p or "rangepartitioning" in p
    assert _assert_windows_bounded(p) >= 3


def test_events_late_audit_distributed_prefix_max(flat_plans):
    """Round-6 rewrite pin: the arrival-order high-water-mark is the
    distributed prefix max (operators/ranks.prefix_agg) over the
    fact-sized event stream — range partition + per-partition frames +
    broadcast per-partition totals, no full-stream single reducer."""
    p = flat_plans("events_late_audit")
    assert "RangePartitioning" in p or "rangepartitioning" in p
    assert _assert_windows_bounded(p) >= 2


def test_part_revenue_pareto_distributed_rank_and_prefix(flat_plans):
    """Round-6 rewrite pin: rank + cumulative revenue come from the
    range-partitioned primitives, not a single-reducer global window."""
    p = flat_plans("part_revenue_pareto")
    assert "RangePartitioning" in p or "rangepartitioning" in p
    assert _assert_windows_bounded(p) >= 2


def test_vocab_coverage_rank_is_budget_bounded(flat_plans):
    """Round-6 rewrite pin: the coverage rank window sees only the
    TakeOrdered top-max(checkpoint) tokens (a config constant), never
    the full vocabulary."""
    p = flat_plans("vocab_coverage")
    assert "TakeOrderedAndProject" in p
    assert _assert_windows_bounded(p) >= 1


def test_quantile_sketch_domain_cap_guard(spark):
    """verdict r7 #5: _assert_windows_bounded treats any HashAggregate-fed
    window as bounded, which cannot distinguish a bounded-DOMAIN
    aggregate (distinct 2-decimal values) from a data-sized one
    (continuous values).  The runtime cap inside quantile_sketch_report
    is the guard that can: a synthetic continuous column whose distinct
    count exceeds _EXACT_DOMAIN_CAP must fail the job loudly instead of
    running the cum-sum window over a data-sized single reducer — i.e.
    the exact-side window input is pinned to grow with the DOMAIN, not
    with rows."""
    from pyspark.sql import functions as F

    from firmable_company_data_pipeline_spark.queries import scale as sc

    # continuous synthetic column: every row a new distinct value
    wide = spark.range(sc._EXACT_DOMAIN_CAP + 5).select(
        (F.col("id").cast("double") / 7.0).alias("value")
    )
    with pytest.raises(Exception, match="bounded-domain cap"):
        sc.quantile_sketch_report(wide).collect()

    # many rows over a SMALL domain: the guard keys on distinct values,
    # not row count, so this passes
    ok = spark.range(50_000).select(
        (F.col("id") % 50).cast("double").alias("value")
    )
    assert len(sc.quantile_sketch_report(ok).collect()) == len(sc._HIST_QS)


def test_boilerplate_screen_broadcasts_and_exchange_budget(flat_plans):
    """boilerplate_stats' scale contract: the per-doc rollup joins the
    boilerplate set via BROADCAST (the set is bounded by
    grams-per-doc * 10/decifrac per source, independent of corpus
    size), src_docs broadcasts, and the only data-sized exchanges are
    the two map-side-combined hash-aggs + the final rollup — no window,
    no sort-merge join over the gram stream."""
    import re

    p = flat_plans("boilerplate_screen")
    assert p.count("BroadcastHashJoin") >= 2  # src_docs + boiler set
    assert "SortMergeJoin" not in p
    assert "Window" not in p
    # flat view INLINES the shared (source,id,gram) agg into both of its
    # consumers, so its spread + hash-agg exchanges print twice (the
    # materialized-once pin below guarantees they EXECUTE once): 5
    # distinct exchanges + the 2 duplicated gram-stream ones.
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 7


def test_boilerplate_gram_stream_materialized_once(plans):
    """The (source,id,gram) agg feeds BOTH the doc-frequency branch and
    the per-doc rollup probe side; the REAL plan must materialize it
    once — as an InMemoryRelation (persist) or a checkpointed-RDD scan
    leaf — so the map-side gram assembly never executes twice."""
    p = plans("boilerplate_screen")
    assert "InMemoryRelation" in p or "Scan ExistingRDD" in p


def test_corpus_drift_psi_bucket_grid_sized(plans):
    """After the two (source,bucket) aggs everything is grid-sized:
    the per-source totals join back via BROADCAST and no window ever
    sees doc-sized data (the b1/b2 full-outer may plan as SMJ — both
    sides are the bucket grid, sources x 10 rows, so that's fine)."""
    p = plans("corpus_drift_psi")
    assert "BroadcastHashJoin" in p  # per-source totals
    assert "Window" not in p


def test_block_dedup_uses_agg_not_window(plans):
    """The r9 design claim: first-occurrence selection is a min-struct
    HASH AGG + join (map-side combinable, AQE-skew-splittable), never a
    row_number window over the hot block text; and the whole plan stays
    JVM-side."""
    import re

    p = plans("dedup_blocks")
    assert len(re.findall(r"\(\d+\) Window", p)) == 0
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4


def test_dsir_select_broadcasts_weights(plans):
    """DSIR scoring: the <= n_buckets-row weight table reaches the
    per-doc join as a broadcast (the per-doc scoring join is map-side);
    no window anywhere in the plan."""
    import re

    p = plans("dsir_select")
    assert "BroadcastHashJoin" in p
    assert len(re.findall(r"\(\d+\) Window", p)) == 0
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 6


def test_winnow_contamination_bipartite_plan(plans):
    """The decontamination screen stays in the winnow family's pinned
    exchange budget (one gram pipeline + df-cap window + bipartite fp
    join + pair agg) with no Python stage."""
    import re

    p = plans("winnow_contamination")
    assert len(re.findall(r"\(\d+\) Exchange", p)) <= 4
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_quality_classifier_scoring_is_broadcast(plans):
    """The learned quality scorer keeps the DSIR scoring shape: the
    frozen weight table and the 1-row prior reach the per-doc rollup
    via broadcast only, everything stays JVM-side, and the only
    data-sized exchanges are the bigram-bucket hash-agg and the
    per-doc rollup (the bounded rest is the training side's
    dictionary/1-row aggregates)."""
    import re

    p = plans("quality_classifier_score")
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # the weight/prior joins must never shuffle the scoring side
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_trigram_lm_scoring_is_broadcast(plans):
    """The trigram LM scorer keeps the frozen-table scoring shape: all
    five dictionary joins (order-3, order-2 x2, order-1 x2) and the
    1-row totals reach the per-doc rollup via broadcast only, no
    Python, no cartesian — the only data-sized exchanges are the
    doc-trigram hash-agg and the per-doc rollup."""
    p = plans("trigram_lm_score")
    assert "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_ann_pq_encode_is_map_only_broadcast(plans):
    """PQ scoring: the codebook row and the query set reach the code
    table via broadcast; reconstruction and the cosine fold are
    in-expression (no Python stage); the per-query top-k window
    partitions on query_id (never partitionless over data)."""
    import re

    p = plans("ann_pq")
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", p):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")


def test_corpus_flagship_selection_rank_is_distributed(spark, sf_dir, plans):
    """build_training_corpus composes the audited sub-plans; since r13
    the DSIR selection stage is a top-k MEMBERSHIP (TakeOrdered +
    broadcast semi — guide §2.4, replacing the full exact-rank
    machinery), so pin THAT safe form on the verdict sub-plan (the
    flagship's own plan sees only downstream of the eager survivor
    checkpoint), and keep the flagship-level guards: no partitionless
    row_number over corpus rows, no Python stage anywhere."""
    import contextlib
    import io
    import re

    from firmable_company_data_pipeline_spark.queries import corpus as cq

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cq._corpus_ff(spark, sf_dir).explain("formatted")
    ffp = buf.getvalue()
    # the selection top-k plans as the scale-safe global-top-k rewrite
    assert "TakeOrderedAndProject" in ffp
    assert "ArrowEvalPython" not in ffp and "BatchEvalPython" not in ffp
    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", ffp):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")

    p = plans("build_training_corpus")
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    for m in re.finditer(r"Arguments: \[[^\]]*row_number[^\]]*\], \[\]", p):
        raise AssertionError(f"global window found: {m.group(0)[:120]}")


def test_ivf_pq_adc_single_exchange_all_broadcast(plans):
    """IVF-PQ with the ADC scorer (r12 default): cell id + code word
    come from ONE corpus scan against broadcast rows (the r11 two-scan
    vec_id join is gone), probes and per-query lookup tables arrive by
    broadcast, so the ONLY shuffle in the whole plan is the per-query
    top-k window — and nothing corpus-sized ever sort-merge joins or
    drops into Python."""
    import re

    p = plans("ivf_pq_topk")
    # one hash exchange (the top-k window); the only other exchange the
    # plan may carry is spread()'s round-robin local-parallelism split
    assert len(re.findall(r"Arguments: hashpartitioning", p)) == 1
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    # and the per-query rank<=k pre-filters map-side before that shuffle
    assert "WindowGroupLimit" in p


def test_global_topk_family_keeps_windowgrouplimit_pushdown(plans):
    """The top-k window pattern (row_number + rank<=k) is only
    scale-safe because Spark rewrites it — partitionless windows to
    TakeOrderedAndProject (or partial+final WindowGroupLimit), ranked
    per-group windows to partial WindowGroupLimit, so every input
    partition pre-filters to k rows before the merge (verdict r11 note
    #2).  A refactor that breaks the rewrite (referencing the rank
    column twice, filtering later, adding a second window function)
    silently regresses into a full single-partition sort — pin both
    forms on representative family members."""
    # global top-k: the rewrite may land as either safe form
    for name in ("top_revenue_orders", "waiting_suppliers", "bm25_search"):
        p = plans(name)
        assert "TakeOrderedAndProject" in p or "WindowGroupLimit" in p, (
            f"{name} lost the global top-k pushdown"
        )
    # per-group rank<=k: partial (map-side) WindowGroupLimit must
    # precede the exchange (PLANS.md pins these carried it at r11)
    for name in ("hybrid_search_rrf", "ann_ivf_incremental"):
        p = plans(name)
        assert "WindowGroupLimit" in p, f"{name} lost the rank pushdown"
        # the details section prints "row_number(), <k>, Partial" for
        # the map-side node (and ", Final" for the post-exchange merge)
        import re

        assert re.search(r"row_number\(\), \d+, Partial", p), (
            f"{name}: no partial WindowGroupLimit before the merge"
        )


def test_kmv_sketch_rank_is_windowgrouplimit_and_bloom_broadcasts(plans):
    """Round-12 additions: (a) kmv_distinct_users' per-(group,salt)
    bottom-k rides the same partial WindowGroupLimit pushdown as the
    top-k family — each input partition pre-filters to k rows before
    the shuffle; (b) bloom_filtered_lineitems' bit-vector side reaches
    the probe as a BROADCAST nested-loop (one row, by construction) —
    if it ever became a shuffled cross join the prefilter would cost
    more than the scan it prunes."""
    import re

    p = plans("kmv_distinct_users")
    assert "WindowGroupLimit" in p, "kmv bottom-k lost the rank pushdown"
    assert re.search(r"row_number\(\), \d+, Partial", p)
    b = plans("bloom_filtered_lineitems")
    assert "BroadcastNestedLoopJoin" in b, "bloom vector not broadcast"
    assert "CartesianProduct" not in b


@pytest.mark.parametrize(
    "builder, needle",
    [
        ("standardize_state", "upper("),
        ("extract_abn_clean_text", "regexp_extract("),
        ("validate_abn", "regexp_replace("),
    ],
)
def test_builder_evaluates_each_input_once(spark, builder, needle):
    """Bind-once rule (ARCHITECTURE §1): each builder's derived input
    appears once in its analyzed expression (``extract_abn``: once per
    candidate), not pasted into every CASE WHEN branch that reads it —
    those copies were 128, 30 and 12 before ``functions.bind.let``."""
    from pyspark.sql import functions as F

    import firmable_company_data_pipeline_spark.functions as lib

    x = F.col("x")
    column, expected = {
        "standardize_state": (lib.standardize_state(x), 1),
        "extract_abn_clean_text": (lib.extract_abn(lib.clean_text(x)), 2),
        "validate_abn": (lib.validate_abn(x), 1),
    }[builder]
    df = spark.createDataFrame([], "x string").select(column.alias("o"))
    analyzed = df._jdf.queryExecution().analyzed().expressions().head().toString()
    assert analyzed.count(needle) == expected
