#!/usr/bin/env python
"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line with per-query wall-clock seconds.

Execution is forced through the noop sink (full computation on executors,
nothing collected to the driver) so timings reflect the distributed plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: every registered query EXCEPT
#   (a) scalar-function demos and point lookups whose cost is session
#       overhead, not plan execution (fn_jaro_winkler and
#       fn_token_sort_ratio stay as the family's representatives);
#   (b) variants fully dominated by a listed query: orders_page
#       (orders_page_keyset is the listed twin), dedup_clusters
#       (contained in dup_cluster_size_histogram and run by
#       dedup_clusters_star), match_rule_based and match_llm_stub
#       (stages of the listed match_cascade_full).
# A new query is benched by registering it; exclude it here only if it
# falls under (a)/(b).  tests/test_cli.py::test_headline_membership_rule
# pins that every exclusion names a registered query.  README's
# headline count is len(headline(queries())).
SCALAR_DEMOS = frozenset({
    "fn_clean_text", "fn_domain_company", "fn_abn_checksum",
    "fn_extract_abn_text", "fn_contacts", "fn_standardize_state",
    "fn_clean_company_name", "fn_dates", "fn_snippet", "order_lookup",
})
DOMINATED = frozenset({
    "orders_page", "dedup_clusters", "match_rule_based", "match_llm_stub",
})


def headline(queries) -> list[str]:
    """The benched query names, in registry order: ``queries`` (the
    registry mapping) minus the two exclusion sets.  Computed at run
    time, never at import — perfbench imports this module for
    ``clear_cached_state`` and must not pay a registry walk."""
    return [n for n in queries if n not in SCALAR_DEMOS | DOMINATED]


def clear_cached_state(spark):
    """SQL-cached relations AND RDD-level blocks: clearCache() does not
    release localCheckpoint storage (the iterative CC queries checkpoint
    per round), so drop every persistent RDD too — between queries
    nothing re-reads them (review r6)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def timed_query_run(spark, fn, sf_dir, passes=1):
    """One query's full measurement discipline — warm (untimed, best
    effort), then ``passes``× (clear + GC, timed run with one retry for
    transient binder/AQE flakes), reporting the MINIMUM across passes,
    then clear + GC again so the next query's window is clean.  Returns
    (seconds, None) or (None, error-string).

    Minima-of-N (round 13; verdict r12 #2): a single recorded timing
    sits on whatever JVM/GC/codegen load the sweep window happens to
    carry — two consecutive rounds of BENCH_rN.json cross-round
    comparison produced phantom 2-3.5× "regressions" that only isolated
    re-measurement could dismiss (r12: ann_ivf_incremental recorded
    2.88 s vs 0.83 s real).  The minimum across adjacent passes is the
    load-robust estimator of steady-state plan cost: noise classes are
    strictly additive (GC pauses, compile stalls, CPU contention), so
    min converges on the true floor while mean/median still carry them.
    Warm-up runs ONCE, not per pass — its purpose is whole-stage-codegen
    compilation, and the codegen cache holds across ADJACENT runs of
    the same plan (the per-query-adjacency rationale below).

    Module-level and shared with scripts/scale_probe.py (review r7):
    the probe's ratios are only comparable to bench numbers if both are
    measured under the identical discipline.  The GC hints matter:
    back-to-back heavy executions accumulate old-gen debt (dropped
    broadcasts, codegen classes) faster than G1 reclaims it under load,
    and the eventual collection lands inside SOME later query's timing.
    """
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:
        pass  # warm-up is best-effort; the timed run surfaces errors
    best, err = None, None
    for _ in range(max(1, passes)):
        clear_cached_state(spark)
        spark.sparkContext._jvm.System.gc()
        for attempt in (1, 2):
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                secs = round(time.time() - t0, 3)
                if best is None or secs < best:
                    best = secs
                err = None
                break
            except Exception as exc:  # transient binder/AQE flakes: retry once
                err = f"attempt {attempt}: {type(exc).__name__}: {str(exc)[:500]}"
                clear_cached_state(spark)
    clear_cached_state(spark)
    spark.sparkContext._jvm.System.gc()
    if best is not None:
        return best, None
    return None, err


def default_raw_out(cores: int) -> str:
    """The default ``--raw-out`` path, keyed by the core count the run
    uses: a ``local[32]`` and a ``local[8]`` sweep each keep their own
    per-query map."""
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", f"bench_raw_c{cores}.json"
    )


def main():
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--passes",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3")),
        help="timed passes per query; the MINIMUM is recorded (default 3 "
        "— the load-robust artifact the driver records; see "
        "timed_query_run's rationale).  1 restores the single-shot "
        "pre-r13 behavior.",
    )
    ap.add_argument(
        "--raw-out",
        default=os.environ.get("SPARK_GRAFT_BENCH_RAW_OUT"),
        help="also write the FULL payload (all per-query seconds) to this "
        "file (verdict r13 #7: the driver keeps only a truncated stdout "
        "tail, which cost round 13 two-thirds of its per-query evidence). "
        "Additions-only: the one-line stdout JSON contract is unchanged. "
        "Default plans/bench_raw_c<N>.json, N the session's core count, "
        "so sweeps at different core counts keep separate maps. "
        "Set to '' to disable.",
    )
    args = ap.parse_args()
    passes = max(1, args.passes)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    import __spark_entry__ as entrymod
    from firmable_company_data_pipeline_spark import get_spark

    spark = get_spark("firmable-bench")
    if args.raw_out is None:
        args.raw_out = default_raw_out(spark.sparkContext.defaultParallelism)
    qs = entrymod.queries()
    names = headline(qs)

    # Warm the JVM/session on the smallest table once, and fork the Python
    # UDF workers (pandas/numpy import per worker is a one-time cost that
    # would otherwise land on the first Arrow-boundary query; workers are
    # reused afterwards — spark.python.worker.reuse default).
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    spark.range(64).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()

    # Per-query warm-up: one untimed execution of each headline plan at the
    # TARGET SF before the timed pass.  Single-shot timings are dominated
    # by whole-stage-codegen JIT (Janino) compilation of the generated
    # Java — measured 2-8s per expression-heavy plan vs <1s of actual
    # sf0.1 compute.  Warming at a smaller SF is not enough: AQE picks
    # physical operators (broadcast vs sort-merge, coalesced partitions)
    # from runtime statistics, so the small-SF plan compiles DIFFERENT
    # generated code than the target-SF plan and the cache misses.  One
    # warm pass at the target SF compiles exactly the code the timed pass
    # runs; the timed numbers then measure steady-state engine throughput
    # — the quantity that scales to 100 TB (compile cost is a per-plan
    # constant that amortizes to zero).  Warm-up time is NOT included in
    # the reported numbers; the timed run re-executes the full plan (a
    # fresh DataFrame shares no shuffle/cache state — clearCache() below
    # drops every persisted intermediate the warm pass materialized).
    # Known bias, accepted: the warm pass also loads the input parquet
    # into the OS page cache, so timed runs measure warm-read I/O.  At
    # these SFs the inputs (~100 MB) are page-cached after any first
    # touch anyway; numbers are comparable round-over-round but not to
    # an engine benched cold.
    # Warm-up and timing run ADJACENT per query (warm → clear → time),
    # not as two full passes: with a warm-all-then-time-all structure,
    # ~55 other executions' codegen churn sits between a query's warm
    # and timed runs, and the codegen LRU (1000 entries) evicts the
    # compiled classes of codegen-heavy plans — the iterative PageRank
    # measured 5s adjacent vs 13-28s after a full intervening pass.
    # Per-query isolation: one flaky failure must never zero out the whole
    # round's numbers (round-3 lesson: a single transient plan-binding error
    # in one timed query exited the process with rc=1 and NO bench record).
    # Errors are retried once, then recorded per-query in an "errors" field;
    # the JSON line always prints and rc stays 0 while any query succeeded.
    timings = {}
    errors = {}
    # tolerate any SPARK_GRAFT_SF_DIR basename: a malformed numeric-ish
    # string ('1.2.3') must fall back to the raw string, not crash the
    # sweep before any query runs (advice r6); reject non-finite floats
    # ('nan'/'inf') too — json.dumps would emit invalid JSON for them
    # (review r7)
    import math

    try:
        sf_val = float(sf)
        if not math.isfinite(sf_val):
            sf_val = sf
    except ValueError:
        sf_val = sf
    done = 0
    for name in names:
        secs, err = timed_query_run(spark, qs[name], sf_dir, passes=passes)
        if secs is not None:
            timings[name] = secs
        else:
            errors[name] = err
        # Crash insurance (round 6): a ~140-query sweep runs >10 min
        # wall; if the process is killed mid-run the final total line
        # never prints and the round records NOTHING (the round-4
        # failure mode).  Emit a running compact line every 20
        # PROCESSED queries — gating on len(timings) would re-fire
        # after every failure while the count sits on a multiple of 20
        # (review r6) — marked partial=true so it can't be mistaken
        # for a full sweep; the completed-run line still prints last.
        done += 1
        if done % 20 == 0:
            print(
                json.dumps(
                    {
                        "metric": "headline_queries_wall_clock_total",
                        "value": round(sum(timings.values()), 3),
                        "unit": "sec",
                        "n": len(timings),
                        "n_errors": len(errors),
                        "sf": sf_val,
                        "partial": True,
                    }
                ),
                flush=True,
            )
            # Same crash insurance for the per-query map (r14): a sweep
            # killed mid-run used to lose EVERY per-query second; the
            # raw-out file now trails the sweep, marked partial until
            # the final overwrite below.
            if args.raw_out:
                try:
                    os.makedirs(os.path.dirname(args.raw_out), exist_ok=True)
                    with open(args.raw_out, "w") as fh:
                        json.dump(
                            {
                                "metric": "headline_queries_wall_clock",
                                "value": round(sum(timings.values()), 3),
                                "unit": "sec",
                                "queries": timings,
                                "errors": errors,
                                "sf": sf_val,
                                "passes": passes,
                                "partial": True,
                            },
                            fh,
                            indent=1,
                            sort_keys=True,
                        )
                        fh.write("\n")
                except OSError:
                    pass
    total = round(sum(timings.values()), 3)

    payload = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "passes": passes,
    }
    if errors:
        payload["errors"] = errors
    if args.raw_out:
        # Durable full per-query map (best-effort: a read-only checkout
        # must never fail the bench itself).
        try:
            os.makedirs(os.path.dirname(args.raw_out), exist_ok=True)
            with open(args.raw_out, "w") as fh:
                json.dump(payload, fh, indent=1, sort_keys=True)
                fh.write("\n")
        except OSError:
            pass
    print(json.dumps(payload))
    # Second, compact, total-only line printed LAST: the detailed line
    # above grows with the suite (~90 queries) and exceeded the driver's
    # tail capture in round 4, truncating the leading "value" field —
    # whatever the capture window, the headline total survives here.
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock_total",
                "value": total,
                "unit": "sec",
                "n": len(timings),
                "n_errors": len(errors),
                "sf": payload["sf"],
                "passes": passes,
            }
        )
    )
    if not timings:
        sys.exit(1)


if __name__ == "__main__":
    main()
