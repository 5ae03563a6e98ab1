"""CLI orchestrator smoke: the reference's `python run_pipeline.py` UX
(--demo synthesizes the offline fixture and runs extract→clean→match)."""

from __future__ import annotations

from firmable_company_data_pipeline_spark.__main__ import main


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_cli_demo_runs_end_to_end(spark, capsys, tmp_path):
    # the session is shared with other tests: count what main() adds
    before = _persistent_rdds(spark)
    rc = main(["--demo", "--out", str(tmp_path / "matched.parquet")])
    assert rc == 0
    out = capsys.readouterr().out
    assert "matched rows: 3" in out
    assert "observed[cleaned_cc]" in out
    assert _persistent_rdds(spark) - before == set()
    back = spark.read.parquet(str(tmp_path / "matched.parquet"))
    assert back.count() == 3
    assert {r["match_method"] for r in back.collect()} == {"rule_based_abn"}
    # the printing path materializes the matched frame too
    assert main(["--demo", "--enable-llm"]) == 0
    assert "matched rows: 3" in capsys.readouterr().out
    assert _persistent_rdds(spark) - before == set()


def _load_bench():
    import importlib.util
    import os as _os
    import sys as _sys

    bench_path = _os.path.join(_os.path.dirname(__file__), _os.pardir, "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", bench_path)
    bench = importlib.util.module_from_spec(spec)
    _sys.modules["bench_mod"] = bench
    spec.loader.exec_module(bench)
    return bench


def test_headline_membership_rule():
    """The benched list is the registry minus the scalar/point-lookup
    and dominated-variant exclusions.  Every exclusion must name a
    registered query, so a stale one fails here."""
    bench = _load_bench()
    from firmable_company_data_pipeline_spark.queries import registry

    queries, _ = registry()
    excluded = bench.SCALAR_DEMOS | bench.DOMINATED
    assert not (bench.SCALAR_DEMOS & bench.DOMINATED)
    assert excluded <= set(queries), sorted(excluded - set(queries))
    headline = bench.headline(queries)
    assert len(headline) == len(set(headline)), "duplicates in the headline"
    assert set(headline) == set(queries) - excluded


def test_bench_raw_out_default_is_keyed_by_cores():
    """Sweeps at different core counts keep separate per-query maps:
    the default raw-out file names the run's core count."""
    import os as _os

    bench = _load_bench()
    assert _os.path.basename(bench.default_raw_out(8)) == "bench_raw_c8.json"
    assert bench.default_raw_out(32) != bench.default_raw_out(8)


def test_dump_plans_trees_without_names_exits_2():
    """``--trees`` with no query names is a usage error, not an empty
    dump that two checkouts would trivially agree on."""
    import os as _os
    import subprocess
    import sys

    script = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts",
        "dump_plans.py",
    )
    proc = subprocess.run(
        [sys.executable, script, "/nonexistent", "--trees"],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2
    assert proc.stdout == ""
    assert "--trees QUERY" in proc.stderr
