"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import gen, run, stats  # noqa: E402
from perfbench.eventlog import EventLog  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def _tree_bytes(path: str) -> dict[str, bytes]:
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def _curation_tables(seed: int, d: str) -> None:
    os.makedirs(d, exist_ok=True)
    gen.write_table(gen.documents(seed, 200), os.path.join(d, "documents.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for d, seed in ((a, 5), (b, 5), (c, 6)):
        gen.etl_inputs(seed, 120, d)
        _curation_tables(seed, os.path.join(d, "sf"))
    ta, tb, tc = _tree_bytes(a), _tree_bytes(b), _tree_bytes(c)
    assert len(ta) == 4 + 1 + 1
    assert ta == tb
    assert all(ta[k] != tc[k] for k in ta)


def test_etl_truth_matches_the_planted_mix(tmp_path):
    inp = gen.etl_inputs(3, 590, str(tmp_path))
    # FIXTURES.md §2: 19 rule, 19 fuzzy, 19 LLM and 2 negative pages per 59
    for tier in ("rule", "fuzzy", "llm"):
        assert len(inp["truth"][tier]) == 190
    matched = {d for pairs in inp["truth"].values() for d, _ in pairs}
    negatives = [
        p for u, (_, p) in inp["pages"].items() if u.split(".", 1)[1][:-1] not in matched
    ]
    assert len(negatives) == 20
    assert negatives.count(gen.EMPTY_POSTCODE) == 10
    # FIXTURES.md §1: 6 of 19 register rows in the hot postcode
    xml = b"".join(_tree_bytes(inp["abr_dir"]).values()).decode()
    hot = xml.count(f"<Postcode>{gen.HOT_POSTCODE}</Postcode>") / xml.count("<ABR ")
    assert abs(hot - 6 / 19) < 0.03
    abns = [a for _, a in inp["truth"]["rule"]]
    assert all(gen.abn_is_valid(a) for a in abns)
    # only rule pages carry an ABN, each its own target's
    carried = {u: a for u, (a, _) in inp["pages"].items() if a}
    assert sorted(carried.values()) == sorted(abns)
    domains = [d for pairs in inp["truth"].values() for d, _ in pairs]
    assert len(domains) == len(set(domains))
    with open(inp["index_path"]) as fh:
        assert sum(1 for _ in fh) == 590


def test_checksum_valid_abns_are_distinct_and_valid():
    import random

    abns = gen.checksum_valid_abns(random.Random(0), 5000)
    assert len(set(abns)) == 5000
    assert all(gen.abn_is_valid(a) for a in abns)
    assert not gen.abn_is_valid("11000000949")
    # reference vectors from FIXTURES.md §1
    assert gen.abn_is_valid("11000002568") and gen.abn_is_valid("11000000948")


def test_fetch_client_page_carries_abn_and_postcode():
    client = gen.BenchFetchClient(
        {"https://www.ab-cd.com.au/": ("51824753556", "2000"), "https://www.xyz.com.au/": (None, "6999")}
    )
    page = client.fetch("https://www.ab-cd.com.au/", "f", "0", "1")
    assert "ABN: 51 824 753 556" in page and "NSW 2000" in page
    assert "ABN" not in client.fetch("https://www.xyz.com.au/", "f", "0", "1")


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.highest_tail_percentile(n) == want


def test_nearest_rank_percentile():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 90.0) == 90.0 and stats.percentile(xs, 99.9) == 100.0
    assert stats.percentile([3.0], 50.0) == 3.0


def test_spread_is_iqr_over_median():
    assert stats.spread([1.0, 1.0, 1.0, 1.0]) == 0.0
    assert stats.spread([1.0, 2.0, 3.0, 4.0, 5.0]) == pytest.approx((4.5 - 1.5) / 3.0)


def test_event_log_parser_totals():
    log = EventLog.parse(FIXTURE)
    assert sorted(log.jobs) == [0, 1, 2, 3, 4]
    g1 = log.totals(log.jobs_in_groups(["g1"]))
    # stage 0 is charged to job 0 only; job 1 skipped it and ran stage 2
    assert g1["jobs"] == 2 and g1["stages"] == 3 and g1["tasks"] == 4
    assert g1["executor_run_s"] == pytest.approx(0.38)
    assert g1["executor_cpu_s"] == pytest.approx(0.15)
    assert g1["gc_s"] == pytest.approx(0.015)
    assert g1["shuffle_write_bytes"] == 500 and g1["shuffle_read_bytes"] == 1000
    assert g1["spill_bytes"] == 2048
    assert g1["input_bytes"] == 1500 and g1["output_bytes"] == 64
    assert g1["py_bytes_sent"] == 4096 and g1["py_bytes_returned"] == 1024
    batches = log.jobs_by_batch(log.jobs_in_groups(["run-1"]))
    assert batches == {0: [2], 1: [3]}
    assert log.jobs_by_batch(log.jobs_in_groups(["g1"])) == {}
    b1 = log.totals(batches[1])
    assert b1["stages"] == 2 and b1["input_bytes"] == 900 and b1["output_bytes"] == 100
    # the never-completed stage of job 4 is not counted
    assert log.totals([4])["stages"] == 0 and log.totals([4])["jobs"] == 1


def test_tracer_nesting():
    tr = Tracer()
    with tr.span("unit") as u:
        with tr.span("op", op=7) as op:
            with tr.span("child"):
                pass
    assert op["parent"] == u["id"] and tr.children(op)[0]["op"] == 7
    assert tr.descendants(u) == [op, tr.children(op)[0]]
    assert 0 <= tr.duration(tr.children(op)[0]) <= tr.duration(op) <= tr.duration(u)
    with pytest.raises(ValueError):
        with tr.span("boom"):
            raise ValueError
    assert tr.find("boom") == [] and [s["name"] for s in tr.spans].count("boom") == 1


def test_metric_names_follow_the_benchmark_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e, layer = run.declared_metrics()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for name in list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]:
        assert NAME_RE.fullmatch(name) and len(name) <= 64, name
    assert e2e["setup_s"] == "s"
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
