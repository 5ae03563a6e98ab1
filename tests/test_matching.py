"""Golden end-to-end matching tests (SURVEY.md §5.2).

The fixture follows the reference's test recipe
(test/entity_matching_test.py): per ABR entity, three crawl-side variants
— an exact copy (→ rule stage), a fuzzy variant with ``&``→``and`` /
case noise (→ fuzzy stage), and an abbreviation (→ LLM stage) — but with
our own generated data (valid ABNs computed against the checksum) and
real assertions instead of prints.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.operators.matching import (
    anti_join_residual,
    fuzzy_match,
    llm_match,
    match_cascade,
    rule_based_match,
    similarity_join,
)

_WEIGHTS = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]


def _valid_abn(seed: int) -> str:
    """Deterministically generate a checksum-valid 11-digit ABN."""
    n = 10_000_000_019 + seed * 1000  # spacing >> avg checksum gap (~89)
    while True:
        s = str(n)
        total = sum(
            (int(d) - 1 if i == 0 else int(d)) * w for i, (d, w) in enumerate(zip(s, _WEIGHTS))
        )
        if total % 89 == 0 and s[0] != "0":
            return s
        n += 1


ENTITIES = [
    ("Alpha Books & Media Pty", "2000", "NSW", "Australian Private Company"),
    ("Bravo Construction Group", "2000", "NSW", "Australian Private Company"),
    ("Cedar Valley Farming Co", "3121", "VIC", "Sole Trader"),
    ("Delta Marine Services", "3121", "VIC", "Australian Private Company"),
    ("Echo Point Consulting", "4000", "QLD", "Partnership"),
    ("Foxtrot Digital Agency", "4000", "QLD", "Australian Private Company"),
]


@pytest.fixture(scope="module")
def abr_df(spark):
    rows = [
        (_valid_abn(i), name, etype, state, pc)
        for i, (name, pc, state, etype) in enumerate(ENTITIES)
    ]
    return spark.createDataFrame(
        rows, "abn string, entity_name string, entity_type string, state string, postcode string"
    )


@pytest.fixture(scope="module")
def cc_df(spark):
    """One crawl row per entity per stage-variant."""
    rows = []
    for i, (name, pc, _state, _etype) in enumerate(ENTITIES):
        abn = _valid_abn(i)
        dom = f"ent{i}.com.au"
        # exact variant: abn present → rule stage
        rows.append((f"rule-{dom}", name, abn, pc))
        # fuzzy variant: & → and, lowercased, no abn → fuzzy stage
        fuzzy_name = name.replace("&", "and").lower()
        rows.append((f"fuzzy-{dom}", fuzzy_name, None, pc))
        # llm variant: initials abbreviation, no abn → LLM stage
        abbrev = "".join(w[0] for w in name.split()).upper()
        rows.append((f"llm-{dom}", abbrev, None, pc))
    return spark.createDataFrame(
        rows, "domain string, company_name string, abn string, postcode string"
    )


def test_rule_based_match(abr_df, cc_df):
    out = rule_based_match(cc_df, abr_df).collect()
    assert len(out) == len(ENTITIES)
    for r in out:
        assert r.domain.startswith("rule-")
        assert r.match_method == "rule_based_abn"
        assert r.match_score == 100.0
        assert r.match_confidence == "high"
        assert r.cc_abn == r.abr_abn


def test_rule_based_trims_at_join(spark, abr_df):
    padded = spark.createDataFrame(
        [("x.com.au", "X", f"  {_valid_abn(0)} ", "2000")],
        "domain string, company_name string, abn string, postcode string",
    )
    out = rule_based_match(padded, abr_df).collect()
    assert len(out) == 1 and out[0].cc_abn.strip() == out[0].abr_abn


def test_fuzzy_match_stage(abr_df, cc_df):
    residual = anti_join_residual(cc_df, rule_based_match(cc_df, abr_df), "domain")
    assert residual.count() == 2 * len(ENTITIES)
    out = fuzzy_match(residual, abr_df, threshold=80.0)
    rows = {r.domain: r for r in out.collect()}
    # every fuzzy variant matches its own entity; abbreviations don't clear 80
    fuzzy_rows = [r for d, r in rows.items() if d.startswith("fuzzy-")]
    assert len(fuzzy_rows) == len(ENTITIES)
    for r in fuzzy_rows:
        i = int(r.domain.split("-")[0].replace("fuzzy", "") or r.domain.split(".")[0][-1])
    for i, (name, _pc, _s, _e) in enumerate(ENTITIES):
        r = rows[f"fuzzy-ent{i}.com.au"]
        assert r.entity_name == name
        assert r.match_method == "fuzzy"
        assert r.match_score >= 80.0
        assert r.match_confidence in ("high", "medium")
    assert not any(d.startswith("llm-") for d in rows)


def test_llm_match_stage(abr_df, cc_df):
    rule = rule_based_match(cc_df, abr_df)
    residual1 = anti_join_residual(cc_df, rule, "domain")
    fuzzy = fuzzy_match(residual1, abr_df)
    residual2 = anti_join_residual(residual1, fuzzy, "domain")
    out = llm_match(residual2, abr_df)
    rows = {r.domain: r for r in out.collect()}
    assert len(rows) == len(ENTITIES)
    for i, (name, _pc, _s, _e) in enumerate(ENTITIES):
        r = rows[f"llm-ent{i}.com.au"]
        assert r.entity_name == name
        assert r.match_method == "LLM"
        assert r.match_score == 95.0
        assert r.match_confidence == "medium"


def test_full_cascade(abr_df, cc_df):
    out = match_cascade(cc_df, abr_df, enable_llm=True).cache()
    by_method = {
        r.match_method: r.n for r in out.groupBy("match_method").agg(F.count("*").alias("n")).collect()
    }
    assert by_method == {
        "rule_based_abn": len(ENTITIES),
        "fuzzy": len(ENTITIES),
        "LLM": len(ENTITIES),
    }
    # each domain matched exactly once, with a timestamp
    assert out.select("domain").distinct().count() == 3 * len(ENTITIES)
    assert out.filter(F.col("creation_dt").isNull()).count() == 0
    # every match resolved to the correct entity
    pairs = out.select("domain", "entity_name").collect()
    for p in pairs:
        idx = int(p.domain.split("ent")[1].split(".")[0])
        assert p.entity_name == ENTITIES[idx][0]


def test_phonetic_key_cases(spark):
    from firmable_company_data_pipeline_spark.functions.similarity import (
        phonetic_key,
        token_sort,
    )

    df = spark.createDataFrame(
        [("Smith & Sons",), ("SMYTH SONS",), ("Acme Pty Ltd",), ("42 Degrees",)],
        "name string",
    )
    out = [
        r["k"]
        for r in df.select(phonetic_key(token_sort(F.col("name"))).alias("k")).collect()
    ]
    # two-token skeletons over the token-sorted name: "Smith & Sons" →
    # ["smith","sons"] → "smth sns"; "SMYTH SONS" → "smyth sns" ("y" is
    # not a vowel here); "Acme Pty Ltd" sorts to ["acme","ltd","pty"] →
    # "acm ltd"; "42 Degrees" drops the digits → single token "dgrs".
    assert out[0] == "smth sns" and out[1] == "smyth sns"
    assert out[2] == "acm ltd" and out[3] == "dgrs"
    # invariant: per-token skeleton ≤5 chars, vowel-free after the head
    for key in out:
        for tok in key.split(" "):
            assert len(tok) <= 5 and all(c not in "aeiou" for c in tok[1:])


def test_salted_join_matches_plain(spark):
    from firmable_company_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(0, 200).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    right = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (7, "zz")], "k long, tag string"
    )
    plain = left.join(right, "k").select("k", "v", "tag")
    salted = salted_join(left, right, on="k", n_salt=4).select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    # plan really shuffles (no broadcast) and joins on the salt
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "_salt" in plan
    # left join keeps unmatched left rows exactly once
    lj = salted_join(left, right, on="k", n_salt=4, how="left")
    assert lj.count() == 200


def test_salted_join_tolerates_map_columns(spark):
    # the default full-row salt must skip map-typed columns (xxhash64
    # rejects them at analysis time) instead of erroring
    from firmable_company_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(0, 60).select(
        (F.col("id") % 3).alias("k"),
        F.col("id").alias("v"),
        F.create_map(F.lit("a"), F.col("id")).alias("props"),
    )
    right = spark.createDataFrame([(0, "x"), (1, "y")], "k long, tag string")
    out = salted_join(left, right, on="k", n_salt=4).select("k", "v", "tag")
    plain = left.join(right, "k").select("k", "v", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, out.collect()))


def test_salted_join_key_only_salt_warns_and_skips_replication(spark):
    # when nothing beyond the join keys is hashable the salt is a pure
    # function of the key: the operator must warn AND fall back to the
    # unsalted n_salt=1 shape instead of paying n_salt-fold right-side
    # replication for zero skew spreading (advice r5)
    import warnings as _w

    import pytest as _pytest

    from firmable_company_data_pipeline_spark.operators.joins import salted_join

    left = spark.range(0, 60).select(
        (F.col("id") % 3).alias("k"),
        F.create_map(F.lit("a"), F.col("id")).alias("props"),
    )
    right = spark.createDataFrame([(0, "x"), (1, "y")], "k long, tag string")
    with _pytest.warns(UserWarning, match="falling back to an unsalted join"):
        out = salted_join(left, right, on="k", n_salt=4).select("k", "tag")
    plain = left.join(right, "k").select("k", "tag")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, out.collect()))
    # the degenerate salt literally enumerates a single salt value — the
    # right side is not replicated
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "[0]" in plan and "[0, 1, 2, 3]" not in plan


def test_llm_prompt_and_parse_roundtrip():
    # pure halves of HttpLLMClient: prompt lists every candidate and
    # numbered name; the parser accepts only candidate ABNs, maps NONE /
    # hallucinated ABNs / junk lines to None, and keeps positions
    from firmable_company_data_pipeline_spark.operators.matching import (
        _llm_match_prompt,
        _parse_llm_match_response,
    )

    cands = [
        {"abn": "11111111111", "entity_name": "Acme Holdings Pty"},
        {"abn": "22222222222", "entity_name": "Bayside Plumbing"},
    ]
    names = ["AHP", "Bayside Plumbing", "Unrelated Co"]
    prompt = _llm_match_prompt(names, cands)
    assert "11111111111" in prompt and "3. Unrelated Co" in prompt

    text = "1. 11111111111\n2. 22222222222\n3. NONE"
    assert _parse_llm_match_response(text, names, cands) == [
        "11111111111", "22222222222", None,
    ]
    # hallucinated ABN, out-of-range index, junk lines -> None, ignored
    messy = "0. 11111111111\n1. 99999999999\nnot a line\n2: 22222222222.\n9. 1"
    assert _parse_llm_match_response(messy, names, cands) == [
        None, "22222222222", None,
    ]
    assert _parse_llm_match_response(None, names, cands) == [None, None, None]


def test_http_llm_client_gating(monkeypatch):
    # no endpoint configured -> NotImplementedError (the stub stays the
    # deterministic default in every oracle-gated path)
    import pytest as _pytest

    from firmable_company_data_pipeline_spark.operators.matching import HttpLLMClient

    monkeypatch.delenv("LLM_API_URL", raising=False)
    with _pytest.raises(NotImplementedError, match="LLM_API_URL"):
        HttpLLMClient()(["A"], [{"abn": "1", "entity_name": "A"}])


def test_http_llm_client_against_live_endpoint():
    # env-gated REAL arm: runs only where an OpenAI-compatible endpoint
    # is configured (mirrors the HttpFetchClient pattern)
    import os

    import pytest as _pytest

    if not os.environ.get("LLM_API_URL"):
        _pytest.skip("LLM_API_URL not configured; live LLM arm untestable here")
    from firmable_company_data_pipeline_spark.operators.matching import HttpLLMClient

    cands = [{"abn": "11111111111", "entity_name": "Acme Holdings Pty"}]
    out = HttpLLMClient()(["Acme Holdings Pty"], cands)
    assert out[0] in ("11111111111", None)


# ---------------------------------------------------------------------------
# Sorted-neighborhood matching (round 12).
def test_sorted_neighborhood_finds_cross_block_scrambles(spark, abr_df):
    """Word-scrambled names token-sort adjacent to their entity even in
    a DIFFERENT postcode block — the case fixed blocking cannot see."""
    from firmable_company_data_pipeline_spark.operators.matching import (
        sorted_neighborhood_match,
    )

    rows = []
    for i, (name, _pc, _state, _etype) in enumerate(ENTITIES):
        words = name.split()
        scrambled = " ".join([words[1], words[0]] + words[2:]).upper()
        # note the WRONG postcode: SNM must still pair them
        rows.append((f"snm{i}.com.au", scrambled, None, "9999"))
    cc = spark.createDataFrame(
        rows, "domain string, company_name string, abn string, postcode string"
    )
    out = sorted_neighborhood_match(cc, abr_df, window=4, threshold=80.0)
    got = {r.domain: r for r in out.collect()}
    assert len(got) == len(ENTITIES)  # every scramble matched, top-1 each
    for i, (name, _pc, _state, _etype) in enumerate(ENTITIES):
        r = got[f"snm{i}.com.au"]
        assert r.entity_name == name
        assert r.match_score == 100.0  # token-sort key identical
        assert 1 <= r.pos_gap <= 4


def test_sorted_neighborhood_threshold_and_window(spark, abr_df):
    from firmable_company_data_pipeline_spark.operators.matching import (
        sorted_neighborhood_match,
    )

    cc = spark.createDataFrame(
        [("far.com.au", "Zzzz Unrelated Name Entirely", None, "9999")],
        "domain string, company_name string, abn string, postcode string",
    )
    out = sorted_neighborhood_match(cc, abr_df, window=4, threshold=80.0)
    assert out.count() == 0  # nothing within the window scores >= 80
