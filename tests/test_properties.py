"""Property-based tests (hypothesis) for the scalar function library.

Each property batches all generated examples into ONE Spark job per
hypothesis example-set (a list strategy), keeping runtime sane while
still exploring the input space. Python oracles restate the reference
semantics (extract/commoncrawl_scraper.py:25-67,
transform/data_cleaning.py:56-75) — the same oracle pattern as
tests/test_functions.py, but adversarial inputs instead of curated ones.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import firmable_company_data_pipeline_spark.functions as lib
from firmable_company_data_pipeline_spark.functions.states import STATE_MAPPING
from firmable_company_data_pipeline_spark.functions.textstats import (
    HASH_MOD,
    char_fold_hash,
)

# Printable-ASCII text (Spark ascii()/DuckDB ascii() agree on this range).
ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40
)
abn_chars = st.text(alphabet="0123456789 -x", min_size=0, max_size=16)

SETTINGS = settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


def _batch(spark, values, colfn, in_type="string"):
    df = spark.createDataFrame([(v,) for v in values], f"v {in_type}")
    return [r[0] for r in df.select(colfn(F.col("v")).alias("o")).collect()]


@SETTINGS
@given(st.lists(abn_chars, min_size=1, max_size=30))
def test_validate_abn_property(spark, vals):
    def oracle(abn):
        cleaned = re.sub(r"[\s\-]", "", abn)
        if not re.fullmatch(r"\d{11}", cleaned):
            return False
        w = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
        total = sum(
            (int(d) - 1 if i == 0 else int(d)) * w[i] for i, d in enumerate(cleaned)
        )
        return total % 89 == 0

    got = _batch(spark, vals, lib.validate_abn)
    assert got == [oracle(v) for v in vals]


def _levenshtein(a, b):
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[len(b)]


def _state_oracle(state, threshold=85.0):
    """F9 as a Python loop: exact key (as cleaned, or despaced) in map
    order, else the best Levenshtein ratio above ``threshold``, the
    earlier map entry on ties. Spark's ``trim`` strips spaces only, and
    Java's ``\\s`` is the ASCII whitespace class."""
    if state is None:
        return None
    cleaned = re.sub(r"[.\s]+", " ", state.strip(" ").upper(), flags=re.ASCII)
    cleaned = cleaned.strip(" ")
    despaced = cleaned.replace(" ", "")
    for key, abbrev in STATE_MAPPING.items():
        if key in (cleaned, despaced):
            return abbrev

    def ratio(key):
        max_len = max(len(cleaned), len(key))
        return 100.0 if max_len == 0 else (
            (1.0 - _levenshtein(cleaned, key) / max_len) * 100.0
        )

    score, _, abbrev = max(
        (ratio(key), -i, abbrev) for i, (key, abbrev) in enumerate(STATE_MAPPING.items())
    )
    return abbrev if score > threshold else None


def _extract_abn_oracle(text):
    """F5 as a Python loop: the ``ABN``-prefixed run, then the first bare
    2-3-3-3 digit group; keep the first that is non-empty and valid."""
    if text is None:
        return None
    for pattern, flags in (
        (r"ABN[:\s]*([0-9 ]{11,20})", re.IGNORECASE | re.ASCII),
        (r"\b(\d{2}\s?\d{3}\s?\d{3}\s?\d{3})\b", re.ASCII),
    ):
        m = re.search(pattern, text, flags)
        cand = re.sub(r"\s+", "", m.group(1), flags=re.ASCII) if m else ""
        if cand and _abn_valid(cand):
            return cand
    return None


def _abn_valid(abn):
    if not re.fullmatch(r"[0-9]{11}", abn):
        return False
    w = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    return sum((int(d) - 1 if i == 0 else int(d)) * w[i] for i, d in enumerate(abn)) % 89 == 0


# (input, expected): each names a case the oracle must also agree on.
STATE_CASES = [
    (None, None),
    ("", None),
    ("   ", None),
    ("N.S.W.", "NSW"),
    ("S.A.", "SA"),
    ("S A", "SA"),
    (" new  south wales ", "NSW"),
    ("QUEENSLND", "QLD"),  # one edit in ten: ratio 90 > 85
    ("QUENSLND", None),  # two edits in ten: ratio 80, under the bar
    ("TASMNIA", "TAS"),  # one edit in eight: ratio 87.5
]
VALID_ABNS = ["51824753556", "61195537215", "91191239662", "85675197253"]
ABN_CASES = [
    (None, None),
    ("", None),
    ("   ", None),
    ("ABN: 51 824 753 556", "51824753556"),
    # The ABN-prefixed run fails the checksum; the bare group passes.
    ("ABN: 1234 5678 9012 call 51 824 753 556", "51824753556"),
    # A run longer than 11 digits is one invalid candidate.
    ("ABN: 518247535561234", None),
    ("abn 51824753556 0000 then 61 195 537 215", "51824753556"),
    ("ABN 12345678901 and 91191239662", None),
]

state_text = st.one_of(
    st.none(),
    st.text(alphabet="NSWVICQLDTAERHOUY nswqld.\t-", max_size=20),
    st.builds(
        lambda key, pos, ch: key[:pos] + ch + key[pos + 1 :],
        st.sampled_from(list(STATE_MAPPING)),
        st.integers(0, 28),
        st.sampled_from(["", "X", ".", " ", "A"]),
    ),
)
abn_text = st.one_of(
    st.none(),
    st.lists(
        st.one_of(
            st.sampled_from(["ABN", "abn:", "ABN: ", " ", "x", ".", "-", *VALID_ABNS,
                             "51 824 753 556", "85 675 197 253"]),
            st.text(alphabet="0123456789 ", max_size=14),
        ),
        max_size=6,
    ).map("".join),
)


def test_standardize_state_cases(spark):
    vals = [v for v, _ in STATE_CASES]
    got = _batch(spark, vals, lib.standardize_state)
    assert got == [e for _, e in STATE_CASES]
    assert got == [_state_oracle(v) for v in vals]
    # "SWA" is one deletion from both "SA" and "WA": map order picks SA.
    tied = _batch(spark, ["SWA"], lambda c: lib.standardize_state(c, 60.0))
    assert tied == ["SA"] == [_state_oracle("SWA", 60.0)]


@SETTINGS
@given(st.lists(state_text, min_size=1, max_size=30))
def test_standardize_state_property(spark, vals):
    got = _batch(spark, vals, lib.standardize_state)
    assert got == [_state_oracle(v) for v in vals]


def test_extract_abn_cases(spark):
    vals = [v for v, _ in ABN_CASES]
    got = _batch(spark, vals, lib.extract_abn)
    assert got == [e for _, e in ABN_CASES]
    assert got == [_extract_abn_oracle(v) for v in vals]


@SETTINGS
@given(st.lists(abn_text, min_size=1, max_size=30))
def test_extract_abn_property(spark, vals):
    got = _batch(spark, vals, lib.extract_abn)
    assert got == [_extract_abn_oracle(v) for v in vals]


@SETTINGS
@given(st.lists(ascii_text, min_size=1, max_size=30))
def test_clean_text_property(spark, vals):
    got = _batch(spark, vals, lib.clean_text)
    assert got == [" ".join(v.split(" ")).strip() if v else v for v in
                   [re.sub(r"\s+", " ", v) for v in vals]]


@SETTINGS
@given(st.lists(ascii_text, min_size=1, max_size=30))
def test_clean_company_name_idempotent(spark, vals):
    once = _batch(spark, vals, lib.clean_company_name)
    twice = _batch(spark, [v or "" for v in once], lib.clean_company_name)
    # Idempotency on non-null results: cleaning an already-clean name is a
    # no-op EXCEPT for initcap interactions (e.g. "McA" -> "Mca" stays).
    for a, b in zip(once, twice):
        assert (a or "") == (b or "")


@SETTINGS
@given(st.lists(st.tuples(ascii_text, ascii_text), min_size=1, max_size=30))
def test_token_sort_ratio_properties(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    rows = df.select(
        lib.token_sort_ratio(F.col("a"), F.col("b")).alias("ab"),
        lib.token_sort_ratio(F.col("b"), F.col("a")).alias("ba"),
        lib.token_sort_ratio(F.col("a"), F.col("a")).alias("aa"),
    ).collect()
    for r in rows:
        assert 0.0 <= r["ab"] <= 100.0
        assert r["ab"] == r["ba"]  # symmetry
        assert r["aa"] == 100.0  # reflexivity


@SETTINGS
@given(st.lists(ascii_text, min_size=1, max_size=30))
def test_char_fold_hash_matches_python(spark, vals):
    def oracle(s):
        h = 0
        for c in s:
            h = (h * 31 + ord(c)) % HASH_MOD
        return h

    got = _batch(spark, vals, char_fold_hash)
    assert got == [oracle(v) for v in vals]


@SETTINGS
@given(st.lists(st.integers(min_value=0, max_value=10**12), min_size=1, max_size=30))
def test_abn_zero_pad_checksum_consistency(spark, keys):
    """lpad'd numeric candidates: Spark validity == Python checksum."""
    vals = [str(k).zfill(11)[:11] for k in keys]
    got = _batch(spark, vals, lib.validate_abn)
    w = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]
    exp = [
        sum((int(d) - 1 if i == 0 else int(d)) * w[i] for i, d in enumerate(v)) % 89
        == 0
        for v in vals
    ]
    assert got == exp


@SETTINGS
@given(st.lists(ascii_text, min_size=1, max_size=30))
def test_redact_pii_idempotent_and_complete(spark, vals):
    """redact_pii is idempotent, and redacted text yields no extractable
    emails/phones (completeness against the shared patterns)."""
    once = _batch(spark, vals, lib.redact_pii)
    twice = _batch(spark, once, lib.redact_pii)
    assert once == twice
    residual_emails = _batch(
        spark, once, lambda c: F.size(lib.extract_emails(c))
    )
    assert all(n == 0 for n in residual_emails)


@SETTINGS
@given(st.lists(st.tuples(ascii_text, ascii_text), min_size=1, max_size=20))
def test_py_token_sort_ratio_properties(spark, pairs):
    """Pure-Python parity scorer invariants: symmetric, 0..100, 100 iff
    sorted-token forms are equal."""
    from firmable_company_data_pipeline_spark.functions.similarity import (
        py_token_sort_ratio,
    )

    for a, b in pairs:
        s = py_token_sort_ratio(a, b)
        assert 0.0 <= s <= 100.0
        assert s == py_token_sort_ratio(b, a)
        same = " ".join(sorted(a.split())) == " ".join(sorted(b.split()))
        assert (s == 100.0) == same


word_text = st.lists(
    st.text(alphabet="abcdefg", min_size=1, max_size=4), min_size=0, max_size=20
).map(" ".join)


@SETTINGS
@given(st.lists(st.tuples(word_text, st.sampled_from(["s0", "s1"])), min_size=1, max_size=12))
def test_pack_sequences_invariants(spark, rows):
    """Packing plan invariants for arbitrary corpora: offsets stay under
    the budget, bins are contiguous from 0 within each shard, and the
    (bin, offset) sequence reproduces the running token total."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    budget = 7
    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, source string",
    )
    out = sorted(
        cu.pack_sequences(df, budget=budget).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    cum = {}
    for r in out:
        assert 0 <= r["tok_offset"] < budget
        expect = cum.get(r["shard"], 0)
        assert r["seq_bin"] == expect // budget
        assert r["tok_offset"] == expect % budget
        cum[r["shard"]] = expect + r["n_tok"]


@SETTINGS
@given(st.lists(word_text, min_size=1, max_size=12))
def test_repetition_stats_bounds(spark, texts):
    """Fraction bounds: dup_word and dup_trigram in [0, 1]; top_bigram
    >= 0 (may exceed 1 only for overlapping degenerate repeats); n_tok
    positive; keep consistent with the thresholds."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in cu.repetition_stats(df).collect():
        assert r["n_tok"] >= 1
        assert 0.0 <= r["dup_word_frac"] <= 1.0
        assert 0.0 <= r["dup_trigram_frac"] <= 1.0
        assert r["top_bigram_frac"] >= 0.0
        expect = (
            r["dup_word_frac"] <= cu.DUP_WORD_MAX
            and r["top_bigram_frac"] <= cu.TOP_BIGRAM_MAX
            and r["dup_trigram_frac"] <= cu.DUP_TRIGRAM_MAX
        )
        assert r["keep"] == expect


@SETTINGS
@given(st.lists(st.tuples(word_text, st.sampled_from(["en", "fr"])), min_size=1, max_size=15))
def test_stratified_split_partition_property(spark, rows):
    """Every doc lands in exactly one split, assignment depends only on
    (stratum, id), and bucket thresholds are respected."""
    from firmable_company_data_pipeline_spark.operators import curation as cu

    df = spark.createDataFrame(
        [(i, t, lang) for i, (t, lang) in enumerate(rows)],
        "doc_id long, text string, lang string",
    )
    out = cu.stratified_split(df).collect()
    assert len(out) == len(rows)
    for r in out:
        lo, hi = {
            "train": (0, cu.SPLIT_TRAIN),
            "val": (cu.SPLIT_TRAIN, cu.SPLIT_VAL),
            "test": (cu.SPLIT_VAL, 100),
        }[r["split"]]
        assert lo <= r["bucket"] < hi


words = st.sampled_from(
    ["spark", "join", "window", "scan", "filter", "merge", "sort", "agg"]
)
doc_texts = st.lists(words, min_size=1, max_size=12).map(" ".join)


@SETTINGS
@given(st.lists(doc_texts, min_size=2, max_size=12))
def test_bm25_matches_python_reference(spark, texts):
    """bm25_topk equals a from-scratch Python BM25 on arbitrary corpora
    (idf floor, length normalization, rounding, tie-break ordering)."""
    import math

    from firmable_company_data_pipeline_spark.operators import retrieval as rt

    terms = ("spark", "join")
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["bm25"], r["rank"])
        for r in rt.bm25_topk(docs, terms, k=100).collect()
    }

    toks = [t.split() for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {q: sum(1 for t in toks if q in t) for q in terms}
    exp = {}
    for i, t in enumerate(toks):
        score = 0.0
        for q in terms:
            tf = t.count(q)
            if tf == 0:
                continue
            idf = math.log(1 + (n - df[q] + 0.5) / (df[q] + 0.5))
            score += idf * tf * (rt.BM25_K1 + 1) / (
                tf + rt.BM25_K1 * (1 - rt.BM25_B + rt.BM25_B * len(t) / avgdl)
            )
        if score > 0:
            exp[i] = round(score, 4)
    assert set(got) == set(exp)
    for i, s in exp.items():
        assert got[i][0] == pytest.approx(s, abs=2e-4)
    # ranks must follow (score desc, id asc) on the ROUNDED scores
    order = sorted(exp, key=lambda i: (-exp[i], i))
    assert [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][1])] == order


event_types = st.sampled_from(["view", "click", "purchase", "error"])


@SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 50), event_types),
        min_size=1,
        max_size=25,
    )
)
def test_funnel_stages_match_python_simulation(spark, evs):
    """funnel_user_stages equals a direct first-touch chain simulation
    for arbitrary (user, ts, type) event sets."""
    import datetime as dt

    from firmable_company_data_pipeline_spark.operators import behavior as bh

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m), u, t)
        for i, (u, m, t) in enumerate(evs)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r["user_id"]: r["stage"] for r in bh.funnel_user_stages(df).collect()}

    steps = ("view", "click", "purchase")
    exp = {}
    for u in {r[2] for r in rows}:
        mine = sorted((r[1], r[3]) for r in rows if r[2] == u)
        # first-touch chaining: each stage's time is the MIN qualifying
        # event strictly after the previous stage's time
        t_prev, stage = None, 0
        for s in steps:
            cands = [ts for ts, et in mine if et == s and (t_prev is None or ts > t_prev)]
            if not cands:
                break
            t_prev = min(cands)
            stage += 1
        exp[u] = stage
    assert got == exp


# ---------------------------------------------------------------------------
# Distributed global-order primitives (operators/ranks, round 6): the
# Spark results must match a pure-Python restatement of the semantics —
# an oracle independent of both the engine window implementation and
# the module's own offset arithmetic.


def _py_ntile(vals, n):
    order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
    big, small = divmod(len(vals), n)
    out, pos = [0] * len(vals), 0
    for b in range(1, n + 1):
        size = big + (1 if b <= small else 0)
        for _ in range(size):
            if pos >= len(vals):
                break
            out[order[pos]] = b
            pos += 1
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(-20, 20), min_size=1, max_size=50),
    st.integers(min_value=1, max_value=11),
)
def test_exact_ntile_matches_python_oracle(spark, vals, n_buckets):
    from firmable_company_data_pipeline_spark.operators import ranks as rk

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    got = {
        r["id"]: r["bucket"]
        for r in rk.exact_ntile(df, n_buckets, ["v", "id"]).collect()
    }
    want = dict(enumerate(_py_ntile(vals, n_buckets)))
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(-30, 30), min_size=1, max_size=50))
def test_prefix_agg_and_rank_match_python_oracle(spark, vals):
    from firmable_company_data_pipeline_spark.operators import ranks as rk

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )
    out = {
        r["id"]: (r["rank"], r["prefix"])
        for r in rk.prefix_agg(
            df, ["v", "id"], "v", fn="sum", inclusive=False, rank_out="rank"
        ).collect()
    }
    order = sorted(range(len(vals)), key=lambda i: (vals[i], i))
    run, want = 0, {}
    for pos, i in enumerate(order):
        want[i] = (pos + 1, None if pos == 0 else run)
        run += vals[i]
    assert out == want


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=0, max_size=40
    )
)
def test_incremental_fold_chain_matches_union_find(spark, edges):
    """Round-7 property armor for the delta-local incremental fold: for
    ANY pair graph split into three eras (by max endpoint mod 3 — the
    dedup_clusters_incremental2 partition), batch-clustering era 0 and
    folding eras 1 and 2 in sequence must equal an independent Python
    union-find over the full edge set (min-member labels), including
    self-loops, singleton carriers, and cluster merges across eras."""
    from firmable_company_data_pipeline_spark.operators import dedup as dd

    # python union-find oracle over ALL edges
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    schema = "id_a long, id_b long"
    eras = {r: [e for e in edges if max(e) % 3 == r] for r in range(3)}
    dfs = {
        r: spark.createDataFrame(eras[r], schema)
        if eras[r]
        else spark.createDataFrame([], schema)
        for r in range(3)
    }
    labels = dd.connected_components(dfs[0], deep_graphs=True)
    labels = dd.incremental_components(labels.persist(), dfs[1])
    labels = dd.incremental_components(labels.persist(), dfs[2])
    got = {r["doc_id"]: r["cluster_id"] for r in labels.collect()}
    assert got == want


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # key
            st.integers(min_value=0, max_value=9),   # ts (deduped below)
            st.sampled_from(["A", "B", None]),       # value (nullable)
        ),
        min_size=1,
        max_size=25,
    )
)
def test_scd2_rebuild_matches_python_oracle(spark, rows):
    """scd2_rebuild vs a pure-Python fold: same compaction, same
    validity chaining, for arbitrary feeds including NULL values."""
    from firmable_company_data_pipeline_spark.operators.merge import scd2_rebuild

    # enforce the operator's contract: one observation per (key, ts)
    feed = {}
    for k, ts, v in rows:
        feed[(k, ts)] = v
    data = [(k, ts, v) for (k, ts), v in sorted(feed.items())]

    def oracle():
        out = []
        by_key: dict = {}
        for k, ts, v in data:
            by_key.setdefault(k, []).append((ts, v))
        for k, obs in by_key.items():
            obs.sort()
            compacted = []
            for ts, v in obs:
                if not compacted or compacted[-1][1] != v:
                    compacted.append((ts, v))
            for i, (ts, v) in enumerate(compacted):
                nxt = compacted[i + 1][0] if i + 1 < len(compacted) else None
                out.append((k, v, ts, nxt))
        return sorted(out, key=lambda r: (r[0], r[2]))

    df = spark.createDataFrame(data, "k int, ts int, v string")
    got = sorted(
        (
            (r["k"], r["v"], r["valid_from"], r["valid_to"])
            for r in scd2_rebuild(df, ["k"], "ts", ["v"]).collect()
        ),
        key=lambda r: (r[0], r[2]),
    )
    assert got == oracle()


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.floats(min_value=-50.0, max_value=600.0, allow_nan=False, width=64),
        min_size=0,
        max_size=40,
    ),
    st.integers(min_value=0, max_value=40),
)
def test_hist_partials_merge_to_full_build(spark, vals, cut):
    """hist_merge(partial(A) ∪ partial(B)) == partial(A ∪ B) for any
    split — the mergeability contract the streaming refresh relies on;
    out-of-range values clamp into the edge bins, never disappear."""
    from firmable_company_data_pipeline_spark.operators import sketches as sk

    cut = min(cut, len(vals))
    mk = lambda rows: spark.createDataFrame(
        [(float(v),) for v in rows], "value double"
    )
    full = {(r["bin"], r["cnt"]) for r in sk.hist_partial(mk(vals)).collect()}
    merged = {
        (r["bin"], r["cnt"])
        for r in sk.hist_merge(
            sk.hist_partial(mk(vals[:cut])).unionByName(
                sk.hist_partial(mk(vals[cut:]))
            )
        ).collect()
    }
    assert merged == full
    assert sum(c for _, c in full) == len(vals)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),      # key
            st.sampled_from(["A", "B", "C", None]),     # new value
        ),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t[0],
    )
)
def test_scd2_apply_reapplication_is_noop(spark, upd_rows):
    """Applying the same update batch twice must equal applying it once
    — the idempotence streaming_scd2_dimension's at-least-once
    redelivery safety rests on (re-applied equal attributes classify as
    'unchanged')."""
    from firmable_company_data_pipeline_spark.operators.merge import scd2_apply

    dim = spark.createDataFrame(
        [(k, "A", 1, None) for k in range(3)],
        "k int, v string, valid_from int, valid_to int",
    )
    updates = spark.createDataFrame(
        [(k, v, 5) for k, v in upd_rows], "k int, v string, as_of int"
    )
    once = scd2_apply(dim, updates, ["k"])
    twice = scd2_apply(once, updates, ["k"])

    def rows(df):
        return sorted(
            ((r["k"], r["v"], r["valid_from"], r["valid_to"]) for r in df.collect()),
            key=lambda t: (t[0], t[2], str(t[1])),
        )

    assert rows(twice) == rows(once)


word = st.text(alphabet="abcdefgh", min_size=1, max_size=3)
doc_text = st.lists(word, min_size=0, max_size=40).map(" ".join)


@SETTINGS
@given(st.lists(doc_text, min_size=1, max_size=12))
def test_block_dedup_properties(spark, texts):
    """Structural invariants of C4 block dedup against a Python oracle
    on arbitrary corpora: per-doc flags match a first-seen-wins replay
    in (doc_id, block_idx) order, the kept-block multiset equals the
    distinct block universe, and reassembly preserves within-doc block
    order."""
    from firmable_company_data_pipeline_spark.operators.dedup import block_dedup

    B = 4
    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in block_dedup(df, block_tokens=B).collect()}

    seen: set = set()
    for i, t in docs:
        # tokens() of all-whitespace/empty text is [''] (one empty token)
        toks = t.strip().split() if t.strip() else [""]
        blocks = [
            " ".join(toks[j : j + B]) for j in range(0, len(toks), B)
        ] or []
        kept = []
        for b in blocks:
            if b not in seen:
                seen.add(b)
                kept.append(b)
        row = out[i]
        assert row["n_blocks"] == len(blocks)
        assert row["n_kept"] == len(kept)
        want = " ".join(kept) if kept else None
        assert row["clean_text"] == want, (i, t, row, want)


# ---------------------------------------------------------------------------
# KMV sketch properties (round 12).
@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=1, max_size=300),
    st.integers(min_value=1, max_value=4),
)
def test_kmv_merge_of_any_split_equals_one_pass(spark, keys, n_splits):
    """Mergeability: split the key stream arbitrarily, sketch each part,
    fold — the result must equal the single-pass sketch (the claim the
    streaming refresh rests on)."""
    from firmable_company_data_pipeline_spark.operators.sketches import (
        kmv_merge,
        kmv_partial,
    )

    k = 16
    rows = [("g", v) for v in keys]
    full = spark.createDataFrame(rows, "g string, u long")
    one_pass = {tuple(r.hs) for r in kmv_partial(full, "g", "u", k).collect()}
    parts = [
        spark.createDataFrame(rows[i::n_splits] or [("g", keys[0])], "g string, u long")
        for i in range(n_splits)
    ]
    partials = [kmv_partial(p, "g", "u", k) for p in parts]
    u = partials[0]
    for p in partials[1:]:
        u = u.union(p)
    folded = {tuple(r.hs) for r in kmv_merge(u, k).collect()}
    assert folded == one_pass


@settings(max_examples=5, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=200
    ),
    st.lists(
        st.integers(min_value=-(10**12), max_value=10**12), min_size=1, max_size=50
    ),
)
def test_bloom_semi_join_exact_on_random_keys(spark, left_keys, right_keys):
    """The bloom prefilter can only delete provably-unmatched rows: over
    arbitrary (including negative) key sets and a deliberately dense
    256-bit vector, the result equals the plain semi-join."""
    from firmable_company_data_pipeline_spark.operators.joins import bloom_semi_join

    left = spark.createDataFrame([(v,) for v in left_keys], "k long")
    right = spark.createDataFrame([(v,) for v in right_keys], "r long")
    got = sorted(
        r.k for r in bloom_semi_join(left, right, "k", "r", n_bits=256).collect()
    )
    want = sorted(v for v in left_keys if v in set(right_keys))
    assert got == want


# ---------------------------------------------------------------------------
# as-of join property (round 12): all three directions + tolerance vs a
# direct Python restatement of the documented spec, over random keyed
# time series (unique right (key, ts) pairs — the registered queries
# pre-aggregate to that grain, making tie-breaks engine-independent).
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)), min_size=1, max_size=25
    ),
    st.sampled_from(["backward", "forward", "nearest"]),
    st.one_of(st.none(), st.integers(1, 15)),
)
def test_asof_join_matches_python_spec(spark, lefts, rights, direction, tol):
    from firmable_company_data_pipeline_spark.operators.temporal import asof_join

    rights = sorted({(k, t) for k, t in rights})  # unique (key, ts)
    rdf = spark.createDataFrame(
        [(k, t, 100 + i) for i, (k, t) in enumerate(rights)],
        "k long, rts long, payload long",
    )
    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "lid long, k long, lts long"
    )

    def oracle(k, t):
        back = [(rt, p) for (rk, rt), p in
                zip(rights, range(100, 100 + len(rights))) if rk == k and rt <= t]
        fwd = [(rt, p) for (rk, rt), p in
               zip(rights, range(100, 100 + len(rights))) if rk == k and rt >= t]
        b = max(back) if back else None          # greatest ts wins
        f = min(fwd) if fwd else None            # smallest ts wins
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = b if (b and b[0] == t) else f    # exact match via backward
        else:
            if b is None:
                m = f
            elif f is None:
                m = b
            else:
                m = f if abs(f[0] - t) < abs(b[0] - t) else b  # ties -> backward
        if m is not None and tol is not None and abs(m[0] - t) > tol:
            m = None
        return m

    out = asof_join(
        ldf, rdf, key="k", left_ts="lts", right_ts="rts",
        right_cols=["payload"], direction=direction, tolerance=tol,
    ).collect()
    got = {r.lid: (r.asof_rts, r.asof_payload) for r in out}
    want = {
        i: ((m[0], m[1]) if (m := oracle(k, t)) else (None, None))
        for i, (k, t) in enumerate(lefts)
    }
    assert got == want


# ---------------------------------------------------------------------------
# Level-synchronous BFS property (round 12): hop distances vs a direct
# Python BFS over the same undirected random graph.
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=30),
    st.lists(st.integers(0, 14), min_size=1, max_size=3),
    st.integers(1, 4),
)
def test_bfs_levels_matches_python_bfs(spark, edges, seeds, max_hops):
    from collections import deque

    from firmable_company_data_pipeline_spark.operators.graph import bfs_levels

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want: dict[int, int] = {}
    q = deque((s, 0) for s in set(seeds))
    for s in set(seeds):
        want[s] = 0
    while q:
        node, d = q.popleft()
        if d == max_hops:
            continue
        for nb in adj.get(node, ()):
            if nb not in want:
                want[nb] = d + 1
                q.append((nb, d + 1))

    edf = spark.createDataFrame(edges or [(99, 99)], "src long, dst long")
    if not edges:
        edf = edf.limit(0)
    sdf = spark.createDataFrame([(s,) for s in set(seeds)], "id long")
    got = {
        r.id: r.dist
        for r in bfs_levels(edf, sdf, max_hops=max_hops).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Weighted-median property (round 12): the registered query's
# arithmetic vs a direct Python computation of the discrete rule.
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["A", "B"]),
            st.integers(1, 30),      # price (as int -> double)
            st.integers(1, 9),       # weight
        ),
        min_size=1,
        max_size=40,
    )
)
def test_weighted_median_matches_python_spec(spark, tmp_path_factory, rows):
    import os as _os

    from firmable_company_data_pipeline_spark.queries.warehouse import (
        weighted_median_price,
    )

    d = str(tmp_path_factory.mktemp("wm"))
    df = spark.createDataFrame(
        [(g, float(p), float(w)) for g, p, w in rows],
        "l_returnflag string, l_extendedprice double, l_quantity double",
    )
    df.write.mode("overwrite").parquet(_os.path.join(d, "lineitem.parquet"))
    got = {
        r.l_returnflag: (r.weighted_median_price, r.total_weight)
        for r in weighted_median_price(spark, d).collect()
    }

    want = {}
    for g in {g for g, _, _ in rows}:
        acc: dict[int, int] = {}
        for gg, p, w in rows:
            if gg == g:
                acc[p] = acc.get(p, 0) + w
        tot = sum(acc.values())
        cum = 0
        for p in sorted(acc):
            cum += acc[p]
            if 2 * cum >= tot:
                want[g] = (float(p), tot)
                break
    assert got == want
