"""Entity-matching cascade (SURVEY.md §2.3, §3.3) — the reference's
flagship pipeline re-expressed Spark-first.

Reference semantics (transform/entity_matching.py):

1. **rule_based_match** — TRIM-equi-join on ABN, literals
   ``('rule_based_abn', 100.0, 'high')``, DISTINCT (lines 113-135).
2. **similarity_join (fuzzy)** — block by ``postcode``, score names with
   token_sort_ratio, keep the best candidate per crawl row if score ≥ 80;
   confidence ``high`` if ≥ 92 else ``medium`` (lines 137-174).
3. **llm_match** — per unmatched row, ask an external model to pick the
   matching candidate from the block; score 95.0 / ``medium``
   (lines 177-258).

Between stages the working set shrinks via anti-joins (lines 172-174,
256-258, 271-273); outputs union with null-padding for missing columns
(lines 57-66, 297).

Scale design (100 TB):
- The fuzzy join is an **equi-join on the block key** followed by scoring
  and a per-left-row top-1 window — Catalyst plans a shuffled hash join on
  the block key; AQE's skew-join splitting handles hot blocks (CBD
  postcodes).
- Unlike the reference's 50k-row chunking (lines 276-295), the top-1 is
  **global** over all candidates — chunk-local arg-max was a documented
  lossy quirk (SURVEY §3.3), deliberately fixed.
- The scorer is a native Column expression (whole-stage codegen); exact
  rapidfuzz parity is an opt-in Arrow-batched pandas UDF.
- The LLM stage is ``applyInPandas`` per block with an injectable client —
  batched, deterministic stub by default; at scale this is the only
  Python-boundary operator, applied solely to the cascade's residual.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions.similarity import (
    bounded_levenshtein_ratio,
    token_sort,
)
from firmable_company_data_pipeline_spark.session import materialize

# ---------------------------------------------------------------------------


def rule_based_match(
    cc: DataFrame,
    abr: DataFrame,
    cc_key: str = "abn",
    abr_key: str = "abn",
) -> DataFrame:
    """Stage 1 — exact ABN equi-join with trim-at-join semantics (J1).

    Mirrors transform/entity_matching.py:113-135: inner join on
    ``TRIM(cc.abn) = TRIM(abr.abn)``, match literals, row-level DISTINCT.

    The trim happens in the join condition (not a projection) exactly as in
    the reference — observable when keys carry CHAR-padding.
    """
    cc_a, abr_a = cc.alias("cc"), abr.alias("abr")
    joined = cc_a.join(
        abr_a,
        F.trim(F.col(f"cc.{cc_key}")) == F.trim(F.col(f"abr.{abr_key}")),
        "inner",
    )
    return joined.select(
        F.col("cc.domain").alias("domain"),
        F.col("cc.company_name").alias("company_name"),
        F.col(f"cc.{cc_key}").alias("cc_abn"),
        F.col("cc.postcode").alias("cc_postcode"),
        F.col(f"abr.{abr_key}").alias("abr_abn"),
        F.col("abr.entity_name").alias("entity_name"),
        F.col("abr.entity_type").alias("entity_type"),
        F.col("abr.state").alias("state"),
        F.col("abr.postcode").alias("abr_postcode"),
        F.lit("rule_based_abn").alias("match_method"),
        F.lit(100.0).alias("match_score"),
        F.lit("high").alias("match_confidence"),
    ).distinct()


def anti_join_residual(working: DataFrame, matched: DataFrame, key: str = "domain") -> DataFrame:
    """Remove already-matched rows between cascade stages (J3/P7).

    Reference: ``~df["domain"].isin(matched_domains)``
    (transform/entity_matching.py:172-174,271-273) — a driver-side
    collected list; here a distributed left-anti join (broadcast-able
    whenever the matched side is small, which AQE decides at runtime).
    """
    return working.join(matched.select(key).distinct(), on=key, how="left_anti")


# ---------------------------------------------------------------------------


def similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    block_key: str | tuple[str, str] = "postcode",
    threshold: float = 80.0,
    high_confidence: float = 92.0,
    scorer: str | Callable[[Column, Column], Column] = "native",
    left_id: str | None = None,
    right_id: str | None = None,
) -> DataFrame:
    """Blocked fuzzy similarity join with global per-left-row top-1 (J4/A6/O3).

    Reference: transform/entity_matching.py:137-174 — block ABR by postcode,
    ``process.extractOne(..., scorer=fuzz.token_sort_ratio)``, accept ≥
    ``threshold``, best candidate only.

    Returns ``left.* , best_<right columns> , match_score, match_confidence``
    with exactly one row per matching left row (ties broken by score desc
    then right block-key/text ascending for determinism — the reference's
    extractOne keeps first-seen order, which is list order; ours is the
    deterministic total order).

    ``scorer``: "native" (token-sort levenshtein ratio — JVM expression),
    "rapidfuzz" (exact token_sort_ratio parity via Arrow pandas UDF), or a
    custom ``(Column, Column) -> Column``.
    """
    lkey, rkey = (block_key, block_key) if isinstance(block_key, str) else block_key
    left_id = left_id or left_text

    lcol = lambda c: F.col(f"l.{c}")  # noqa: E731
    rcol = lambda c: F.col(f"r.{c}")  # noqa: E731

    # Native scorer: precompute the token-sort normalization per INPUT row
    # (N+M regexp/sort chains) instead of per joined pair (Σ|block_l|·|block_r|
    # of them) — the projection sits below the join so each side computes its
    # key once, and the per-pair work is just the bounded Levenshtein.
    lprep, rprep = left, right
    if scorer == "native":
        lprep = left.withColumn("_ts", token_sort(F.col(left_text)))
        rprep = right.withColumn("_ts", token_sort(F.col(right_text)))

    la, ra = lprep.alias("l"), rprep.alias("r")

    if scorer == "native":
        # Early-abandon ratio: exact value for every pair ≥ threshold,
        # -1.0 sentinel below it (removed by the threshold filter).
        score = bounded_levenshtein_ratio(lcol("_ts"), rcol("_ts"), threshold)
    elif scorer == "rapidfuzz":
        score = _rapidfuzz_scorer(lcol(left_text), rcol(right_text))
    else:
        score = scorer(lcol(left_text), rcol(right_text))

    scored = (
        la.join(ra, lcol(lkey) == rcol(rkey), "inner")
        .withColumn("match_score", F.round(score, 4))
        .filter(F.col("match_score") >= threshold)
    )

    order = [F.desc("match_score"), rcol(right_text).asc(), rcol(rkey).asc()]
    if right_id:
        # Final deterministic tie-break when duplicate right-side names share
        # a block (extractOne keeps first-seen list order in the reference;
        # ours is a stable total order on the right id).
        order.append(rcol(right_id).asc())
    w = Window.partitionBy(lcol(left_id)).orderBy(*order)
    top1 = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)

    out_cols = (
        [lcol(c).alias(c) for c in left.columns]
        + [rcol(c).alias(f"best_{c}") for c in right.columns]
        + [
            F.col("match_score"),
            F.when(F.col("match_score") >= high_confidence, "high")
            .otherwise("medium")
            .alias("match_confidence"),
        ]
    )
    return top1.select(*out_cols)


def _rapidfuzz_scorer(a: Column, b: Column) -> Column:
    """Exact rapidfuzz.token_sort_ratio via Arrow-batched pandas UDF.

    Opt-in slow path (UD3, transform/entity_matching.py:151-153 parity).
    When rapidfuzz is absent the pure-Python implementation in
    ``functions/similarity.py`` (same indel-distance semantics,
    equivalence-tested) scores the batch instead, so this path works —
    just slower — in every environment.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    from firmable_company_data_pipeline_spark.functions.similarity import (
        py_token_sort_ratio,
    )

    @pandas_udf("double")
    def _tsr(s1, s2):
        try:
            from rapidfuzz import fuzz

            score = fuzz.token_sort_ratio
        except ImportError:  # pure-Python fallback, identical values
            score = py_token_sort_ratio
        return pd.Series(
            [float(score(x or "", y or "")) for x, y in zip(s1, s2)]
        )

    return _tsr(a, b)


def fuzzy_match(
    cc: DataFrame,
    abr: DataFrame,
    threshold: float = 80.0,
    scorer: str | Callable = "native",
) -> DataFrame:
    """Stage 2 — fuzzy match on the dim-entity schema (J4 with the
    reference's column contract), emitting the same output shape as
    :func:`rule_based_match` with ``match_method='fuzzy'``.

    Reference confidence rule: ≥92 → high, else medium
    (transform/entity_matching.py:168).
    """
    left = cc.select("domain", "company_name", "abn", "postcode")
    right = abr.select(
        F.col("abn").alias("r_abn"),
        F.col("entity_name"),
        F.col("entity_type"),
        F.col("state"),
        F.col("postcode").alias("r_postcode"),
    )
    out = similarity_join(
        left,
        right,
        left_text="company_name",
        right_text="entity_name",
        block_key=("postcode", "r_postcode"),
        threshold=threshold,
        scorer=scorer,
        left_id="domain",
        right_id="r_abn",
    )
    return out.select(
        F.col("domain"),
        F.col("company_name"),
        F.col("abn").alias("cc_abn"),
        F.col("postcode").alias("cc_postcode"),
        F.col("best_r_abn").alias("abr_abn"),
        F.col("best_entity_name").alias("entity_name"),
        F.col("best_entity_type").alias("entity_type"),
        F.col("best_state").alias("state"),
        F.col("best_r_postcode").alias("abr_postcode"),
        F.lit("fuzzy").alias("match_method"),
        F.col("match_score"),
        F.col("match_confidence"),
    )


# ---------------------------------------------------------------------------
# Stage 3 — LLM-assisted matching (J5/UD2).


def stub_llm_client(crawl_names: list[str], candidates: list[dict]) -> list[str | None]:
    """Offline deterministic stand-in for the GPT-4 call
    (transform/entity_matching.py:228-233).

    The reference's own test recipe makes "LLM-shaped" crawl variants by
    *abbreviating* the entity name (test/entity_matching_test.py:36-42),
    so the stub resolves a crawl name to (1) the exact-lowercase-name
    candidate, else (2) the candidate whose name's initials signature
    equals the despaced crawl name — first hit in ``abn``-ascending order.

    Same call shape as a real client: a batch of names plus the block's
    candidate list in, one ``abn-or-None`` per name out.
    """

    def sig(s: str) -> str:
        return "".join(w[0] for w in s.lower().split() if w)

    by_sig: dict[str, str] = {}
    by_name: dict[str, str] = {}
    for cand in sorted(candidates, key=lambda c: c["abn"]):
        by_sig.setdefault(sig(cand["entity_name"]), cand["abn"])
        by_name.setdefault(cand["entity_name"].lower().strip(), cand["abn"])
    out = []
    for n in crawl_names:
        key = n.lower().strip()
        out.append(by_name.get(key) or by_sig.get(key.replace(" ", "")))
    return out


def _llm_match_prompt(crawl_names: list[str], candidates: list[dict]) -> str:
    """Chat prompt for one block's batch — the whole candidate list plus
    every unresolved crawl name, answered as one ABN-or-NONE per line.
    Mirrors the reference's per-chunk prompt content
    (transform/entity_matching.py:177-258) but batches the block in one
    call instead of re-serializing the candidates per row."""
    cand_lines = "\n".join(
        f"- ABN {c['abn']}: {c['entity_name']}" for c in candidates
    )
    name_lines = "\n".join(f"{i + 1}. {n}" for i, n in enumerate(crawl_names))
    return (
        "You match Australian business names scraped from websites to a "
        "register of candidate entities.\n\nCandidates:\n"
        f"{cand_lines}\n\nFor each scraped name below, answer with exactly "
        "one line in the form `<number>. <ABN>` using an ABN from the "
        "candidate list, or `<number>. NONE` if no candidate is the same "
        "business.  Abbreviations and initialisms of a candidate name are "
        "matches.  No other text.\n\nScraped names:\n"
        f"{name_lines}\n"
    )


def _parse_llm_match_response(
    text: str, crawl_names: list[str], candidates: list[dict]
) -> list[str | None]:
    """Parse the numbered ABN-or-NONE lines back into the client's
    return shape.  Defensive by construction: only ABNs present in the
    candidate list are accepted (a hallucinated ABN downstream would
    inner-join to nothing, but rejecting it here keeps the contract
    honest), anything unparseable resolves to None."""
    import re as _re

    valid = {str(c["abn"]) for c in candidates}
    out: list[str | None] = [None] * len(crawl_names)
    for line in (text or "").splitlines():
        m = _re.match(r"\s*(\d+)\s*[.):-]\s*(\S+)", line)
        if not m:
            continue
        idx = int(m.group(1)) - 1
        if not 0 <= idx < len(out):
            continue
        abn = m.group(2).strip().rstrip(".")
        out[idx] = abn if abn in valid else None
    return out


class HttpLLMClient:
    """Real model-backed arm of J5, mirroring the reference's live
    GPT-4 call (transform/entity_matching.py:228-233) through the same
    injectable seam as :func:`stub_llm_client` — and the same
    environment-gated pattern as ``sources.commoncrawl.HttpFetchClient``.

    Talks to any OpenAI-compatible chat-completions endpoint, configured
    entirely via constructor args or generic environment variables:
    ``LLM_API_URL`` (full endpoint URL), ``LLM_API_KEY`` (optional
    bearer token), ``LLM_MODEL`` (model name sent in the payload).
    Raises ``NotImplementedError`` when no endpoint is configured or
    ``requests`` is absent, so the deterministic stub remains the
    default everywhere the oracle gate runs; the prompt/parse halves
    are pure functions tested offline.

    Usage: ``match_cascade(cc, abr, enable_llm=True,
    llm_client=HttpLLMClient())`` on a machine with the env configured.
    """

    def __init__(
        self,
        url: str | None = None,
        api_key: str | None = None,
        model: str | None = None,
        timeout: float = 60.0,
    ) -> None:
        import os as _os

        self.url = url or _os.environ.get("LLM_API_URL")
        self.api_key = api_key or _os.environ.get("LLM_API_KEY")
        self.model = model or _os.environ.get("LLM_MODEL", "")
        self.timeout = timeout

    def __call__(
        self, crawl_names: list[str], candidates: list[dict]
    ) -> list[str | None]:
        if not self.url:
            raise NotImplementedError(
                "HttpLLMClient needs LLM_API_URL (an OpenAI-compatible "
                "chat-completions endpoint); use stub_llm_client offline"
            )
        try:
            import requests
        except ImportError as exc:  # pragma: no cover - env without requests
            raise NotImplementedError(
                "HttpLLMClient requires the requests package; use "
                "stub_llm_client offline"
            ) from exc
        headers = {"Content-Type": "application/json"}
        if self.api_key:
            headers["Authorization"] = f"Bearer {self.api_key}"
        payload = {
            "model": self.model,
            "temperature": 0,
            "messages": [
                {
                    "role": "user",
                    "content": _llm_match_prompt(crawl_names, candidates),
                }
            ],
        }
        resp = requests.post(
            self.url, json=payload, headers=headers, timeout=self.timeout
        )
        resp.raise_for_status()
        data = resp.json()
        try:
            content = data["choices"][0]["message"]["content"]
        except (KeyError, IndexError, TypeError) as exc:
            # some OpenAI-compatible servers return HTTP 200 with an
            # {"error": ...} body (quota, bad model) — surface the
            # payload instead of a bare KeyError inside the cascade
            raise RuntimeError(
                "unexpected chat-completions response shape: "
                f"{str(data)[:300]}"
            ) from exc
        return _parse_llm_match_response(content, crawl_names, candidates)


def llm_match(
    cc: DataFrame,
    abr: DataFrame,
    client: Callable[[list[str], list[dict]], list[str | None]] = stub_llm_client,
    block_key: str = "postcode",
    score: float = 95.0,
    confidence: str = "medium",
) -> DataFrame:
    """Stage 3 — model-assisted match of the cascade residual (J5).

    Spark formulation: co-group crawl rows and ABR candidates by block key
    with ``applyInPandas`` (one model-batch per block — the reference
    serialized the entire candidate chunk into each per-row prompt,
    transform/entity_matching.py:177-258; batching per block is the
    idiomatic distributed equivalent), then equi-join the returned ABNs
    back to ABR for the full candidate row. Emits the
    :func:`rule_based_match` output shape with
    ``match_method='LLM'``, fixed score 95.0 / ``medium``
    (transform/entity_matching.py:248-249).

    ``client`` is injectable; the default is the deterministic offline
    stub so tests and the DuckDB oracle stay reproducible (SURVEY §5.4).
    """
    import pandas as pd

    out_schema = "domain string, company_name string, abn string, postcode string, matched_abn string"

    def resolve(crawl: pd.DataFrame, cands: pd.DataFrame) -> pd.DataFrame:
        if crawl.empty:
            return pd.DataFrame(columns=out_schema.replace(" string", "").split(", "))
        if cands.empty:
            matched = [None] * len(crawl)
        else:
            matched = client(
                crawl["company_name"].fillna("").tolist(),
                cands[["abn", "entity_name"]].fillna("").to_dict("records"),
            )
        res = crawl[["domain", "company_name", "abn", "postcode"]].copy()
        res["matched_abn"] = pd.Series(matched, index=crawl.index, dtype="object")
        return res

    crawl_side = cc.select("domain", "company_name", "abn", "postcode")
    cand_side = abr.select("abn", "entity_name", block_key)
    resolved = (
        crawl_side.groupBy(block_key)
        .cogroup(cand_side.groupBy(block_key))
        .applyInPandas(resolve, out_schema)
        .filter(F.col("matched_abn").isNotNull())
    )

    abr_a = abr.alias("abr")
    return (
        resolved.alias("m")
        .join(abr_a, F.col("m.matched_abn") == F.col("abr.abn"), "inner")
        .select(
            F.col("m.domain").alias("domain"),
            F.col("m.company_name").alias("company_name"),
            F.col("m.abn").alias("cc_abn"),
            F.col("m.postcode").alias("cc_postcode"),
            F.col("abr.abn").alias("abr_abn"),
            F.col("abr.entity_name").alias("entity_name"),
            F.col("abr.entity_type").alias("entity_type"),
            F.col("abr.state").alias("state"),
            F.col("abr.postcode").alias("abr_postcode"),
            F.lit("LLM").alias("match_method"),
            F.lit(score).alias("match_score"),
            F.lit(confidence).alias("match_confidence"),
        )
    )


# ---------------------------------------------------------------------------


def match_cascade(
    cc: DataFrame,
    abr: DataFrame,
    threshold: float = 80.0,
    scorer: str | Callable = "native",
    enable_llm: bool = False,
    llm_client: Callable = stub_llm_client,
    with_timestamp: bool = True,
) -> DataFrame:
    """Full three-stage cascade (reference run_entity_matching_chunked,
    transform/entity_matching.py:261-299) as one lazy DataFrame.

    Cost ordering is the reference's design: cheap exact join first, fuzzy
    on the residual, optional LLM on what's left (README.md:241-263).
    Stage outputs that feed BOTH an anti-join residual and the final
    union are persisted (memory-and-disk, spill-safe) so neither branch
    recomputes the stage — exchange reuse alone doesn't cover the two
    different plan shapes.  The inputs ``cc`` and ``abr`` fan out to
    every tier, so they are persisted at entry too: one pass extracts and
    cleans each source once instead of once per tier (with a real fetch
    client, every extra copy re-fetches every page).
    """
    # Shared, not checkpointed (r14): callers attach Observation metrics
    # upstream (pipeline.run_pipeline_observed), and inside a checkpoint
    # the observed counts silently read 0.
    cc, abr = materialize(cc, "share"), materialize(abr, "share")
    rule = materialize(rule_based_match(cc, abr), "share")

    residual1 = anti_join_residual(cc, rule, "domain")
    fuzzy = fuzzy_match(residual1, abr, threshold=threshold, scorer=scorer)

    stages = [rule, fuzzy]
    if enable_llm:
        fuzzy = materialize(fuzzy, "share")
        stages[1] = fuzzy
        # residual1 already excludes every rule-matched domain, so the
        # second residual only needs to subtract the fuzzy matches —
        # anti-joining against rule ∪ fuzzy (as the reference recomputes
        # it, transform/entity_matching.py:271-273,287) would rescan the
        # rule output for rows that cannot be present.
        residual2 = anti_join_residual(residual1, fuzzy.select("domain"), "domain")
        stages.append(llm_match(residual2, abr, client=llm_client))

    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s, allowMissingColumns=True)
    if with_timestamp:
        out = out.withColumn("creation_dt", F.current_timestamp())
    return out


# ---------------------------------------------------------------------------
# Sorted-neighborhood matching (round 12) — the third classic blocking
# family after key-blocking (fuzzy_match) and phonetic blocking: sort
# BOTH sides on a normalized key and compare only rows that land within
# ``window`` positions of each other in the merged order (Hernandez &
# Stolfo 1995).  Catches what fixed blocks miss (near-identical names
# in DIFFERENT postcode blocks) while still never going all-pairs.
def sorted_neighborhood_match(
    cc: DataFrame,
    abr: DataFrame,
    window: int = 8,
    threshold: float = 80.0,
) -> DataFrame:
    """SNM over the merged (cc ∪ abr) stream, sorted by the token-sort
    key; each cc row pairs with every abr row within ``window`` merged
    positions, scores with the levenshtein ratio ON the keys (equal to
    token_sort_ratio on the raw names — the key IS the normalization),
    and keeps its best candidate at/above ``threshold``.

    Output: (domain, company_name, abr_abn, entity_name, match_score,
    pos_gap) — pos_gap is the merged-order distance, the SNM diagnostic
    for tuning ``window``.

    Scale shape: the global sort position comes from
    ``operators.ranks.exact_global_row_number`` (range partition +
    per-partition windows + broadcast offsets — no single-reducer
    sort), and the neighborhood pairing is an EQUI-join on the
    ``pos div window`` bucket with the cc side exploded to its three
    adjacent buckets, so each row meets O(window) candidates and the
    join shuffles on bucket ids, never a theta-join.  At 100 TB the
    candidate volume is (n_cc + n_abr) * window — linear, the whole
    point of SNM.
    """
    from firmable_company_data_pipeline_spark.functions.similarity import (
        levenshtein_ratio,
        token_sort,
    )
    from firmable_company_data_pipeline_spark.operators.ranks import (
        exact_global_row_number,
    )

    united = cc.select(
        token_sort(F.col("company_name")).alias("snm_key"),
        F.lit(1).alias("is_cc"),
        F.col("domain").alias("rid"),
        F.col("company_name").alias("name"),
    ).unionByName(
        abr.select(
            token_sort(F.col("entity_name")).alias("snm_key"),
            F.lit(0).alias("is_cc"),
            F.col("abn").alias("rid"),
            F.col("entity_name").alias("name"),
        )
    )
    pos = exact_global_row_number(united, ["snm_key", "is_cc", "rid"], out="pos")
    left = pos.filter(F.col("is_cc") == 1).select(
        F.col("rid").alias("domain"),
        F.col("name").alias("company_name"),
        F.col("snm_key").alias("l_key"),
        F.col("pos").alias("l_pos"),
        F.explode(
            F.array(
                F.expr(f"pos div {window} - 1"),
                F.expr(f"pos div {window}"),
                F.expr(f"pos div {window} + 1"),
            )
        ).alias("bucket"),
    )
    right = pos.filter(F.col("is_cc") == 0).select(
        F.col("rid").alias("abr_abn"),
        F.col("name").alias("entity_name"),
        F.col("snm_key").alias("r_key"),
        F.col("pos").alias("r_pos"),
        F.expr(f"pos div {window}").alias("bucket"),
    )
    score = F.round(levenshtein_ratio(F.col("l_key"), F.col("r_key")), 4)
    cand = (
        left.join(right, "bucket")
        .filter(F.abs(F.col("l_pos") - F.col("r_pos")) <= window)
        .select(
            "domain",
            "company_name",
            "abr_abn",
            "entity_name",
            score.alias("match_score"),
            F.abs(F.col("l_pos") - F.col("r_pos")).cast("long").alias("pos_gap"),
        )
        .filter(F.col("match_score") >= threshold)
    )
    w_best = Window.partitionBy("domain").orderBy(
        F.desc("match_score"), F.asc("entity_name"), F.asc("abr_abn")
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w_best))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
