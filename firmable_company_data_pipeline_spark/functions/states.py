"""Australian state standardization (reference F9,
transform/data_cleaning.py:31-53).

Exact-map lookup first; fuzzy fallback against the map keys with a
similarity threshold; NULL when nothing clears the bar. The reference
uses fuzzywuzzy ``process.extractOne`` (WRatio); our native fallback
scores with a Levenshtein ratio against each key and takes the arg-max —
same accept-if->85 contract, deterministic tie-break on map order.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions.bind import let
from firmable_company_data_pipeline_spark.functions.similarity import levenshtein_ratio

# transform/data_cleaning.py:31-42 — insertion order preserved for ties.
STATE_MAPPING: dict[str, str] = {
    "NSW": "NSW",
    "NEW SOUTH WALES": "NSW",
    "VIC": "VIC",
    "VICTORIA": "VIC",
    "QLD": "QLD",
    "QUEENSLAND": "QLD",
    "SA": "SA",
    "SOUTH AUSTRALIA": "SA",
    "WA": "WA",
    "WESTERN AUSTRALIA": "WA",
    "TAS": "TAS",
    "TASMANIA": "TAS",
    "ACT": "ACT",
    "AUSTRALIAN CAPITAL TERRITORY": "ACT",
    "NT": "NT",
    "NORTHERN TERRITORY": "NT",
}

# One literal array<struct<key, abbrev>> in map order, parsed JVM-side once.
_STATE_TABLE_SQL = "array({})".format(
    ", ".join(
        f"named_struct('key', '{key}', 'abbrev', '{abbrev}')"
        for key, abbrev in STATE_MAPPING.items()
    )
)


def standardize_state(state: Column, fuzzy_threshold: float = 85.0) -> Column:
    """Normalize then map; fuzzy-fallback against map keys above threshold.

    Normalization per the reference: trim, upper, collapse ``[.\\s]+`` to a
    single space (transform/data_cleaning.py:48).
    """
    table = F.expr(_STATE_TABLE_SQL)

    def resolve(cleaned: Column) -> Column:
        # Exact: first key in map order equal to ``cleaned`` or to it despaced,
        # which catches "N.S.W." → "N S W" → "NSW" (WRatio's sub-token match).
        despaced = F.replace(cleaned, F.lit(" "), F.lit(""))
        exact = F.get(F.filter(table, lambda e: e["key"].isin(cleaned, despaced)), 0)
        # Fuzzy: max by (score, -ord): highest ratio, earlier map entry on ties.
        best = F.array_max(
            F.transform(
                table,
                lambda e, i: F.struct(
                    levenshtein_ratio(cleaned, e["key"]).alias("score"),
                    (-i).alias("neg_ord"),
                    e["abbrev"].alias("abbrev"),
                ),
            )
        )
        fuzzy = F.when(best["score"] > fuzzy_threshold, best["abbrev"])
        return F.coalesce(exact["abbrev"], fuzzy)

    return let(
        F.trim(F.regexp_replace(F.upper(F.trim(state)), r"[\.\s]+", " ")), resolve
    )
