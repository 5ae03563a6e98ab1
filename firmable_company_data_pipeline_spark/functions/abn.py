"""ABN (Australian Business Number) validation & extraction.

Reference F4/F5/F12 (extract/commoncrawl_scraper.py:40-57,
transform/data_cleaning.py:71-75).

The mod-89 weighted checksum is eleven weighted ``substring`` terms over
the input, bound once (``bind.let``), so it stays JVM-side and is
trivially mirrored by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.functions.bind import let

# Weights per extract/commoncrawl_scraper.py:45; first digit gets -1 first.
ABN_WEIGHTS = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]


def _strip_abn(abn: Column) -> Column:
    return F.regexp_replace(abn.cast("string"), r"[\s\-]", "")


def clean_abn(abn: Column) -> Column:
    """Strip ``[\\s-]``; NULL unless exactly 11 chars remain (F12)."""
    stripped = _strip_abn(abn)
    return F.when(F.length(stripped) == 11, stripped)


def abn_checksum_total(abn11: Column) -> Column:
    """Weighted checksum total of an 11-digit string (no validity gate).

    ``sum((d0-1)*10, d1*1, d2*3, ...)`` per the published ABN algorithm
    (extract/commoncrawl_scraper.py:44-47).
    """
    # Build explicitly to keep the expression readable and oracle-mirrorable.
    total = None
    for i, w in enumerate(ABN_WEIGHTS):
        d = F.substring(abn11, i + 1, 1).cast("int")
        term = (d - 1) * w if i == 0 else d * w
        total = term if total is None else total + term
    return total


def validate_abn(abn: Column) -> Column:
    """Boolean: stripped input is 11 digits and checksum % 89 == 0 (F4)."""
    return let(
        _strip_abn(abn),
        lambda stripped: F.when(
            stripped.isNull() | ~stripped.rlike(r"^[0-9]{11}$"), F.lit(False)
        ).otherwise(abn_checksum_total(stripped) % 89 == 0),
    )


def extract_abn(text: Column) -> Column:
    """First ABN-looking substring that passes validation, de-spaced (F5).

    Reference tries ``ABN[:\\s]*([0-9 ]{11,20})`` then the bare
    ``\\d{2}\\s?\\d{3}\\s?\\d{3}\\s?\\d{3}`` pattern, case-insensitively,
    and keeps the first candidate that validates
    (extract/commoncrawl_scraper.py:50-57).
    """
    def kept(t: Column, pattern: str) -> Column:
        cand = F.regexp_replace(F.regexp_extract(t, pattern, 1), r"\s+", "")
        return let(cand, lambda c: F.when((c != "") & validate_abn(c), c))

    # coalesce extracts the second candidate only when the first is not kept.
    return let(
        text,
        lambda t: F.coalesce(
            kept(t, r"(?i)ABN[:\s]*([0-9 ]{11,20})"),
            kept(t, r"\b(\d{2}\s?\d{3}\s?\d{3}\s?\d{3})\b"),
        ),
    )
