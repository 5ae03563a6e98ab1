"""Scalar function library (SURVEY.md §2.8, F1–F22).

Every function is a Column-in → Column-out native Spark expression —
JVM-side, no Python in the hot path. Inputs read in several places are
bound once (``bind.let``): that lambda body is interpreted, not compiled
by whole-stage codegen, and the per-row cost fell anyway (ARCHITECTURE §1).
"""

from firmable_company_data_pipeline_spark.functions.text import (
    clean_text,
    clean_company_name,
    clean_postcode,
    extract_company_name,
    snippet,
    title_case,
)
from firmable_company_data_pipeline_spark.functions.abn import (
    abn_checksum_total,
    clean_abn,
    extract_abn,
    validate_abn,
)
from firmable_company_data_pipeline_spark.functions.extraction import (
    extract_domain,
    extract_emails,
    extract_phones,
    extract_postcode,
    parse_json_ld,
    redact_pii,
)
from firmable_company_data_pipeline_spark.functions.states import standardize_state
from firmable_company_data_pipeline_spark.functions.similarity import (
    levenshtein_ratio,
    token_sort,
    token_sort_ratio,
)

__all__ = [
    "clean_text",
    "clean_company_name",
    "clean_postcode",
    "extract_company_name",
    "snippet",
    "title_case",
    "abn_checksum_total",
    "clean_abn",
    "extract_abn",
    "validate_abn",
    "extract_domain",
    "extract_emails",
    "extract_phones",
    "extract_postcode",
    "parse_json_ld",
    "redact_pii",
    "standardize_state",
    "levenshtein_ratio",
    "token_sort",
    "token_sort_ratio",
]
