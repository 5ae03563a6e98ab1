"""End-to-end pipeline driver — the composable API the reference sketched
but never implemented (run_pipeline.py:3-22 imports five functions that
don't exist; SURVEY.md's structural caveat). Here they exist, as lazy
DataFrame-to-DataFrame stages with data passed in memory, not via DB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from firmable_company_data_pipeline_spark.operators.matching import match_cascade
from firmable_company_data_pipeline_spark.pipeline.cleaning import (
    clean_abr_data,
    clean_commoncrawl_data,
)
from firmable_company_data_pipeline_spark.sources.commoncrawl import (
    fetch_warc_html,
    parse_pages,
    read_cc_index,
)
from firmable_company_data_pipeline_spark.sources.xml_abr import read_abr_xml


def run_commoncrawl_extraction(
    spark: SparkSession,
    index_path: str,
    limit: int | None = None,
    client=None,
) -> DataFrame:
    """Index scan → partition-parallel fetch → parse (S3→S5→S6).

    ``limit`` mirrors the reference's smoke-run default
    (run_pipeline.py:7: 5 records) and applies to the index scan,
    before the fetch.  ``client`` is an injectable fetch client object
    (``StubFetchClient`` when None).
    """
    # match_cascade leaves its inputs persisted; without the refresh a
    # later pass over a file rewritten in place is served the old rows
    spark.catalog.refreshByPath(index_path)
    idx = read_cc_index(spark, index_path)
    if limit:
        idx = idx.limit(limit)
    return parse_pages(fetch_warc_html(idx, client=client))


def parse_abr_xml(spark: SparkSession, xml_path: str, limit: int | None = None) -> DataFrame:
    """ABR bulk XML → staging rows (S1/S2).  Re-reads a file rewritten
    in place (see ``run_commoncrawl_extraction``)."""
    spark.catalog.refreshByPath(xml_path)
    df = read_abr_xml(spark, xml_path)
    return df.limit(limit) if limit else df


def match_entities(cc_clean: DataFrame, abr_clean: DataFrame, **kwargs) -> DataFrame:
    """Three-stage cascade → dim_entity_match_company_data shape."""
    return match_cascade(cc_clean, abr_clean, **kwargs)


def run_pipeline(
    spark: SparkSession,
    cc_index_path: str,
    abr_xml_path: str,
    commoncrawl_limit: int | None = None,
    abr_limit: int | None = None,
    fetch_client=None,
    enable_llm: bool = False,
) -> DataFrame:
    """extract_cc → extract_abr → clean both → match (run_pipeline.py:7-22).

    Returns the final matched dimension as a lazy DataFrame; callers pick
    the sink (``sources.io``).
    """
    return _pipeline(
        spark, cc_index_path, abr_xml_path, commoncrawl_limit, abr_limit,
        fetch_client, enable_llm, observe=lambda name, df: df,
    )


def _pipeline(
    spark, cc_index_path, abr_xml_path, commoncrawl_limit, abr_limit,
    fetch_client, enable_llm, observe,
) -> DataFrame:
    """The one extract → clean → match body; ``observe(name, frame)``
    wraps each cleaned source (``cleaned_cc``, ``cleaned_abr``)."""
    cc_raw = run_commoncrawl_extraction(
        spark, cc_index_path, limit=commoncrawl_limit, client=fetch_client
    )
    abr_raw = parse_abr_xml(spark, abr_xml_path, limit=abr_limit)
    cc_clean = observe("cleaned_cc", clean_commoncrawl_data(cc_raw))
    abr_clean = observe("cleaned_abr", clean_abr_data(abr_raw))
    return match_entities(cc_clean, abr_clean, enable_llm=enable_llm)


def run_pipeline_observed(
    spark: SparkSession,
    cc_index_path: str,
    abr_xml_path: str,
    **kwargs,
) -> tuple[DataFrame, dict]:
    """``run_pipeline`` (same keyword arguments) with in-flight metrics
    via the Observation API.

    The reference keeps running totals by counting rows in the driver
    loop (A7: extract/abr_parser.py:73,85-94, running ``total_count``;
    transform/entity_matching.py:269,298 match counts).  In Spark a
    separate ``df.count()`` per stage would re-execute the stage; an
    ``Observation`` attaches aggregates to the one real pass instead —
    zero extra jobs, exact counts, collected on the driver when the
    terminal action finishes.

    Returns ``(matched_df, observations)`` where ``observations`` maps
    stage name → Observation; call ``.get`` AFTER an action on the
    returned DataFrame, e.g.::

        df, obs = run_pipeline_observed(spark, idx, xml)
        df.write.parquet(out)
        obs["cleaned_cc"].get   # {'n_rows': ..., 'n_with_abn': ...}
    """
    import inspect

    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # run_pipeline's signature holds the defaults and rejects unknown keys
    args = inspect.signature(run_pipeline).bind(
        spark, cc_index_path, abr_xml_path, **kwargs
    )
    args.apply_defaults()
    obs = {name: Observation(name) for name in ("cleaned_cc", "cleaned_abr")}
    counts = (F.count(F.lit(1)).alias("n_rows"), F.count("abn").alias("n_with_abn"))
    return _pipeline(*args.args, observe=lambda n, df: df.observe(obs[n], *counts)), obs
