"""ABR bulk-extract XML source (SURVEY.md §2.1 S1/S2).

Reference: ``etree.iterparse(file, tag="ABR")`` + per-record XPath pulls
(extract/abr_parser.py:51-87) over ~19M records / ~20 multi-GB XML files.

Spark-first: the built-in XML data source (Spark 4) streams each file
split-parallel with ``rowTag="ABR"`` — the ``elem.clear()`` memory bound
of the reference is the source's per-partition streaming for free — and
the XPath field pulls become nested-struct projections, so column pruning
reaches the parser.

At 100 TB: XML parsing is CPU-bound; throughput scales with input splits.
The source splits large files on record boundaries; cluster-size the read
with ``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Exactly the fields read_abr_xml projects, all as strings.  A fixed
# schema spares every read a schema-inference job (a whole extra parse of
# the bulk extract) and keeps Postcode textual: inference types it bigint,
# which turns NT's "0800" into "800".  A bare <ABN>123</ABN> still lands
# in _VALUE, and an absent element reads as NULL — the reference's
# find()-returns-None tolerance (extract/abr_parser.py:51-68).
ABR_XML_SCHEMA = (
    "ABN struct<_VALUE: string, _status: string, _ABNStatusFromDate: string>, "
    "EntityType struct<EntityTypeText: string>, "
    "MainEntity struct<"
    "NonIndividualName: struct<NonIndividualNameText: string>, "
    "BusinessAddress: struct<AddressDetails: struct<State: string, Postcode: string>>>"
)


def read_abr_xml(spark: SparkSession, path: str) -> DataFrame:
    """Read ABR XML into the staging schema (stg.abr_raw_companies analog,
    extract/abr_parser.py:27-43).

    Output columns: abn, entity_name, entity_type, entity_status, address,
    postcode, state, start_date — exactly the reference's extract tuple
    (extract/abr_parser.py:51-68), including the ``state || ' ' || postcode``
    address synthesis (line 66) and NULL-if-absent semantics.
    """
    raw = (
        spark.read.format("xml")
        .schema(ABR_XML_SCHEMA)
        .option("rowTag", "ABR")
        # attributes surface as _<name>; element text with attributes as _VALUE
        .option("attributePrefix", "_")
        .option("valueTag", "_VALUE")
        .load(path)
    )
    state = F.col("MainEntity.BusinessAddress.AddressDetails.State")
    postcode = F.col("MainEntity.BusinessAddress.AddressDetails.Postcode")
    return raw.select(
        F.col("ABN._VALUE").alias("abn"),
        F.col("MainEntity.NonIndividualName.NonIndividualNameText").alias("entity_name"),
        F.col("EntityType.EntityTypeText").alias("entity_type"),
        F.col("ABN._status").alias("entity_status"),
        # address = f"{state} {postcode}" only when both present (line 66)
        F.when(
            state.isNotNull() & postcode.isNotNull(), F.concat_ws(" ", state, postcode)
        ).alias("address"),
        postcode.alias("postcode"),
        state.alias("state"),
        F.to_date(F.col("ABN._ABNStatusFromDate"), "yyyyMMdd").alias("start_date"),
    )
