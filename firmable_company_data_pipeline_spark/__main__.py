"""CLI orchestrator — the reference's ``python run_pipeline.py`` UX
(``run_pipeline.py:1-26``: extract CC → extract ABR → clean → match,
smoke default of 5 records/source), Spark-native.

    python -m firmable_company_data_pipeline_spark --demo
    python -m firmable_company_data_pipeline_spark \
        --cc-index idx.jsonl --abr-xml part1.xml --out matched.parquet \
        --cc-limit 1000 --abr-limit 50000 [--online] [--enable-llm]

``--demo`` synthesizes a 3-company fixture (checksum-valid ABNs, stub
WARC pages) so the full pipeline runs offline end-to-end and prints the
matched dimension.  Without ``--online`` the WARC fetch uses the
deterministic offline stub; ``--online`` swaps in the ranged-GET client
(requires ``requests``/``warcio``).
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

_SLUGS = ("acme-books", "bravo-builders", "cedar-farms")


def _demo_inputs(d: Path) -> tuple[str, str]:
    from firmable_company_data_pipeline_spark.sources.commoncrawl import (
        _checksum_valid_abn,
    )

    recs = []
    for slug in _SLUGS:
        num = sum(ord(c) for c in slug)
        abn, name, pc = _checksum_valid_abn(num), slug.replace("-", " ").title(), 2000 + num % 999
        recs.append(
            f'<ABR recordLastUpdatedDate="20240101">'
            f'<ABN status="ACT" ABNStatusFromDate="20200101">{abn}</ABN>'
            f"<EntityType><EntityTypeInd>PRV</EntityTypeInd>"
            f"<EntityTypeText>Australian Private Company</EntityTypeText></EntityType>"
            f'<MainEntity><NonIndividualName type="MN">'
            f"<NonIndividualNameText>{name}</NonIndividualNameText></NonIndividualName>"
            f"<BusinessAddress><AddressDetails><State>NSW</State>"
            f"<Postcode>{pc}</Postcode></AddressDetails></BusinessAddress></MainEntity></ABR>"
        )
    xml = d / "abr.xml"
    xml.write_text("<Transfer>" + "\n".join(recs) + "</Transfer>")
    idx = d / "index.jsonl"
    idx.write_text(
        "\n".join(
            json.dumps(
                {
                    "url": f"https://www.{slug}.com.au/",
                    "filename": f"crawl-data/seg/{i}.warc.gz",
                    "offset": str(1000 * i),
                    "length": "500",
                    "status": "200",
                    "mime": "text/html",
                }
            )
            for i, slug in enumerate(_SLUGS)
        )
    )
    return str(idx), str(xml)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="firmable_company_data_pipeline_spark")
    ap.add_argument("--demo", action="store_true", help="run on a synthetic offline fixture")
    ap.add_argument("--cc-index", help="Common Crawl index capture (JSON lines)")
    ap.add_argument("--abr-xml", help="ABR bulk-extract XML path")
    ap.add_argument("--out", help="parquet sink for the matched dimension")
    ap.add_argument("--cc-limit", type=int, default=5, help="smoke limit (reference default 5)")
    ap.add_argument("--abr-limit", type=int, default=5)
    ap.add_argument("--online", action="store_true", help="real ranged-GET WARC fetch")
    ap.add_argument("--enable-llm", action="store_true")
    args = ap.parse_args(argv)

    if not args.demo and not (args.cc_index and args.abr_xml):
        ap.error("--demo or both --cc-index and --abr-xml required")

    from firmable_company_data_pipeline_spark import get_spark
    from firmable_company_data_pipeline_spark.pipeline.run import run_pipeline_observed
    from firmable_company_data_pipeline_spark.session import materialize, materialized
    from firmable_company_data_pipeline_spark.sources.commoncrawl import (
        HttpFetchClient,
        StubFetchClient,
    )
    from firmable_company_data_pipeline_spark.sources.io import write_overwrite

    spark = get_spark("firmable-pipeline")
    # the scope releases the cascade's shared inputs and the shown frame
    with tempfile.TemporaryDirectory() as tmp, materialized():
        if args.demo:
            cc_index, abr_xml = _demo_inputs(Path(tmp))
        else:
            cc_index, abr_xml = args.cc_index, args.abr_xml
        matched, obs = run_pipeline_observed(
            spark,
            cc_index,
            abr_xml,
            commoncrawl_limit=args.cc_limit,
            abr_limit=args.abr_limit,
            fetch_client=HttpFetchClient() if args.online else StubFetchClient(),
            enable_llm=args.enable_llm,
        )
        if args.out:
            write_overwrite(matched, args.out)
            n = spark.read.parquet(args.out).count()
        else:
            matched = materialize(matched, "share")
            n = matched.count()
            matched.show(20, truncate=False)
        print(f"matched rows: {n}")
        for stage, ob in obs.items():
            print(f"observed[{stage}]: {ob.get}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
