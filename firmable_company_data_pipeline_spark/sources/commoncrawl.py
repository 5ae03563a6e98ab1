"""Common Crawl source: index scan, ranged WARC fetch, HTML field parse
(SURVEY.md §2.1 S3-S6, §2.8 F1-F8).

Reference flow (extract/commoncrawl_scraper.py:211-222): stream the CC
index (JSON lines) → per-record ranged HTTP GET into a WARC decoder →
BeautifulSoup parse → field dict. Serial, one row at a time.

Spark-first redesign:
- **Index scan** — ``spark.read.json`` over the index lines; at scale the
  same index ships as parquet (``s3://commoncrawl/cc-index/table/...``) so
  the scan gets pushdown/pruning for free.
- **Fetch** — the only genuinely source-side compute: ``mapInPandas`` with
  a per-partition HTTP session, partition-parallel instead of the
  reference's serial loop. The client is injectable; the offline
  ``StubFetchClient`` fabricates deterministic HTML so the whole pipeline
  is testable without network (network IO is not correctness-checkable,
  SURVEY §7 Phase 4).
- **Parse** — (title, visible text, JSON-LD blocks) in the same pandas
  pass: the reference-faithful BeautifulSoup arm whenever ``bs4`` imports
  (round 7), else a stdlib ``html.parser`` pull — the only remaining
  deviation, confined to bs4-less environments like this sandbox.  Then
  **every derived field is a native expression** from the function
  library — domain, company name, ABN+checksum, emails, phones,
  postcode, snippet all stay JVM-side.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import firmable_company_data_pipeline_spark.functions as lib

INDEX_SCHEMA = (
    "url string, filename string, `offset` string, length string, status string, mime string"
)


def read_cc_index(spark: SparkSession, path: str) -> DataFrame:
    """Read a Common Crawl index capture (JSON lines, one object per line;
    extract/commoncrawl_scraper.py:145-165). Keeps only records with the
    fetch coordinates present (P8 guard, lines 168-170)."""
    df = spark.read.schema(INDEX_SCHEMA).json(path)
    return df.filter(
        F.col("filename").isNotNull()
        & F.col("offset").isNotNull()
        & F.col("length").isNotNull()
    )


class StubFetchClient:
    """Deterministic offline stand-in for the ranged WARC fetch
    (extract/commoncrawl_scraper.py:167-181).

    Fabricates an HTML page whose fields are a pure function of the URL,
    exercising every downstream extractor (title, JSON-LD, ABN, emails,
    phones, postcode).
    """

    def fetch(self, url: str, filename: str, offset: str, length: str) -> str | None:
        m = re.search(r"(?:www\.)?([a-z0-9-]+)\.com\.au", url or "")
        slug = m.group(1) if m else "unknown"
        num = sum(ord(c) for c in slug)
        abn = _checksum_valid_abn(num)
        pc = 2000 + num % 999
        return f"""<html><head><title>{slug.title()} — Home</title>
<script type="application/ld+json">{{"@type": "Organization", "name": "{slug.title()}"}}</script>
</head><body>
<h1>Welcome to {slug.title()}</h1>
<p>ABN: {abn[:2]} {abn[2:5]} {abn[5:8]} {abn[8:11]}</p>
<p>Visit us in NSW {pc}.</p>
<p>Email us at info@{slug}.com.au or call (02) 9{num % 1000:03d} 8888.</p>
</body></html>"""


class HttpFetchClient:  # pragma: no cover - network path, gated import
    """Real ranged-GET WARC fetch (requires ``warcio``; network IO)."""

    def fetch(self, url: str, filename: str, offset: str, length: str) -> str | None:
        try:
            import io

            import requests
            from warcio.archiveiterator import ArchiveIterator
        except ImportError as exc:
            raise NotImplementedError(
                "HttpFetchClient requires requests + warcio; use StubFetchClient offline"
            ) from exc
        start, end = int(offset), int(offset) + int(length) - 1
        resp = requests.get(
            f"https://data.commoncrawl.org/{filename}",
            headers={"Range": f"bytes={start}-{end}"},
            timeout=30,
        )
        for record in ArchiveIterator(io.BytesIO(resp.content)):
            if record.rec_type == "response":
                return record.content_stream().read().decode("utf-8", "replace")
        return None


_WEIGHTS = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]


def _checksum_valid_abn(seed: int) -> str:
    n = 10_000_000_000 + (seed * 7919) % 80_000_000_000
    while True:
        s = str(n)
        total = sum(
            (int(d) - 1 if i == 0 else int(d)) * w for i, (d, w) in enumerate(zip(s, _WEIGHTS))
        )
        if total % 89 == 0:
            return s
        n += 1


PAGE_SCHEMA = "url string, html string"


def fetch_warc_html(index_df: DataFrame, client=None) -> DataFrame:
    """Partition-parallel ranged fetch (S5): index records → (url, html).

    ``mapInPandas`` so each partition reuses one client/session — the
    Spark equivalent of the reference's serial per-row ``fetch_html``
    (extract/commoncrawl_scraper.py:167-181), parallelized across
    executors. Repartition upstream to control fetch concurrency.
    """
    client = client or StubFetchClient()

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            htmls = [
                client.fetch(u, f, o, ln)
                for u, f, o, ln in zip(
                    pdf["url"], pdf["filename"], pdf["offset"], pdf["length"]
                )
            ]
            yield pd.DataFrame({"url": pdf["url"], "html": htmls})

    return index_df.mapInPandas(run, PAGE_SCHEMA)


_PARSED_SCHEMA = "url string, title string, text string, structured_data string"


class _PageExtractor:
    """Event-driven HTML pull built on the stdlib ``html.parser``
    tokenizer: (title, visible text, JSON-LD blocks).

    Replicates the observable outputs of the reference's bs4 parse_html
    (extract/commoncrawl_scraper.py:183-209) — page text with
    script/style content excluded, <title> text, and the list-normalized
    JSON-LD payloads (U2, lines 187-195) — with real tokenizer fidelity:
    attributes containing ``>``, comments, CDATA, entity references and
    unclosed tags are all handled, which the earlier regex pull was not.
    bs4 itself is unavailable in this environment (documented deviation);
    ``html.parser`` is the same tokenizer bs4's default builder wraps.
    """

    def __init__(self) -> None:
        from html.parser import HTMLParser

        outer = self

        class _P(HTMLParser):
            def __init__(self) -> None:
                super().__init__(convert_charrefs=True)
                self.mode: str | None = None  # None | skip | title | jsonld

            def handle_starttag(self, tag, attrs):
                if tag in ("script", "style", "template"):
                    a = dict(attrs)
                    is_ld = tag == "script" and (
                        (a.get("type") or "").strip().lower() == "application/ld+json"
                    )
                    self.mode = "jsonld" if is_ld else "skip"
                    outer._buf = []
                elif tag == "title" and outer.title is None:
                    self.mode = "title"
                    outer._buf = []
                elif tag in ("br", "p", "div", "li", "tr", "h1", "h2", "h3", "h4"):
                    outer.text.append(" ")

            def handle_endtag(self, tag):
                if self.mode == "jsonld" and tag == "script":
                    outer._jsonld("".join(outer._buf))
                    self.mode = None
                elif self.mode == "skip" and tag in ("script", "style", "template"):
                    self.mode = None
                elif self.mode == "title" and tag == "title":
                    outer.title = "".join(outer._buf).strip() or None
                    self.mode = None

            def handle_data(self, data):
                if self.mode in ("jsonld", "title"):
                    outer._buf.append(data)
                elif self.mode != "skip":
                    outer.text.append(data)

        self._parser = _P()
        self.title: str | None = None
        self.text: list[str] = []
        self.blobs: list = []
        self._buf: list[str] = []

    def _jsonld(self, raw: str) -> None:
        import json as _json

        try:
            parsed = _json.loads(raw)
            self.blobs.extend(parsed if isinstance(parsed, list) else [parsed])
        except ValueError:
            pass

    def feed(self, html: str) -> "_PageExtractor":
        self._parser.feed(html)
        self._parser.close()
        return self


def _strip_html(html: str) -> tuple[str | None, str, str | None]:
    """(title, visible text, JSON-LD array JSON or None) — see
    :class:`_PageExtractor`."""
    import json as _json

    px = _PageExtractor().feed(html)
    return (
        px.title,
        " ".join("".join(px.text).split()),
        _json.dumps(px.blobs) if px.blobs else None,
    )


def _strip_html_bs4(html: str) -> tuple[str | None, str, str | None]:
    """bs4-fidelity arm of the HTML parse (round 7): a faithful mirror of
    the reference's BeautifulSoup extraction
    (extract/commoncrawl_scraper.py:183-197) — ``soup.get_text()`` over
    the WHOLE document (the reference does not decompose script/style,
    so their text rides along), ``soup.title.get_text(strip=True)``, and
    JSON-LD blocks via ``find_all("script", type="application/ld+json")``
    with per-block ``json.loads`` (malformed blocks skipped,
    list-normalized).  Same return shape as :func:`_strip_html` so
    :func:`parse_pages` can select per worker.
    """
    import json as _json

    from bs4 import BeautifulSoup

    soup = BeautifulSoup(html, "html.parser")
    text = " ".join(soup.get_text().split())
    blobs: list = []
    for script in soup.find_all("script", {"type": "application/ld+json"}):
        try:
            parsed = _json.loads(script.string)
        except Exception:
            continue
        blobs.extend(parsed if isinstance(parsed, list) else [parsed])
    title = soup.title.get_text(strip=True) if soup.title else None
    return (title or None, text, _json.dumps(blobs) if blobs else None)


_BS4_AVAILABLE: bool | None = None


def _html_parser() -> Callable[[str], tuple[str | None, str, str | None]]:
    """Select the HTML-parse arm ONCE, on the driver: the
    reference-faithful bs4 extraction when ``bs4`` imports, else the
    stdlib ``html.parser`` pull — the only remaining documented
    deviation, and only in environments without bs4.

    Driver-side (not per-worker like the PIL gate, review r7): the
    chosen function is closed over and shipped to every executor, so a
    cluster with heterogeneous Python environments parses every
    partition the same way — an executor missing bs4 fails LOUDLY with
    ImportError (a misconfiguration surfaced) instead of silently
    producing partition-dependent text.  Note the arms intentionally
    differ (the reference's ``soup.get_text()`` includes script/style
    text; the stdlib arm excludes it), so installing bs4 changes output
    toward reference fidelity — by design, and deterministically."""
    global _BS4_AVAILABLE
    if _BS4_AVAILABLE is None:
        try:
            import bs4  # noqa: F401

            _BS4_AVAILABLE = True
        except ImportError:
            _BS4_AVAILABLE = False
    return _strip_html_bs4 if _BS4_AVAILABLE else _strip_html


def parse_pages(pages: DataFrame) -> DataFrame:
    """HTML → the CC staging schema (S6; stg.common_crawl_raw_companies,
    extract/commoncrawl_scraper.py:198-209).

    One pandas pass does the irreducible HTML string surgery; every
    derived field is then a native Column expression (F1-F8) so the bulk
    of the work compiles into whole-stage codegen.
    """

    # arm chosen on the DRIVER and closed over — every executor uses the
    # same parser regardless of its local environment (review r7)
    strip = _html_parser()

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                if not html:
                    rows.append((url, None, "", None))
                    continue
                title, text, sd = strip(html)
                rows.append((url, title, text, sd))
            yield pd.DataFrame(
                rows, columns=["url", "title", "text", "structured_data"]
            )

    parsed = pages.mapInPandas(run, _PARSED_SCHEMA)
    text = lib.clean_text(F.col("text"))
    domain = lib.extract_domain(F.col("url"))
    return parsed.select(
        F.col("url"),
        domain.alias("domain"),
        lib.extract_company_name(domain).alias("company_name"),
        lib.extract_abn(text).alias("abn"),
        lib.extract_emails(text).alias("emails"),
        lib.extract_phones(text).alias("phones"),
        lib.extract_postcode(text).alias("postcode"),
        F.col("title"),
        F.col("structured_data"),
        lib.snippet(text, 500).alias("snippet"),
    )
