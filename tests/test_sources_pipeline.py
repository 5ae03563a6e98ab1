"""End-to-end source + cleaning + pipeline tests (SURVEY.md §7 Phase 2/4).

XML fixture → staging schema; CC index fixture → stub fetch → parse →
fields; cleaning dedup; full five-stage run_pipeline with the offline
fetch client.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from firmable_company_data_pipeline_spark.pipeline.cleaning import (
    clean_abr_data,
    clean_commoncrawl_data,
    jsonify_for_flat_sink,
)
from firmable_company_data_pipeline_spark.pipeline.run import run_pipeline
from firmable_company_data_pipeline_spark.sources.commoncrawl import (
    StubFetchClient,
    _checksum_valid_abn,
    fetch_warc_html,
    parse_pages,
    read_cc_index,
)
from firmable_company_data_pipeline_spark.sources.xml_abr import read_abr_xml

SLUGS = ["acme-books", "bravo-builders", "cedar-farms"]


def _abr_xml_record(abn, status, from_date, etype, name, state, postcode):
    return f"""<ABR recordLastUpdatedDate="20240101">
  <ABN status="{status}" ABNStatusFromDate="{from_date}">{abn}</ABN>
  <EntityType><EntityTypeInd>PRV</EntityTypeInd><EntityTypeText>{etype}</EntityTypeText></EntityType>
  <MainEntity>
    <NonIndividualName type="MN"><NonIndividualNameText>{name}</NonIndividualNameText></NonIndividualName>
    <BusinessAddress><AddressDetails><State>{state}</State><Postcode>{postcode}</Postcode></AddressDetails></BusinessAddress>
  </MainEntity>
</ABR>"""


@pytest.fixture(scope="module")
def abr_xml_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("abrxml")
    records = []
    for i, slug in enumerate(SLUGS):
        num = sum(ord(c) for c in slug)
        abn = _checksum_valid_abn(num)
        name = slug.replace("-", " ").title()
        records.append(
            _abr_xml_record(abn, "ACT", "20200101", "Australian Private Company",
                            name, "NSW", str(2000 + num % 999))
        )
    # one record with missing optional fields (NULL tolerance), and one
    # bare <ABN> without attributes (its text still reads as the ABN)
    records.append("<ABR><ABN status=\"CAN\">99999999999</ABN></ABR>")
    records.append("<ABR><ABN>88888888888</ABN></ABR>")
    (d / "part1.xml").write_text(
        "<Transfer>" + "\n".join(records) + "</Transfer>"
    )
    return str(d / "part1.xml")


@pytest.fixture(scope="module")
def cc_index_path(tmp_path_factory):
    d = tmp_path_factory.mktemp("ccindex")
    lines = [
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
        for i, slug in enumerate(SLUGS)
    ]
    # a record missing fetch coordinates → filtered by the P8 guard
    lines.append(json.dumps({"url": "https://www.skip-me.com.au/"}))
    (d / "index.json").write_text("\n".join(lines))
    return str(d / "index.json")


def test_read_abr_xml(spark, abr_xml_path):
    df = read_abr_xml(spark, abr_xml_path)
    rows = {r.abn: r for r in df.collect()}
    assert len(rows) == 5
    num = sum(ord(c) for c in SLUGS[0])
    abn0 = _checksum_valid_abn(num)
    r = rows[abn0]
    assert r.entity_name == "Acme Books"
    assert r.entity_type == "Australian Private Company"
    assert r.entity_status == "ACT"
    assert r.state == "NSW"
    assert r.address == f"NSW {2000 + num % 999}"
    assert str(r.start_date) == "2020-01-01"
    # NULL tolerance for sparse record
    sparse = rows["99999999999"]
    assert sparse.entity_name is None and sparse.address is None and sparse.start_date is None
    bare = rows["88888888888"]
    assert bare.entity_status is None and bare.postcode is None


def test_cc_index_and_fetch_parse(spark, cc_index_path):
    idx = read_cc_index(spark, cc_index_path)
    assert idx.count() == len(SLUGS)  # P8 guard dropped the sparse record
    parsed = parse_pages(fetch_warc_html(idx, client=StubFetchClient()))
    rows = {r.domain: r for r in parsed.collect()}
    assert set(rows) == {f"{slug}.com.au" for slug in SLUGS}
    r = rows["acme-books.com.au"]
    num = sum(ord(c) for c in "acme-books")
    assert r.company_name == "Acme Books"
    assert r.abn == _checksum_valid_abn(num)
    assert r.title == "Acme-Books — Home"
    assert "info@acme-books.com.au" in r.emails
    assert any(p.startswith("(02)") for p in r.phones)
    assert r.postcode == str(2000 + num % 999)
    assert json.loads(r.structured_data)[0]["@type"] == "Organization"
    assert len(r.snippet) <= 500 and "<" not in r.snippet


def test_cleaning_dedup(spark):
    abr = spark.createDataFrame(
        [
            ("51 824 753 556", "Acme, Pty!", "new south wales", "20-00", "x"),
            ("51-824-753-556", "Acme  Pty", "NSW", "2000", "y"),  # same after clean
            ("123", "Other Co", "vicx", "3000", "z"),
        ],
        "abn string, entity_name string, state string, postcode string, extra string",
    )
    out = clean_abr_data(abr)
    rows = out.collect()
    assert len(rows) == 2  # first two collapse to one
    clean = {r.entity_name: r for r in rows}
    assert clean["Acme Pty"].abn == "51824753556"
    assert clean["Acme Pty"].state == "NSW"
    assert clean["Acme Pty"].postcode == "2000"
    assert clean["Other Co"].abn is None  # len != 11
    assert clean["Other Co"].state is None  # 'vicx' misses the 85 bar


def test_jsonify_for_flat_sink(spark):
    df = spark.createDataFrame(
        [(["a@b.com"], "x")], "emails array<string>, name string"
    )
    out = jsonify_for_flat_sink(df).collect()[0]
    assert out.emails == '["a@b.com"]'
    assert out.name == "x"


def test_run_pipeline_end_to_end(spark, cc_index_path, abr_xml_path):
    out = run_pipeline(
        spark,
        cc_index_path,
        abr_xml_path,
        fetch_client=StubFetchClient(),
        enable_llm=False,
    ).cache()
    rows = out.collect()
    # every stub page carries its entity's exact ABN → all rule-based
    assert len(rows) == len(SLUGS)
    for r in rows:
        assert r.match_method == "rule_based_abn"
        assert r.match_score == 100.0
        assert r.cc_abn == r.abr_abn
        assert r.creation_dt is not None
    assert {r.entity_name for r in rows} == {
        s.replace("-", " ").title() for s in SLUGS
    }


def test_run_pipeline_reads_schemed_paths(spark, cc_index_path, abr_xml_path):
    """``file://`` URIs for the index and the XML give the rows plain
    paths give: the one extraction path reads through Spark's file
    systems, so any scheme Spark reads (``s3a://``, ``hdfs://``) works."""
    import pathlib

    def rows(idx, xml):
        df = run_pipeline(spark, idx, xml, fetch_client=StubFetchClient())
        return sorted(tuple(r) for r in df.drop("creation_dt").collect())

    idx_uri, xml_uri = (pathlib.Path(p).as_uri() for p in (cc_index_path, abr_xml_path))
    assert idx_uri.startswith("file://") and xml_uri.startswith("file://")
    want = rows(cc_index_path, abr_xml_path)
    assert rows(idx_uri, xml_uri) == want
    assert len(want) == len(SLUGS)


def test_no_python_datasource():
    """The Common Crawl extraction has one path, ``read_cc_index`` →
    ``fetch_warc_html`` → ``parse_pages``: a second one built as a Python
    DataSource fails here."""
    import ast
    import pathlib

    import firmable_company_data_pipeline_spark as pkg

    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            mods = []
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            register = (
                isinstance(node, ast.Attribute)
                and node.attr == "register"
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "dataSource"
            )
            if register or any(m.startswith("pyspark.sql.datasource") for m in mods):
                hits.append(f"{path.relative_to(root)}:{node.lineno}")
    assert hits == []


def _executed_operators(df) -> list[str]:
    """Names of the physical operators one execution of ``df`` runs,
    each operator ONCE: AQE final plans, query stages and the cached
    sub-plans behind every InMemoryTableScan, deduplicated by JVM object
    identity (every use of one cache shares its cached plan object).
    Formatted explain re-lists each executed AQE sub-plan's initial plan
    under fresh node ids, so counting its lines would double-count."""
    jvm = df.sparkSession._jvm
    seen, names = set(), []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        key = jvm.System.identityHashCode(node)
        if key in seen:
            continue
        seen.add(key)
        names.append(node.nodeName().strip())
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        else:
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_run_pipeline_extracts_each_source_once(
    spark, cc_index_path, abr_xml_path, tmp_path, jobs_during
):
    """One pass extracts and cleans each source ONCE: match_cascade
    persists its fanned-out inputs, so the index scan, the fetch and
    parse mapInPandas stages and the XML scan each run once, counted
    across the cached sub-plans of an executed pass.  Building the
    pipeline starts no job — the fixed ABR schema leaves no inference
    pass."""
    spark.catalog.clearCache()
    built = []
    n_jobs = jobs_during(
        lambda: built.append(
            run_pipeline(
                spark, cc_index_path, abr_xml_path,
                fetch_client=StubFetchClient(), enable_llm=True,
            )
        )
    )
    assert n_jobs == 0
    df = built[0]
    df.write.parquet(str(tmp_path / "dim"))
    ops = _executed_operators(df)
    assert ops.count("Scan json") == 1, ops
    assert ops.count("Scan xml") == 1, ops
    assert ops.count("MapInPandas") == 2, ops
    spark.catalog.clearCache()


def test_run_pipeline_rereads_rewritten_abr_xml(spark, cc_index_path, tmp_path):
    """A second pass in the same session sees an ABR file rewritten in
    place.  match_cascade leaves its inputs persisted, and an identical
    later plan would be served from those entries: the rename below
    must reach the second dimension, not the first pass's cached name."""

    def write_xml(first_name):
        records = []
        for i, slug in enumerate(SLUGS):
            num = sum(ord(c) for c in slug)
            name = first_name if i == 0 else slug.replace("-", " ").title()
            records.append(
                _abr_xml_record(_checksum_valid_abn(num), "ACT", "20200101",
                                "Australian Private Company", name, "NSW",
                                str(2000 + num % 999))
            )
        xml.write_text("<Transfer>" + "\n".join(records) + "</Transfer>")

    def names():
        dim = run_pipeline(
            spark, cc_index_path, str(xml), fetch_client=StubFetchClient()
        )
        return {r.entity_name for r in dim.collect()}

    xml = tmp_path / "abr.xml"
    spark.catalog.clearCache()
    write_xml("Acme Books")
    assert "Acme Books" in names()
    write_xml("Acme Books Stationery Holdings")
    second = names()
    assert "Acme Books Stationery Holdings" in second, second
    assert "Acme Books" not in second
    spark.catalog.clearCache()


def test_abr_postcode_keeps_leading_zero(spark, tmp_path):
    """NT postcodes start with 0: the ABR side must keep "0800" as
    text (XML inference typed Postcode bigint and turned it into "800"),
    or a crawl page in 0800 can never share a block with its register
    row."""
    abn = _checksum_valid_abn(800)
    xml = tmp_path / "nt.xml"
    xml.write_text(
        "<Transfer>"
        + _abr_xml_record(abn, "ACT", "20200101", "Australian Private Company",
                          "Darwin Traders", "NT", "0800")
        + "</Transfer>"
    )
    abr = clean_abr_data(read_abr_xml(spark, str(xml))).collect()
    assert [(r.postcode, r.address) for r in abr] == [("0800", "NT 0800")]

    class NoAbnPage:
        """A page naming no ABN, so only the fuzzy tier can match it."""

        def fetch(self, url, filename, offset, length):
            return (
                "<html><head><title>Darwin Traders</title></head>"
                "<body><p>Visit us in Darwin NT 0800.</p></body></html>"
            )

    idx = tmp_path / "index.json"
    idx.write_text(json.dumps({
        "url": "https://www.darwin-traders.com.au/",
        "filename": "crawl-data/seg/0.warc.gz",
        "offset": "0",
        "length": "500",
    }))
    out = run_pipeline(spark, str(idx), str(xml), fetch_client=NoAbnPage()).collect()
    assert [(r.domain, r.match_method, r.abr_abn, r.abr_postcode) for r in out] == [
        ("darwin-traders.com.au", "fuzzy", abn, "0800")
    ]


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key join without an Exchange —
    the co-located-join layout claimed in README's scale design."""
    import contextlib
    import io as _io

    from firmable_company_data_pipeline_spark.session import load_tables
    from firmable_company_data_pipeline_spark.sources.io import write_bucketed

    t = load_tables(spark, sf_dir, "orders", "customer")
    write_bucketed(
        t["orders"].select("o_orderkey", "o_custkey", "o_totalprice"),
        "bkt_orders", ["o_custkey"], n_buckets=8, sort_cols=["o_custkey"],
    )
    write_bucketed(
        t["customer"].select("c_custkey", "c_mktsegment"),
        "bkt_customer", ["c_custkey"], n_buckets=8, sort_cols=["c_custkey"],
    )
    try:
        a = spark.table("bkt_orders")
        b = spark.table("bkt_customer")
        joined = a.join(
            b.hint("merge"), a["o_custkey"] == b["c_custkey"]
        )  # force SMJ so neither side broadcasts
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        assert joined.count() == t["orders"].count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_register_views_sql_passthrough(spark, sf_dir):
    """Reference users' raw-SQL workflows run unchanged once the views
    are registered."""
    from firmable_company_data_pipeline_spark.session import register_views

    register_views(spark, sf_dir, "orders", "customer")
    out = spark.sql(
        """SELECT c_mktsegment, count(*) AS n
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment"""
    )
    assert out.count() > 0


def test_read_json_lenient_captures_corrupt_records(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from firmable_company_data_pipeline_spark.sources.io import read_json_lenient

    p = tmp_path / "index.jsonl"
    p.write_text(
        '{"url": "a.com.au", "offset": 10}\n'
        "this is not json at all\n"
        '{"url": "b.com.au", "offset": 20}\n'
    )
    schema = StructType(
        [StructField("url", StringType()), StructField("offset", LongType())]
    )
    df = read_json_lenient(spark, str(p), schema).cache()
    assert df.count() == 3
    bad = df.filter("_corrupt_record IS NOT NULL")
    assert bad.count() == 1
    assert "not json" in bad.first()["_corrupt_record"]
    good = df.filter("_corrupt_record IS NULL")
    assert {r.url for r in good.collect()} == {"a.com.au", "b.com.au"}
    df.unpersist()


def test_run_pipeline_observed_metrics(spark, cc_index_path, abr_xml_path):
    """Observation metrics ride the real pass — counts match the data
    without any extra count() jobs (A7 modernization)."""
    from firmable_company_data_pipeline_spark.pipeline.run import run_pipeline_observed

    df, obs = run_pipeline_observed(
        spark, cc_index_path, abr_xml_path, fetch_client=StubFetchClient()
    )
    n_out = df.count()  # terminal action materializes the observations
    cc = obs["cleaned_cc"].get
    abr = obs["cleaned_abr"].get
    assert cc["n_rows"] == len(SLUGS) == n_out
    assert cc["n_with_abn"] == len(SLUGS)  # every stub page carries an ABN
    # the observed frames sit inside match_cascade's shared input cache:
    # the counts must still be exact, never a silent 0
    assert abr["n_rows"] == clean_abr_data(read_abr_xml(spark, abr_xml_path)).count()
    assert abr["n_rows"] > 0 and abr["n_with_abn"] > 0


def test_strip_html_pathological_cases():
    """Tokenizer-fidelity cases the old regex pull got wrong: attributes
    containing '>', comments, entities, script bodies containing markup,
    and unclosed tags (reference parity: bs4 parse_html outputs)."""
    from firmable_company_data_pipeline_spark.sources.commoncrawl import _strip_html

    html = (
        "<html><head><title>T &amp; Co</title>"
        '<script type="application/ld+json">{"@type": "Organization", "name": "T"}'
        "</script></head>"
        '<body><div data-x="a > b">visible</div>'
        "<!-- <p>comment markup</p> -->"
        "<script>var s = '<div>not text</div>';</script>"
        "<style>p > span { color: red }</style>"
        "<p>café &copy; 2024<p>unclosed paragraphs"
        "</body></html>"
    )
    title, text, sd = _strip_html(html)
    assert title == "T & Co"  # entity decoded
    assert "visible" in text and "café" in text and "unclosed paragraphs" in text
    # none of these leak into visible text
    assert "not text" not in text      # script body with markup inside
    assert "comment markup" not in text  # comment content
    assert "color" not in text         # style body with '>' in selector
    assert "a > b" not in text         # attribute value containing '>'
    import json

    assert json.loads(sd) == [{"@type": "Organization", "name": "T"}]


def test_strip_html_jsonld_list_normalization():
    from firmable_company_data_pipeline_spark.sources.commoncrawl import _strip_html

    html = (
        '<script type="application/ld+json">[{"a": 1}, {"b": 2}]</script>'
        '<script type="application/ld+json">{"c": 3}</script>'
        '<script type="application/ld+json">not json</script>'
    )
    import json

    _, _, sd = _strip_html(html)
    assert json.loads(sd) == [{"a": 1}, {"b": 2}, {"c": 3}]


def test_strip_html_nested_script_and_malformed_jsonld():
    """Reference-derived edge fixtures (extract/commoncrawl_scraper.py
    183-197): a script body containing a nested '</div>'-style closer,
    a JSON-LD block that is valid JSON but truncated mid-list (malformed
    → skipped, not fatal), and a JSON-LD block whose payload nests
    markup-looking strings.  Both parse arms must survive; the stdlib
    arm's outputs are pinned here (always runnable)."""
    import json

    from firmable_company_data_pipeline_spark.sources.commoncrawl import _strip_html

    html = (
        "<html><head><title>Edge</title></head><body>"
        "<script>document.write('</span><div>fake</div>');</script>"
        '<script type="application/ld+json">[{"name": "A"}, {"name": </script>'
        '<script type="application/ld+json">{"desc": "<b>bold</b> text"}</script>'
        "<p>real body</p></body></html>"
    )
    title, text, sd = _strip_html(html)
    assert title == "Edge"
    assert "real body" in text
    assert "fake" not in text  # nested closer inside script stays dead
    # the malformed block is skipped; the valid one survives intact
    assert json.loads(sd) == [{"desc": "<b>bold</b> text"}]


def test_strip_html_bs4_arm_matches_reference_shape():
    """Green only where bs4 exists (absent in this sandbox — same gate
    pattern as the PIL/PyAV arms): the bs4 arm must mirror the
    reference's parse_html observables — title, JSON-LD list
    normalization with malformed blocks skipped, and get_text over the
    whole soup."""
    import json

    import pytest

    pytest.importorskip("bs4")
    from firmable_company_data_pipeline_spark.sources.commoncrawl import (
        _html_parser,
        _strip_html_bs4,
    )

    assert _html_parser() is _strip_html_bs4  # gate selects the real arm
    html = (
        "<html><head><title> T &amp; Co </title>"
        '<script type="application/ld+json">[{"a": 1}, {"b": 2}]</script>'
        '<script type="application/ld+json">not json</script></head>'
        "<body><p>visible text</p></body></html>"
    )
    title, text, sd = _strip_html_bs4(html)
    assert title == "T & Co"  # strip=True + entity decode
    assert "visible text" in text
    assert json.loads(sd) == [{"a": 1}, {"b": 2}]
