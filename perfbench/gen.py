"""Seeded input generators.

Every generator is a pure function of its seed and size arguments and
writes its files in a fixed order, so the same seed gives byte-identical
inputs (pinned by ``tests/test_perfbench.py``).  Nothing here starts
Spark: inputs are plain XML, JSON lines and pyarrow-written parquet.
"""

from __future__ import annotations

import json
import os
import random
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

ABN_WEIGHTS = [10, 1, 3, 5, 7, 9, 11, 13, 15, 17, 19]

_CONSONANTS = "bcdfghjklmnprstvz"
_VOWELS = "aeiou"

# Tier mix of the crawl pages, from FIXTURES.md §2: the 19 fixture
# register rows get one rule, one fuzzy and one LLM probe each, and the
# fixture two negative probes (a page in no register block, a page
# below the fuzzy threshold): 57 matching pages and 2 negatives.
TIER_WEIGHTS = (("rule", 19), ("fuzzy", 19), ("llm", 19), ("none", 2))
N_XML_FILES = 4
HOT_POSTCODE = "2000"
# FIXTURES.md §1: 6 of the 19 fixture rows share postcode 2000.
HOT_SHARE = 6 / 19
# A postcode no register record carries: pages there have no block.
EMPTY_POSTCODE = "6999"


def checksum_valid_abns(rng: random.Random, n: int) -> list[str]:
    """``n`` distinct 11-digit ABNs that pass the mod-89 checksum.

    The last nine digits are drawn without replacement; the first two
    are then solved for directly: ``10*(d0-1) + d1`` covers 0..89, so
    every residue mod 89 has exactly one leading pair with d0 in 1..9.
    """
    out = []
    for tail in rng.sample(range(10**9), n):
        digits = [int(c) for c in f"{tail:09d}"]
        partial = sum(d * w for d, w in zip(digits, ABN_WEIGHTS[2:]))
        lead = (-partial) % 89
        out.append(f"{1 + lead // 10}{lead % 10}" + "".join(map(str, digits)))
    return out


def abn_is_valid(abn: str) -> bool:
    """The published ABN checksum (used by the tests)."""
    if len(abn) != 11 or not abn.isdigit():
        return False
    total = sum(
        (int(d) - 1 if i == 0 else int(d)) * w
        for i, (d, w) in enumerate(zip(abn, ABN_WEIGHTS))
    )
    return total % 89 == 0


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(_CONSONANTS) + rng.choice(_VOWELS) for _ in range(3))


def _signature(words: list[str]) -> str:
    return "".join(w[0] for w in words)


def _abr_record(abn: str, name: str, etype: str, state: str, postcode: str) -> str:
    return (
        '<ABR recordLastUpdatedDate="20240101">'
        f'<ABN status="ACT" ABNStatusFromDate="20200101">{abn}</ABN>'
        f"<EntityType><EntityTypeText>{etype}</EntityTypeText></EntityType>"
        "<MainEntity>"
        f'<NonIndividualName type="MN"><NonIndividualNameText>{escape(name)}'
        "</NonIndividualNameText></NonIndividualName>"
        f"<BusinessAddress><AddressDetails><State>{state}</State>"
        f"<Postcode>{postcode}</Postcode></AddressDetails></BusinessAddress>"
        "</MainEntity></ABR>"
    )


def etl_inputs(seed: int, n_pages: int, out_dir: str) -> dict:
    """ABR XML files plus a CC index for ``n_pages`` crawl pages against
    ``4 * n_pages`` register records, with a planted tier mix.

    Returns ``{"abr_dir", "index_path", "pages", "truth"}``: ``pages``
    maps each URL to ``(abn-or-None, postcode)`` for the fetch client,
    and ``truth`` maps each tier to the sorted ``[domain, abr_abn]``
    pairs the cascade must emit.

    Names are three random six-letter pseudo-words (LLM targets five),
    unique across the run, so two unrelated names are never within the
    fuzzy threshold's edit distance and initials signatures of LLM
    targets are unique inside their postcode block.
    """
    rng = random.Random(seed)
    n_abr = 4 * n_pages
    abns = checksum_valid_abns(rng, n_abr)
    cold = [str(p) for p in range(2001, 2200)] + [str(p) for p in range(3000, 3200)]
    used_names: set[str] = set()

    def fresh_words(k: int) -> list[str]:
        while True:
            words = [_word(rng) for _ in range(k)]
            if " ".join(words) not in used_names:
                used_names.add(" ".join(words))
                return words

    tiers = []
    total = sum(w for _, w in TIER_WEIGHTS)
    for tier, weight in TIER_WEIGHTS:
        tiers += [tier] * round(weight * n_pages / total)
    tiers = (tiers + ["none"] * n_pages)[:n_pages]
    rng.shuffle(tiers)

    # register rows: (abn, words, postcode, suffix); the first n_pages
    # rows are the targets of page i, the rest are unmatched filler
    records = []
    for i in range(n_abr):
        postcode = HOT_POSTCODE if rng.random() < HOT_SHARE else rng.choice(cold)
        tier = tiers[i] if i < n_pages else "filler"
        words = fresh_words(5 if tier == "llm" else 3)
        records.append([abns[i], words, postcode, tier])
    # An LLM target's initials are its page's domain, so they must be
    # unique across the run, and unique inside its postcode block (the
    # stub client resolves a signature to the lowest-ABN candidate).
    sigs: dict[tuple[str, str], int] = {}
    for rec in records:
        key = (rec[2], _signature(rec[1]))
        sigs[key] = sigs.get(key, 0) + 1
    llm_sigs: set[str] = set()
    for rec in records:
        if rec[3] != "llm":
            continue
        while sigs[(rec[2], _signature(rec[1]))] > 1 or _signature(rec[1]) in llm_sigs:
            sigs[(rec[2], _signature(rec[1]))] -= 1
            rec[1] = fresh_words(5)
            key = (rec[2], _signature(rec[1]))
            sigs[key] = sigs.get(key, 0) + 1
        llm_sigs.add(_signature(rec[1]))

    pages: dict[str, tuple[str | None, str]] = {}
    truth: dict[str, list[list[str]]] = {"rule": [], "fuzzy": [], "llm": []}
    index_lines = []
    n_none = 0
    for i, tier in enumerate(tiers):
        abn, words, postcode, _ = records[i]
        if tier == "llm":
            slug = _signature(words)
        elif tier == "none":
            # the two negative kinds alternate: below the fuzzy threshold
            # in a populated block, then a page in no register block
            slug = "-".join(fresh_words(3))
            if n_none % 2:
                postcode = EMPTY_POSTCODE
            n_none += 1
        else:
            slug = "-".join(words)
        url = f"https://www.{slug}.com.au/"
        pages[url] = (abn if tier == "rule" else None, postcode)
        if tier != "none":
            truth[tier].append([f"{slug}.com.au", abn])
        index_lines.append(
            json.dumps(
                {
                    "url": url,
                    "filename": f"crawl-data/bench/{i % 16}.warc.gz",
                    "offset": str(1000 * i),
                    "length": "800",
                    "status": "200",
                    "mime": "text/html",
                }
            )
        )
    rng.shuffle(index_lines)

    xml = []
    for i, (abn, words, postcode, tier) in enumerate(records):
        name = " ".join(words).upper()
        if tier == "fuzzy" and i % 2:
            name = f"{words[0]} & {words[1]} {words[2]}".upper()
        elif tier != "llm":
            name += " PTY"
        state = "NSW" if postcode.startswith("2") else "VIC"
        etype = "Australian Private Company" if i % 3 else "Australian Public Company"
        xml.append(_abr_record(abn, name, etype, state, postcode))
    rng.shuffle(xml)

    abr_dir = os.path.join(out_dir, "abr_xml")
    os.makedirs(abr_dir, exist_ok=True)
    for f in range(N_XML_FILES):
        with open(os.path.join(abr_dir, f"part{f}.xml"), "w") as fh:
            fh.write("<Transfer>\n" + "\n".join(xml[f::N_XML_FILES]) + "\n</Transfer>\n")
    index_path = os.path.join(out_dir, "cc_index.jsonl")
    with open(index_path, "w") as fh:
        fh.write("\n".join(index_lines) + "\n")
    for pairs in truth.values():
        pairs.sort()
    return {"abr_dir": abr_dir, "index_path": index_path, "pages": pages, "truth": truth}


class BenchFetchClient:
    """Fetch client for ``run_pipeline(fetch_client=...)``: renders each
    indexed URL's page from the generator's ``pages`` table.

    Unlike ``StubFetchClient`` (ABN and postcode from the slug's
    character sum, ~400 distinct ABNs at 10k pages) every page here
    carries its own planted ABN or none, and its own postcode.
    """

    def __init__(self, pages: dict[str, tuple[str | None, str]]):
        self.pages = pages

    def fetch(self, url: str, filename: str, offset: str, length: str) -> str | None:
        abn, postcode = self.pages[url]
        host = url.split("//", 1)[1].split("/", 1)[0].removeprefix("www.")
        slug = host.removesuffix(".com.au")
        title = slug.replace("-", " ").title()
        abn_line = (
            f"<p>ABN: {abn[:2]} {abn[2:5]} {abn[5:8]} {abn[8:]}</p>" if abn else ""
        )
        return (
            f"<html><head><title>{title} | Home</title>"
            '<script type="application/ld+json">'
            f'{{"@type": "Organization", "name": "{title}"}}</script></head>'
            f"<body><h1>Welcome to {title}</h1>{abn_line}"
            f"<p>Visit us in NSW {postcode}.</p>"
            f"<p>Email us at info@{host}.</p></body></html>"
        )


_DOC_WORDS = (
    "a the data spark stream batch query join sort hash scan filter group agg "
    "window row column table part line order customer key value merge vector "
    "fast slow big small"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DUP_SHARE = 0.1


def documents(seed: int, n_docs: int) -> pa.Table:
    """``documents`` table shaped like the test data's: bag-of-words texts
    over a small vocabulary, 20 sources, five languages, plus a planted
    share of near-duplicates (a copy of an earlier doc with two word
    edits) so the dedup operators have pairs to find."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < DUP_SHARE:
            words = rng.choice(texts).split()
            for _ in range(2):
                words[rng.randrange(len(words))] = rng.choice(_DOC_WORDS)
        else:
            words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(8, 90))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file, no pandas metadata, fixed writer settings."""
    pq.write_table(table, path, compression="snappy", store_schema=False)


def split_into_files(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``table`` as ``n_files`` consecutive row slices, named so
    lexical order is arrival order (the file source's trigger order)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-table.num_rows // n_files)
    paths = []
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:03d}.parquet")
        write_table(table.slice(f * per, per), path)
        paths.append(path)
    return paths
