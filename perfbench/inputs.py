"""Seeded input generators for the three benchmark workloads.

Every page is built from the public ``fortissimo_spark.pages`` functions
and a ``random.Random`` seeded from (workload, seed), so the same seed
always gives the same bytes.  The program under test only ever sees the
parquet files written by :func:`write_parquet`.

* ``crawl_agg`` -- small (~1.7 KB) pages, one short document each, on
  seed-chosen doc ids; ~10% of urls are crawled twice with a changed text,
  so the dedup window decides which text survives.
* ``crawl_job`` -- the same page template around many concatenated
  documents (tens of KB per page), all crawled on one day.
* ``tag_soup`` -- malformed pages: misnested and unclosed formatting,
  unmatched end tags at bounded depth, implied ``li``/``p``/``td``/table
  closes, quote-adjacent and multi-attribute tags, dense entities, and a
  slice whose declared charset disagrees with its UTF-8 bytes (the
  kernel's re-decode retry).

For ``crawl_agg`` and ``crawl_job`` the expected extraction of each url is
known by construction (``html_for_doc`` promises that density extraction
recovers the text).  ``tag_soup`` has no such oracle; it is checked against
in-process ``kernel.process_document`` instead.
"""

from __future__ import annotations

import os
import random
import re
import statistics
from operator import itemgetter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from fortissimo_spark.pages import (
    has_second_crawl, page_for_doc, url_for_doc, warc_ts_for_doc,
)

# crawl_job's pages form one daily segment: midnight of a day in the window
_CRAWL_DAY = warc_ts_for_doc(0).replace(hour=0, minute=0, second=0,
                                        microsecond=0)

WORKLOADS = ("crawl_agg", "crawl_job", "tag_soup")

# The vocabulary and length range of the synthetic `documents` table the
# repo's other benchmarks read: ~300 chars of words from 30 terms.
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)

# Base sizes at scale 1.0 (pages or documents per run).
CRAWL_AGG_DOCS = 16_000
CRAWL_JOB_DOCS = 500
CRAWL_JOB_PARTS = (40, 220)      # documents concatenated per page
TAG_SOUP_DOCS = 600


@dataclass
class Inputs:
    """Generated rows of one workload plus what the checks need."""
    workload: str
    rows: dict                   # column -> list, PAGES_SCHEMA columns
    expected: dict | None        # url -> expected text (None: tag_soup)
    retry_urls: set = field(default_factory=set)
    second_crawls: int = 0
    html_samples: list = field(default_factory=list)

    @property
    def n_rows(self) -> int:
        return len(self.rows["url"])

    @property
    def n_docs(self) -> int:
        return len(set(self.rows["url"]))

    def kept_rows(self) -> list:
        """Indices of the rows the latest-crawl dedup keeps."""
        best: dict = {}
        for i, (url, ts) in enumerate(zip(self.rows["url"], self.rows["warc_ts"])):
            if url not in best or ts > self.rows["warc_ts"][best[url]]:
                best[url] = i
        return list(best.values())

    def winners(self) -> dict:
        """url -> html bytes of the row the latest-crawl dedup keeps."""
        return {self.rows["url"][i]: self.rows["html"][i] for i in self.kept_rows()}


def _rng(workload: str, seed: int) -> random.Random:
    return random.Random(f"{workload}:{seed}")


# 256-entry word tables, indexed by random bytes: one C-level pick per word
_ASCII_WORDS = tuple(VOCAB[i % len(VOCAB)] for i in range(256))


def _pick_words(rng: random.Random, k: int, table: tuple = _ASCII_WORDS) -> str:
    if k == 1:
        return table[rng.randbytes(1)[0]]
    return " ".join(itemgetter(*rng.randbytes(k))(table))


def _doc_text(rng: random.Random) -> str:
    # 8..104 words of ~5.7 chars with their space: 44..577 chars
    return _pick_words(rng, rng.randint(8, 104))


def _lang(rng: random.Random) -> str:
    return rng.choices(LANGS, LANG_WEIGHTS)[0]


def _empty_rows() -> dict:
    return {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}


def _add_page(rows: dict, page: dict) -> None:
    for k in rows:
        rows[k].append(page[k])


def _one_day(page: dict) -> dict:
    """Move the page's crawl time to the same time of day on _CRAWL_DAY."""
    ts = page["warc_ts"]
    midnight = ts.replace(hour=0, minute=0, second=0, microsecond=0)
    page["warc_ts"] = ts - (midnight - _CRAWL_DAY)
    return page


def _crawl(workload: str, seed: int, n_docs: int, text_fn,
           one_day: bool = False) -> Inputs:
    """Pages over seed-chosen doc ids; a second crawl gets a new text.
    ``one_day`` folds every crawl time into one day (a daily segment)."""
    page_fn = ((lambda *a: _one_day(page_for_doc(*a))) if one_day
               else page_for_doc)
    rng = _rng(workload, seed)
    rows = _empty_rows()
    expected = {}
    second = 0
    samples = []
    ids = rng.sample(range(1, 1_000_000_000), n_docs)
    for doc_id in ids:
        text, lang = text_fn(rng), _lang(rng)
        first = page_fn(doc_id, text, lang, 0)
        _add_page(rows, first)
        expected[first["url"]] = text
        if has_second_crawl(doc_id):
            recrawl = text_fn(rng)
            page = page_fn(doc_id, recrawl, lang, 1)
            if page["warc_ts"] == first["warc_ts"]:
                continue  # a tie has no single latest crawl
            _add_page(rows, page)
            second += 1
            if page["warc_ts"] > first["warc_ts"]:
                expected[page["url"]] = recrawl
        if len(samples) < 400:
            samples.append(first["html"])
    _shuffle_rows(rows, rng)
    return Inputs(workload, rows, expected, second_crawls=second,
                  html_samples=samples)


def _shuffle_rows(rows: dict, rng: random.Random) -> None:
    order = list(range(len(rows["url"])))
    rng.shuffle(order)
    for k, col in rows.items():
        rows[k] = [col[i] for i in order]


def crawl_agg(seed: int, scale: float = 1.0) -> Inputs:
    return _crawl("crawl_agg", seed, max(8, int(CRAWL_AGG_DOCS * scale)),
                  _doc_text)


def crawl_job(seed: int, scale: float = 1.0) -> Inputs:
    lo, hi = CRAWL_JOB_PARTS

    def composed(rng: random.Random) -> str:
        return "\n\n".join(_doc_text(rng) for _ in range(rng.randint(lo, hi)))

    return _crawl("crawl_job", seed, max(8, int(CRAWL_JOB_DOCS * scale)),
                  composed, one_day=True)


# --- tag soup ---------------------------------------------------------------

_NON_ASCII = ("mañana", "über", "naïve", "café", "façade", "smörgåsbord",
              "crème", "jalapeño", "Ærø", "coöperate")
_FORMATTING = ("b", "i", "em", "strong", "u", "s", "small", "code", "font")
_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&copy;", "&nbsp;", "&eacute;",
             "&#169;", "&#x263A;", "&#8212;", "&amp", "&lt", "&ampnot;",
             "&notit;", "&#65", "&#x42;", "&hellip;", "&reg")
_BLOCKS = ("div", "section", "article", "span", "em", "p", "table", "ul")


_MIXED_WORDS = _ASCII_WORDS[:236] + _NON_ASCII * 2   # ~8% non-ASCII


def _words(rng: random.Random, n: int, non_ascii: bool) -> str:
    return _pick_words(rng, n, _MIXED_WORDS if non_ascii else _ASCII_WORDS)


def _attrs(rng: random.Random) -> str:
    """Multi-attribute, quote-adjacent, unquoted and bare attributes."""
    shape = rng.randrange(5)
    v = rng.choice(VOCAB)
    if shape == 0:
        return f' class="{v} x{rng.randrange(99)}" id="i{rng.randrange(999)}"'
    if shape == 1:
        return f' href="/{v}"title="{v}"'
    if shape == 2:
        return f" data-k='{v}'data-j='{v}' hidden"
    if shape == 3:
        return f" width={rng.randrange(9, 999)} height={rng.randrange(9, 99)} alt={v}"
    return f' style="color: red" lang=en dir="ltr" tabindex={rng.randrange(9)}'


def _soup_section(rng: random.Random, non_ascii: bool) -> str:
    kind = rng.randrange(9)
    w = lambda n: _words(rng, n, non_ascii)  # noqa: E731
    if kind == 0:  # misnested formatting
        a, b = rng.sample(_FORMATTING, 2)
        return f"<p>{w(4)} <{a}>{w(3)} <{b}>{w(3)}</{a}> {w(3)}</{b}> {w(4)}</p>"
    if kind == 1:  # unclosed formatting, closed by the enclosing block
        a = rng.choice(_FORMATTING)
        return f"<div><p>{w(5)} <{a}>{w(6)}<p>{w(5)}</div>"
    if kind == 2:  # unmatched end tags against a shallow stack
        ends = "".join(f"</{rng.choice(_BLOCKS)}>" for _ in range(rng.randint(1, 6)))
        return f"<div>{w(6)}{ends}{w(4)}</div>"
    if kind == 3:  # implied li closes
        items = "".join(f"<li>{w(rng.randint(2, 8))}" for _ in range(rng.randint(3, 12)))
        return f"<ul>{items}</ul>"
    if kind == 4:  # implied p closes
        paras = "".join(f"<p>{w(rng.randint(4, 14))}" for _ in range(rng.randint(2, 8)))
        return f"<div>{paras}</div>"
    if kind == 5:  # implied td / tr closes, tables left open inside a div
        cells = "".join(
            "<tr>" + "".join(f"<td{_attrs(rng) if rng.random() < 0.3 else ''}>"
                             f"{w(rng.randint(1, 4))}"
                             for _ in range(rng.randint(2, 5)))
            for _ in range(rng.randint(2, 6)))
        close = "</table>" if rng.random() < 0.7 else ""
        return f"<div><table>{cells}{close}</div>"
    if kind == 6:  # multi-attribute and quote-adjacent tags
        tag = rng.choice(("a", "img", "span", "div", "input"))
        return f"<p>{w(3)} <{tag}{_attrs(rng)}>{w(4)}</{tag}> {w(3)}</p>"
    if kind == 7:  # dense entities
        parts = []
        for _ in range(rng.randint(8, 20)):
            parts.append(rng.choice(_ENTITIES))
            parts.append(rng.choice(VOCAB))
        return "<p>" + " ".join(parts) + "</p>"
    # comments, bogus markup, definition lists and options
    return (f"<!-- {w(3)} --><dl><dt>{w(2)}<dd>{w(5)}<dt>{w(2)}<dd>{w(4)}</dl>"
            f"<!bogus {w(1)}><select><option>{w(1)}<option>{w(1)}</select>")


def _soup_page(rng: random.Random, mode: str) -> str:
    """One malformed page.  ``mode``: 'utf-8', 'retry' (UTF-8 bytes that
    declare ISO-8859-1) or 'cp1252' (cp1252 bytes that say so)."""
    non_ascii = mode != "utf-8" or rng.random() < 0.3
    declared = {"utf-8": "utf-8", "retry": "ISO-8859-1",
                "cp1252": "windows-1252"}[mode]
    head = (f'<meta charset="{declared}"><title>{_words(rng, 4, non_ascii)}'
            f"</title>")
    if rng.random() < 0.5:
        head = f'<html lang="en"><head>{head}</head><body>'
    body = "\n".join(_soup_section(rng, non_ascii)
                     for _ in range(rng.randint(40, 90)))
    tail = "</body></html>" if rng.random() < 0.6 else ""
    page = f"<!DOCTYPE html>\n{head}\n{body}\n{tail}"
    if rng.random() < 0.1:  # EOF inside markup
        page = page + rng.choice(("<div class=\"open", "<!-- never closed",
                                  "</spa", "<a href='x"))
    return page


def tag_soup(seed: int, scale: float = 1.0) -> Inputs:
    rng = _rng("tag_soup", seed)
    rows = _empty_rows()
    retry = set()
    samples = []
    ids = rng.sample(range(1, 1_000_000_000), max(8, int(TAG_SOUP_DOCS * scale)))
    for doc_id in ids:
        r = rng.random()
        mode = "retry" if r < 0.12 else ("cp1252" if r < 0.2 else "utf-8")
        page = _soup_page(rng, mode)
        raw = page.encode("cp1252" if mode == "cp1252" else "utf-8")
        url = url_for_doc(doc_id)
        if mode == "retry" and not raw.isascii():
            retry.add(url)
        rows["url"].append(url)
        rows["warc_ts"].append(warc_ts_for_doc(doc_id))
        rows["html"].append(raw)
        rows["text"].append(None)
        rows["lang"].append(None)
        if len(samples) < 400:
            samples.append(raw)
    return Inputs("tag_soup", rows, None, retry_urls=retry,
                  html_samples=samples)


GENERATORS = {"crawl_agg": crawl_agg, "crawl_job": crawl_job,
              "tag_soup": tag_soup}


def generate(workload: str, seed: int, scale: float = 1.0) -> Inputs:
    return GENERATORS[workload](seed, scale)


_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def write_parquet(inputs: Inputs, path: str, files: int) -> None:
    """Write the rows as ``files`` parquet files of near-equal row counts."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(inputs.rows, schema=_PAGES_ARROW)
    n = table.num_rows
    files = max(1, min(files, n))
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


_START_TAG = re.compile(r"<([A-Za-z][^\s/>]*)([^>]*)>")
_ATTR = re.compile(r"""[^\s=/"']+(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s>]+))?""")


def _page_str(raw: bytes) -> str:
    utf16 = raw[:2] in (b"\xff\xfe", b"\xfe\xff")
    return raw.decode("utf-16" if utf16 else "utf-8", errors="replace")


def properties(inputs: Inputs) -> dict:
    """Input properties reported next to every result."""
    sizes = sorted(len(h) for h in inputs.rows["html"])
    tags = multi = 0
    for raw in inputs.html_samples:
        for m in _START_TAG.finditer(_page_str(raw)):
            tags += 1
            if len(_ATTR.findall(m.group(2))) >= 2:
                multi += 1
    n_docs = inputs.n_docs
    return {
        "rows": inputs.n_rows,
        "docs_after_dedup": n_docs,
        "html_mb": sum(sizes) / 1e6,
        "page_kb_mean": statistics.fmean(sizes) / 1e3,
        "page_kb_p99": sizes[min(len(sizes) - 1, int(len(sizes) * 0.99))] / 1e3,
        "second_crawl_share": inputs.second_crawls / n_docs,
        "charset_retry_share": len(inputs.retry_urls) / n_docs,
        "multi_attr_tag_share": multi / tags if tags else 0.0,
        "sampled_pages_for_tag_share": len(inputs.html_samples),
    }
