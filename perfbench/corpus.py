"""Seeded NI 43-101-style PDF corpus with ground truth for ``run_corpus``.

Each report is assembled from single-page PDFs rendered by the package's
own ``render_pdf`` (literal ``Tj`` text) and ``render_pdf_hex`` (CID hex
text behind a ToUnicode CMap) into one multi-page file. The generator
varies, per seed:

* pages per report: 2 to 5 section pages (title, tables, economics;
  sections share a page or get their own) plus ``BODY_PAGES`` prose-only
  pages of about ``BODY_PAGE_CHARS`` characters each after the title,
  so a report carries the text volume of a real technical report;
* literal vs CMap-hex text (at most one hex page per report, because the
  extractor unions every CMap in a file);
* tonnage units (``Mt`` / ``kt``) and the commodity (Au, Ag, Cu);
* missing-value sentinels (``N/A``, ``-``, ...) for economics figures and
  a missing region/country title tail, which must come out NULL;
* table rows built to trip the ``validate_split`` rules
  (``nonpositive_tonnes``, ``grade_out_of_range``). ``bad_category`` is
  unreachable through ``run_corpus``: the table extractor keeps only the
  table's own categories before validation;
* byte-identical re-filings under a second path, which the content-hash
  ``doc_id`` must collapse into one report.

The extractor's anchors are case-sensitive (``mineral resources
effective``), so the report text spells them exactly; ``check`` refuses
an output whose resource or reserve table is empty, so a template that
stops matching cannot pass silently.

Every table is followed on its page by more than 800 characters of
prose: the extractor scans 800 characters past a table header, and a
re-filed report's pages appear twice in the concatenated text.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import re
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

from test_dataengineer2026_spark.extraction.pdf import render_pdf, render_pdf_hex

TABLES = ("projects", "mineral_resources", "mineral_reserves", "economics", "quarantine")
REJECT_REASONS = ("bad_category", "nonpositive_tonnes", "grade_out_of_range")
#: Chance that a table row is built to trip a ``validate_split`` rule.
BAD_ROW_SHARE = 0.1
#: Inclusive range of prose-only pages per report, and their length.
BODY_PAGES = (6, 14)
BODY_PAGE_CHARS = 3000

_MONTHS = (
    "January February March April May June July August September October "
    "November December"
).split()
_NAMES = (
    "Aurora Boreal Condor Dorado Esmeralda Falcon Granite Halcon Iguana Jaguar "
    "Kestrel Lobo Mariposa Nevada Oro Puma Quetzal Rio Sierra Toro Umbra Vega"
).split()
_SUFFIX = ("Project", "Mine", "Operations")
_PLACES = (
    ("Sonora", "Mexico"), ("Atacama", "Chile"), ("Ontario", "Canada"),
    ("Nevada", "Usa"), ("Cajamarca", "Peru"), ("Antioquia", "Colombia"),
    ("Otago", "Zealand"), ("Kivu", "Congo"),
)
_FIRM = ("Corp", "Corporation", "Inc", "Ltd", "Mining")
_METALS = (("Gold", "Au", "g/t", "koz"), ("Silver", "Ag", "g/t", "koz"), ("Copper", "Cu", "%", "Mlb"))
_RES_CATS = ("Measured", "Indicated", "Measured + Indicated", "Inferred")
_RSV_CATS = ("Proven", "Probable", "Proven + Probable")
_SENTINELS = ("N/A", "n/a", "-", "--", "NA")
_FILLER = (
    "the drilling program tested continuity of the mineralized zones along "
    "strike and down dip with core recovery logged for every interval and "
    "assays reported by an accredited laboratory under chain of custody the "
    "qualified person reviewed sampling methods density measurements and "
    "quality control results and considers them adequate for estimation"
).split()


@dataclass
class Report:
    """One distinct report: its PDF bytes and the rows it must yield."""

    pdf: bytes
    pages: int
    rows: dict[str, list[tuple]] = field(default_factory=dict)

    @property
    def doc_id(self) -> str:
        return hashlib.sha256(self.pdf).hexdigest()


@dataclass
class Corpus:
    """What ``write_corpus`` put on disk, and what ``run_corpus`` must emit."""

    files: int
    reports: list[Report]

    @property
    def docs(self) -> int:
        return len(self.reports)

    @property
    def pages(self) -> int:
        return sum(r.pages for r in self.reports)

    def expected(self) -> dict[str, Counter]:
        """Multiset of output rows per table, doc_id first in each row."""
        out = {t: Counter() for t in TABLES}
        for r in self.reports:
            for t in TABLES:
                out[t].update((r.doc_id, *row) for row in r.rows[t])
        return out

    def quarantine_counts(self) -> dict[str, int]:
        c = Counter(row[-1] for row in self.expected()["quarantine"].elements())
        return {reason: c.get(reason, 0) for reason in REJECT_REASONS}


def _fmt(x: float, decimals: int) -> str:
    return f"{x:,.{decimals}f}"


def _filler(rng: np.random.Generator, min_chars: int) -> str:
    words: list[str] = []
    chars = 0
    # every filler word is at least two letters, so this draws enough
    for i in rng.integers(0, len(_FILLER), min_chars // 3 + 1):
        if chars >= min_chars:
            break
        words.append(_FILLER[i])
        chars += len(_FILLER[i]) + 1
    return " ".join(words) + "."


def _date(rng: np.random.Generator) -> dt.date:
    return dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 3000)))


def _spell(d: dt.date) -> str:
    return f"{_MONTHS[d.month - 1]} {d.day}, {d.year}"


def _table(
    rng: np.random.Generator, kind: str, cats: tuple[str, ...], metal: tuple, unit: str
) -> tuple[str, list[tuple], list[tuple]]:
    """Render one resource/reserve table; returns (text, clean rows,
    quarantined rows)."""
    name, symbol, grade_unit, contained_unit = metal
    lines, clean, quarantined = [], [], []
    for cat in cats:
        tonnes = round(float(rng.uniform(0.5, 900.0)), 1)
        grade = round(float(rng.uniform(0.2, 12.0)), 2)
        contained = round(float(rng.uniform(1.0, 9000.0)), 1)
        reason = None
        roll = rng.random()
        if roll < BAD_ROW_SHARE / 2:
            tonnes, reason = 0.0, "nonpositive_tonnes"
        elif roll < BAD_ROW_SHARE:
            grade, reason = round(float(rng.uniform(1001.0, 5000.0)), 2), "grade_out_of_range"
        lines.append(f"{cat} {_fmt(tonnes, 1)} {_fmt(grade, 2)} {_fmt(contained, 1)}")
        row = (cat, tonnes, symbol, grade, grade_unit, contained, contained_unit, unit)
        (quarantined if reason else clean).append((*row, reason) if reason else row)
    text = (
        f"Table 14-1 Summary of mineral {kind} effective {_spell(_date(rng))} "
        f"Classification Tonnes ({unit}) {name} grade ({grade_unit}) "
        f"Contained {name.lower()} ({contained_unit}) " + " ".join(lines) + " "
    )
    return text, clean, quarantined


def make_report(rng: np.random.Generator) -> Report:
    """One report: text sections laid out on 2-5 pages, with the prose
    body pages after the first, rendered to PDF."""
    name = f"{rng.choice(_NAMES)} {rng.choice(_NAMES)}"
    project = f"{name} {rng.choice(_SUFFIX)}"
    region, country = _PLACES[int(rng.integers(0, len(_PLACES)))]
    has_place = rng.random() > 0.15
    company = f"{rng.choice(_NAMES)} {rng.choice(('Resources', 'Metals', 'Minerals'))} {rng.choice(_FIRM)}"
    report_date = _date(rng)
    metal = _METALS[int(rng.integers(0, len(_METALS)))]
    unit = "Mt" if rng.random() < 0.5 else "kt"

    title = (
        f"NI 43-101 Technical Report for the {project}"
        + (f", {region}, {country}" if has_place else "")
        + f" prepared for {company} report effective {_spell(report_date)}. "
        "Contents summary of mineral resources effective ........ 14 "
        "summary of mineral reserves effective ........ 15 "
        + _filler(rng, 300)
    )
    res_text, res_clean, res_bad = _table(rng, "resources", _RES_CATS, metal, unit)
    has_reserves = rng.random() < 0.7
    rsv_text, rsv_clean, rsv_bad = (
        _table(rng, "reserves", _RSV_CATS, metal, unit)
        if has_reserves
        else ("", [], [])
    )
    currency, cur_tag = ("US$", "USD") if rng.random() < 0.7 else ("C$", "CAD")
    econ_vals: dict[str, float | None] = {}
    econ_parts = []
    for key, phrase, unit_word, decimals, lo, hi in (
        ("capex", "The initial capital cost is estimated at", "million", 1, 50.0, 2500.0),
        ("opex", "Life of mine operating costs of", "per tonne", 2, 5.0, 90.0),
        ("npv", "The after-tax NPV is", "million", 1, 10.0, 3000.0),
        ("irr", "with an IRR of", "percent", 1, 5.0, 60.0),
    ):
        if rng.random() < 0.2:
            econ_vals[key] = None
            # a sentinel must not be followed by a number within the
            # extractor's look-ahead window
            value = str(rng.choice(_SENTINELS))
            econ_parts.append(f"{phrase} {value} as no figure was reported for this study stage.")
        else:
            v = round(float(rng.uniform(lo, hi)), decimals)
            econ_vals[key] = v
            prefix = currency if key in ("capex", "npv") else ""
            econ_parts.append(f"{phrase} {prefix}{_fmt(v, decimals)} {unit_word} for this study stage.")
    econ = "Economic analysis " + " ".join(econ_parts) + " "

    sections = [title, res_text, rsv_text, econ]
    sections = [s for s in sections if s]
    # Each table keeps 800+ characters of prose after it on its own page.
    sections = [s + _filler(rng, 900) if "Classification" in s else s for s in sections]
    pages: list[str] = []
    for s in sections:
        if pages and rng.random() < 0.3:
            pages[-1] += " " + s
        else:
            pages.append(s)
    n_body = int(rng.integers(BODY_PAGES[0], BODY_PAGES[1] + 1))
    pages[1:1] = [_filler(rng, BODY_PAGE_CHARS) for _ in range(n_body)]
    hex_page = int(rng.integers(0, len(pages))) if rng.random() < 0.3 else -1
    pdf = merge_pages(
        [render_pdf_hex(p) if i == hex_page else render_pdf(p) for i, p in enumerate(pages)]
    )
    rows = {
        "projects": [
            (
                project,
                company,
                country if has_place else None,
                region if has_place else None,
                report_date,
            )
        ],
        "mineral_resources": res_clean,
        "mineral_reserves": rsv_clean,
        "economics": [
            (
                econ_vals["capex"],
                econ_vals["opex"],
                econ_vals["npv"],
                econ_vals["irr"],
                # the currency is read off the "US$"/"C$" prefix of capex or NPV
                cur_tag if econ_vals["capex"] is not None or econ_vals["npv"] is not None else None,
            )
        ],
        "quarantine": res_bad + rsv_bad,
    }
    return Report(pdf=pdf, pages=len(pages), rows=rows)


_OBJ_REF = re.compile(rb"(\d+) 0 R")


def _objects(pdf: bytes) -> list[bytes]:
    """Object bodies of a PDF written by the package renderers, in
    object-number order, sliced by the offsets of its xref table."""
    xref = pdf.rindex(b"\nxref\n") + 1
    lines = pdf[xref:].split(b"\n")
    count = int(lines[1].split()[1])
    offsets = [int(line[:10]) for line in lines[3 : 2 + count]]
    bodies = []
    for i, start in enumerate(offsets):
        end = offsets[i + 1] if i + 1 < len(offsets) else xref
        chunk = pdf[start:end]
        head = chunk.index(b" obj\n") + len(b" obj\n")
        bodies.append(chunk[head : chunk.rindex(b"\nendobj\n")])
    return bodies


def merge_pages(page_pdfs: list[bytes]) -> bytes:
    """Combine single-page PDFs (catalog, pages, page, content, font,
    extra stream) into one multi-page PDF, renumbering each page's
    objects. Stream objects are copied byte for byte."""
    objs: list[bytes] = [b"", b""]  # catalog and page tree, filled below
    kids = []
    for pdf in page_pdfs:
        bodies = _objects(pdf)
        base = len(objs) - 2  # object n of this page becomes n + base (n >= 3)
        remap = {b"2": b"2"} | {str(n).encode(): str(n + base).encode() for n in range(3, len(bodies) + 1)}
        for n, body in enumerate(bodies[2:], start=3):
            if b"stream\n" not in body:
                body = _OBJ_REF.sub(lambda m: remap[m.group(1)] + b" 0 R", body)
            objs.append(body)
        kids.append(b"%d 0 R" % (3 + base))
    objs[0] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[1] = b"<< /Type /Pages /Kids [%s] /Count %d >>" % (b" ".join(kids), len(kids))
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (len(objs) + 1, xref_at)
    return bytes(out)


def write_corpus(out_dir: str, seed: int, docs: int, refile_share: float = 0.05) -> Corpus:
    """Write ``docs`` distinct reports, plus byte-identical re-filings
    under a second file name, as PDFs in ``out_dir``."""
    rng = np.random.default_rng(seed)
    reports = [make_report(rng) for _ in range(docs)]
    os.makedirs(out_dir, exist_ok=True)
    files = 0
    for i, r in enumerate(reports):
        with open(os.path.join(out_dir, f"report-{i:05d}.pdf"), "wb") as f:
            f.write(r.pdf)
        files += 1
        if rng.random() < refile_share:
            with open(os.path.join(out_dir, f"filing-{i:05d}.pdf"), "wb") as f:
                f.write(r.pdf)
            files += 1
    return Corpus(files=files, reports=reports)
