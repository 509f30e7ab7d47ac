"""Golden-output test of the extraction pipeline against the one real
sample input (repo:FIXTURES.md §3): the Aris Mining Segovia NI 43-101
report shipped with the reference. Skipped if the sample is absent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SAMPLE_DIR = "/root/reference/data"
SAMPLE = os.path.join(
    SAMPLE_DIR,
    "sedar__000003116_Aris_Mining_Corporation__technical-report__878C2FBC.pdf",
)

pytestmark = pytest.mark.skipif(
    not os.path.exists(SAMPLE), reason="reference sample PDF not available"
)


@pytest.fixture(scope="module")
def extracted(spark):
    from test_dataengineer2026_spark.extraction import extract as X
    from test_dataengineer2026_spark.extraction.pipeline import (
        extract_tables,
        parse_pages,
        scan_pdfs,
    )

    pdfs = scan_pdfs(spark, SAMPLE_DIR)
    return extract_tables(X.doc_text(parse_pages(pdfs)).cache())


def test_x1_pages_have_text(spark):
    from test_dataengineer2026_spark.extraction.pdf import extract_pages

    pages = extract_pages(open(SAMPLE, "rb").read())
    total = sum(len(t) for _, t in pages)
    assert len(pages) > 30
    assert total > 150_000  # ~173k chars reconstructible (SURVEY §1.1)


def test_x3_metadata_golden(extracted):
    rows = extracted["projects"].collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["project_name"] == "Segovia Operations"
    assert r["company"] == "Aris Mining Corporation"
    assert r["country"] == "Colombia"
    assert r["region"] == "Antioquia"
    assert str(r["report_date"]) == "2023-09-30"


def test_x4_resources_golden(extracted):
    rows = {
        r["category"]: r
        for r in extracted["mineral_resources"].collect()
    }
    # FIXTURES.md §3 Table 1-2 (Mt / g/t / koz)
    expect = {
        "Measured": (4.1, 14.31, 1893.0),
        "Indicated": (3.8, 14.38, 1736.0),
        "Measured + Indicated": (7.9, 14.34, 3629.0),
        "Inferred": (4.7, 12.11, 1823.0),
    }
    assert set(rows) == set(expect)
    for cat, (tonnes, grade, contained) in expect.items():
        r = rows[cat]
        assert r["tonnes"] == tonnes
        assert r["grade_value"] == grade
        assert r["contained_metal"] == contained
        assert r["metal"] == "Au"
        assert r["tonnes_unit"] == "Mt"
        assert r["contained_unit"] == "koz"


def test_x5_reserves_golden(extracted):
    rows = {r["category"]: r for r in extracted["mineral_reserves"].collect()}
    expect = {
        "Proven": (1515.0, 12.25, 597.0),
        "Probable": (2017.0, 11.16, 723.0),
        "Proven + Probable": (3531.0, 11.63, 1320.0),
    }
    assert set(rows) == set(expect)
    for cat, (tonnes, grade, contained) in expect.items():
        r = rows[cat]
        assert r["tonnes"] == tonnes
        assert r["grade_value"] == grade
        assert r["contained_metal"] == contained
        # unit trap (FIXTURES §3): reserves are kt while resources are Mt
        assert r["tonnes_unit"] == "kt"


def test_x6_economics_null_contract(extracted):
    rows = extracted["economics"].collect()
    assert len(rows) == 1
    r = rows[0]
    # operating mine: no NPV/IRR anywhere in the text (X8 null contract)
    assert r["npv"] is None
    assert r["irr"] is None
    assert r["currency"] == "USD"


def test_x9_quarantine_empty_for_clean_doc(extracted):
    assert extracted["quarantine"].count() == 0


def test_pipeline_sinks_roundtrip(spark, tmp_path):
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    out = str(tmp_path / "out")
    tables = run_corpus(spark, SAMPLE_DIR, out, fmt="json")
    back = spark.read.json(f"{out}/mineral_resources")
    assert back.count() == tables["mineral_resources"].count()
    assert back.filter(F.col("category") == "Measured").count() == 1


def _part_files(d, suffix):
    import os

    return [
        n for n in os.listdir(d) if n.startswith("part-") and n.endswith(suffix)
    ]


def test_pipeline_write_parallel_by_default_single_file_opt_in(spark, tmp_path):
    """r17 verdict #5: the production writer must NOT serialize every
    sink through one task — parallel (one file per task) is the
    default, and the one-file-per-table hand-off shape is an explicit
    --single-file opt-in. Pinned on file counts both ways: single_file
    yields exactly one part file; the default yields at least one and
    preserves the same rows (N files, same data).

    The tiny sample corpus can't force >1 task per sink, so the
    parallel side additionally pins the mechanism: repartition(3) on a
    table written WITHOUT single_file produces 3 part files — proving
    nothing downstream coalesces behind the writer's back."""
    from test_dataengineer2026_spark.extraction.pipeline import run_corpus

    out1 = str(tmp_path / "single")
    tables = run_corpus(spark, SAMPLE_DIR, out1, fmt="json", single_file=True)
    assert len(_part_files(f"{out1}/mineral_resources", ".json")) == 1

    out2 = str(tmp_path / "parallel")
    run_corpus(spark, SAMPLE_DIR, out2, fmt="json")
    assert len(_part_files(f"{out2}/mineral_resources", ".json")) >= 1
    back = spark.read.json(f"{out2}/mineral_resources")
    assert back.count() == tables["mineral_resources"].count()

    # mechanism pin: a multi-partition frame stays multi-file by default
    multi = str(tmp_path / "multi")
    tables["mineral_resources"].repartition(3).write.mode("overwrite").json(multi)
    assert len(_part_files(multi, ".json")) == 3


def test_hex_show_strings_decode_via_tounicode_cmap():
    """<hex> Tj show strings must decode through the ToUnicode CMap —
    codes are offset from the Unicode points, so a pass proves CMap
    application, not just hex decoding."""
    from test_dataengineer2026_spark.extraction.pdf import (
        extract_pages,
        render_pdf_hex,
    )

    text = "Mineral Reserves: 2.4 Mt @ 5.1 g/t Au"
    pages = extract_pages(render_pdf_hex(text))
    assert len(pages) == 1
    assert pages[0][1].strip() == text


def test_hex_tj_without_cmap_falls_back_to_latin1():
    """A <hex> Tj whose bytes are plain latin-1 and no CMap in the file
    must still yield text (fallback path)."""
    import zlib

    from test_dataengineer2026_spark.extraction.pdf import _stream_text

    content = b"BT /F1 12 Tf <48656C6C6F20776F726C64> Tj ET"
    assert _stream_text(content, None).strip() == "Hello world"


def test_bfrange_forms():
    """bfrange triple form increments the last UTF-16 unit; array form
    maps positionally."""
    from test_dataengineer2026_spark.extraction.pdf import parse_tounicode

    data = (
        b"begincmap\n"
        b"2 beginbfrange\n"
        b"<0041> <0043> <0061>\n"
        b"<0100> <0101> [<0058> <0059>]\n"
        b"endbfrange\nendcmap\n"
    )
    m = parse_tounicode(data)
    assert m[2][0x41] == "a" and m[2][0x42] == "b" and m[2][0x43] == "c"
    assert m[2][0x100] == "X" and m[2][0x101] == "Y"


def test_hostile_streams_never_raise():
    """Production corpus robustness (TEST.md's 1k-10k-PDF path): a
    malformed-but-decompressible content stream must yield degraded
    text or nothing — never an exception out of the extraction UDF.
    Each case escaped a previous version: ``\\888`` is not octal
    (int(_, 8) raised), ``<abc>`` CMap dst is odd-length hex
    (bytes.fromhex raised), and a bfrange base near U+10FFFF walked
    chr() past its domain."""
    import zlib

    from test_dataengineer2026_spark.extraction.pdf import (
        extract_pages,
        extract_runs,
        parse_tounicode,
    )

    def wrap(content: bytes) -> bytes:
        z = zlib.compress(content)
        return (
            b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(z)).encode()
            + b" >>\nstream\n" + z + b"\nendstream\nendobj"
        )

    hostile = [
        b"BT (\\777\\888) Tj ET",
        b"beginbfchar <0> <abc> endbfchar BT <0> Tj ET",
        b"beginbfrange <00> <ff> <dbffdfff> endbfrange BT <00> Tj ET",
        b"BT (a\\) Tj ET",
        b"BT [ ( ] TJ ET",
    ]
    for content in hostile:
        extract_pages(wrap(content))
        extract_runs(wrap(content))

    # the escape-at-spec contract directly
    from test_dataengineer2026_spark.extraction.pdf import _unescape

    assert _unescape(rb"(\777\888)") == bytes([0o777 & 0xFF]) + b"888"
    assert _unescape(b"(a\\\nb)") == b"ab"  # line continuation drops both
    assert _unescape(rb"(\q)") == b"q"  # unknown escape drops backslash
    # bfrange near the top of the Unicode range stops instead of raising
    m = parse_tounicode(b"1 beginbfrange <00> <ff> <dbffdfff> endbfrange")
    assert m[1][0x00] == "\U0010ffff" and 0x01 not in m[1]


def test_positional_cells_round_trip():
    """X2b core: cells drawn column-major with coordinate jitter must be
    recovered in (row, col) structure purely from geometry."""
    from test_dataengineer2026_spark.extraction.pdf import (
        cluster_cells,
        extract_runs,
        render_table_pdf,
    )

    cells = [
        (0, 0, "Classification"), (0, 1, "Tonnes (Mt)"),
        (0, 2, "Grade (g/t)"), (0, 3, "Contained (koz)"),
        (1, 0, "Measured"), (1, 1, "2.5"), (1, 2, "8.10"), (1, 3, "651"),
        (2, 0, "Indicated"), (2, 1, "1.5"), (2, 2, "7.90"), (2, 3, "381"),
        (3, 0, "Proven + Probable"), (3, 1, "2,000"), (3, 2, "4.04"), (3, 3, "260"),
    ]
    got = cluster_cells(extract_runs(render_table_pdf(cells)))
    assert got == sorted(cells)


def test_structural_pdfs_never_raise():
    """Round-8 fuzz tier: pages_udf wraps extract_pages with NO
    try/except — the never-raise contract IS the quarantine, so a
    single hostile byte pattern that raises kills the whole Spark
    task. The round-7 tier fuzzed single-object stream blobs; this
    one builds structurally valid multi-object documents (catalog,
    pages tree, xref, Flate content) and bit-flips them, exercising
    the pages-tree walk. Seeded; 12k-doc sweeps with fresh seeds ran
    clean in round 8."""
    import random
    import zlib

    from test_dataengineer2026_spark.extraction.pdf import (
        extract_pages,
        extract_runs,
    )

    def build_pdf(rng, n_pages, corrupt):
        objs = []
        kids = " ".join(f"{3+i} 0 R" for i in range(n_pages))
        objs.append((1, b"<< /Type /Catalog /Pages 2 0 R >>"))
        objs.append(
            (2, f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
        )
        nid = 3 + n_pages
        for i in range(n_pages):
            objs.append(
                (3 + i,
                 f"<< /Type /Page /Parent 2 0 R /Contents {nid+i} 0 R >>".encode())
            )
        for i in range(n_pages):
            comp = zlib.compress(
                f"BT /F1 12 Tf 10 {700-i*20} Td (pg{i}) Tj ET".encode()
            )
            objs.append(
                (nid + i,
                 b"<< /Length " + str(len(comp)).encode()
                 + b" /Filter /FlateDecode >>\nstream\n" + comp + b"\nendstream")
            )
        out = bytearray(b"%PDF-1.4\n")
        offs = {}
        for n, body in objs:
            offs[n] = len(out)
            out += f"{n} 0 obj\n".encode() + body + b"\nendobj\n"
        xa = len(out)
        out += f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()
        for n in sorted(offs):
            out += f"{offs[n]:010d} 00000 n \n".encode()
        out += (f"trailer\n<< /Size {len(objs)+1} /Root 1 0 R >>\n"
                f"startxref\n{xa}\n%%EOF").encode()
        if corrupt:
            for _ in range(rng.randrange(1, 15)):
                out[rng.randrange(len(out))] = rng.randrange(256)
        return bytes(out)

    rng = random.Random(88)
    clean = build_pdf(rng, 2, corrupt=False)
    assert [p for p, _ in extract_pages(clean)] == [0, 1]
    for i in range(200):
        blob = build_pdf(rng, rng.randrange(1, 4), corrupt=True)
        extract_pages(blob)   # must not raise — any exception fails the test
        extract_runs(blob)
