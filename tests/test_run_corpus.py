"""``run_corpus`` over a few reports rendered with the package's own
``render_pdf``: the docs cache it builds for its sinks is released when
it returns, also when a sink fails, and the frames it returns still
collect the rows it wrote. An unknown sink format fails before any
scan."""

from __future__ import annotations

import pytest

from test_dataengineer2026_spark.extraction.pdf import render_pdf
from test_dataengineer2026_spark.extraction.pipeline import run_corpus

_PROSE = (
    "the drilling program tested continuity of the mineralized zones along "
    "strike and down dip with core recovery logged for every interval "
) * 8


def _report(i: int) -> str:
    return (
        f"NI 43-101 Technical Report for the Condor {i} Project, Sonora, Mexico "
        f"prepared for Falcon Metals Corp report effective March {i + 1}, 2021. "
        f"Table 14-1 Summary of mineral resources effective March {i + 1}, 2021 "
        "Classification Tonnes (Mt) Gold grade (g/t) Contained gold (koz) "
        f"Measured {10 + i}.5 1.25 420.0 Indicated 0.0 2.10 99.0 "
        f"Inferred {30 + i}.0 0.80 775.5 {_PROSE} "
        "Economic analysis The initial capital cost is estimated at "
        f"US${100 + i}.0 million for this study stage."
    )


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pdfs")
    for i in range(3):
        (d / f"report_{i}.pdf").write_bytes(render_pdf(_report(i)))
    return str(d)


def _nothing_cached(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_run_corpus_releases_docs_and_frames_recompute(spark, corpus_dir, tmp_path):
    spark.catalog.clearCache()
    out = str(tmp_path / "out")
    tables = run_corpus(spark, corpus_dir, out, fmt="parquet")
    assert _nothing_cached(spark)
    for name, df in tables.items():
        written = spark.read.parquet(f"{out}/{name}")
        assert sorted(df.collect()) == sorted(written.collect()), name
    assert len(tables["mineral_resources"].collect()) == 6
    assert len(tables["quarantine"].collect()) == 3
    assert len(tables["projects"].collect()) == 3


def test_run_corpus_releases_docs_when_a_sink_fails(spark, corpus_dir, tmp_path):
    spark.catalog.clearCache()
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("a file where the output directory should go")
    with pytest.raises(Exception):
        run_corpus(spark, corpus_dir, str(blocker), fmt="parquet")
    assert _nothing_cached(spark)


def test_run_corpus_rejects_unknown_format_before_scanning(spark, corpus_dir, tmp_path):
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="jsonl"):
        run_corpus(spark, corpus_dir, str(out), fmt="jsonl")
    assert not out.exists()
