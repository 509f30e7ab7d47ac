"""Entry point 3.1 (SURVEY.md §3.1): batch corpus run.

DISCOVER (binaryFile scan, S1) -> PARSE (X1 Pandas UDF, explode to page
rows) -> EXTRACT (X3-X6) -> NORMALIZE/VALIDATE (X7-X9) -> SINK
(JSON/CSV/Parquet, S6-S8). Lazy end-to-end: stages 1-5 are one Catalyst
plan; the writes are the only actions.

Scale (TEST.md:65, 1k-10k PDFs): there is no repartition. The
binaryFile scan packs whole files into splits of up to
``spark.sql.files.maxPartitionBytes`` (128 MB), counting each file as
its size plus ``spark.sql.files.openCostInBytes`` (4 MB), so small PDFs
share a task, about 31 to a split: 212 files make 7 tasks. The parse
UDF runs once per split, not once per file. doc_id is a content hash
(stable across re-runs, dedup-friendly) rather than a path or a
monotonic id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark.extraction import extract as X
from test_dataengineer2026_spark.extraction.pdf import pages_udf


def scan_pdfs(spark: SparkSession, input_dir: str) -> DataFrame:
    """S1: one row per PDF (path, modificationTime, length, content)."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.pdf")
        .load(input_dir)
    )


def parse_pages(pdfs: DataFrame) -> DataFrame:
    """X1: binary -> (doc_id, path, page, text); doc_id = sha2(content)."""
    pages = pdfs.select(
        F.sha2("content", 256).alias("doc_id"),
        F.col("path"),
        F.explode(pages_udf("content")).alias("pg"),
    )
    return pages.select("doc_id", "path", F.col("pg.page").alias("page"), F.col("pg.text").alias("text"))


def extract_tables(docs: DataFrame) -> dict[str, DataFrame]:
    """X3-X9: the four spec tables plus the quarantine stream, from
    ``X.doc_text`` rows. Every table reads ``docs``; a caller computing
    more than one caches it."""
    resources_raw = X.extract_resources(docs)
    reserves_raw = X.extract_reserves(docs)
    resources, res_quarantine = X.validate_split(resources_raw)
    reserves, rsv_quarantine = X.validate_split(reserves_raw)
    return {
        "projects": X.extract_metadata(docs),
        "mineral_resources": resources,
        "mineral_reserves": reserves,
        "economics": X.extract_economics(docs),
        "quarantine": res_quarantine.unionByName(rsv_quarantine),
    }


#: Sink formats ``run_corpus`` writes (CLI ``--format``).
SINK_FORMATS = ("json", "csv", "parquet")


def run_corpus(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    fmt: str = "json",
    single_file: bool = False,
) -> dict[str, DataFrame]:
    """CLI shape: python -m test_dataengineer2026_spark.extraction.pipeline
    --input data/ --output output/ (TEST.md:61-62, 131-138).

    Writes are PARALLEL by default (one file per task — the only
    posture that scales to the spec's 10k-PDF production tier,
    TEST.md:158-163). ``single_file=True`` (CLI ``--single-file``)
    restores the one-file-per-table convenience shape for small
    hand-off runs; it serializes each sink through one task, so it is
    an explicit opt-in, never the default (r17 verdict #5 — the old
    unconditional coalesce(1) made every corpus run single-threaded at
    the sink)."""
    if fmt not in SINK_FORMATS:
        raise ValueError(f"fmt must be one of {SINK_FORMATS}, got {fmt!r}")
    docs = X.doc_text(parse_pages(scan_pdfs(spark, input_dir))).cache()
    try:
        tables = extract_tables(docs)
        for name, df in tables.items():
            out = df.coalesce(1) if single_file else df
            writer = out.write.mode("overwrite")
            if fmt == "json":
                writer.json(f"{output_dir}/{name}")
            elif fmt == "csv":
                writer.option("header", True).csv(f"{output_dir}/{name}")
            else:
                writer.parquet(f"{output_dir}/{name}")
    finally:
        # The cache serves the five sinks only, failed or not; the
        # returned frames recompute docs from the input when collected.
        docs.unpersist()
    return tables


if __name__ == "__main__":  # pragma: no cover
    import argparse

    from test_dataengineer2026_spark.session import get_session

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--format", default="json", choices=SINK_FORMATS)
    ap.add_argument(
        "--single-file",
        action="store_true",
        help="coalesce each output table to one file (small hand-off "
        "runs only; serializes the sink through one task)",
    )
    args = ap.parse_args()
    run_corpus(
        get_session("extraction"),
        args.input,
        args.output,
        args.format,
        single_file=args.single_file,
    )
