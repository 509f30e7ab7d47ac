"""Source/sink round-trip queries S1-S8 — the write path executes for
real (into this process's ``staging.staged_dir`` sink stage), then the
re-read result is verified against an oracle over the original table,
proving the formats preserve values (TEST.md:59 interchange contract).
S9/S10 (streaming source / foreachBatch sink) live in streaming_q.py."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import dsum, sql_dsum
from test_dataengineer2026_spark.registry import register
from test_dataengineer2026_spark.sources import io as sio
from test_dataengineer2026_spark.staging import staged_dir


@register(
    "S8_partitioned_parquet_roundtrip",
    oracle="""
SELECT lang, source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY lang, source
""",
    tags=("sources", "sink"),
)
def partitioned_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+S2: write documents partitioned by lang, re-read, aggregate.
    The lang=... directory keys are what downstream partition pruning
    uses; the oracle confirms zero value drift through the sink."""
    d = tables.load(spark, sf_dir, "documents")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "docs_parquet")
    sio.sink_parquet(d, out, partition_by=["lang"])
    # writer-side schema: an empty input writes no data files, and an
    # inferring read of that store would crash instead of returning an
    # empty frame (see scan_parquet)
    back = sio.scan_parquet(spark, out, schema=d.schema)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@register(
    "S1_binary_file_scan",
    oracle="""
SELECT CAST(1 AS BIGINT) AS n_files,
       CAST(SUM(strlen(text) + 1) AS BIGINT) AS total_bytes
FROM documents
""",
    tags=("sources", "binary"),
)
def binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: binaryFile corpus ingestion — one row per file with (path,
    modificationTime, length, content). This is the PDF-corpus entry
    point (TEST.md:26; pathGlobFilter='*.pdf' in the pipeline — the real
    sample report goes through it in tests/test_extraction.py). Here the
    documents table is staged as a file and scanned back; the oracle
    pins the exact byte count the scan must report. At 10k-PDF scale
    parallelism = file count and only `length`/`path` are read unless
    `content` is referenced (column pruning on the file source)."""
    d = tables.load(spark, sf_dir, "documents")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "docs_text_bin")
    d.select("text").coalesce(1).write.mode("overwrite").text(out)
    files = sio.scan_binary(spark, out, glob="*.txt")
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("length").alias("total_bytes"),
    )


@register(
    "S2_parquet_scan_pruned",
    oracle="""
SELECT doc_id, n_chars FROM documents WHERE n_chars > 300
""",
    tags=("sources", "parquet"),
)
def parquet_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: columnar parquet scan with column pruning + predicate
    pushdown — ReadSchema carries only (doc_id, n_chars) and the filter
    lands in PushedFilters, so at 100 TB the scan touches 2 columns and
    skips row groups whose max(n_chars) <= 300."""
    d = sio.scan_parquet(spark, tables.table_path(sf_dir, "documents"))
    return d.filter(F.col("n_chars") > 300).select("doc_id", "n_chars")


@register(
    "S5_text_scan",
    oracle="""
SELECT COUNT(*) AS n_lines,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
""",
    tags=("sources", "text"),
)
def text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: raw line-oriented text scan (the reference's data/prueba.txt
    shape) — documents staged as text files, re-read one row per line."""
    d = tables.load(spark, sf_dir, "documents")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "docs_text_lines")
    d.select("text").coalesce(1).write.mode("overwrite").text(out)
    lines = sio.scan_text(spark, out)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
    )


@register(
    "S6_json_sink_roundtrip",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_price
FROM orders GROUP BY o_orderstatus
""",
    tags=("sources", "sink", "json"),
)
def json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: JSON output sink (TEST.md:59's interchange contract) — orders
    written as JSON-lines, re-read with a DECLARED schema (no inference
    pass), aggregated; the oracle proves zero value drift for int64 keys
    and full-precision doubles through the textual format."""
    o = tables.load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "orders_json")
    sio.sink_json(o, out)
    back = sio.scan_json(
        spark, out, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
    )


@register(
    "S7_csv_sink_roundtrip",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n_customers, {sql_dsum('c_acctbal')} AS total_acctbal
FROM customer GROUP BY c_mktsegment
""",
    tags=("sources", "sink", "csv"),
)
def csv_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: CSV output sink with header — customer written, re-read with
    a declared schema, aggregated per market segment. Doubles survive
    because Spark writes shortest-round-trip decimal strings."""
    c = tables.load(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "customer_csv")
    sio.sink_csv(c, out)
    back = sio.scan_csv(
        spark, out, "c_custkey long, c_mktsegment string, c_acctbal double"
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        dsum("c_acctbal").alias("total_acctbal"),
    )


@register(
    "S3_csv_roundtrip",
    oracle="""
SELECT r_regionkey, r_name FROM region
""",
    tags=("sources", "csv"),
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+S3: CSV sink then declared-schema CSV scan (no inference)."""
    r = tables.load(spark, sf_dir, "region")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "region_csv")
    sio.sink_csv(r, out)
    return sio.scan_csv(spark, out, "r_regionkey int, r_name string")


@register(
    "S4_json_roundtrip",
    oracle="""
SELECT n_nationkey, n_name, n_regionkey FROM nation
""",
    tags=("sources", "json"),
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6+S4: JSON sink then declared-schema JSON scan (TEST.md:59)."""
    n = tables.load(spark, sf_dir, "nation")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "nation_json")
    sio.sink_json(n, out)
    return sio.scan_json(
        spark, out, "n_nationkey int, n_name string, n_regionkey int"
    )


def write_bucketed_join_tables(spark: SparkSession, sf_dir: str) -> None:
    """Write orders/lineitem as tables BUCKETED on the join key (8
    buckets, sorted within buckets), column-pruned to what the S11 join
    needs. Bucketing co-locates matching keys at WRITE time, so every
    later join on that key plans with ZERO shuffle exchanges — the
    100 TB answer for a fact-to-fact join that runs every day
    (SCALE.md §2; asserted in tests/test_plans.py)."""
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    o = tables.load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = tables.load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    for name, df, key in (
        ("s11_orders", o, "o_orderkey"),
        ("s11_lineitem", li, "l_orderkey"),
    ):
        # A fresh driver session has an empty in-memory catalog but the
        # warehouse directory may survive from a previous run — clear
        # both, or CREATE TABLE refuses the non-empty location.
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)


@register(
    "S11_bucketed_join",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n_items,
       {sql_dsum('l_extendedprice')} AS sum_price
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""",
    tags=("sources", "bucketed", "join"),
)
def bucketed_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: bucketed-table layout for repeated fact-to-fact joins —
    write once bucketed on the key, then every join on that key skips
    both shuffles (SortMergeJoin over pre-bucketed scans; the agg after
    the join is the query's only exchange). The oracle proves the
    bucketed write/read/join path loses no rows and no values."""
    write_bucketed_join_tables(spark, sf_dir)
    j = spark.table("s11_lineitem").join(
        spark.table("s11_orders"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "S12_dynamic_partition_backfill",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(18,6))
            AS DOUBLE) AS total_value
FROM events
GROUP BY 1
""",
    tags=("sources", "sink", "incremental"),
)
def dynamic_partition_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: late-data backfill via DYNAMIC partition overwrite — the
    incremental-pipeline pattern every 100 TB daily job needs. Pass 1
    materializes the day-partitioned rollup from an incomplete feed
    (a deterministic 10% of events withheld as "late"). Pass 2 finds
    the days the late rows touch, recomputes ONLY those days from the
    full feed, and writes with partitionOverwriteMode=dynamic — Spark
    replaces exactly the day=... directories present in the patch and
    leaves every other partition's files untouched, so the backfill
    cost is O(late days), not O(history). The re-read equals a full
    recompute (the oracle) precisely because a day's rollup is stale
    iff it contains a late row — the patched set."""
    ev = tables.load(spark, sf_dir, "events")
    from test_dataengineer2026_spark.determinism import dec, dnarrow

    day = F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    # lateness clustered in the tail of the month: the first ~20 day
    # partitions contain NO late rows, so a static (wipe-all) overwrite
    # in pass 2 would destroy them and fail the oracle — the dynamic
    # mode's file-level selectivity is what this query proves.
    late = (F.col("event_id") % 10 == 7) & (F.col("ts") >= F.lit("2024-01-21"))

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(day.alias("day")).agg(
            F.count(F.lit(1)).alias("n_events"),
            dnarrow(F.sum(dec("value"))).alias("total_value"),
        )

    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "events_daily_backfill")
    # pass 1: incomplete feed, full static overwrite of the table
    sio.sink_parquet(rollup(ev.filter(~late)), out, partition_by=["day"])
    # pass 2: recompute only the stale days from the full feed
    stale_days = ev.filter(late).select(day.alias("day")).distinct()
    patch = rollup(
        ev.join(F.broadcast(stale_days), day.alias("day") == stale_days.day, "left_semi")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        sio.sink_parquet(patch, out, partition_by=["day"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    back = sio.scan_parquet(spark, out)
    # partition-type inference may surface day as DATE; normalize
    return back.select(
        F.col("day").cast("string").alias("day"), "n_events", "total_value"
    )


@register(
    "S13_zorder_layout",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS box_revenue,
       CAST(MIN(l_partkey) AS BIGINT) AS min_pk,
       CAST(MAX(l_suppkey) AS BIGINT) AS max_sk
FROM lineitem
WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
""",
    tags=("sources", "layout", "zorder"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: Z-order clustered parquet layout (operators/zorder.py) — the
    OPTIMIZE ZORDER BY pattern: interleave (l_partkey, l_suppkey) bits
    into a Morton code, range-partition + sort the table on it, write,
    and answer a 2-D box predicate from the clustered store.

    Each output file covers a compact rectangle of (partkey, suppkey)
    space, so the box scan prunes on BOTH dimensions via row-group
    min/max stats — a single-column sort layout prunes only one
    (quantified in tests/test_plans.py::test_zorder_prunes_both_dims).
    Layout never changes values, so the oracle is the plain box query
    against the unclustered table. One range exchange to write; the
    read-back box filter is pushed into the parquet scan.
    """
    from test_dataengineer2026_spark.operators.zorder import zorder_by

    li = tables.load(spark, sf_dir, "lineitem")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "lineitem_zorder")
    # min-max scale both keys into the same 10-bit domain before
    # interleaving — otherwise the wider key's high bits dominate and
    # the layout degenerates to a 1-D sort (operators/zorder.py). Bounds
    # come from a 1-row aggregate broadcast, so the scaling is
    # sf-independent and costs one cheap stats pass.
    bounds = li.agg(
        F.max("l_partkey").alias("__pk_max"), F.max("l_suppkey").alias("__sk_max")
    )
    scaled = li.join(F.broadcast(bounds))
    clustered = zorder_by(
        scaled,
        F.col("l_partkey") * 1023 / F.col("__pk_max"),
        F.col("l_suppkey") * 1023 / F.col("__sk_max"),
        n_files=16,
        bits=10,
    ).drop("__pk_max", "__sk_max")
    sio.sink_parquet(clustered, out)
    back = sio.scan_parquet(spark, out).filter(
        F.col("l_partkey").between(100, 300) & F.col("l_suppkey").between(10, 40)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("box_revenue"),
        F.min("l_partkey").alias("min_pk"),
        F.max("l_suppkey").alias("max_sk"),
    )


@register(
    "S14_compact_small_files",
    oracle=f"""
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_text_bytes
FROM documents
GROUP BY lang, source
""",
    tags=("sources", "layout", "compaction"),
)
def compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: small-file compaction (sources/io.py:compact_parquet) — the
    OPTIMIZE half of the layout story (S13 is the CLUSTER half).

    Simulates a fragmented ingest by staging documents across 64 tiny
    files (a streaming sink's typical debris), then compacts with a
    byte-budget planner: the Hadoop listing gives actual store bytes,
    output task count = ceil(bytes / target), one round-robin exchange
    rewrites. The registered result re-reads the COMPACTED store and
    aggregates, proving compaction is value-neutral; the file-count
    guarantee itself is pinned in tests/test_plans.py::
    test_compaction_hits_target_file_count. Compaction never sorts and
    never shuffles by key, so it cannot skew; at 100 TB it runs
    per-partition-directory with the same planner math.
    """
    d = tables.load(spark, sf_dir, "documents")
    stage = staged_dir(sf_dir, "sink_stage")
    frag = os.path.join(stage, "docs_fragmented")
    d.repartition(64).write.mode("overwrite").parquet(frag)
    out = os.path.join(stage, "docs_compacted")
    sio.compact_parquet(spark, frag, out, target_bytes=8 * 1024 * 1024)
    back = sio.scan_parquet(spark, out)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(F.length("text")).cast("bigint").alias("total_text_bytes"),
    )


@register(
    "S15_schema_evolution",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM (
  SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang, n_chars
  FROM documents
)
GROUP BY lang
""",
    tags=("sources", "schema-evolution"),
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: parquet schema evolution — a table written by two producer
    generations (v1 files lack the later-added ``lang`` column; v2
    files carry it), read back as ONE table with mergeSchema, old rows
    surfacing NULL for the new column. This is how a 100 TB lake
    actually evolves: no rewrite of historical files, the footer merge
    happens at planning time, and per-file pruning still works because
    the union schema is resolved per row-group. The aggregate proves
    both generations land in one scan.

    Schema inference is the exhibit here, so the read-back deliberately
    does NOT declare a schema — which means an empty corpus (no data
    files written) cannot infer and raises UNABLE_TO_INFER_SCHEMA. A
    production evolving-lake reader declares the current union schema
    (the scan_parquet(schema=...) pattern used by S8/S16/MM3) and gets
    an empty frame instead."""
    d = tables.load(spark, sf_dir, "documents")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "s15_evolving")
    import shutil

    shutil.rmtree(out, ignore_errors=True)
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "n_chars")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars")
    v1.write.mode("overwrite").parquet(f"{out}/gen=v1")
    v2.write.mode("overwrite").parquet(f"{out}/gen=v2")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


#: S16 dim selectivity: a signup with value above this marks its day hot.
#: 250 sits in the value distribution's upper tail (signup p99 ~233), so
#: the dim stays selective at every SF (1 of 30 days at sf0.001, ~13 at
#: sf0.01, ~29 at sf0.1) and never empty.
S16_HOT_VALUE = 250.0


@register(
    "S16_dynamic_partition_pruning",
    oracle=f"""
WITH hot_days AS (
  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
  FROM events
  WHERE event_type = 'signup' AND value > {S16_HOT_VALUE}
)
SELECT e.day,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS total_value
FROM (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, value
      FROM events) e
JOIN hot_days h ON h.day = e.day
GROUP BY e.day
""",
    tags=("sources", "layout", "join"),
)
def dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: DYNAMIC partition pruning — the Catalyst feature that makes
    partitioned-fact x filtered-dim stars cheap at 100 TB. The events
    table is staged partitioned by day; the dim (days that saw a
    high-value signup) is only knowable at runtime, so a static planner
    must scan every fact partition. Spark instead injects a
    `dynamicpruning` subquery into the fact scan's PartitionFilters:
    the dim's broadcast result prunes fact partitions BEFORE they are
    read (plan-asserted in tests/test_plans.py). At 100 TB with
    day-partitioned storage this is the difference between scanning 30
    days and scanning the 10 the dim selects. The oracle recomputes
    the identical join relationally — pruning is an access-path
    optimization, never a semantics change."""
    e = tables.load(spark, sf_dir, "events")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "s16_events_by_day")
    with_day = e.withColumn(
        "day", F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
    )
    written = with_day.select("event_id", "event_type", "value", "day")
    written.write.mode("overwrite").partitionBy("day").parquet(out)
    # writer-side schema: empty input -> no data files -> an inferring
    # read crashes instead of returning an empty frame (see scan_parquet)
    fact = spark.read.schema(written.schema).parquet(out)
    dim = (
        tables.load(spark, sf_dir, "events")
        .filter(
            (F.col("event_type") == "signup") & (F.col("value") > S16_HOT_VALUE)
        )
        .select(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
                "day"
            )
        )
        .distinct()
    )
    return fact.join(dim, "day").groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )


@register(
    "S17_orc_roundtrip",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       {sql_dsum('l_extendedprice')} AS total_price,
       CAST(SUM(l_quantity) AS BIGINT) AS total_qty,
       MIN(l_shipdate) AS min_ship,
       MAX(l_shipdate) AS max_ship
FROM lineitem GROUP BY l_returnflag, l_linestatus
""",
    tags=("sources", "sink", "orc"),
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: ORC sink + scan roundtrip — Spark's second native columnar
    format, exercised on the widest value mix in the corpus (dates,
    doubles, integers, low-cardinality strings). lineitem is written as
    ORC, re-read, and aggregated; the oracle computes the identical
    aggregate from the parquet source, so any value drift through the
    ORC writer/reader (timestamp/date encoding, double bit-patterns,
    dictionary-encoded strings) fails the hash. Like S2, the re-read
    scan keeps pushdown and pruning — ORC carries min/max stripe stats,
    so at 100 TB the format choice changes encoding, not plan shape."""
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice",
        "l_quantity", "l_shipdate",
    )
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "lineitem_orc")
    sio.sink_orc(li, out)
    back = sio.scan_orc(spark, out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("total_price"),
        F.sum("l_quantity").cast("long").alias("total_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@register(
    "S18_python_datasource_pdf",
    oracle="SELECT doc_id, CAST(0 AS INTEGER) AS page, text FROM documents",
    tags=("sources", "datasource", "pdf"),
)
def python_datasource_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: the PDF corpus as a first-class pluggable source/sink on
    Spark 4's Python DataSource API (pyspark.sql.datasource) — the
    engine-protocol packaging of the ingestion capability X1 proves by
    UDF composition (spec basis TEST.md:26-34 ingestion, TEST.md:158-163
    maintainable production component).

    Full round-trip through BOTH halves of the API: documents rows are
    written as one real PDF file each via the custom sink (task-parallel
    renders, hidden temp names, two-phase commit with overwrite-in-commit
    — sources/pdf_datasource.py), then read back through the custom
    reader (driver-side partition PLANNING that lists but never reads
    files, executor-side extraction). The oracle over the original
    documents table proves the text layer survived the render→extract
    round-trip byte-exactly, same contract as X1.

    Scale posture: partition planning is O(listing) on the driver with
    data movement zero; each reader task handles filesPerPartition files
    (16 here → ~32 tasks at sf0.01, matching local[32]; the default 64
    suits a real corpus); extraction is pure-Python per task but that IS
    the workload (PDF bytes never benefit from codegen) and it
    parallelizes per file exactly like the binaryFile+UDF path.
    """
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
    )

    spark.dataSource.register(PdfCorpusDataSource)
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = os.path.join(staged_dir(sf_dir, "pdf_corpus"), "pdfs")
    docs.write.format("pdfcorpus").mode("overwrite").save(corpus)
    # filesPerPartition scales with the corpus (r19, guide §2.2/§6 —
    # fewer, larger partitions): the old constant 16 was right at
    # sf0.01 (~32 tasks) but exploded to 313 reader tasks at sf0.1,
    # and the Python-datasource per-TASK overhead dominated the scan
    # (interleaved A/B: 2.6-3.7 s at 16 files/part vs 0.48 s at
    # ~corpus/parallelism; renders+extracts total 0.3 s serial).
    # Sink-side widening was also A/B'd and REJECTED: the repartition
    # exchange + 32 task commits cost 2.7 s vs 0.9 s for the 1-task
    # write — the render is too cheap to farm out at this scale.
    fpp = max(16, -(-tables.table_rows(spark, sf_dir, "documents")
                    // spark.sparkContext.defaultParallelism))
    return (
        spark.read.format("pdfcorpus")
        .option("filesPerPartition", str(fpp))
        .load(corpus)
    )


@register(
    "S19_python_datasource_stream",
    oracle="SELECT doc_id, CAST(0 AS INTEGER) AS page, text FROM documents",
    tags=("sources", "datasource", "pdf", "streaming"),
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: the STREAMING half of the Python DataSource API
    (DataSourceStreamReader) over the same PDF corpus as S18 — the
    landing-zone shape TEST.md:65 implies: PDFs arrive continuously,
    each micro-batch picks up exactly the files that landed since the
    last committed offset.

    Offsets are (mtime, name) watermarks over the landing directory;
    latestOffset lists (never reads) on the driver, partitions() chunks
    the fresh files filesPerPartition apiece, extraction runs on
    executors — identical task shape to the batch reader, plus Spark's
    offset log for exactly-once across restarts (pinned incrementally
    in tests/test_pdf_datasource.py). The corpus is staged by the S18
    custom SINK, so this query alone exercises writer + stream-reader
    end-to-end; the oracle over the original documents proves the
    landing->extract round trip byte-exact."""
    from test_dataengineer2026_spark.sources.pdf_datasource import (
        PdfCorpusDataSource,
    )
    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    spark.dataSource.register(PdfCorpusDataSource)
    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = os.path.join(staged_dir(sf_dir, "pdf_corpus_stream"), "pdfs")
    docs.write.format("pdfcorpus").mode("overwrite").save(corpus)
    # corpus-scaled filesPerPartition, same A/B evidence as S18 (see
    # there): per-task Python-datasource overhead dominated at the old
    # constant 16 once the corpus outgrew it.
    fpp = max(16, -(-tables.table_rows(spark, sf_dir, "documents")
                    // spark.sparkContext.defaultParallelism))
    s = (
        spark.readStream.format("pdfcorpus")
        .option("filesPerPartition", str(fpp))
        .load(corpus)
    )
    return run_to_memory(s, "s19_pdf_stream", "append")


# S20 shares X3's oracle: the roundtrip must reproduce exactly the rows
# X3 extracts (no import cycle: extraction_q never imports this module).
from test_dataengineer2026_spark.queries.extraction_q import _X3_ORACLE


@register(
    "S20_xml_roundtrip",
    oracle=_X3_ORACLE,
    tags=("sources", "sink", "xml"),
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S20: XML sink + scan roundtrip — the last built-in interchange
    format with no coverage (Spark 4 ships format("xml") in core; no
    extra jars). The payload is the X3 project-metadata records
    (TEST.md:59 fixes interchange formats for *extracted records*, and
    filings/regulatory feeds are where a platform actually meets XML):
    extraction output is written one <record> element per row, read
    back with an EXPLICIT schema, and value-compared against X3's own
    oracle — so the exhibit proves entity escaping, date encoding, and
    XML's omit-element null convention all survive the trip.

    Scale posture: XML is a BOUNDARY format — land it, convert to
    parquet, never analyze over it (the scan_xml docstring carries the
    why: per-file parse cost, no column pruning). The write/read here
    are task-parallel like any file sink/scan; the schema-bearing read
    keeps it one-pass (inference would add a full extra pass at
    100 TB).

    Boundary note, recorded for completeness: Avro is NOT exercisable
    in this build — the spark-avro jar is absent (probed r16:
    from_avro/to_avro raise AVRO_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE),
    and installing jars is out of scope here. See USAGE.md.
    """
    from test_dataengineer2026_spark.extraction import extract as X
    from test_dataengineer2026_spark.queries.extraction_q import _corpus_df

    meta = X.extract_metadata(_corpus_df(spark))
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "x3_meta_xml")
    sio.sink_xml(meta, out, row_tag="record")
    return sio.scan_xml(spark, out, meta.schema, row_tag="record")


@register(
    "S21_simple_stream_manifest",
    oracle="SELECT doc_id, lang, n_chars FROM documents",
    tags=("sources", "datasource", "streaming"),
)
def simple_stream_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S21: the THIRD reader surface of the Python DataSource API —
    ``SimpleDataSourceStreamReader`` (sources/manifest_source.py) —
    completing the set after S18 (batch) and S19 (partition-planned
    stream). The exhibit tails a landing-zone MANIFEST: one JSONL line
    per registered document (the auditable ingestion record
    TEST.md:158-163's production posture implies), streamed through
    ``format("docmanifest")`` and value-checked against the documents
    table.

    The manifest is produced by Spark's own JSON sink (coalesce(1) —
    a manifest is a control-plane artifact, deliberately one file; no
    .collect() anywhere), then the simple reader tails it on the
    driver: offsets are line counts, ``read(start)`` returns the new
    rows AND the next offset in one call, ``readBetweenOffsets``
    replays a committed range deterministically on recovery (pinned
    with a parquet-sink restart in tests/test_manifest_source.py).

    Scale posture: this API reads ON THE DRIVER by design — Spark
    scopes it to small control-plane feeds, which a manifest is (one
    line per document, not per byte). The data plane (the PDFs
    themselves) streams through the partitioned S19 reader; if a
    manifest ever outgrew a driver tail, the upgrade path is the same
    offset algebra on DataSourceStreamReader."""
    import glob as _glob
    import shutil

    from test_dataengineer2026_spark.sources.manifest_source import (
        DocManifestDataSource,
    )
    from test_dataengineer2026_spark.streaming.jobs import run_to_memory

    spark.dataSource.register(DocManifestDataSource)
    base = staged_dir(sf_dir, "doc_manifest")
    json_out = os.path.join(base, "json_out")
    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    docs.coalesce(1).write.mode("overwrite").json(json_out)
    manifest = os.path.join(base, "manifest.jsonl")
    part = next(
        f
        for f in sorted(_glob.glob(os.path.join(json_out, "part-*")))
        if not f.endswith(".crc")
    )
    shutil.copyfile(part, manifest)
    s = spark.readStream.format("docmanifest").load(manifest)
    return run_to_memory(s, "s21_manifest", "append")
