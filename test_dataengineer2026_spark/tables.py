"""Loaders for the harness star schema (see repo:TESTDATA.md, repo:FIXTURES.md §1).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under an sf directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
SMALL_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan. Catalyst prunes columns / pushes filters into this.

    ``events.ts`` is physically TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; we read it as raw nanos (legacy conf) and
    truncate to microseconds with integer division — matching exactly what
    the DuckDB oracle sees (its view layer truncates ns -> us the same
    way). Float division would corrupt the value: epoch-nanos (~1.7e18)
    exceed double's 2^53 integer range.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Per-session memo of the ten base relations: spark.read.parquet
    # re-lists files and re-reads footers on every call (~50-200 ms at
    # sf0.1), and multi-table queries load up to five tables per build.
    # DataFrames are immutable, so handing every caller the same base
    # relation is safe; the memo never covers arbitrary paths (sink
    # roundtrips and probes read their own outputs directly), and a
    # regenerated sf_dir always arrives in a fresh driver process.
    cache: dict[tuple[str, str], DataFrame] | None
    cache = getattr(spark, "_graft_table_cache", None)
    if cache is None:
        cache = {}
        spark._graft_table_cache = cache
    key = (sf_dir, name)
    if key in cache:
        return cache[key]
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    else:
        df = spark.read.parquet(table_path(sf_dir, name))
    cache[key] = df
    return df


def clear_cache(spark: SparkSession) -> None:
    """Drop the per-session base-relation memo and the per-process
    layout memo behind ``table_rows``/``widen_if_narrow``.

    ``load`` assumes parquet under a given sf_dir is immutable for the
    life of the driver process; call this after regenerating files in
    place so subsequent loads and layout reads re-read the footers (r8
    advisor note — the harness always regenerates into a fresh process,
    but external users of ``tables.load`` may not). Both memos rest on
    that one assumption, so they are invalidated together."""
    getattr(spark, "_graft_table_cache", {}).clear()
    _LAYOUT_CACHE.clear()


def parallelize(df: DataFrame, key: str | None = None) -> DataFrame:
    """Widen a narrow scan before CPU-heavy per-row work (hashing,
    shingling, UDFs). A small local parquet file arrives as ONE scan
    partition, serializing everything downstream onto one core; on a
    real cluster the same operator chain inherits the scan's width, but
    compute-bound stages still benefit from hash-distributing rows.
    The shuffle moves only the (small) input rows — worth it whenever
    per-row work dominates row width."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(key)) if key else df.repartition(n)


#: Scan-split size Spark's parquet reader packs files into
#: (spark.sql.files.maxPartitionBytes default) — used only to ESTIMATE
#: how many tasks a table's physical layout can feed. This repo never
#: overrides the conf; an estimate that is slightly off only shifts the
#: widen/no-widen boundary for mid-sized layouts, never correctness.
_MAX_PARTITION_BYTES = 128 << 20

#: Per-process memo of (est_splits, rows) per table path — footer reads
#: are cheap but every query build would otherwise repeat them. Same
#: immutability contract as the ``load`` memo above.
_LAYOUT_CACHE: dict[str, tuple[int, int]] = {}


def _scan_layout(sf_dir: str, name: str) -> tuple[int, int]:
    """(estimated scan splits, total rows) for a base table's physical
    files, from parquet footers only (no Spark job). A file estimates
    ceil(size / maxPartitionBytes) splits, the byte ranges Spark cuts it
    into — an OVER-estimate of useful tasks for a file with fewer row
    groups than ranges (a range holding no row group's midpoint reads
    nothing), which only errs toward NOT widening."""
    path = table_path(sf_dir, name)
    if path in _LAYOUT_CACHE:
        return _LAYOUT_CACHE[path]
    leaves: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            leaves.extend(
                os.path.join(root, f) for f in files if f.endswith(".parquet")
            )
    else:
        leaves = [path]
    splits = 0
    rows = 0
    import pyarrow.parquet as pq

    for leaf in leaves:
        splits += max(1, -(-os.stat(leaf).st_size // _MAX_PARTITION_BYTES))
        rows += pq.ParquetFile(leaf).metadata.num_rows
    out = (max(1, splits), rows)
    _LAYOUT_CACHE[path] = out
    return out


def table_rows(sf_dir: str, name: str) -> int:
    """Total rows in a base table, from parquet footers only (no Spark
    job; memoized per process). For sizing decisions — e.g. scaling a
    custom source's files-per-partition to the corpus."""
    return _scan_layout(sf_dir, name)[1]


def widen_if_narrow(
    df: DataFrame,
    sf_dir: str,
    name: str,
    key: str | None = None,
    min_rows_per_split: int = 10_000,
) -> DataFrame:
    """Scale-adaptive scan widening (guide §2.5/§6, r18 verdict #6):
    repartition a base-table scan to session parallelism ONLY when the
    physical layout cannot feed enough tasks on its own — estimated
    splits below the session's parallelism AND enough rows per split
    that the per-split work dominates the added exchange. Generalizes
    the case-by-case ``parallelize`` calls: at real scale (many files /
    large files) the condition is false and this is an exact no-op —
    zero added shuffles, the scan's native width flows through.

    ``min_rows_per_split`` is the caller's statement of per-row work:
    heavy per-row compute (rendering, explode+agg) justifies widening at
    a few thousand rows; plain columnar aggregation only at 10k+."""
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    splits, rows = _scan_layout(sf_dir, name)
    if splits >= cores or rows // splits < min_rows_per_split:
        return df
    return parallelize(df, key)


def duck_view_sql(table: str, sf_dir: str) -> str:
    """CREATE VIEW statement registering one fixture table in a DuckDB
    oracle connection — the single shared implementation for
    scripts/driver_replay.py and tests/conftest.py (r12 advisor: the two
    copies had drifted-prone, fragile layout detection).

    Layout-aware: a fixture table may be a single parquet FILE (the
    driver's layout), a DIRECTORY of part files at any nesting depth
    (multi-file probe, real-scale layouts), or a HIVE-PARTITIONED
    directory of key=value subdirectories (round-12 probe; what every
    100 TB lake table looks like). Spark reads all three transparently;
    DuckDB needs the glob spelled out. One recursive ``**/*.parquet``
    glob covers flat, nested, and multi-level-partitioned directories
    (DuckDB's ``**`` matches zero or more path segments — probed).
    Hive detection requires the ``key=value`` entry to be a directory,
    so a flat part FILE whose name contains '=' cannot mis-trigger
    partition reconstruction — and because DuckDB AUTO-detects hive
    layout by default (it even parses '=' out of a FILENAME into a
    phantom partition column — probed), the option is pinned explicitly
    in ALL THREE layouts, including the single-file branch: a fixture
    root relocated under some ``key=value/`` ancestor directory would
    otherwise inject a phantom partition column into every single-file
    view (r13 advisor). A genuinely mixed flat+partitioned
    directory fails loudly in DuckDB ("Hive partition mismatch") rather
    than silently dropping top-level files, which is the correct
    behavior for a corrupt layout.

    The path is single-quote-escaped (same pattern as
    scripts/data_profile.py) so a relocated fixture root containing a
    quote can't break the SQL.

    Partial-write guard (r14): Spark readers SKIP files under ``_``/
    ``.``-prefixed path segments (``_temporary`` task attempts from a
    crashed writer, ``.staging``), but DuckDB's recursive glob does
    NOT — probed: a leftover ``_temporary/0/task_1/part-*.parquet``
    makes the oracle silently count every row twice while Spark reads
    it once. A directory layout containing parquet files under hidden
    segments therefore fails LOUDLY here instead of silently
    diverging the oracle; the fix is cleaning the crashed writer's
    leftovers, which is what a production lake janitor does. Spark's
    pathname filter also skips hidden-prefixed FILE names (e.g. a
    stray ``_backup.parquet`` or ``.part-0.parquet.crc``-style
    sibling) while DuckDB's ``*.parquet`` glob reads them (probed —
    r14 advisor), so those fail loudly too."""
    raw = os.path.join(sf_dir, f"{table}.parquet")
    path = raw.replace("'", "''")
    hive = False
    if os.path.isdir(raw):
        for dirpath, dirnames, filenames in os.walk(raw):
            rel = os.path.relpath(dirpath, raw)
            segs = [] if rel == "." else rel.split(os.sep)
            if any(s[:1] in ("_", ".") for s in segs) and any(
                f.endswith(".parquet") for f in filenames
            ):
                raise ValueError(
                    f"{raw}: parquet files under hidden segment(s) "
                    f"{segs!r} — Spark skips them but the DuckDB glob "
                    f"would read them (silent row double-count); clean "
                    f"the partial-write leftovers first"
                )
            hidden_files = [
                f
                for f in filenames
                if f.endswith(".parquet") and f[:1] in ("_", ".")
            ]
            if hidden_files:
                raise ValueError(
                    f"{dirpath}: hidden-prefixed parquet file(s) "
                    f"{hidden_files!r} — Spark's pathname filter skips "
                    f"them but the DuckDB glob would read them (silent "
                    f"row double-count); remove or rename them first"
                )
        path = f"{path}/**/*.parquet"
        hive = any(
            "=" in e and os.path.isdir(os.path.join(raw, e))
            for e in os.listdir(raw)
        )
    opts = f", hive_partitioning = {'true' if hive else 'false'}"
    return f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}'{opts})"


#: Session-conf marker recording which sf_dir's views are registered.
_VIEWS_MARKER = "spark.graft.registered_views_sf_dir"


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all tables as temp views for the spark.sql() surface.

    Idempotent per (session, sf_dir): re-reading ten parquet footers and
    re-creating ten temp views costs ~0.5-1.0 s per call (measured at
    sf0.1 — it was most of SQL1's per-call build time), and every
    spark.sql query calls this. Re-registration happens only when the
    sf_dir changes or a view has been dropped; temp views snapshot the
    file listing at creation, so same-path same-session reuse reads the
    same data either way.
    """
    if spark.conf.get(_VIEWS_MARKER, None) == sf_dir and all(
        spark.catalog.tableExists(name) for name in TABLES
    ):
        return
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(_VIEWS_MARKER, sf_dir)
