"""register_views caching contract.

Round-8 change: register_views became idempotent per (session, sf_dir)
because re-reading ten parquet footers per spark.sql call was most of
every SQL query's build time (~0.5-1.0 s at sf0.1). These tests pin the
three behaviors the cache must keep correct: reuse, sf_dir
invalidation, and self-healing after a dropped view.

The ``parquet_schema`` tests pin the driver-side footer read behind
``load``: no Spark job, the same frame schema as inference wherever it
answers, and a fallback to inference wherever inference would read
another footer.
"""

from __future__ import annotations

import contextlib
import glob
import importlib.util
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from test_dataengineer2026_spark import tables
from tests.conftest import SF_DIR, SF_DIR_MID


def _rows(spark, table: str) -> int:
    return spark.sql(f"SELECT COUNT(*) AS n FROM {table}").collect()[0]["n"]


def test_register_views_is_idempotent_and_marks_session(spark):
    tables.register_views(spark, SF_DIR)
    n1 = _rows(spark, "region")
    assert spark.conf.get(tables._VIEWS_MARKER) == SF_DIR
    # second call must be a no-op (marker unchanged, views intact)
    tables.register_views(spark, SF_DIR)
    assert _rows(spark, "region") == n1


def test_register_views_invalidates_on_sf_dir_change(spark):
    tables.register_views(spark, SF_DIR)
    small = _rows(spark, "lineitem")
    tables.register_views(spark, SF_DIR_MID)
    mid = _rows(spark, "lineitem")
    assert mid > small, "sf_dir switch did not re-register views"
    tables.register_views(spark, SF_DIR)
    assert _rows(spark, "lineitem") == small


def test_register_views_self_heals_dropped_view(spark):
    tables.register_views(spark, SF_DIR)
    spark.catalog.dropTempView("orders")
    tables.register_views(spark, SF_DIR)
    assert _rows(spark, "orders") > 0


def test_load_memoizes_and_clear_cache_resets(spark):
    a = tables.load(spark, SF_DIR, "region")
    assert tables.load(spark, SF_DIR, "region") is a, "memo must return same relation"
    tables.clear_cache(spark)
    b = tables.load(spark, SF_DIR, "region")
    assert b is not a, "clear_cache must force a fresh footer read"
    assert b.count() == a.count()
    # clear_cache on a session that never loaded anything is a no-op
    tables.clear_cache(spark)


def test_clear_cache_resets_table_rows_after_regeneration(spark, tmp_path):
    """A table regenerated in place reports its new row count from
    ``table_rows`` once ``clear_cache`` runs: the layout memo is
    invalidated with the relation memo, not left stale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tables.table_path(str(tmp_path), "region")
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), path)
    assert tables.table_rows(spark, str(tmp_path), "region") == 3
    pq.write_table(pa.table({"r_regionkey": list(range(7))}), path)
    tables.clear_cache(spark)
    assert tables.table_rows(spark, str(tmp_path), "region") == 7


def test_scan_layout_counts_partial_split(monkeypatch, tmp_path):
    """A file a little over maxPartitionBytes is cut into two byte
    ranges, so it estimates two splits, not one; a file within one
    range estimates one."""
    import os
    import pathlib

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf_dir = str(tmp_path)
    path = tables.table_path(sf_dir, "region")
    pq.write_table(pa.table({"r_regionkey": list(range(100))}), path)
    size = os.stat(path).st_size
    uri = pathlib.Path(path).as_uri()
    for max_bytes, splits in ((size - 1, 2), (-(-size // 3), 3), (size, 1), (size * 2, 1)):
        monkeypatch.setattr(tables, "_MAX_PARTITION_BYTES", max_bytes)
        monkeypatch.setattr(tables, "_LAYOUT_CACHE", {})
        assert tables._scan_layout([uri]) == (splits, 100), max_bytes


def test_table_rows_skips_crashed_writer_leftovers(spark, tmp_path):
    """A crashed writer leaves part files under ``_temporary``, which
    Spark's reader skips: ``table_rows`` counts only the rows Spark
    reads, not every parquet file under the table directory."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tables.table_path(str(tmp_path), "region")
    leftover = os.path.join(path, "_temporary", "0", "task_1")
    os.makedirs(leftover)
    pq.write_table(pa.table({"r_regionkey": [0, 1, 2]}), f"{path}/part-0.parquet")
    pq.write_table(pa.table({"r_regionkey": [3, 4]}), f"{leftover}/part-1.parquet")
    assert tables.load(spark, str(tmp_path), "region").count() == 3
    assert tables.table_rows(spark, str(tmp_path), "region") == 3


def test_duck_view_sql_layouts(tmp_path):
    """r12 advisor pin for the now-shared layout detector: (1) a flat
    part FILE whose name contains '=' must NOT trigger hive
    reconstruction; (2) multi-level key=value partitioning must
    reconstruct ALL partition columns; (3) a nested non-hive directory
    must still find its leaves (recursive glob, not single-level)."""
    import duckdb

    import pyarrow as pa
    import pyarrow.parquet as pq

    con = duckdb.connect()
    t = pa.table({"x": [1, 2]})

    # flat dir containing a file with '=' in its name
    d1 = tmp_path / "s1" / "region.parquet"
    d1.mkdir(parents=True)
    pq.write_table(t, d1 / "run=7-part-0.parquet")
    sql = tables.duck_view_sql("region", str(tmp_path / "s1"))
    assert "hive_partitioning = false" in sql, sql
    con.execute(sql)
    assert con.execute("SELECT count(*) FROM region").fetchone()[0] == 2
    cols = [r[0] for r in con.execute("DESCRIBE region").fetchall()]
    assert cols == ["x"], f"phantom hive column: {cols}"

    # multi-level hive partitioning
    d2 = tmp_path / "s2" / "nation.parquet" / "k=a" / "j=b"
    d2.mkdir(parents=True)
    pq.write_table(t, d2 / "part-0.parquet")
    sql = tables.duck_view_sql("nation", str(tmp_path / "s2"))
    assert "hive_partitioning = true" in sql, sql
    con.execute(sql)
    cols = [r[0] for r in con.execute("DESCRIBE nation").fetchall()]
    assert sorted(cols) == ["j", "k"] + ["x"], cols

    # nested NON-hive directory (leaves one level down, no '=' anywhere)
    d3 = tmp_path / "s3" / "part.parquet" / "batch1"
    d3.mkdir(parents=True)
    pq.write_table(t, d3 / "part-0.parquet")
    sql = tables.duck_view_sql("part", str(tmp_path / "s3"))
    assert "hive_partitioning = false" in sql, sql
    con.execute(sql)
    assert con.execute("SELECT count(*) FROM part").fetchone()[0] == 2

    # r13 advisor: a single parquet FILE whose fixture root sits under a
    # key=value ANCESTOR directory — DuckDB's auto-detection would parse
    # the ancestor segment into a phantom partition column unless the
    # single-file branch pins hive_partitioning = false too.
    d4 = tmp_path / "run=42" / "s4"
    d4.mkdir(parents=True)
    pq.write_table(t, d4 / "supplier.parquet")
    sql = tables.duck_view_sql("supplier", str(d4))
    assert "hive_partitioning = false" in sql, sql
    con.execute(sql)
    cols = [r[0] for r in con.execute("DESCRIBE supplier").fetchall()]
    assert cols == ["x"], f"phantom hive column from ancestor dir: {cols}"


def test_duck_view_sql_rejects_partial_write_leftovers(spark, tmp_path):
    """r14 partial-write guard: Spark readers skip files under _/. path
    segments (a crashed writer's ``_temporary`` task attempts) but
    DuckDB's recursive glob reads them — probed: one leftover attempt
    file makes the oracle count every row TWICE while Spark stays
    correct. duck_view_sql must fail LOUDLY on such a layout instead of
    silently diverging, and keep accepting the same layout once the
    leftovers are cleaned."""
    import glob as _glob
    import os
    import shutil

    import duckdb as _duckdb
    import pytest as _pytest

    from test_dataengineer2026_spark import tables

    root = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        [(i,) for i in range(10)], "k long"
    ).coalesce(1).write.parquet(root)

    # the raw asymmetry this guard exists for
    leftover_dir = os.path.join(root, "_temporary", "0", "task_1")
    os.makedirs(leftover_dir)
    part = _glob.glob(os.path.join(root, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(leftover_dir, "part-99999.parquet"))
    assert spark.read.parquet(root).count() == 10  # Spark skips _temporary
    con = _duckdb.connect()
    assert (
        con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{root}/**/*.parquet')"
        ).fetchone()[0]
        == 20  # the silent double-count the guard turns loud
    )

    with _pytest.raises(ValueError, match="_temporary"):
        tables.duck_view_sql("orders", str(tmp_path))

    shutil.rmtree(os.path.join(root, "_temporary"))
    sql = tables.duck_view_sql("orders", str(tmp_path))
    con.execute(sql)
    assert con.execute("SELECT COUNT(*) FROM orders").fetchone()[0] == 10


def test_duck_view_sql_rejects_hidden_prefixed_files(spark, tmp_path):
    """r14 advisor: the segment guard alone misses a parquet FILE whose
    own name starts with '_' or '.' (e.g. a stray ``_backup.parquet``
    dropped next to the real slices). Spark's pathname filter skips it;
    DuckDB's ``**/*.parquet`` glob reads it — probed below: the oracle
    silently double-counts. duck_view_sql must reject the layout loudly
    and accept it again once the stray file is removed."""
    import glob as _glob
    import os
    import shutil

    import duckdb as _duckdb
    import pytest as _pytest

    from test_dataengineer2026_spark import tables

    root = str(tmp_path / "orders.parquet")
    spark.createDataFrame(
        [(i,) for i in range(10)], "k long"
    ).coalesce(1).write.parquet(root)

    part = _glob.glob(os.path.join(root, "part-*.parquet"))[0]
    shutil.copy(part, os.path.join(root, "_backup.parquet"))
    assert spark.read.parquet(root).count() == 10  # Spark skips _backup
    con = _duckdb.connect()
    assert (
        con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{root}/**/*.parquet')"
        ).fetchone()[0]
        == 20  # the silent double-count the guard turns loud
    )

    with _pytest.raises(ValueError, match="_backup.parquet"):
        tables.duck_view_sql("orders", str(tmp_path))

    os.remove(os.path.join(root, "_backup.parquet"))
    sql = tables.duck_view_sql("orders", str(tmp_path))
    con.execute(sql)
    assert con.execute("SELECT COUNT(*) FROM orders").fetchone()[0] == 10


# --- parquet_schema: the driver-side footer read ---------------------------

TESTDATA_SFS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*")))


@contextlib.contextmanager
def _conf(spark, key: str, value: str):
    """Set a session conf for the body, then put back what was there."""
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def _assert_as_inferred(spark, path: str) -> None:
    """The driver-side schema answers for ``path`` and, given to the
    reader, yields the frame schema inference yields. Frame schemas are
    compared: Spark makes both nullable."""
    s = tables.parquet_schema(spark, path)
    assert s is not None, path
    assert spark.read.schema(s).parquet(path).schema == spark.read.parquet(path).schema, path


@pytest.mark.parametrize("sf", TESTDATA_SFS, ids=os.path.basename)
def test_parquet_schema_equals_inference_on_testdata(spark, sf):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in tables.TABLES:
        _assert_as_inferred(spark, tables.table_path(sf, name))


def test_parquet_schema_equals_inference_on_a_lakegen_lake(spark, tmp_path):
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "lakegen", os.path.join(repo, "perfbench", "lakegen.py")
    )
    lakegen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(lakegen)
    lakegen.generate(str(tmp_path), seed=7)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in tables.TABLES:
        _assert_as_inferred(spark, tables.table_path(str(tmp_path), name))


def test_register_views_runs_no_spark_job(spark, tmp_path):
    """Loading the ten tables of a fresh sf_dir reads their schemas on
    the driver. An inferring read afterwards, in its own job group,
    shows that the status tracker does see such jobs."""
    for name in tables.TABLES:
        shutil.copyfile(tables.table_path(SF_DIR, name), tables.table_path(str(tmp_path), name))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("test-register-views", "register_views")
        tables.register_views(spark, str(tmp_path))
        sc.setJobGroup("test-inferring-read", "inferring read")
        spark.read.parquet(tables.table_path(str(tmp_path), "region"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("test-inferring-read") and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup("test-inferring-read"), "the control read ran no job"
    assert tracker.getJobIdsForGroup("test-register-views") == []


def _edge_tables() -> dict[str, pa.Table]:
    n = 3
    return {
        "ts_nanos": pa.table({"ts": pa.array([0, 1_700_000_000_123_456_789, None], pa.timestamp("ns"))}),
        "ts_micros_local": pa.table({"ts": pa.array([0, 1_700_000_000_123_456, None], pa.timestamp("us"))}),
        "ts_micros_utc": pa.table(
            {"ts": pa.array([0, 1_700_000_000_123_456, None], pa.timestamp("us", tz="UTC"))}
        ),
        "decimals": pa.table(
            {
                "d32": pa.array([1, 2, None], pa.decimal128(9, 2)),
                "d64": pa.array([1, 2, None], pa.decimal128(18, 4)),
                "d128": pa.array([1, 2, None], pa.decimal128(38, 10)),
            }
        ),
        "nested": pa.table(
            {
                "l": pa.array([[1, 2], [], None], pa.list_(pa.int32())),
                "m": pa.array([[("a", 1)], [], None], pa.map_(pa.string(), pa.int64())),
                "s": pa.array(
                    [{"x": 1, "y": "a"}, None, {"x": None, "y": "b"}],
                    pa.struct([("x", pa.int64()), ("y", pa.string())]),
                ),
                "ls": pa.array(
                    [[{"k": 1.5}], None, []], pa.list_(pa.struct([("k", pa.float64())]))
                ),
            }
        ),
        "unsigned": pa.table(
            {f"u{b}": pa.array([0, 2**b - 1, None], getattr(pa, f"uint{b}")()) for b in (8, 16, 32, 64)}
        ),
        "required": pa.Table.from_arrays(
            [pa.array(range(n), pa.int64()), pa.array(["a", "b", "c"])],
            schema=pa.schema([pa.field("id", pa.int64(), nullable=False), pa.field("s", pa.string(), nullable=False)]),
        ),
    }


@pytest.mark.parametrize("case", sorted(_edge_tables()))
@pytest.mark.parametrize("nanos_as_long", ["true", "false"])
@pytest.mark.parametrize("infer_ntz", ["true", "false"])
def test_parquet_schema_edge_types_equal_inference(spark, tmp_path, case, nanos_as_long, infer_ntz):
    """pyarrow-written files under both settings of the two confs that
    change how a timestamp converts. Where inference rejects the file
    (TIMESTAMP(NANOS) without ``nanosAsLong``), the reader answers None
    and the caller's inferring read raises as before."""
    path = str(tmp_path / f"{case}.parquet")
    pq.write_table(_edge_tables()[case], path)
    with _conf(spark, "spark.sql.legacy.parquet.nanosAsLong", nanos_as_long), _conf(
        spark, "spark.sql.parquet.inferTimestampNTZ.enabled", infer_ntz
    ):
        try:
            spark.read.parquet(path)
        except Exception:
            assert case == "ts_nanos" and nanos_as_long == "false"
            assert tables.parquet_schema(spark, path) is None, path
            return
        _assert_as_inferred(spark, path)


def test_parquet_schema_of_a_spark_written_file(spark, tmp_path):
    """A Spark-written single-part directory (``_SUCCESS`` and ``.crc``
    files beside the part file) and its part file: the schema comes from
    Spark's row metadata, char/varchar markers included."""
    out = str(tmp_path / "spark_written")
    spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 3)) AS d, TIMESTAMP'2024-01-01 00:00:00' AS ts, "
        "CAST(id AS CHAR(4)) AS c, CAST(id AS VARCHAR(7)) AS v, "
        "array(named_struct('a', id, 'b', map('k', id))) AS nested "
        "FROM range(5)"
    ).coalesce(1).write.parquet(out)
    assert {"_SUCCESS"} < set(os.listdir(out))
    _assert_as_inferred(spark, out)
    (part,) = glob.glob(os.path.join(out, "part-*.parquet"))
    _assert_as_inferred(spark, part)


def test_parquet_schema_of_a_stream_stage(spark, tmp_path):
    """The events stage directory holds one symlink to the table file."""
    from test_dataengineer2026_spark.streaming import jobs

    shutil.copyfile(tables.table_path(SF_DIR, "events"), tables.table_path(str(tmp_path), "events"))
    d = jobs.stage_events_dir(str(tmp_path))
    assert os.listdir(d) == ["events.parquet"]
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _assert_as_inferred(spark, d)


def test_parquet_schema_falls_back_where_inference_reads_another_footer(spark, tmp_path):
    """Several files, Hive partition directories, a ``_common_metadata``
    summary (which inference reads instead of the data file), a glob
    and a missing path: no driver-side answer, and ``load`` reads what
    an inferring read reads."""
    narrow = pa.table({"r_regionkey": pa.array([0, 1], pa.int32())})
    wide = pa.table({"r_regionkey": pa.array([2], pa.int32()), "r_name": ["x"]})

    multi = tmp_path / "multi"
    (multi / "region.parquet").mkdir(parents=True)
    pq.write_table(narrow, multi / "region.parquet" / "part-0.parquet")
    pq.write_table(wide, multi / "region.parquet" / "part-1.parquet")

    hive = tmp_path / "hive"
    (hive / "region.parquet" / "k=1").mkdir(parents=True)
    pq.write_table(narrow, hive / "region.parquet" / "k=1" / "part-0.parquet")

    summary = tmp_path / "summary"
    (summary / "region.parquet").mkdir(parents=True)
    pq.write_table(narrow, summary / "region.parquet" / "part-0.parquet")
    pq.write_metadata(wide.schema, summary / "region.parquet" / "_common_metadata")

    for sf in (multi, hive, summary):
        path = tables.table_path(str(sf), "region")
        assert tables.parquet_schema(spark, path) is None, path
        want = spark.read.parquet(path)
        got = tables.load(spark, str(sf), "region")
        assert got.schema == want.schema, sf
        assert sorted(got.collect()) == sorted(want.collect()), sf
    assert tables.load(spark, str(hive), "region").columns == ["r_regionkey", "k"]
    assert tables.load(spark, str(summary), "region").columns == ["r_regionkey", "r_name"]

    assert tables.parquet_schema(spark, str(multi / "*.parquet")) is None
    assert tables.parquet_schema(spark, str(tmp_path / "missing.parquet")) is None
