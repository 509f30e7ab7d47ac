"""register_views caching contract.

Round-8 change: register_views became idempotent per (session, sf_dir)
because re-reading ten parquet footers per spark.sql call was most of
every SQL query's build time (~0.5-1.0 s at sf0.1). These tests pin the
three behaviors the cache must keep correct: reuse, sf_dir
invalidation, and self-healing after a dropped view.
"""

from __future__ import annotations

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
