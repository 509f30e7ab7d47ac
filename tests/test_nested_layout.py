"""Round-13 nested-parquet axis pins (r12 verdict item #5a).

Two layers:
1. Cross-writer read parity — the make_nested_fixtures probe run
   in-suite at sf0.001: DuckDB-written, pyarrow-written, Spark-modern
   and Spark-LEGACY ("bag/array") nested files must all read back to
   the same exact aggregate in BOTH engines. Parquet LIST has three
   historical physical spellings and each engine carries special-case
   converters; a regression corrupts silently.
2. Nested schema pruning + nested predicate pushdown plan contracts —
   the property that makes STRUCT columns free at 100 TB: a projection
   touching 2 of 3 struct leaves must read 2 leaf columns, and a
   predicate on a nested leaf must reach PushedFilters.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from tests.conftest import SF_DIR


def test_nested_cross_writer_read_parity(spark, tmp_path):
    """All four nested writers x both readers == flat truth, exact
    values including the ORDER-sensitive first-element column."""
    import make_nested_fixtures as mnf

    paths = mnf.build(SF_DIR, str(tmp_path))
    assert len(paths) == 4
    con = duckdb.connect()
    truth = con.execute(
        mnf.DUCK_FLAT_TRUTH.format(src=os.path.join(SF_DIR, "lineitem.parquet"))
    ).fetchone()
    assert truth[0] > 0 and truth[1] > truth[0]  # nonvacuous: multi-item orders
    for p in paths:
        glob_p = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
        duck_row = con.execute(mnf.DUCK_NESTED_AGG.format(path=glob_p)).fetchone()
        spark_row = mnf.spark_nested_agg(spark, p)
        assert tuple(duck_row) == tuple(truth), (p, duck_row, truth)
        assert tuple(spark_row) == tuple(truth), (p, spark_row, truth)


def test_spark_legacy_list_physical_shape(spark, tmp_path):
    """The legacy fixture really is the old 'bag/array' spelling — if
    writeLegacyFormat ever stops producing it, the cross-writer test
    above silently loses its third LIST variant."""
    import glob as _glob

    import pyarrow.parquet as pq

    import make_nested_fixtures as mnf

    paths = mnf.build(SF_DIR, str(tmp_path))
    legacy = [p for p in paths if p.endswith("nested_spark_legacy.parquet")][0]
    part = _glob.glob(os.path.join(legacy, "part-*.parquet"))[0]
    import re

    schema_str = str(pq.ParquetFile(part).schema)
    # physical group names carry a field_id token: "group field_id=-1 bag"
    assert re.search(r"group field_id=-?\d+ bag \{", schema_str), schema_str
    assert re.search(r"group field_id=-?\d+ array \{", schema_str), schema_str
    modern = [p for p in paths if p.endswith("nested_spark.parquet")][0]
    part_m = _glob.glob(os.path.join(modern, "part-*.parquet"))[0]
    schema_m = str(pq.ParquetFile(part_m).schema)
    assert re.search(r"group field_id=-?\d+ list \{", schema_m), schema_m
    assert re.search(r"group field_id=-?\d+ element \{", schema_m), schema_m


@pytest.fixture()
def struct_store(spark, tmp_path):
    """A small STRUCT-column parquet store (the N1 shape)."""
    from pyspark.sql import functions as F

    from test_dataengineer2026_spark import tables

    o = tables.load(spark, SF_DIR, "orders")
    out = str(tmp_path / "orders_struct.parquet")
    o.select(
        "o_orderkey",
        F.struct("o_orderstatus", "o_totalprice", "o_orderdate").alias(
            "order_info"
        ),
    ).write.parquet(out)
    return out


def test_nested_schema_pruning_plan_contract(spark, struct_store):
    """ReadSchema must carry only the 2 struct leaves the query touches
    (nested schema pruning — Spark default since 3.0). Without it a 100
    TB struct column reads EVERY leaf for any access."""
    from pyspark.sql import functions as F

    from test_dataengineer2026_spark.plans.audit import file_scans

    df = (
        spark.read.parquet(struct_store)
        .filter(F.col("order_info.o_totalprice") > 150000.0)
        .select(F.col("order_info.o_orderstatus").alias("status"))
    )
    (scan,) = file_scans(df)
    read_schema = scan["ReadSchema"]
    assert "o_orderstatus" in read_schema and "o_totalprice" in read_schema, scan
    # the pruned leaf: o_orderdate must NOT be decoded
    assert "o_orderdate" not in read_schema, scan
    # nested predicate pushdown: the totalprice filter reaches the scan
    assert "o_totalprice" in scan["PushedFilters"], scan
    # and the result is actually nonempty (the contract isn't vacuous)
    assert df.count() > 0


def test_nested_tiny_rowgroups_and_pages(spark, tmp_path):
    """Repetition/definition levels across page boundaries: rewrite the
    nested fixture with ~50-row row groups and ~256-byte pages so list
    elements SPAN data pages and row groups — the decoder state machine
    path a single-page file never touches (the flat row-group-extremes
    probe of r12 covered primitives; this is the nested analogue). Both
    engines must still reproduce the exact flat truth, including
    element order."""
    import pyarrow.parquet as pq

    import make_nested_fixtures as mnf

    paths = mnf.build(SF_DIR, str(tmp_path))
    duck_file = paths[0]
    tiny = str(tmp_path / "nested_tiny.parquet")
    pq.write_table(
        pq.read_table(duck_file),
        tiny,
        row_group_size=50,
        data_page_size=256,
        use_dictionary=False,
    )
    md = pq.ParquetFile(tiny).metadata
    assert md.num_row_groups > 10, md.num_row_groups
    con = duckdb.connect()
    truth = con.execute(
        mnf.DUCK_FLAT_TRUTH.format(src=os.path.join(SF_DIR, "lineitem.parquet"))
    ).fetchone()
    assert con.execute(mnf.DUCK_NESTED_AGG.format(path=tiny)).fetchone() == tuple(truth)
    assert mnf.spark_nested_agg(spark, tiny) == tuple(truth)


def test_depth2_map_of_lists_tiny_rowgroups(spark, tmp_path):
    """The r14 depth-2 shape (N4's MAP<STRING, LIST<STRUCT>>) crossed
    with the tiny-page rewrite (r13 verdict item #3): repetition level
    2 — the map's key_value repeated group CONTAINING the list's
    repeated group — forced across ~50-row row groups and ~256-byte
    data pages, so inner-list elements span page and row-group
    boundaries at BOTH repetition levels. The rewritten file must
    reproduce the exact flat truth in both engines, including the
    order-sensitive per-(order, flag) first-element column."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from test_dataengineer2026_spark import tables

    li = tables.load(spark, SF_DIR, "lineitem")
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_returnflag", "l_linenumber", "l_quantity")
            )
        ).alias("all_items")
    )
    staged = packed.select(
        "l_orderkey",
        F.expr(
            """
            map_from_entries(transform(
                array_sort(array_distinct(
                    transform(all_items, x -> x.l_returnflag))),
                k -> struct(
                    k,
                    transform(
                        filter(all_items, x -> x.l_returnflag = k),
                        x -> struct(x.l_linenumber AS ln,
                                    x.l_quantity AS qty))
                )
            )) AS by_flag
            """
        ),
    )
    src = str(tmp_path / "map_of_lists_src.parquet")
    staged.coalesce(1).write.parquet(src)
    import glob as _glob

    part = _glob.glob(os.path.join(src, "part-*.parquet"))[0]
    tiny = str(tmp_path / "map_of_lists_tiny.parquet")
    pq.write_table(
        pq.read_table(part),
        tiny,
        row_group_size=50,
        data_page_size=256,
        use_dictionary=False,
    )
    md = pq.ParquetFile(tiny).metadata
    assert md.num_row_groups > 10, md.num_row_groups

    con = duckdb.connect()
    li_path = os.path.join(SF_DIR, "lineitem.parquet")
    truth = con.execute(
        f"""
WITH ordered AS (
    SELECT l_orderkey, l_returnflag, l_quantity,
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_returnflag
               ORDER BY l_linenumber, l_quantity
           ) AS rn
    FROM read_parquet('{li_path}')
)
SELECT l_returnflag,
       COUNT(*),
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE),
       CAST(SUM(CASE WHEN rn = 1
                     THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE)
FROM ordered GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    assert len(truth) > 0 and truth[0][1] > 0

    # DuckDB readback of the tiny-page depth-2 file: unnest map entries,
    # then unnest each entry's inner list; the order-sensitive head is
    # fetched by POSITION (items[1] — DuckDB has no WITH ORDINALITY)
    got_duck = con.execute(
        f"""
WITH entries AS (
    SELECT e.key AS flag, e.value AS items
    FROM read_parquet('{tiny}'),
         UNNEST(map_entries(by_flag)) AS t(e)
)
SELECT a.flag, a.n, a.tq, h.fq
FROM (SELECT flag, COUNT(*) AS n,
             CAST(SUM(CAST(x.qty AS DECIMAL(18,6))) AS DOUBLE) AS tq
      FROM entries, UNNEST(items) AS u(x) GROUP BY 1) a
JOIN (SELECT flag,
             CAST(SUM(CAST(items[1].qty AS DECIMAL(18,6))) AS DOUBLE) AS fq
      FROM entries GROUP BY 1) h USING (flag)
ORDER BY a.flag"""
    ).fetchall()
    assert got_duck == truth, (got_duck, truth)

    back = spark.read.parquet(tiny)
    ex = back.select(F.explode("by_flag").alias("flag", "items")).select(
        "flag", F.posexplode("items").alias("pos", "item")
    )
    got_spark = [
        tuple(r)
        for r in ex.groupBy("flag")
        .agg(
            F.count(F.lit(1)),
            F.sum(F.col("item.qty").cast("decimal(18,6)")).cast("double"),
            F.sum(
                F.when(F.col("pos") == 0, F.col("item.qty")).cast(
                    "decimal(18,6)"
                )
            ).cast("double"),
        )
        .orderBy("flag")
        .collect()
    ]
    assert got_spark == [tuple(t) for t in truth], (got_spark, truth)


def test_nested_null_semantics_roundtrip(spark, tmp_path):
    """The nested-null minefield, pinned: NULL list vs EMPTY list, a
    NULL element inside a list, all-NULL struct fields, NULL vs EMPTY
    map, and a NULL map value must each survive the parquet roundtrip
    DISTINCTLY (def-levels encode the difference; a decoder that
    conflates them corrupts silently) — through BOTH Spark writers
    (modern 3-level and writeLegacyFormat bag/array), read back by both
    Spark and DuckDB. Probed 2026-08: full agreement; this pin keeps it
    that way."""
    import glob as _glob

    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField(
                "items",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("ln", T.IntegerType()),
                            T.StructField("qty", T.DoubleType()),
                        ]
                    )
                ),
            ),
            T.StructField("attrs", T.MapType(T.StringType(), T.DoubleType())),
        ]
    )
    rows = [
        (1, None, None),                                # null list / null map
        (2, [], {}),                                    # empty list / empty map
        (3, [None, {"ln": 1, "qty": 2.0}], {"a": None}),  # null element / null value
        (4, [{"ln": None, "qty": None}], {"a": 1.5}),   # null struct fields
    ]
    df = spark.createDataFrame(rows, schema)
    stores = {}
    for legacy in ("false", "true"):
        path = str(tmp_path / f"nulls_legacy_{legacy}.parquet")
        spark.conf.set("spark.sql.parquet.writeLegacyFormat", legacy)
        try:
            df.coalesce(1).write.mode("overwrite").parquet(path)
        finally:
            spark.conf.set("spark.sql.parquet.writeLegacyFormat", "false")
        stores[legacy] = path

    def spark_norm(path):
        out = []
        for r in spark.read.parquet(path).orderBy("k").collect():
            items = (
                None
                if r.items is None
                else [None if e is None else (e.ln, e.qty) for e in r.items]
            )
            attrs = None if r.attrs is None else sorted(r.attrs.items())
            out.append((r.k, items, attrs))
        return out

    want = [
        (1, None, None),
        (2, [], []),
        (3, [None, (1, 2.0)], [("a", None)]),
        (4, [(None, None)], [("a", 1.5)]),
    ]
    import duckdb as _duckdb

    con = _duckdb.connect()
    for legacy, path in stores.items():
        assert spark_norm(path) == want, (legacy, spark_norm(path))
        part = _glob.glob(os.path.join(path, "part-*.parquet"))[0]
        got = con.execute(
            f"""
SELECT k,
       items IS NULL AS list_null,
       len(items) AS n_items,
       CASE WHEN items IS NULL THEN NULL
            ELSE (SELECT COUNT(*) FROM UNNEST(items) AS t(x) WHERE x IS NULL)
       END AS null_elems,
       attrs IS NULL AS map_null,
       CASE WHEN attrs IS NULL THEN NULL ELSE cardinality(attrs) END AS n_keys,
       attrs['a'][1] AS a_val
FROM read_parquet('{part}') ORDER BY k
"""
        ).fetchall()
        assert got == [
            (1, True, None, None, True, None, None),
            (2, False, 0, 0, False, 0, None),
            (3, False, 2, 1, False, 1, None),
            (4, False, 1, 0, False, 1, 1.5),
        ], (legacy, got)


def test_nested_schema_evolution_contract(spark, tmp_path):
    """A struct that GAINS a leaf across files (the normal life of a
    lake schema): Spark with mergeSchema=true unions the struct and
    fills the missing leaf with NULL — pinned exact. Without
    mergeSchema, Spark silently picks one footer's schema (which one
    depends on file listing order), so evolving nested stores MUST be
    read with mergeSchema — that hazard is the reason this pin exists.
    DuckDB's union_by_name cannot cast structs of different size
    (probed: "Cannot cast STRUCTs of different size"), so nested
    evolution is a Spark-side capability with no DuckDB oracle — the
    pin asserts Spark's exact values instead."""
    import duckdb as _duckdb
    import pytest as _pytest

    old = spark.createDataFrame(
        [(1, (10, 1.5))], "k long, info struct<a:int, b:double>"
    )
    new = spark.createDataFrame(
        [(2, (20, 2.5, "x"))], "k long, info struct<a:int, b:double, c:string>"
    )
    root = str(tmp_path / "t")
    old.coalesce(1).write.parquet(f"{root}/p=1")
    new.coalesce(1).write.parquet(f"{root}/p=2")
    got = [
        (r.k, r.info.asDict())
        for r in spark.read.option("mergeSchema", "true")
        .parquet(root)
        .orderBy("k")
        .collect()
    ]
    assert got == [
        (1, {"a": 10, "b": 1.5, "c": None}),
        (2, {"a": 20, "b": 2.5, "c": "x"}),
    ], got
    import glob as _glob

    parts = sorted(_glob.glob(f"{root}/*/part-*.parquet"))
    con = _duckdb.connect()
    with _pytest.raises(_duckdb.Error, match="STRUCT"):
        con.execute(
            f"SELECT k, info FROM read_parquet({parts!r}, union_by_name=true)"
        ).fetchall()


def test_nested_through_streaming_file_source(spark, tmp_path):
    """Nested types through the STREAMING file source (a distinct
    schema/decoder path from the batch scan): a LIST<STRUCT> dataset
    read with readStream.schema(...).parquet, exploded and aggregated
    under availableNow, must equal the exact flat truth."""
    from pyspark.sql import functions as F

    import make_nested_fixtures as mnf

    paths = mnf.build(SF_DIR, str(tmp_path))
    duck_file = paths[0]
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    os.symlink(duck_file, stream_dir / "00.parquet")
    schema = spark.read.parquet(duck_file).schema
    agg = (
        spark.readStream.schema(schema)
        .parquet(str(stream_dir))
        .select(F.explode("items").alias("item"))
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("item.qty").cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
    )
    sink = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("nested_stream_pin")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert sink.awaitTermination(120), "stream did not finish"
    got = spark.sql("SELECT n, s FROM nested_stream_pin").collect()
    import duckdb as _duckdb

    truth = _duckdb.connect().execute(
        "SELECT COUNT(*), CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) "
        f"FROM read_parquet('{os.path.join(SF_DIR, 'lineitem.parquet')}')"
    ).fetchone()
    assert len(got) == 1 and (got[0].n, got[0].s) == truth, (got, truth)


def test_nested_hive_partitioned_combined(spark, tmp_path):
    """The two round-12/13 axes COMBINED: a hive-partitioned dataset
    whose data columns are LIST<STRUCT>, written by pyarrow (foreign
    writer, partition column absent from the files), must aggregate
    identically in Spark (native partition discovery) and DuckDB
    (hive_partitioning=true) against the flat truth."""
    import duckdb as _duckdb
    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    con = _duckdb.connect()
    li = os.path.join(SF_DIR, "lineitem.parquet")
    src = str(tmp_path / "src.parquet")
    con.execute(
        f"""
COPY (SELECT l_orderkey, l_returnflag AS flag,
             LIST(STRUCT_PACK(ln := l_linenumber, qty := l_quantity)
                  ORDER BY l_linenumber, l_quantity) AS items
      FROM read_parquet('{li}')
      GROUP BY l_orderkey, l_returnflag) TO '{src}' (FORMAT PARQUET)
"""
    )
    tbl = pq.read_table(src)
    root = str(tmp_path / "hive_nested.parquet")
    pa_ds.write_dataset(
        tbl,
        root,
        format="parquet",
        partitioning=pa_ds.partitioning(
            tbl.schema.empty_table().select(["flag"]).schema, flavor="hive"
        ),
        basename_template="part-{i}.parquet",
    )
    truth = con.execute(
        f"""SELECT l_returnflag, COUNT(*),
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
            FROM read_parquet('{li}') GROUP BY 1 ORDER BY 1"""
    ).fetchall()
    got_spark = [
        (r.flag, r.n, r.s)
        for r in spark.read.parquet(root)
        .select("flag", F.explode("items").alias("item"))
        .groupBy("flag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("item.qty").cast("decimal(18,6)"))
            .cast("double")
            .alias("s"),
        )
        .orderBy("flag")
        .collect()
    ]
    got_duck = con.execute(
        f"""
SELECT flag, CAST(SUM(len(items)) AS BIGINT), CAST(SUM(q.s) AS DOUBLE)
FROM read_parquet('{root}/**/*.parquet', hive_partitioning=true),
     LATERAL (SELECT SUM(CAST(x.qty AS DECIMAL(18,6))) AS s
              FROM UNNEST(items) AS t(x)) q
GROUP BY flag ORDER BY flag"""
    ).fetchall()
    assert got_spark == [tuple(t) for t in truth], (got_spark, truth)
    assert got_duck == [tuple(t) for t in truth], (got_duck, truth)


def test_depth2_list_of_lists_tiny_rowgroups(spark, tmp_path):
    """The N5 shape (LIST<LIST<DOUBLE>>) crossed with the tiny-page
    rewrite: repetition level 2 with the repeated groups nesting
    DIRECTLY (no intervening map key_value group — a different
    levels-decoding path than N4), forced across ~50-row row groups
    and ~256-byte data pages so inner-list elements span page and
    row-group boundaries at BOTH repetition levels. The rewritten file
    must reproduce the exact flat truth in both engines, including the
    order-sensitive element-[0][0] column (head of the FIRST inner
    list, i.e. the min-flag group's (ln, qty)-first quantity)."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from test_dataengineer2026_spark import tables

    li = tables.load(spark, SF_DIR, "lineitem")
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_returnflag", "l_linenumber", "l_quantity")
            )
        ).alias("all_items")
    )
    staged = packed.select(
        "l_orderkey",
        F.expr(
            """
            transform(
                array_sort(array_distinct(
                    transform(all_items, x -> x.l_returnflag))),
                k -> transform(
                    filter(all_items, x -> x.l_returnflag = k),
                    x -> x.l_quantity)
            ) AS qty_lists
            """
        ),
    )
    src = str(tmp_path / "list_of_lists_src.parquet")
    staged.coalesce(1).write.parquet(src)
    import glob as _glob

    part = _glob.glob(os.path.join(src, "part-*.parquet"))[0]
    tiny = str(tmp_path / "list_of_lists_tiny.parquet")
    pq.write_table(
        pq.read_table(part),
        tiny,
        row_group_size=50,
        data_page_size=256,
        use_dictionary=False,
    )
    md = pq.ParquetFile(tiny).metadata
    assert md.num_row_groups > 10, md.num_row_groups

    con = duckdb.connect()
    li_path = os.path.join(SF_DIR, "lineitem.parquet")
    truth = con.execute(
        f"""
WITH ordered AS (
    SELECT l_orderkey, l_quantity,
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_returnflag
               ORDER BY l_linenumber, l_quantity
           ) AS rn,
           DENSE_RANK() OVER (
               PARTITION BY l_orderkey ORDER BY l_returnflag
           ) AS flag_rank
    FROM read_parquet('{li_path}')
)
SELECT COUNT(*),
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE),
       CAST(SUM(CASE WHEN rn = 1 AND flag_rank = 1
                     THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS DOUBLE)
FROM ordered"""
    ).fetchone()
    assert truth[0] > 0

    # DuckDB readback: chained lateral UNNEST through both list levels;
    # the order-sensitive head is fetched by POSITION (qty_lists[1][1])
    got_duck = con.execute(
        f"""
SELECT a.n, a.tq, h.fq
FROM (SELECT COUNT(*) AS n,
             CAST(SUM(CAST(v.q AS DECIMAL(18,6))) AS DOUBLE) AS tq
      FROM read_parquet('{tiny}'),
           UNNEST(qty_lists) AS u(l),
           UNNEST(u.l) AS v(q)) a,
     (SELECT CAST(SUM(CAST(qty_lists[1][1] AS DECIMAL(18,6)))
                  AS DOUBLE) AS fq
      FROM read_parquet('{tiny}')) h"""
    ).fetchone()
    assert got_duck == truth, (got_duck, truth)

    back = spark.read.parquet(tiny)
    elems = back.select(
        F.posexplode("qty_lists").alias("opos", "inner")
    ).select("opos", F.posexplode("inner").alias("ipos", "qty"))
    got_spark = tuple(
        elems.agg(
            F.count(F.lit(1)),
            F.sum(F.col("qty").cast("decimal(18,6)")).cast("double"),
            F.sum(
                F.when(
                    (F.col("opos") == 0) & (F.col("ipos") == 0),
                    F.col("qty"),
                ).cast("decimal(18,6)")
            ).cast("double"),
        ).first()
    )
    assert got_spark == tuple(truth), (got_spark, truth)


def test_depth3_struct_pruning_pushdown(spark, tmp_path):
    """The N6 shape (3-level STRUCT): nested schema pruning and nested
    predicate pushdown must hold THROUGH three struct levels — the
    query touches one leaf at each depth and filters on the DEPTH-3
    leaf, so (a) the untouched depth-3 sibling o_orderdate must be
    pruned out of ReadSchema and (b) the o_totalprice predicate must
    reach PushedFilters. Without depth-recursive pruning a deep struct
    silently decodes its widest subtree for any access — invisible at
    sf0.001, fatal at 100 TB."""
    from pyspark.sql import functions as F

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.plans.audit import file_scans

    o = tables.load(spark, SF_DIR, "orders")
    out = str(tmp_path / "orders_struct3.parquet")
    o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus"),
            F.struct(
                F.col("o_orderpriority"),
                F.struct(F.col("o_totalprice"), F.col("o_orderdate")).alias(
                    "deep"
                ),
            ).alias("mid"),
        ).alias("info"),
    ).write.parquet(out)

    df = (
        spark.read.parquet(out)
        .filter(F.col("info.mid.deep.o_totalprice") > 100000.0)
        .select(
            F.col("info.o_orderstatus").alias("status"),
            F.col("info.mid.o_orderpriority").alias("priority"),
            F.col("info.mid.deep.o_totalprice").alias("price"),
        )
    )
    # the depth-3 ReadSchema is longer than explain text's 100-char
    # metadata cut, which would make the o_orderdate-absent assertion
    # vacuous; the scan node's metadata is whole
    (scan,) = file_scans(df)
    read_schema = scan["ReadSchema"]
    assert read_schema.endswith(">>>>"), scan
    for leaf in ("o_orderstatus", "o_orderpriority", "o_totalprice"):
        assert leaf in read_schema, scan
    # the pruned depth-3 sibling must NOT be decoded
    assert "o_orderdate" not in read_schema, scan
    # depth-3 nested predicate pushdown reaches the scan
    assert "o_totalprice" in scan["PushedFilters"], scan
    # the contract isn't vacuous
    assert df.count() > 0


def test_type_widening_evolution_contract(spark, tmp_path):
    """FLAT type-widening evolution (the sibling of the nested
    added-leaf pin above, and of S15's added-column exhibit): a column
    whose physical type WIDENS across producer generations (int32 ->
    int64, float -> double — the two legal parquet widenings a lake
    accrues when a counter outgrows INT or a metric gains precision).
    Probed 2026-08 on Spark 4.1.2 and pinned:

    1. ``mergeSchema=true`` fails LOUDLY (CANNOT_MERGE_SCHEMAS) for
       BOTH widenings — Spark's footer merge refuses numeric
       promotion, so the S15 pattern alone does not survive a type
       widening. Never silent truncation.
    2. The mitigation is DECLARING the widened union schema: the
       reader upcasts each file's narrower physical type per
       row-group, exact values for both widenings (including a value
       > 2^32 that would corrupt under any int32 reinterpretation).
    3. DuckDB ``union_by_name`` widens automatically and exactly —
       a cross-engine asymmetry worth knowing when the oracle and the
       engine read the same evolved directory.
    If a Spark upgrade teaches mergeSchema numeric promotion,
    assertion (1) flips and this pin should be RELAXED to parity."""
    import glob as _glob

    import duckdb as _duckdb
    import pytest as _pytest

    old_i = spark.createDataFrame([(1, 10), (2, 20)], "k long, v int")
    new_i = spark.createDataFrame([(3, 2**40)], "k long, v long")
    root_i = str(tmp_path / "widen_int")
    old_i.coalesce(1).write.parquet(f"{root_i}/g=1")
    new_i.coalesce(1).write.parquet(f"{root_i}/g=2")

    old_f = spark.createDataFrame([(1, 1.5)], "k long, v float")
    new_f = spark.createDataFrame([(2, 2.5)], "k long, v double")
    root_f = str(tmp_path / "widen_float")
    old_f.coalesce(1).write.parquet(f"{root_f}/g=1")
    new_f.coalesce(1).write.parquet(f"{root_f}/g=2")

    # (1) loud refusal, both widenings
    for root in (root_i, root_f):
        with _pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
            spark.read.option("mergeSchema", "true").parquet(root).schema

    # (2) declared union schema: exact per-file upcast
    got_i = [
        (r.k, r.v)
        for r in spark.read.schema("k long, v long, g int")
        .parquet(root_i)
        .orderBy("k")
        .collect()
    ]
    assert got_i == [(1, 10), (2, 20), (3, 2**40)], got_i
    got_f = [
        (r.k, r.v)
        for r in spark.read.schema("k long, v double, g int")
        .parquet(root_f)
        .orderBy("k")
        .collect()
    ]
    assert got_f == [(1, 1.5), (2, 2.5)], got_f

    # (3) DuckDB widens by itself
    files = sorted(_glob.glob(f"{root_i}/*/part-*.parquet"))
    con = _duckdb.connect()
    got_duck = con.execute(
        f"SELECT k, v FROM read_parquet({files!r}, union_by_name=true) "
        f"ORDER BY k"
    ).fetchall()
    assert got_duck == [(1, 10), (2, 20), (3, 2**40)], got_duck


def test_depth2_null_semantics_roundtrip(spark, tmp_path):
    """The nested-null minefield at DEPTH 2 (the r14 deep shapes' null
    cases, extending the depth-1 pin above): inside LIST<LIST<DOUBLE>>
    the definition-level chain distinguishes FOUR states per inner
    slot — outer-null, outer-empty, inner-null, inner-empty — plus a
    null SCALAR inside a present inner list; inside
    MAP<STRING, LIST<STRUCT>> a null map VALUE vs an empty list value.
    A decoder that collapses any pair corrupts silently and the error
    is invisible to flat tests by construction. Both Spark writers
    are exercised where legal (writeLegacyFormat applies to lists),
    read back by Spark AND DuckDB, exact."""
    import glob as _glob

    import pyspark.sql.types as T

    ll = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("vs", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]
    )
    rows = [
        (0, None),                        # outer list NULL
        (1, []),                          # outer list EMPTY
        (2, [None]),                      # inner list NULL
        (3, [[]]),                        # inner list EMPTY
        (4, [[None]]),                    # scalar NULL inside inner
        (5, [[1.5], None, [], [2.5, None]]),  # mixed
    ]
    want = {k: v for k, v in rows}

    for legacy in ("false", "true"):
        prev = spark.conf.get("spark.sql.parquet.writeLegacyFormat")
        out = str(tmp_path / f"ll_{legacy}")
        try:
            spark.conf.set("spark.sql.parquet.writeLegacyFormat", legacy)
            spark.createDataFrame(rows, ll).coalesce(1).write.parquet(out)
        finally:
            spark.conf.set("spark.sql.parquet.writeLegacyFormat", prev)
        # normalize Spark rows: inner lists arrive as lists of floats
        got = {
            r.k: None
            if r.vs is None
            else [None if x is None else list(x) for x in r.vs]
            for r in spark.read.parquet(out).collect()
        }
        assert got == want, (legacy, got)
        part = _glob.glob(os.path.join(out, "part-*.parquet"))[0]
        got_duck = {
            k: v
            for k, v in duckdb.connect()
            .execute(f"SELECT k, vs FROM read_parquet('{part}')")
            .fetchall()
        }
        assert got_duck == want, (legacy, got_duck)

    # MAP<STRING, LIST<STRUCT>>: null value vs empty-list value
    ml = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField(
                "m",
                T.MapType(
                    T.StringType(),
                    T.ArrayType(
                        T.StructType([T.StructField("q", T.DoubleType())])
                    ),
                ),
            ),
        ]
    )
    mrows = [
        (0, {"a": None}),                  # null list VALUE
        (1, {"a": []}),                    # empty list value
        (2, {"a": [(1.5,)], "b": None}),   # mixed per key
    ]
    out_m = str(tmp_path / "ml")
    spark.createDataFrame(mrows, ml).coalesce(1).write.parquet(out_m)
    got_m = {
        r.k: None
        if r.m is None
        else {
            mk: None if mv is None else [tuple(x) for x in mv]
            for mk, mv in r.m.items()
        }
        for r in spark.read.parquet(out_m).collect()
    }
    assert got_m == {
        0: {"a": None},
        1: {"a": []},
        2: {"a": [(1.5,)], "b": None},
    }, got_m
    part_m = _glob.glob(os.path.join(out_m, "part-*.parquet"))[0]
    duck_m = {
        k: v
        for k, v in duckdb.connect()
        .execute(
            f"SELECT k, CAST(m AS VARCHAR) FROM read_parquet('{part_m}')"
        )
        .fetchall()
    }
    # DuckDB renders the same distinctions textually: NULL vs [] survive
    assert duck_m[0] == "{a=NULL}", duck_m
    assert duck_m[1] == "{a=[]}", duck_m
    assert "b=NULL" in duck_m[2] and "{'q': 1.5}" in duck_m[2], duck_m
