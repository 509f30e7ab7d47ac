"""Nested-type parquet exhibits N1-N3 (round-13 probe axis promoted to
registry queries; SCALE.md §20 declared nested/struct columns un-probed
for lack of fixture surface — this module IS the fixture surface).

Reference basis: the extraction tables are nested-by-nature documents
(TEST.md:30-54 — per-report lists of resource/reserve line items); a
production lake schema for them would be ``LIST<STRUCT<...>>`` per
report, exactly the shapes exercised here.

Each query pushes data through Spark's parquet NESTED write + read path
(STRUCT, LIST<STRUCT>, MAP) — a different column decoder than every
flat exhibit in the registry — then flattens and aggregates so the
DuckDB oracle can verify exact values from the base tables alone.

Scale notes (100 TB):
- Nested schema pruning is ON (Spark default): a projection touching 2
  leaves of a 3-leaf struct reads 2 leaf columns off disk — pinned as a
  plan contract in tests/test_plans.py (ReadSchema shows the pruned
  struct), same class of guarantee as flat column pruning.
- The LIST<STRUCT> build is ONE shuffle (groupBy l_orderkey) and the
  re-read explode is shuffle-free (generators run inline in the scan
  stage); element order inside each list is pinned by sort_array, not
  by collect_list's arrival order, so task retries / AQE re-plans at
  cluster scale cannot flip the order-sensitive first-item column.
- MAP values are read through the same nested decoder; access is by
  key (element_at), never by iteration order, which parquet does not
  preserve.
- The foreign-writer side of this axis (pyarrow-written nested files,
  2-level legacy vs 3-level compliant LIST encodings) is probed in
  tests/test_nested_layout.py + scripts/make_nested_fixtures.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import davg, dsum, sql_davg, sql_dsum
from test_dataengineer2026_spark.registry import register
from test_dataengineer2026_spark.sources import io as sio
from test_dataengineer2026_spark.staging import staged_dir


@register(
    "N1_nested_struct_roundtrip",
    oracle=f"""
SELECT o_orderstatus AS status,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
WHERE o_totalprice > 150000.0
GROUP BY o_orderstatus
""",
    tags=("nested", "sources"),
)
def nested_struct_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1: STRUCT column through parquet write + read. The re-read
    filters and projects NESTED fields only — with nested schema
    pruning the scan reads 2 of the struct's 3 leaves and the
    totalprice predicate pushes down to the leaf column's row-group
    stats, so at 100 TB the struct wrapper costs nothing over flat
    columns (plan contract: tests/test_plans.py)."""
    o = tables.load(spark, sf_dir, "orders")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "orders_struct")
    staged = o.select(
        "o_orderkey",
        F.struct("o_orderstatus", "o_totalprice", "o_orderdate").alias(
            "order_info"
        ),
    )
    sio.sink_parquet(staged, out)
    back = sio.scan_parquet(spark, out, schema=staged.schema)
    return (
        back.filter(F.col("order_info.o_totalprice") > 150000.0)
        .groupBy(F.col("order_info.o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("order_info.o_totalprice")).alias("total_price"),
        )
    )


@register(
    "N2_nested_list_explode",
    oracle=f"""
WITH sized AS (
    SELECT l_orderkey, l_quantity, l_extendedprice,
           COUNT(*) OVER (PARTITION BY l_orderkey) AS n_items,
           -- mirrors sort_array's lexicographic STRUCT order; the full
           -- triple matters because l_linenumber is NOT unique per
           -- order in this fixture (11,785 duplicate pairs at sf0.01),
           -- and any remaining tie is between identical triples, which
           -- cannot change which l_quantity is "first"
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_quantity, l_extendedprice
           ) AS rn
    FROM lineitem
)
SELECT n_items,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       {sql_dsum('l_quantity', 'DECIMAL(18,6)')} AS total_qty,
       {sql_dsum('l_extendedprice')} AS total_price,
       {sql_dsum('CASE WHEN rn = 1 THEN l_quantity END', 'DECIMAL(18,6)')} AS first_item_qty
FROM sized
GROUP BY n_items
""",
    tags=("nested", "sources"),
)
def nested_list_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N2: LIST<STRUCT> through parquet — the lake shape of TEST.md's
    per-report line-item tables. lineitem is packed one row per order
    (sort_array pins element order by l_linenumber, so the roundtrip is
    bit-deterministic regardless of collect_list arrival order), written,
    re-read through the repeated-group decoder, exploded back out, and
    re-aggregated by list size. first_item_qty is deliberately
    ORDER-SENSITIVE through the roundtrip: it only matches the oracle if
    parquet preserved list element order exactly."""
    li = tables.load(spark, sf_dir, "lineitem")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "lineitem_list")
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("items")
    )
    sio.sink_parquet(packed, out)
    back = sio.scan_parquet(spark, out, schema=packed.schema)
    exploded = back.select(
        "l_orderkey",
        F.size("items").alias("n_items"),
        F.posexplode("items").alias("pos", "item"),
    )
    return exploded.groupBy("n_items").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        dsum(F.col("item.l_quantity"), "DECIMAL(18,6)").alias("total_qty"),
        dsum(F.col("item.l_extendedprice")).alias("total_price"),
        # the list head by POSITION (pos == 0), once per order — a
        # linenumber-based marker would double-count: l_linenumber is
        # not unique per order in this fixture
        dsum(
            F.when(F.col("pos") == 0, F.col("item.l_quantity")),
            "DECIMAL(18,6)",
        ).alias("first_item_qty"),
    )


@register(
    "N3_nested_map_roundtrip",
    oracle=f"""
SELECT p_brand,
       COUNT(*) AS n_parts,
       {sql_davg('p_size', 'DECIMAL(18,6)')} AS avg_size,
       {sql_dsum('p_retailprice')} AS total_retail
FROM part
GROUP BY p_brand
""",
    tags=("nested", "sources"),
)
def nested_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3: MAP<STRING,DOUBLE> through parquet's key_value repeated
    group. Values come back through element_at by KEY — never map
    iteration order, which parquet does not promise to preserve — and
    the aggregate must reproduce the flat columns' exact sums."""
    p = tables.load(spark, sf_dir, "part")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "part_map")
    staged = p.select(
        "p_partkey",
        "p_brand",
        F.create_map(
            F.lit("size"),
            F.col("p_size").cast("double"),
            F.lit("retail"),
            F.col("p_retailprice"),
        ).alias("attrs"),
    )
    sio.sink_parquet(staged, out)
    back = sio.scan_parquet(spark, out, schema=staged.schema)
    return back.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        davg(F.element_at("attrs", F.lit("size")), "DECIMAL(18,6)").alias(
            "avg_size"
        ),
        dsum(F.element_at("attrs", F.lit("retail"))).alias("total_retail"),
    )


@register(
    "N4_nested_map_of_lists",
    oracle=f"""
WITH ordered AS (
    SELECT l_orderkey, l_returnflag, l_quantity, l_extendedprice,
           -- mirrors the Spark side's per-flag element order: sort_array
           -- on struct(flag, ln, qty, price) orders each flag's slice by
           -- (ln, qty, price); remaining ties are identical triples and
           -- cannot change which l_quantity is "first"
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_returnflag
               ORDER BY l_linenumber, l_quantity, l_extendedprice
           ) AS rn
    FROM lineitem
)
SELECT l_returnflag AS flag,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS n_items,
       {sql_dsum('l_quantity', 'DECIMAL(18,6)')} AS total_qty,
       {sql_dsum('l_extendedprice')} AS total_price,
       {sql_dsum('CASE WHEN rn = 1 THEN l_quantity END', 'DECIMAL(18,6)')} AS first_item_qty
FROM ordered
GROUP BY l_returnflag
""",
    tags=("nested", "sources"),
)
def nested_map_of_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4: MAP<STRING, LIST<STRUCT>> — one nesting level DEEPER than
    N1-N3 (r13 verdict item #3): each order's line items grouped by
    return flag into a map whose VALUES are lists of structs, so the
    parquet write/read path carries repetition level 2 (the map's
    key_value repeated group CONTAINING the list's repeated group) and
    definition levels >= 4 on the leaf columns. TEST.md:38-48's
    per-report line items nest exactly this way in a production lake
    (report -> category -> line items).

    Scale notes (100 TB): the build is ONE shuffle (groupBy
    l_orderkey); the per-flag regrouping happens INSIDE each packed row
    with JVM higher-order functions (transform/filter over the sorted
    item array — flags per order are bounded by the domain, <= 3 here),
    not a second groupBy, so no extra exchange. Element order inside
    each flag's list is pinned by the outer sort_array (lexicographic
    on (flag, ln, qty, price)), making the roundtrip deterministic
    under task retries. The re-read explodes BOTH nesting levels
    (map entries, then list positions) through the nested decoder and
    re-aggregates; first_item_qty is ORDER-SENSITIVE through both
    levels — it only matches the oracle if parquet preserved each
    inner list's element order exactly.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "lineitem_map_of_lists")
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "l_returnflag",
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                )
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
                        x -> struct(x.l_linenumber AS l_linenumber,
                                    x.l_quantity AS l_quantity,
                                    x.l_extendedprice AS l_extendedprice))
                )
            ))
            """
        ).alias("by_flag"),
    )
    sio.sink_parquet(staged, out)
    back = sio.scan_parquet(spark, out, schema=staged.schema)
    entries = back.select(
        "l_orderkey", F.explode("by_flag").alias("flag", "items")
    )
    exploded = entries.select(
        "l_orderkey", "flag", F.posexplode("items").alias("pos", "item")
    )
    return exploded.groupBy("flag").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("item.l_quantity"), "DECIMAL(18,6)").alias("total_qty"),
        dsum(F.col("item.l_extendedprice")).alias("total_price"),
        # each inner list's head by POSITION, once per (order, flag)
        dsum(
            F.when(F.col("pos") == 0, F.col("item.l_quantity")),
            "DECIMAL(18,6)",
        ).alias("first_item_qty"),
    )


@register(
    "N5_nested_list_of_lists",
    oracle=f"""
WITH base AS (
    SELECT l_orderkey, l_returnflag, l_quantity,
           -- mirrors the Spark side's inner-element order: the outer
           -- sort_array orders (flag, ln, qty, price), so each flag's
           -- qty list is ordered by (ln, qty, price); remaining ties
           -- are identical qty values and cannot change element [0]
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey, l_returnflag
               ORDER BY l_linenumber, l_quantity, l_extendedprice
           ) AS rn,
           -- outer list position: flags sorted ascending
           DENSE_RANK() OVER (
               PARTITION BY l_orderkey ORDER BY l_returnflag
           ) AS flag_rank
    FROM lineitem
), sized AS (
    SELECT b.*, m.n_lists
    FROM base b
    JOIN (
        SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS n_lists
        FROM lineitem GROUP BY l_orderkey
    ) m USING (l_orderkey)
)
SELECT n_lists,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       COUNT(*) AS n_elems,
       {sql_dsum('l_quantity', 'DECIMAL(18,6)')} AS total_qty,
       {sql_dsum('CASE WHEN rn = 1 AND flag_rank = 1 THEN l_quantity END',
                 'DECIMAL(18,6)')} AS first_first_qty
FROM sized
GROUP BY n_lists
""",
    tags=("nested", "sources"),
)
def nested_list_of_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N5: LIST<LIST<DOUBLE>> — the repeated-inside-repeated shape the
    r13 verdict named as the remaining nested gap (alongside N6's
    3-level struct): each order's quantities grouped into one inner
    list per return flag, outer list ordered by flag. Unlike N4 the
    repeated groups nest DIRECTLY (list element IS a list), so the
    parquet leaf carries repetition level 2 with no intervening
    key_value group — a different levels-decoding path than the map
    shape. TEST.md:38-48's per-report tables-of-line-items are exactly
    list-of-list-shaped once the category keys are positional.

    Scale notes (100 TB): ONE shuffle (groupBy l_orderkey); the
    per-flag regrouping runs INSIDE each packed row via JVM
    higher-order functions (flags per order bounded by the domain,
    <= 3 here) — no second exchange. Element order at BOTH levels is
    pinned by the outer sort_array before the transform, so task
    retries cannot flip the order-sensitive [0][0] column. The re-read
    explodes both levels positionally (posexplode twice, inline in the
    scan stage, shuffle-free) and first_first_qty only matches the
    oracle if parquet preserved BOTH nesting levels' element order.
    """
    li = tables.load(spark, sf_dir, "lineitem")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "lineitem_list_of_lists")
    packed = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "l_returnflag",
                    "l_linenumber",
                    "l_quantity",
                    "l_extendedprice",
                )
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
            )
            """
        ).alias("qty_lists"),
    )
    sio.sink_parquet(staged, out)
    back = sio.scan_parquet(spark, out, schema=staged.schema)
    outer = back.select(
        "l_orderkey",
        F.size("qty_lists").cast("long").alias("n_lists"),
        F.posexplode("qty_lists").alias("opos", "inner"),
    )
    elems = outer.select(
        "l_orderkey",
        "n_lists",
        "opos",
        F.posexplode("inner").alias("ipos", "qty"),
    )
    return elems.groupBy("n_lists").agg(
        F.count_distinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_elems"),
        dsum(F.col("qty"), "DECIMAL(18,6)").alias("total_qty"),
        # element [0][0]: head of the FIRST inner list, once per order
        dsum(
            F.when((F.col("opos") == 0) & (F.col("ipos") == 0), F.col("qty")),
            "DECIMAL(18,6)",
        ).alias("first_first_qty"),
    )


@register(
    "N6_nested_struct_depth3",
    oracle=f"""
SELECT o_orderstatus AS status,
       o_orderpriority AS priority,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS total_price
FROM orders
WHERE o_totalprice > 100000.0
GROUP BY o_orderstatus, o_orderpriority
""",
    tags=("nested", "sources"),
)
def nested_struct_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N6: 3-level STRUCT (STRUCT containing STRUCT containing STRUCT)
    — the other deep shape the r13 verdict named. No repetition levels
    here; what deepens is the DEFINITION-level chain and the schema-
    pruning path: the query touches 3 of the 4 leaves, one at each
    depth, and filters on the DEPTH-3 leaf, so the plan contract
    (tests/test_nested_layout.py::test_depth3_struct_pruning_pushdown)
    requires (a) the untouched depth-3 leaf o_orderdate pruned out of
    ReadSchema and (b) the o_totalprice predicate pushed to the scan
    THROUGH three struct levels. TEST.md:30-54's report metadata nests
    exactly this way (report -> section -> subsection -> field).

    Scale notes (100 TB): with nested schema pruning + nested predicate
    pushdown (both Spark defaults) the three-deep wrapper costs nothing
    over flat columns — same row groups skipped, same leaves decoded;
    without them every leaf of the widest struct would be read for any
    access, which is the failure mode this exhibit pins against.
    """
    o = tables.load(spark, sf_dir, "orders")
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "orders_struct3")
    staged = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus"),
            F.struct(
                F.col("o_orderpriority"),
                F.struct(
                    F.col("o_totalprice"), F.col("o_orderdate")
                ).alias("deep"),
            ).alias("mid"),
        ).alias("info"),
    )
    sio.sink_parquet(staged, out)
    back = sio.scan_parquet(spark, out, schema=staged.schema)
    return (
        back.filter(F.col("info.mid.deep.o_totalprice") > 100000.0)
        .groupBy(
            F.col("info.o_orderstatus").alias("status"),
            F.col("info.mid.o_orderpriority").alias("priority"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("info.mid.deep.o_totalprice")).alias("total_price"),
        )
    )
