"""Physical-plan contracts (SURVEY.md §4.2 "engine-side obligations").

These tests pin the plan properties that matter at 100 TB — filters
reaching the parquet scan, projections pruning the read schema, small
dims broadcasting, top-k avoiding a global sort, hot scalar paths
staying inside whole-stage codegen, and no operator introducing an
Exchange the query doesn't semantically need. A change that silently
degrades one of these would still pass value-parity tests locally while
multiplying shuffle volume on a real cluster; here it fails CI instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from test_dataengineer2026_spark import registry
from test_dataengineer2026_spark.plans.audit import (
    audit,
    execute,
    file_scans,
    node_metrics,
    plan_nodes,
    plan_string,
)
from tests.conftest import SF_DIR_MID

QS = registry.queries()


def _audit(spark, name):
    return audit(QS[name](spark, SF_DIR_MID))


def test_scan_pushdown_and_pruning(spark):
    """S2: the filter lands in PushedFilters; ReadSchema carries only
    the two projected columns of the 5-column table."""
    a = _audit(spark, "S2_parquet_scan_pruned")
    assert any("GreaterThan(n_chars,300)" in f for f in a["pushed_filters"]), a
    assert a["read_schemas"] == ["struct<doc_id:bigint,n_chars:bigint>"], a


def test_star_schema_broadcasts(spark):
    """J7: every dim join in the star chain is a broadcast-hash join —
    the fact table never shuffles for the dims."""
    a = _audit(spark, "J7_broadcast_join")
    assert a["joins"], a
    assert all(j == "BroadcastHashJoin" for j in a["joins"]), a


def test_semi_anti_broadcast_no_shuffle(spark):
    """J5/J6: existence joins against a subquery stay broadcast and add
    zero shuffles of the probe side."""
    for name in ("J5_left_semi_join", "J6_left_anti_join"):
        a = _audit(spark, name)
        assert all(j == "BroadcastHashJoin" for j in a["joins"]), (name, a)
        assert a["exchanges"] == 0, (name, a)


def test_group_agg_partial_then_final(spark):
    """A1: hash aggregation is two-phase (map-side partial before the
    exchange), so the shuffle carries group states, not raw rows."""
    df = QS["A1_group_agg"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert p.count("HashAggregate") >= 2, p
    first_agg = p.index("HashAggregate")
    assert "partial_" in p, p
    # exactly one hash exchange between the two agg phases
    assert a["exchanges"] <= 2, p  # group-by exchange (+ optional sort)
    assert first_agg >= 0


def test_topk_avoids_global_sort(spark):
    """O3: orderBy().limit(k) plans TakeOrderedAndProject — per-partition
    top-k then a k-row merge, never a full rangepartition sort."""
    p = plan_string(QS["O3_limit_topk"](spark, SF_DIR_MID), "simple")
    assert "TakeOrderedAndProject" in p, p
    assert "Exchange rangepartitioning" not in p, p


def test_similarity_join_streams_corpus(spark):
    """J12: the query side broadcasts; the corpus is never exchanged
    before scoring (BroadcastNestedLoopJoin over the scan)."""
    a = _audit(spark, "J12_similarity_join")
    assert "BroadcastNestedLoopJoin" in a["joins"], a
    assert a["exchanges"] <= 1, a  # only the final top-k window partition


def test_window_single_exchange(spark):
    """W1: a partitioned window needs exactly one hash exchange."""
    a = _audit(spark, "W1_rank_topn")
    assert a["exchanges"] == 1, a


def test_union_is_exchange_free(spark):
    """U1: unionByName concatenates partitions; any Exchange here would
    be pure waste."""
    a = _audit(spark, "U1_union_all")
    assert a["exchanges"] == 0, a


def test_audit_counts_hash_and_range_shuffles_only(spark):
    """``audit``'s exchange count on hand-built frames: a keyed
    repartition (hash) and a global sort (range) each count once; the
    single-partition exchange under a global aggregate and a broadcast
    join's build side are planned but not counted."""
    base = spark.range(100).withColumn("k", F.col("id") % 7)
    dim = spark.range(7).withColumnRenamed("id", "k")
    assert audit(base.repartition(4, "id"))["exchanges"] == 1
    assert audit(base.orderBy("k"))["exchanges"] == 1
    total = base.agg(F.sum("id"))
    joined = base.join(F.broadcast(dim), "k")
    for df, planned in ((total, "ShuffleExchangeExec"), (joined, "BroadcastExchangeExec")):
        kinds = [n.getClass().getSimpleName() for n in plan_nodes(df)]
        assert planned in kinds, kinds
        assert audit(df)["exchanges"] == 0, kinds
    assert audit(joined)["joins"] == ["BroadcastHashJoin"]


@pytest.mark.parametrize(
    "name",
    [
        "T1_token_count",
        "T3_quality_score",
        "T8_pii_redaction",
        "T9_text_normalization",
        "X4_extract_resources",
        "F2_regex_funcs",
    ],
)
def test_scalar_paths_stay_in_codegen(spark, name):
    """Text/extraction scalar pipelines run fused (no Python, no
    exchange): the whole operator is a single codegen stage per scan."""
    a = _audit(spark, name)
    assert a["wholestage"], (name, a)
    assert a["exchanges"] == 0, (name, a)


def test_bucketed_join_skips_both_exchanges(spark):
    """S11 (SCALE.md §2): two tables bucketed on the join key co-locate
    matching rows at WRITE time, so the repeated fact-to-fact join plans
    with ZERO shuffle exchanges — the 100 TB answer for a join that runs
    every day on the same key. Drives the registered query's own helper
    so the asserted plan is the shipped plan."""
    from test_dataengineer2026_spark.queries.sources_q import (
        write_bucketed_join_tables,
    )
    from tests.conftest import SF_DIR

    write_bucketed_join_tables(spark, SF_DIR)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table("s11_lineitem")
        j = li.join(
            spark.table("s11_orders"),
            li.l_orderkey == spark.table("s11_orders").o_orderkey,
        )
        p = plan_string(j, "simple")
        assert "SortMergeJoin" in p, p
        assert audit(j)["exchanges"] == 0, p
        # and the co-located join still returns the right row count
        assert j.count() == li.count()
        # the full registered query adds only the aggregation exchange
        agg = j.groupBy("o_orderpriority").count()
        assert audit(agg)["exchanges"] == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_curation_map_only_stages(spark):
    """C2 (hash-gated sampling) and C4 (chunk explode) are pure map
    plans — zero exchanges, so at 100 TB they run as one scan stage
    with no data crossing the cluster."""
    for name in ("C2_stratified_sample", "C4_chunk_documents"):
        a = _audit(spark, name)
        assert a["exchanges"] == 0, (name, a)
        assert a["wholestage"], (name, a)


def test_pack_sequences_single_partitioned_window(spark):
    """C5: the packing prefix-sum is a per-source window — exactly one
    hash exchange, never a global sort (a global cumulative sum would
    serialize 100 TB through one task)."""
    df = QS["C5_pack_sequences"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert "rangepartitioning" not in p, p


def test_sessionize_single_shuffle(spark):
    """E1: lag window, running-sum window, and the per-session groupBy
    all reuse ONE hashpartitioning(user_id) exchange — sessionizing
    100 TB of events moves each event's (user_id, ts) across the
    cluster exactly once."""
    a = _audit(spark, "E1_batch_sessionize")
    assert a["exchanges"] == 1, a


def test_paragraph_dedup_single_digest_exchange(spark):
    """D8: paragraphs are hashed map-side; the corpus-frequency window
    is the op's only exchange and it moves (doc_id, para_idx, digest)
    rows — the paragraph text itself never shuffles."""
    a = _audit(spark, "D8_paragraph_dedup")
    assert a["exchanges"] == 1, a


def test_boilerplate_removal_bounded_exchanges(spark):
    """C10: digest document-frequency + per-doc rebuild — the only
    exchanges are on the 16-byte digest and doc_id (AQE may add a
    runtime coalesce but no extra shuffle keys)."""
    a = _audit(spark, "C10_boilerplate_removal")
    assert a["exchanges"] <= 3, a


def test_repetition_signals_pruned_scan(spark):
    """T7: both explode branches read only (doc_id, text) — the n-gram
    count table is what shuffles, never any other document column."""
    a = _audit(spark, "T7_repetition_signals")
    assert all(s == "struct<doc_id:bigint,text:string>" for s in a["read_schemas"]), a


def test_length_percentiles_single_shuffle(spark):
    """C8: partial aggregation map-side, then ONE exchange on the
    20-value source key — token counts reduce to per-source digests
    before anything moves."""
    a = _audit(spark, "C8_length_percentiles")
    assert a["exchanges"] == 1, a


def test_shuffle_shards_single_exchange(spark):
    """C9: the training-data shuffle is one hash exchange on the shard
    id — no rangepartitioning (global sort) anywhere in the plan."""
    df = QS["C9_shuffle_shards"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert "rangepartitioning" not in p, p


def test_w4_partitioned_window_single_exchange(spark):
    """W4: the primary ntile query partitions by nation — exactly one
    hash exchange, no single-task global sort (that shape lives in W4b,
    dimension tables only)."""
    a = _audit(spark, "W4_ntile_percent")
    assert a["exchanges"] == 1, a


def test_tfidf_no_unbounded_broadcast(spark):
    """T5: the per-term document-frequency table is vocabulary-sized
    (unbounded at 100 TB) — the tf->df join must carry no broadcast
    HINT; only the 1-row doc-count crossJoin may broadcast. AQE may
    still choose broadcast at runtime from measured sizes, so assert on
    the optimized logical plan's hints, not the physical join choice."""
    from test_dataengineer2026_spark.plans.audit import plan_string

    df = QS["T5_tfidf_top_term"](spark, SF_DIR_MID)
    logical = plan_string(df, "extended")
    import re

    # the operator line directly under each broadcast hint
    hinted = re.findall(
        r"ResolvedHint \(strategy=broadcast\)\s*\n\s*\+- ([^\n]*)", logical
    )
    assert hinted, "expected the 1-row doc-count broadcast hint to be present"
    # every broadcast hint must sit over the 1-row Aggregate (n_docs),
    # never over the per-term df aggregate
    for op in hinted:
        assert "n_docs" in op, f"broadcast hint over non-singleton table: {op}"


def test_tpch_q5_dims_broadcast(spark):
    """SQL4: the four dimension joins broadcast; only the fact-to-fact
    chains (customer/orders/lineitem) may shuffle."""
    a = _audit(spark, "SQL4_tpch_q5")
    assert a["joins"].count("BroadcastHashJoin") >= 3, a


def test_tpch_q18_semi_join_topk(spark):
    """SQL6: the IN (aggregate subquery) runs as a semi join, not a
    repeated scan + filter, and LIMIT 100 caps the sort per partition."""
    p = plan_string(QS["SQL6_tpch_q18"](spark, SF_DIR_MID), "simple")
    assert "LeftSemi" in p, p
    assert "TakeOrderedAndProject" in p, p


def test_quality_classifier_map_only(spark):
    """T10: the logistic quality gate is pure per-row scalar work —
    zero exchanges, runs at scan speed."""
    a = _audit(spark, "T10_quality_classifier")
    assert a["exchanges"] == 0, a


def test_unigram_surprisal_no_unbounded_broadcast(spark):
    """T11: the unigram table is vocabulary-sized — the tok->uni join
    must carry no broadcast hint; only the 1-row total may."""
    import re

    logical = plan_string(QS["T11_unigram_surprisal"](spark, SF_DIR_MID), "extended")
    hinted = re.findall(
        r"ResolvedHint \(strategy=broadcast\)\s*\n\s*\+- ([^\n]*)", logical
    )
    assert hinted, "expected the 1-row total broadcast hint"
    assert all("Aggregate" in h for h in hinted), hinted


def test_countmin_cells_broadcast(spark):
    """A11: the DEPTH x WIDTH cell grid is O(1)-sized — its estimate
    join must broadcast, never shuffle the keys against it."""
    a = _audit(spark, "A11_countmin_sketch")
    assert "BroadcastHashJoin" in a["joins"], a
    assert a["exchanges"] <= 4, a


def test_hll_sketch_bounded_exchanges(spark):
    """A12: hash -> distinct -> 256 registers -> 1-row fold: the only
    row-scale exchange is the distinct; everything after operates on
    sketch-sized data."""
    a = _audit(spark, "A12_hll_sketch")
    assert a["exchanges"] <= 3, a


def test_cdc_merge_single_exchange(spark):
    """W6: snapshot + N changelog batches merge with exactly ONE hash
    exchange on the key — unions are plan-free, the window partitions
    the merged stream once."""
    a = _audit(spark, "W6_cdc_merge")
    assert a["exchanges"] == 1, a


def test_ols_single_aggregation(spark):
    """ML1/ML2: model fitting is pure aggregation — partial map-side
    states, at most one hash exchange (grouped), zero for the global
    fit; no UDF, no driver loop."""
    df1 = QS["ML1_ols_regression"](spark, SF_DIR_MID)
    p1 = plan_string(df1, "simple")
    a1 = audit(df1)
    assert a1["exchanges"] == 0, p1
    df2 = QS["ML2_grouped_ols"](spark, SF_DIR_MID)
    p2 = plan_string(df2, "simple")
    a2 = audit(df2)
    assert a2["exchanges"] == 1, p2
    for p in (p1, p2):
        assert "HashAggregate" in p and "pythonUDF" not in p, p


def test_temperature_sample_broadcast_gate(spark):
    """C11: the per-language weight table and the 1-row Z broadcast; the
    documents scan itself never shuffles — the keep/drop gate is a
    map-side filter. The only exchanges carry per-language counts."""
    a = _audit(spark, "C11_temperature_sample")
    assert all(j == "BroadcastHashJoin" or j == "BroadcastNestedLoopJoin" for j in a["joins"]), a
    # the stats/weight/Z aggregations each plan an exchange, but every
    # one carries per-language states (<= #langs rows) after map-side
    # partials; none moves document rows.
    assert a["exchanges"] <= 4, a


def test_bloom_probe_filters_before_join_shuffle(spark):
    """J14: the Bloom probe must materialize as a Filter on the fact
    scan side (pre-exchange), the bitset build as a one-row broadcast —
    so the fact side shrinks before any shuffle toward the exact join."""
    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )
    import pyspark.sql.functions as F

    li = tables.load(spark, SF_DIR_MID, "lineitem")
    urgent = tables.load(spark, SF_DIR_MID, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    bf = bloom_build(urgent, "o_orderkey")
    pruned = bloom_probe(li, bf, "l_orderkey")
    plan = plan_string(pruned)
    # the 1-row bitset arrives via broadcast, never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # probing adds no hash exchange on the fact side
    assert "Exchange hashpartitioning" not in plan, plan


def test_bloom_no_false_negatives_and_selective(spark):
    """Every true match survives the probe (count equals the exact join)
    and the filter actually prunes (urgent orders are ~1/5 of keys, so
    well under half the fact rows may survive)."""
    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )
    import pyspark.sql.functions as F

    li = tables.load(spark, SF_DIR_MID, "lineitem")
    orders = tables.load(spark, SF_DIR_MID, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    bf = bloom_build(urgent, "o_orderkey")
    survived = bloom_probe(li, bf, "l_orderkey")
    n_total = li.count()
    n_survived = survived.count()
    n_true = li.join(urgent, li.l_orderkey == urgent.o_orderkey, "leftsemi").count()
    assert n_true <= n_survived <= n_total
    assert n_survived < 0.5 * n_total, (n_survived, n_total)
    # false-positive rate within ~4x of the analytic bound for m=2^17,k=3
    n_keys = urgent.count()
    import math

    fpr_bound = (1 - math.exp(-3 * n_keys / (1 << 17))) ** 3
    n_candidates_wrong = n_survived - n_true
    assert n_candidates_wrong <= max(50, 4 * fpr_bound * n_total), (
        n_candidates_wrong,
        fpr_bound,
    )


def test_zorder_prunes_both_dims(spark, tmp_path):
    """S13: quantify layout quality from parquet footers. Under Z-order,
    each file's (partkey, suppkey) min/max rectangle is compact in BOTH
    dims, so the 2-D box intersects few files; under a partkey-only sort
    the suppkey stats span everything and only the partkey dim prunes.
    Assert the box query could skip more files in the Z layout."""
    import glob

    import pyarrow.parquet as pq

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.operators.zorder import zorder_by

    # coalesce(1): range-exchange boundaries come from per-input-partition
    # sampling, so pin the input layout — otherwise confs leaked by earlier
    # tests (maxPartitionBytes etc.) change the sample and the file
    # rectangles drift run-to-run.
    li = (
        tables.load(spark, SF_DIR_MID, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .coalesce(1)
    )
    # Normalize both keys into the same 8-bit domain before interleaving
    # (zorder_by's documented contract) — raw keys would let partkey's
    # ~20x-wider range dominate every Morton prefix.
    pk_max, sk_max = li.agg(F.max("l_partkey"), F.max("l_suppkey")).first()
    z_dir, s_dir = str(tmp_path / "z"), str(tmp_path / "s")
    zorder_by(
        li,
        F.col("l_partkey") * 255 / pk_max,
        F.col("l_suppkey") * 255 / sk_max,
        n_files=32,
        bits=8,
    ).write.parquet(z_dir)
    li.repartitionByRange(32, "l_partkey").sortWithinPartitions(
        "l_partkey"
    ).write.parquet(s_dir)

    # Box wide in partkey (90% of the domain) but narrow in suppkey
    # (30%): the partkey-sorted layout must touch ~every file, while the
    # Z layout prunes on the suppkey dimension too.
    def files_overlapping_box(d, pk=(100, int(pk_max * 0.95)), sk=(10, 40)):
        hit = total = 0
        for f in glob.glob(f"{d}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {
                md.row_group(0).column(i).path_in_schema: i
                for i in range(md.num_columns)
            }
            for g in range(md.num_row_groups):
                total += 1
                st_pk = md.row_group(g).column(cols["l_partkey"]).statistics
                st_sk = md.row_group(g).column(cols["l_suppkey"]).statistics
                if (
                    st_pk.min <= pk[1]
                    and st_pk.max >= pk[0]
                    and st_sk.min <= sk[1]
                    and st_sk.max >= sk[0]
                ):
                    hit += 1
        return hit, total

    z_hit, z_total = files_overlapping_box(z_dir)
    s_hit, s_total = files_overlapping_box(s_dir)
    assert z_total >= 8 and s_total >= 8
    # Z-order: the 2-D box touches a minority of row groups; 1-D sort
    # cannot prune on suppkey at all, so it touches more.
    assert z_hit < s_hit, (z_hit, z_total, s_hit, s_total)
    assert z_hit <= int(z_total * 0.6), (z_hit, z_total)


def test_dq1_suite_is_single_pass(spark):
    """DQ1: the whole six-check expectation suite compiles into ONE scan
    of orders with two-phase aggregation — adding checks must add agg
    expressions, not jobs or scans (the Deequ invariant)."""
    df = QS["DQ1_expectation_checks"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert p.count("Scan parquet") == 1, p
    # partial+final agg pair (countDistinct expands to two pairs max)
    assert p.count("HashAggregate") >= 2, p
    assert a["exchanges"] <= 2, p


def test_dq2_moves_keys_only(spark):
    """DQ2: each FK edge joins the child's key COLUMN onto a deduped
    parent key set — read schemas stay single-key-wide, so an orphan
    audit of a 100 TB fact table shuffles keys, never rows."""
    a = _audit(spark, "DQ2_referential_integrity")
    for rs in a["read_schemas"]:
        assert rs.count(",") == 0, a["read_schemas"]  # one column per scan


def test_compaction_hits_target_file_count(spark, tmp_path):
    """S14: the compaction planner sizes output files from actual store
    bytes — a 64-fragment store compacts to ceil(bytes/target) files,
    each within ~2x of the byte budget, and row counts are preserved."""
    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.sources import io as sio

    d = tables.load(spark, SF_DIR_MID, "documents")
    frag, out = str(tmp_path / "frag"), str(tmp_path / "out")
    d.repartition(64).write.parquet(frag)
    n_before, total = sio.parquet_leaf_stats(spark, frag)
    assert n_before == 64, n_before
    target = max(total // 4, 1)
    n_planned = sio.compact_parquet(spark, frag, out, target_bytes=target)
    n_after, _ = sio.parquet_leaf_stats(spark, out)
    assert n_after == n_planned <= 6, (n_before, n_planned, n_after)
    assert n_after < n_before
    assert (
        spark.read.parquet(out).count() == spark.read.parquet(frag).count()
    )


def test_ts3_bounded_exchanges_no_global_sort(spark):
    """TS3: daily agg + per-user window = at most two hash exchanges
    ((user, day) then user), and never a range partitioning — the
    anomaly scan must not serialize a global sort."""
    df = QS["TS3_rolling_zscore_anomaly"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] <= 2, p
    assert "rangepartitioning" not in p, p


def test_w5_dedup_keep_latest_single_window_shuffle(spark):
    """W5: keep-latest dedup is one window shuffle on the dedup key
    over one scan — no join, no sort-based rangepartitioning. The
    100 TB contract: dedup cost is one pass + one O(rows) exchange."""
    df = QS["W5_dedup_keep_latest"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert not a["joins"], p
    assert a["exchanges"] == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_a6_rollup_is_expand_over_one_scan(spark):
    """A6: rollup subtotals come from the native Expand operator over a
    SINGLE scan and a single agg exchange — not one scan per grouping
    set (the naive union-of-aggs plan that multiplies 100 TB reads)."""
    df = QS["A6_grouping_sets_rollup"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert "Expand" in p, p
    assert p.count("Scan parquet") == 1, p
    assert a["exchanges"] == 1, p


def test_h1_hypertable_rollup_single_scan(spark):
    """H1: the daily rollup re-aggregates hourly PARTIALS from one scan
    of the raw table (two agg exchanges: hour then day) — never a
    second scan of raw data per rollup level."""
    df = QS["H1_hypertable_rollup"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert p.count("Scan parquet") == 1, p
    assert a["exchanges"] <= 2, p


def test_j9_range_join_is_bucketed_equi_not_nested_loop(spark):
    """J9: the interval predicate rides an equi-bucket key with the
    `between` as a residual — a nested-loop/cartesian here is the
    classic range-join explosion that cannot survive a real fact
    table. (Locally the bucket join broadcasts; at scale it degrades
    to sort-merge on the same key — both are equi-join kinds.)"""
    df = QS["J9_range_join"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    kinds = audit(df)["joins"]
    assert kinds, p


def test_j10_asof_compiles_to_single_shuffle_no_join(spark):
    """J10: the as-of join is union-tag + last(ignorenulls) window —
    the plan must contain NO join operator at all and exactly ONE
    exchange (the window's partition key), never a rangepartitioning.
    This is the shape that makes as-of O(one shuffle) at 100 TB
    instead of a per-row range probe."""
    df = QS["J10_asof_join"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert not a["joins"], p
    assert a["exchanges"] == 1, p
    assert "rangepartitioning" not in p.lower(), p


def test_dedup_candidate_joins_are_banded_not_cartesian(spark):
    """D2/D3/D4/D7: every near-dup candidate generator joins on a
    bounded band/bucket equi-key (LSH band, simhash pigeonhole band,
    shared token, containment shingle) — the whole 100 TB story is
    that candidate generation NEVER degenerates into an all-pairs
    cartesian/nested-loop, whatever sizes AQE sees."""
    for name in (
        "D2_minhash_lsh",
        "D3_ngram_jaccard",
        "D4_simhash",
        "D7_containment_dedup",
    ):
        df = QS[name](spark, SF_DIR_MID)
        p = plan_string(df, "simple")
        assert "CartesianProduct" not in p, (name, p)
        assert "BroadcastNestedLoopJoin" not in p, (name, p)
        assert audit(df)["joins"], (name, p)  # the equi-join is actually there


def test_gr2_no_cartesian(spark):
    """GR2: triangle enumeration is equi-joins only — a cartesian or
    broadcast-nested-loop anywhere means the ordered-edge join
    degenerated and would never survive a real graph."""
    p = plan_string(QS["GR2_triangle_count"](spark, SF_DIR_MID), "simple")
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_t12_topk_and_single_pair_shuffle(spark):
    """T12: the BPE pair count shuffles once on the pair key (map-side
    partial combine first) and takes the top-30 with
    TakeOrderedAndProject, not a global sort."""
    df = QS["T12_bpe_pair_stats"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert "TakeOrderedAndProject" in p, p
    assert a["exchanges"] == 1, p
    assert p.count("HashAggregate") >= 2, p


def test_w7_change_batch_broadcasts(spark):
    """W7: the SCD2 merge's three joins all probe the small change
    batch — every join is broadcast, the dimension itself never
    shuffles."""
    a = _audit(spark, "W7_scd2_dimension")
    assert a["joins"], a
    assert all(j == "BroadcastHashJoin" for j in a["joins"]), a
    assert a["exchanges"] == 0, a


def test_ml3_corpus_never_shuffles_before_scoring(spark):
    """ML3: the kNN scorer inherits J12's shape — test vectors
    broadcast, the train corpus streams into the scorer with no
    pre-scoring exchange."""
    p = plan_string(QS["ML3_knn_classifier"](spark, SF_DIR_MID), "simple")
    assert "BroadcastNestedLoopJoin" in p, p


def test_gr2_degree_orientation_cuts_skew_wedges(spark):
    """GR2 refinement: on a hub-skewed graph the degree-ordered
    orientation must enumerate far fewer candidate wedges than the
    naive u<v orientation, while producing the exact triangle set."""
    from test_dataengineer2026_spark.operators.graph import (
        degree_table,
        orient_by_degree,
        triangles_oriented,
        wedge_candidate_count,
    )

    # hub 0 -- leaves 1..50, plus a leaf path 1-2, 2-3, ... 49-50:
    # every path edge closes a triangle with the hub => 49 triangles.
    edges = [(0, i) for i in range(1, 51)] + [(i, i + 1) for i in range(1, 50)]
    pairs = spark.createDataFrame(edges, "u long, v long")
    deg = degree_table(pairs)

    naive_wedges = wedge_candidate_count(
        pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    ).first()["n_wedges"]
    oriented = orient_by_degree(pairs, deg)
    ordered_wedges = wedge_candidate_count(oriented).first()["n_wedges"]

    # naive: hub 0 is the low id on all 50 of its edges -> C(50,2)=1225
    # wedges at the hub alone; degree-ordered: all hub edges point INTO
    # the hub, so wedges only form at degree<=3 leaves.
    assert naive_wedges >= 1225
    assert ordered_wedges < 100
    assert ordered_wedges < naive_wedges / 10

    tri = triangles_oriented(oriented)
    got = {tuple(sorted((r.a, r.b, r.c))) for r in tri.collect()}
    want = {tuple(sorted((0, i, i + 1))) for i in range(1, 50)}
    assert got == want


def test_sql_q6_full_pushdown_zero_exchange(spark):
    """SQL13/Q6: every predicate reaches the parquet scan and the global
    aggregate needs no hash exchange — the canonical scan+filter+agg."""
    a = _audit(spark, "SQL13_tpch_q6")
    assert a["exchanges"] == 0, a
    pushed = " ".join(a["pushed_filters"])
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, (frag, pushed)


def test_sql_q4_exists_plans_as_semi_join(spark):
    """SQL12/Q4: the EXISTS subquery must plan as ONE left-semi join on
    o_orderkey (no per-row subquery execution), with the order-date
    window pushed into the orders scan."""
    p = plan_string(QS["SQL12_tpch_q4"](spark, SF_DIR_MID), "simple")
    assert p.count("LeftSemi") == 1, p
    a = _audit(spark, "SQL12_tpch_q4")
    assert any("o_orderdate" in f for f in a["pushed_filters"]), a


def test_sql_q21_semi_plus_anti_no_cartesian(spark):
    """SQL21/Q21: EXISTS -> left-semi, NOT EXISTS -> left-anti, and the
    non-equi lateness condition stays a residual on the equi-join —
    never a nested-loop/cartesian plan."""
    p = plan_string(QS["SQL21_tpch_q21"](spark, SF_DIR_MID), "simple")
    assert p.count("LeftSemi") == 1 and p.count("LeftAnti") == 1, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_mm_decode_pipelines_are_map_only(spark):
    """MM4/MM5: synthesize->decode is two mapInPandas crossings and ZERO
    exchanges — a 100 TB decode sweep must not shuffle payload bytes."""
    for name in ("MM4_png_decode", "MM5_wav_decode"):
        a = _audit(spark, name)
        assert a["exchanges"] == 0, (name, a)
        p = plan_string(QS[name](spark, SF_DIR_MID), "simple")
        assert p.count("MapInPandas") == 2, (name, p)


def test_j15_interval_overlap_is_banded_not_cartesian(spark):
    """J15: the overlap join must ride the month-cell equi-key with the
    overlap predicate as a residual — never a nested-loop/cartesian."""
    p = plan_string(QS["J15_interval_overlap_join"](spark, SF_DIR_MID), "simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    a = _audit(spark, "J15_interval_overlap_join")
    assert a["joins"], a


def test_c13_curriculum_no_global_sort(spark):
    """C13: ordering is phase-local — one hash exchange on phase, no
    rangepartitioning (global sort) anywhere in the plan."""
    p = plan_string(QS["C13_curriculum_order"](spark, SF_DIR_MID), "simple")
    assert "Exchange rangepartitioning" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_ts4_ohlc_is_single_exchange_algebraic_agg(spark):
    """TS4: OHLC bars are ONE two-phase aggregation — no window, no
    sort, one hash exchange on the bar key; the scan reads only the
    three needed columns."""
    a = _audit(spark, "TS4_ohlc_bars")
    assert a["exchanges"] == 1, a
    assert a["read_schemas"] == [
        "struct<event_id:bigint,ts:timestamp,value:double>"
    ], a


def test_a13_histogram_prunes_to_one_column(spark):
    """A13: the data-sized operation is one map-side-combined groupBy
    over a single-column scan; the quantile window runs over O(bins)."""
    a = _audit(spark, "A13_histogram_quantiles")
    assert a["exchanges"] == 1, a
    assert a["read_schemas"] == ["struct<l_extendedprice:double>"], a


def test_e5_attribution_filters_push_and_no_cartesian(spark):
    """E5: both event-type filters reach the scans and the lookback
    join stays an equi-join on user_id with the window as residual."""
    a = _audit(spark, "E5_first_touch_attribution")
    pushed = " ".join(a["pushed_filters"])
    assert "EqualTo(event_type,purchase)" in pushed, a
    assert "EqualTo(event_type,view)" in pushed, a
    assert all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for j in a["joins"]
    ) and a["joins"], a


def test_h2_incremental_refresh_merges_without_extra_exchange(spark):
    """H2: the algebraic rollup refresh shuffles each side ONCE for its
    partial aggregation and the full-outer merge join REUSES that hour
    partitioning — a third exchange would mean the merge re-shuffles
    the standing aggregate on every refresh. Both scans read only the
    three needed columns, and aggregation is two-phase (map-side
    partials before the exchange)."""
    a = _audit(spark, "H2_incremental_rollup_refresh")
    assert a["joins"] == ["SortMergeJoin"], a
    assert a["exchanges"] == 2, a
    p = plan_string(QS["H2_incremental_rollup_refresh"](spark, SF_DIR_MID), "simple")
    assert "partial_count" in p and "partial_sum" in p, p
    assert all(
        rs == "struct<event_id:bigint,ts:timestamp,value:double>"
        for rs in a["read_schemas"]
    ), a


def test_sql23_q20_nested_semi_join_no_cartesian(spark):
    """SQL23 (TPC-H Q20): the nested IN chain plans as left-semi hash
    joins — never a cartesian, never a per-row subquery — and the
    correlated availability aggregate decorrelates into an equi-join."""
    a = _audit(spark, "SQL23_tpch_q20")
    p = plan_string(QS["SQL23_tpch_q20"](spark, SF_DIR_MID), "simple")
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p
    assert a["joins"] and all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for j in a["joins"]
    ), a


def test_sql24_q11_threshold_is_broadcast_and_scan_once(spark):
    """SQL24 (TPC-H Q11, scale-aware threshold since r12): the 1-row
    mean aggregate joins back as a broadcast nested-loop with the
    SINGLE-ROW side built — never a CartesianProduct, and the base
    hash joins stay hash joins. The stronger contract is scan-once:
    the ps CTE is referenced twice (rows + total), Catalyst inlines
    both, and it is AQE's exchange reuse that collapses them — the
    executed plan must carry a ReusedExchange over the per-part
    partial-aggregate shuffle, i.e. the lineitem join tree is computed
    ONCE (at 100 TB a second scan of the fact table would dominate the
    whole query)."""
    a = _audit(spark, "SQL24_tpch_q11")
    df = QS["SQL24_tpch_q11"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    assert "CartesianProduct" not in p, p
    hash_joins = [j for j in a["joins"] if j != "BroadcastNestedLoopJoin"]
    assert hash_joins and all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for j in hash_joins
    ), a
    assert "BroadcastNestedLoopJoin BuildRight" in p, p
    # collect() (not a sink write) so THIS df's queryExecution is the
    # one that runs — AQE finalizes the plan lazily at execution
    assert len(df.collect()) > 0
    final = df._jdf.queryExecution().executedPlan().treeString()
    assert "isFinalPlan=true" in final, final[:300]
    assert "ReusedExchange" in final, final[:2000]


def test_cube_single_pass(spark):
    """A14: CUBE plans one scan + Expand + two-phase aggregation with a
    single exchange — never four scans for the four grouping sets."""
    a = _audit(spark, "A14_cube")
    p = plan_string(QS["A14_cube"](spark, SF_DIR_MID), "simple")
    assert "Expand" in p and "partial_count" in p, p
    assert a["exchanges"] == 1 and p.count("FileScan") == 1, a


def test_unpivot_is_map_only(spark):
    """U5: unpivot reads the table ONCE and fans rows out map-side
    (Expand) — zero joins, zero exchanges, one scan."""
    a = _audit(spark, "U5_unpivot_melt")
    p = plan_string(QS["U5_unpivot_melt"](spark, SF_DIR_MID), "simple")
    assert "Expand" in p, p
    assert a["joins"] == [] and a["exchanges"] == 0, a
    assert p.count("FileScan") == 1, p


def test_lateral_view_fuses_into_scan_stage(spark):
    """SQL25: LATERAL VIEW explode plans as a Generate fused before the
    aggregation — no join against the generated rows, one scan, one
    exchange (the group-by)."""
    a = _audit(spark, "SQL25_lateral_view_explode")
    p = plan_string(QS["SQL25_lateral_view_explode"](spark, SF_DIR_MID), "simple")
    assert "Generate" in p, p
    assert a["joins"] == [] and a["exchanges"] == 1, a
    assert p.count("FileScan") == 1, p


def test_null_safe_join_is_hash_join(spark):
    """J16: <=> must plan as a HASH join (Catalyst canonicalizes the
    null-safe equality into a join key) — a BroadcastNestedLoopJoin
    here would mean the null-matching semantics fell out of the
    equi-join path."""
    a = _audit(spark, "J16_null_safe_join")
    assert a["joins"] == ["BroadcastHashJoin"], a
    assert a["exchanges"] == 0, a


def test_except_all_is_single_shuffle_aggregate(spark):
    """U6: EXCEPT ALL plans as multiplicity-counting aggregation — one
    exchange on the key, no join, no sort."""
    a = _audit(spark, "U6_except_all")
    p = plan_string(QS["U6_except_all"](spark, SF_DIR_MID), "simple")
    assert a["joins"] == [] and a["exchanges"] == 1, a
    assert "HashAggregate" in p, p


#: Queries whose construction executes work (streaming runs, sink
#: writes, staged feeds) — excluded from the lazy plan sweep.
_EXECUTING_TAGS = {"streaming", "sink", "sources", "layout", "schema-evolution"}


def test_no_cartesian_anywhere(spark):
    """Global invariant: NO registered query plans a CartesianProduct —
    the one join shape that is always fatal at 100 TB. Every deliberate
    cross of a 1-row/bounded aggregate (funnel counts, corpus totals,
    sketch parameters) broadcasts and plans as BroadcastNestedLoopJoin,
    and even J11's explicit cross join rides a broadcast at this scale —
    so the sweep needs zero exceptions. Covers every
    lazily-constructible registered query."""
    from test_dataengineer2026_spark import registry
    from tests.conftest import SF_DIR

    offenders = []
    build_failures = []
    for name, spec in registry.all_specs().items():
        if _EXECUTING_TAGS & set(spec.tags):
            continue
        try:
            df = spec.fn(spark, SF_DIR)
        except Exception as exc:
            # A non-executing query that cannot even BUILD is a bug —
            # it must not silently drop out of the sweep.
            build_failures.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        p = plan_string(df, "simple")
        if "CartesianProduct" in p:
            offenders.append(name)
    assert not build_failures, build_failures
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Round-5 additions (A15 / TS5 / E6 / J17 / T14)
# ---------------------------------------------------------------------------


def test_a15_percentiles_two_phase_single_exchange(spark):
    """A15: exact percentile aggregates map-side partially
    (partial_percentile) and the group-by costs exactly one exchange —
    the shuffle carries per-group percentile states, not raw rows."""
    df = QS["A15_grouped_percentiles"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert "partial_percentile" in p, p
    assert a["exchanges"] == 1, p
    assert not a["joins"], p


def test_ts5_twa_single_exchange_reuses_partitioning(spark):
    """TS5: the LEAD window and the per-user aggregation share ONE
    user_id exchange — the aggregate consumes the window's partitioning
    instead of re-shuffling; the whole query is join-free."""
    df = QS["TS5_time_weighted_avg"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert "Exchange hashpartitioning(user_id" in p, p
    assert not a["joins"], p


def test_e6_markov_windows_run_post_aggregation(spark):
    """E6: the LAG pairing shuffles the data once on user_id; every
    later exchange moves only post-aggregation rows (O(types^2)), and
    the row-normalize window sits above the final count aggregate."""
    df = QS["E6_markov_transitions"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] <= 3, p
    assert "Exchange hashpartitioning(user_id" in p, p
    assert not a["joins"], p
    # normalize window consumes aggregated counts, not raw events
    assert p.index("Window [sum") < p.index("HashAggregate"), p


def test_j17_tolerance_stays_join_free(spark):
    """J17: tolerance is a post-filter on the union-tag running-last
    as-of plan — one user_id exchange, one Window, and NO physical join
    operator anywhere (a second join would re-shuffle the events)."""
    df = QS["J17_asof_tolerance_join"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert not a["joins"], p
    assert "Union" in p and "last(__p" in p, p


def test_t14_zipf_global_windows_post_aggregation(spark):
    """T14: the only data-sized exchange is the term-count shuffle; the
    single-partition exchange feeding the global rank/cumsum windows
    sits ABOVE the vocabulary aggregate, never above the token
    explode."""
    df = QS["T14_zipf_rank"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert "Exchange hashpartitioning(term" in p, p
    single = p.index("Exchange SinglePartition")
    assert single < p.index("Generate explode"), p
    assert "HashAggregate" in p[single:], p


def test_a16_heavy_hitters_candidates_broadcast(spark):
    """A16: the vocabulary histogram never shuffles un-filtered — the
    exact-count aggregation sits ABOVE a broadcast LeftSemi join on the
    candidate set, the MapInPandas candidate stage feeds only the tiny
    distinct (two hash exchanges total: candidate dedup + filtered
    count), and the corpus total rides a broadcast, not a shuffle."""
    df = QS["A16_heavy_hitters"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 2, p
    kinds = a["joins"]
    assert "BroadcastHashJoin" in kinds and "CartesianProduct" not in kinds, p
    assert "LeftSemi" in p, p
    assert p.count("MapInPandas") == 1, p
    # the semi filter is below the counting aggregate: the first
    # HashAggregate over term (the count) must have the semi join inside
    # its subtree
    count_at = p.index("partial_count")
    assert "BroadcastHashJoin" in p[count_at:], p


def test_w8_streaks_two_exchanges_window_feeds_both_aggs(spark):
    """W8: exactly two exchanges — the (user, day) distinct and the
    user_id window sort; BOTH downstream aggregations ((user, island)
    then user) reuse the window's user_id partitioning, so no exchange
    appears above the Window operator."""
    df = QS["W8_activity_streaks"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 2, p
    assert not a["joins"], p
    window_at = p.index("Window [row_number")
    assert "Exchange hashpartitioning" not in p[:window_at], p


def test_gr4_bfs_round_is_equi_join(spark):
    """GR4: a data-sized BFS round plans its frontier expansion as an
    equi join (hash / sort-merge), never a CartesianProduct, and
    collapses with one aggregation. The full query checkpoints each
    round (lineage would otherwise DOUBLE per round — the early rounds
    appeared 2^hops times in the pre-fix plan), so the round shape is
    pinned on the bfs_round building block; the final plan must read
    the last round from the checkpointed RDD, proving truncation."""
    from pyspark.sql import functions as F

    from test_dataengineer2026_spark import tables
    from test_dataengineer2026_spark.queries.graph_q import bfs_round

    li = tables.load(spark, SF_DIR_MID, "lineitem").select(
        F.col("l_orderkey").alias("src"), F.col("l_suppkey").alias("dst")
    )
    seed = li.select(F.col("src").alias("node"), F.lit(0).alias("lvl")).limit(100)
    # a data-sized frontier (no literal seed, so the join key cannot
    # constant-fold into a pushed filter)
    df = bfs_round(seed.localCheckpoint(), li)
    p = plan_string(df, "simple")
    kinds = audit(df)["joins"]
    assert "CartesianProduct" not in kinds, kinds
    assert any(
        k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for k in kinds
    ), kinds
    assert "HashAggregate" in p, p
    p_full = plan_string(QS["GR4_bfs_levels"](spark, SF_DIR_MID), "simple")
    assert "ExistingRDD" in p_full or "Scan ExistingRDD" in p_full, p_full


def _scan_nodes(df, table: str | None = None) -> list:
    """FileSourceScanExec nodes of df's plan, optionally only those
    reading a path that contains ``table``."""
    return [
        n
        for n in plan_nodes(df)
        if n.getClass().getSimpleName() == "FileSourceScanExec"
        and (table is None or table in n.relation().location().rootPaths().mkString(","))
    ]


def test_s16_dynamic_partition_pruning_fires(spark):
    """S16: the day-partitioned fact scan must carry a `dynamicpruning`
    PartitionFilter fed by the dim's broadcast subquery — runtime
    partition pruning, not a full fact scan followed by a join filter.
    Read from the plan objects, not explain text, whose scan location
    is truncated once the checkout path is long enough."""
    df = QS["S16_dynamic_partition_pruning"](spark, SF_DIR_MID)
    (fact,) = _scan_nodes(df, "s16_events_by_day")
    filters = fact.partitionFilters().mkString(" | ")
    assert "dynamicpruningexpression(" in filters, filters
    assert "dynamicpruningexpression(true)" not in filters, filters
    kinds = {n.getClass().getSimpleName() for n in plan_nodes(df)}
    assert "SubqueryAdaptiveBroadcastExec" in kinds, kinds


def _shuffle_bytes_written(df) -> int:
    return sum(
        node_metrics(n).get("shuffleBytesWritten", 0) for n in plan_nodes(df)
    )


def test_reused_exchange_shuffle_bytes_counted_once(spark):
    """A self-join of one aggregation reuses its exchange: the walk must
    see the ReusedExchangeExec and count the shuffle bytes once, i.e.
    exactly what the aggregation alone writes."""
    from test_dataengineer2026_spark import tables
    from tests.conftest import SF_DIR

    agg = (
        tables.load(spark, SF_DIR, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")  # keep the sort-merge join: no broadcast
    try:
        assert execute(agg) > 0
        alone = _shuffle_bytes_written(agg)
        joined = agg.alias("a").join(agg.alias("b"), "l_orderkey")
        assert execute(joined) > 0
    finally:
        spark.conf.set(key, old)
    kinds = [n.getClass().getSimpleName() for n in plan_nodes(joined)]
    assert "ReusedExchangeExec" in kinds, kinds
    assert kinds.count("ShuffleExchangeExec") == 1, kinds
    assert _shuffle_bytes_written(joined) == alone > 0


# ---------------------------------------------------------------------------
# Round-5 late additions (D10 / MM8 / ML4)
# ---------------------------------------------------------------------------


def test_d10_span_dedup_equi_joins_only(spark):
    """D10: substring-span dedup never crosses — the df-cap filter and
    the pair join are all equi-joins on span_hash, the whole pipeline is
    pure JVM (no Python), and the exchanges are exactly: posting count
    for the cap, the capped-posting join, the pair aggregation."""
    df = QS["D10_substring_span_dedup"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    kinds = a["joins"]
    assert kinds and all(
        k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for k in kinds
    ), kinds
    assert "MapInPandas" not in p, p
    assert "HashAggregate" in p, p
    assert a["exchanges"] == 3, p


def test_mm8_bands_decode_once_candidates_equi(spark):
    """MM8: the perceptual-hash table is decoded ONCE and cached — every
    further reference is an InMemoryTableScan — and the only
    nested-loop shapes are the broadcast of the 4-row band table;
    candidate generation itself is equi (BroadcastHashJoin on
    (band_idx, band_val))."""
    df = QS["MM8_image_neardup_bands"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    kinds = audit(df)["joins"]
    assert "CartesianProduct" not in p, p
    assert p.count("InMemoryTableScan") >= 2, p
    assert kinds.count("BroadcastHashJoin") >= 2, kinds


def test_ml4_kmeans_broadcast_scoring_cached_assignment(spark):
    """ML4: both Lloyd passes score against a BROADCAST centroid table
    (BroadcastNestedLoopJoin of a k-row side — the corpus side never
    shuffles to meet the centroids), the iteration-1 assignment is
    cached (InMemoryTableScan on both its consumers), and the whole
    iteration is JVM-side — no Python in the loop."""
    p = plan_string(QS["ML4_kmeans_lloyd"](spark, SF_DIR_MID), "simple")
    assert "CartesianProduct" not in p, p
    # Pass 1 scores inside the cached assignment. ``audit`` stops at a
    # cached relation, but the text prints its plan under each
    # InMemoryTableScan, so both passes are counted there.
    assert p.count("BroadcastNestedLoopJoin") >= 2, p
    assert p.count("InMemoryTableScan") == 2, p
    assert "MapInPandas" not in p, p


def test_a17_sliding_distinct_no_range_join(spark):
    """A17: the rolling-DAU rewrite must NOT plan the naive range
    self-join (O(days x events) at scale) — every join is an equi-join
    on the day key, and the week fan-out is a map-side explode
    (Generate) over pre-aggregated rows."""
    df = QS["A17_sliding_distinct"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    kinds = audit(df)["joins"]
    assert kinds and all(
        k in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for k in kinds
    ), kinds
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p
    assert "Generate explode" in p, p


def test_mm9_quarantine_is_map_only(spark):
    """MM9: fault injection + total decode is a single map-only pipeline
    — zero exchanges, zero joins; a corrupt payload can never cost more
    than its own row."""
    df = QS["MM9_corrupt_quarantine"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 0, p
    assert not a["joins"], p
    assert "MapInPandas" in p, p


def test_ml5_perceptron_epochs_are_aggregates(spark):
    """ML5: each epoch is one aggregation; the model travels as a 1-row
    broadcast (BroadcastNestedLoopJoin of the weight row), never a
    shuffle of the corpus against the model; no Python anywhere."""
    df = QS["ML5_perceptron"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    kinds = audit(df)["joins"]
    assert kinds == ["BroadcastNestedLoopJoin"], kinds
    assert "MapInPandas" not in p, p
    assert "HashAggregate" in p, p


def test_f14_nested_hofs_single_shuffle(spark):
    """F14: ONE exchange builds the nested column; every HOF over the
    struct array is map-side codegen — no joins, no second shuffle, no
    Python."""
    df = QS["F14_nested_struct_ops"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    a = audit(df)
    assert a["exchanges"] == 1, p
    assert not a["joins"], p
    assert "MapInPandas" not in p, p


def test_ts6_seasonal_broadcast_baseline(spark):
    """TS6: the weekday baseline (<= 7 rows) broadcasts back onto the
    daily series — no shuffle of the series against the baseline, no
    Python, and the day rollup partial-aggregates map-side."""
    df = QS["TS6_dow_seasonal"](spark, SF_DIR_MID)
    p = plan_string(df, "simple")
    kinds = audit(df)["joins"]
    assert kinds == ["BroadcastHashJoin"], kinds
    assert "MapInPandas" not in p, p


def test_hive_partition_pruning(spark, tmp_path):
    """Round-12 Hive layout, the property that pays at 100 TB: a filter
    on the partition column must be resolved from DIRECTORY NAMES at
    planning time — PartitionFilters in the scan, zero per-row
    DataFilters, non-matching key=value subtrees never opened (pinned
    via inputFiles: only the matching partition's leaves are listed) —
    and column pruning must still reach ReadSchema so the scan reads
    exactly the projected data columns."""
    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    d = str(tmp_path / "events.parquet")
    tbl = pq.read_table(f"{SF_DIR}/events.parquet")
    pa_ds.write_dataset(
        tbl,
        d,
        format="parquet",
        partitioning=pa_ds.partitioning(
            tbl.schema.empty_table().select(["event_type"]).schema,
            flavor="hive",
        ),
        basename_template="part-{i}.parquet",
    )
    df = (
        spark.read.parquet(d)
        .filter(F.col("event_type") == "click")
        .select("event_id", "value")
    )
    (scan,) = file_scans(df)
    assert "(event_type" in scan["PartitionFilters"], scan
    assert scan["DataFilters"] == "[]", scan
    assert scan["ReadSchema"] == "struct<event_id:bigint,value:double>", scan
    # inputFiles() is NOT the instrument — it lists the relation's
    # unpruned FileIndex. Pruning is a runtime property: execute and
    # read the scan's numFiles metric, which counts files actually
    # planned into the scan AFTER partition pruning.
    num_files = _executed_scan_num_files(df)
    n_click = len(list((tmp_path / "events.parquet").glob("event_type=click/*.parquet")))
    n_total = len(list((tmp_path / "events.parquet").glob("event_type=*/*.parquet")))
    assert n_click < n_total  # the layout actually has something to prune
    assert num_files == n_click, (num_files, n_click, n_total)


def _executed_scan_num_files(df) -> int:
    """Run df's own QueryExecution and return its one file scan's
    numFiles metric (files planned into the scan after pruning)."""
    assert execute(df) > 0
    scans = _scan_nodes(df)
    assert len(scans) == 1, [n.nodeName() for n in scans]
    return node_metrics(scans[0]).get("numFiles", 0)


def test_multilevel_hive_partition_pruning(spark, tmp_path):
    """Round-14 two-level Hive layout (r13 verdict item #2): with
    table/k1=a/k2=b/part-*.parquet, (1) a filter on BOTH partition
    columns prunes to exactly the one leaf directory's files, and (2) a
    filter on ONLY the SECOND (non-prefix) column still prunes — the
    directory tree is not an index with prefix-only semantics; every
    k1 subtree is listed but only matching k2 leaves are planned. That
    second property is what makes date-under-type layouts viable at
    100 TB without reordering partition columns per query."""
    import pyarrow.dataset as pa_ds
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    d = str(tmp_path / "lineitem.parquet")
    tbl = pq.read_table(f"{SF_DIR}/lineitem.parquet")
    pa_ds.write_dataset(
        tbl,
        d,
        format="parquet",
        partitioning=pa_ds.partitioning(
            tbl.schema.empty_table()
            .select(["l_returnflag", "l_linestatus"])
            .schema,
            flavor="hive",
        ),
        basename_template="part-{i}.parquet",
    )
    root = tmp_path / "lineitem.parquet"
    n_total = len(list(root.glob("*/*/*.parquet")))

    both = (
        spark.read.parquet(d)
        .filter((F.col("l_returnflag") == "R") & (F.col("l_linestatus") == "F"))
        .select("l_orderkey", "l_quantity")
    )
    (scan,) = file_scans(both)
    pf = scan["PartitionFilters"]
    assert "l_returnflag" in pf and "l_linestatus" in pf, scan
    assert scan["DataFilters"] == "[]", scan
    n_rf = len(list(root.glob("l_returnflag=R/l_linestatus=F/*.parquet")))
    assert 0 < n_rf < n_total
    assert _executed_scan_num_files(both) == n_rf

    # non-prefix pruning: filter only the SECOND partition column
    second = (
        spark.read.parquet(d)
        .filter(F.col("l_linestatus") == "O")
        .select("l_orderkey", "l_quantity")
    )
    n_o = len(list(root.glob("l_returnflag=*/l_linestatus=O/*.parquet")))
    assert 0 < n_o < n_total
    assert _executed_scan_num_files(second) == n_o


def test_runtime_bloom_filter_join_contract(spark):
    """Spark's RUNTIME bloom-filter join (the query-side complement to
    the r15 storage-bloom axis): for a shuffle join with a selective
    build side, the optimizer aggregates a bloom over the build keys
    (bloom_filter_agg) and injects might_contain() into the probe-side
    scan filter — at 100 TB this is what keeps a selective fact-to-fact
    join from shuffling the entire probe side. Local thresholds are far
    above our fixtures (application side >= 10 GB), so the test lowers
    them; the pin is (a) the rewrite actually fires, (b) results stay
    EXACT vs the un-filtered plan and the DuckDB oracle — a bloom
    false-positive may waste work but must never change answers."""
    import duckdb

    from test_dataengineer2026_spark import tables

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = tables.load(spark, SF_DIR_MID, "lineitem")
        o = tables.load(spark, SF_DIR_MID, "orders").filter(
            "o_totalprice > 400000"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy()
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        got = j.collect()[0]["n"]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # exactness: un-hinted plan and the independent oracle agree
    li2 = tables.load(spark, SF_DIR_MID, "lineitem")
    o2 = tables.load(spark, SF_DIR_MID, "orders").filter(
        "o_totalprice > 400000"
    )
    assert li2.join(o2, li2.l_orderkey == o2.o_orderkey).count() == got
    con = duckdb.connect()
    want = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR_MID}/lineitem.parquet') l "
        f"JOIN read_parquet('{SF_DIR_MID}/orders.parquet') o "
        f"ON l.l_orderkey = o.o_orderkey WHERE o.o_totalprice > 400000"
    ).fetchone()[0]
    assert got == want


def test_sql30_recursion_iterates_over_staged_scan(spark):
    """SQL30's r18 materialization contract (r17 verdict #3): the edge
    aggregate the recursion iterates over must be a DURABLE parquet
    scan — not localCheckpoint (executor-stored blocks die with an
    executor mid-recursion) and not the inline LAG window (re-shuffles
    events once per iteration; the r17 shuffle audit measured 20.4 MB
    vs 2.3 MB). Running the query must leave sql30_edges resolving to
    a parquet relation with no Window/events-scan inside it."""
    QS["SQL30_recursive_cte"](spark, SF_DIR_MID).collect()
    p = plan_string(spark.table("sql30_edges"), "simple")
    assert "parquet" in p.lower(), p
    assert "Window" not in p, p
    assert "events" not in p, p  # lineage truncated to the staged table


def test_sql32_pipe_lowers_to_pushed_filter_agg(spark):
    """SQL32's claim is that pipe syntax is parse-level sugar: the |>
    chain must produce the same physical shape as the classic SELECT —
    a hash aggregate over a parquet scan with the shipdate predicate
    PUSHED into the scan, never a post-scan filter of the full table."""
    df = QS["SQL32_pipe_syntax"](spark, SF_DIR_MID)
    p = plan_string(df, "formatted")
    assert "HashAggregate" in p, p
    assert any("l_shipdate" in f for f in audit(df)["pushed_filters"]), p


def test_gr2_wedge_stage_explicitly_widened(spark):
    """GR2's width + algorithm contract: the triangle-enumeration input
    carries an explicit hash repartition on src (r18: AQE sizes reduce
    partitions by INPUT bytes, and the oriented edge table is tiny next
    to its triangle OUTPUT — ~1.2e8 rows at sf0.1 — so without the
    explicit exchange enumeration collapses onto 1-2 coalesced tasks;
    79 s / 24 tasks -> 17 s / 119 tasks warm). REPARTITION_BY_NUM is
    the marker of a user repartition AQE may not coalesce away.
    r19 additionally pins the enumeration FORM: per-edge out-
    neighborhood intersection (array_intersect over sorted adjacency
    arrays) instead of the wedge self-join + closure join, which
    materialized every candidate wedge as a join row (14.1 -> 4.1 s
    warm at sf0.1, identical counts — operators/graph.py)."""
    p = plan_string(QS["GR2_triangle_count"](spark, SF_DIR_MID), "formatted")
    import re

    m = re.search(r"hashpartitioning\(src#\d+L?, (\d+)\), REPARTITION_BY_NUM", p)
    assert m, p
    assert int(m.group(1)) == spark.sparkContext.defaultParallelism, p
    assert "array_intersect" in p, p


def test_v8_cogroup_sides_explicitly_widened(spark):
    """V8's r18 width contract: both cogroup inputs carry an explicit
    hash repartition on their key. The Python body runs once per key,
    so task width must track the per-key CALL count, not the shuffle
    bytes AQE coalesces on (measured r18: 14.3 s / 5 tasks -> 2.7 s /
    34 tasks warm at sf0.1). The cogroup reuses these exchanges — no
    extra shuffle is introduced."""
    p = plan_string(QS["V8_cogrouped_pandas"](spark, SF_DIR_MID), "formatted")
    assert p.count("REPARTITION_BY_NUM") >= 2, p
    assert "FlatMapCoGroupsInPandas" in p or "CoGroup" in p, p


def test_widen_if_narrow_is_layout_adaptive(spark, tmp_path):
    """widen_if_narrow (r19, guide §2.5/§6): repartition ONLY when the
    physical layout cannot feed the session's cores AND rows/split is
    large. Three pins: (a) a single big-row-count file widens (the
    fixture case A1 hits); (b) the same rows spread across >= cores
    files do NOT widen — at real scale the helper must add ZERO
    exchanges; (c) a narrow layout with too few rows per split does not
    widen (tiny dims never pay a shuffle)."""
    import pyspark.sql.functions as F

    from test_dataengineer2026_spark import tables as T

    cores = spark.sparkContext.defaultParallelism
    rows = spark.range(10_000).select(
        F.col("id").alias("l_orderkey"), (F.col("id") % 7).alias("v")
    )

    # (a) single file, many rows -> widened
    single = tmp_path / "single" / "lineitem.parquet"
    rows.coalesce(1).write.parquet(str(tmp_path / "single_tmp"))
    import os
    import shutil

    os.makedirs(single.parent, exist_ok=True)
    part = next(
        f
        for f in os.listdir(tmp_path / "single_tmp")
        if f.endswith(".parquet")
    )
    shutil.move(str(tmp_path / "single_tmp" / part), str(single))
    df = T.widen_if_narrow(
        spark.read.parquet(str(single)),
        str(tmp_path / "single"),
        "lineitem",
        key="l_orderkey",
        min_rows_per_split=1_000,
    )
    p = df._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" in p, p

    # (b) >= cores files -> native width, no added exchange
    multi = tmp_path / "multi" / "lineitem.parquet"
    rows.repartition(cores).write.parquet(str(multi))
    df2 = T.widen_if_narrow(
        spark.read.parquet(str(multi)),
        str(tmp_path / "multi"),
        "lineitem",
        key="l_orderkey",
        min_rows_per_split=1_000,
    )
    p2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in p2, p2

    # (c) single file, few rows per split -> no widen
    df3 = T.widen_if_narrow(
        spark.read.parquet(str(single)),
        str(tmp_path / "single"),
        "lineitem",
        key="l_orderkey",
        min_rows_per_split=100_000,
    )
    p3 = df3._jdf.queryExecution().optimizedPlan().toString()
    assert "RepartitionByExpression" not in p3, p3
