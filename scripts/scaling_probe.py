"""Empirical scale-up probe: do the headline plans hold as data grows?

The bench (sf0.1) proves speed at test scale; the plan contracts
(tests/test_plans.py) prove shape. This probe closes the remaining gap
with MEASUREMENT: it replicates the sf0.1 tables K times (key columns
shifted by replica so joins behave like K independent shards — the
semantics of a K-times-larger day of data, not K copies of the same
keys) and times the headline queries at each K. A query whose runtime
grows ~linearly (or better, as added input files also add scan
parallelism) is holding its contract; super-linear growth exposes a
candidate-explosion or shuffle bottleneck the small benches can't see.

Document text is re-tokenized per replica (every token prefixed with
the replica tag) so the dedup/LSH family sees a K-times-larger corpus
with the SAME duplicate density — naive replication would instead make
every document a K-way near-duplicate and quadratically explode the
verify stage, measuring a different (adversarial) workload. Embedding
vec_ids shift, so the fixed query sets (vec_id < 5 etc.) stay fixed
while the corpus scales — the 100 TB serving shape.

CAVEAT the summary accounts for: the token prefix inflates document
BYTES beyond K (measured 49.5x bytes at K=30), so document-byte-bound
queries (V5 md5-per-byte, D2/T5 shingling) must be read against the
``doc_bytes_x`` multiple each JSON line reports, not K — the probe
prints both growth ratios. Measured-vs-K alone overstates growth, i.e.
the bias is conservative.

Usage:
    python scripts/scaling_probe.py [K ...]      # default: 1 3 10

Writes one JSON line per K to stdout and a summary table at the end.
Scaled data goes to /tmp/spark_graft_scaling/ (never committed).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from scripts.query_profile import load_tables, warm_up
from test_dataengineer2026_spark import registry
from test_dataengineer2026_spark.session import get_session

BASE = "/root/testdata/sf0.1"
OUT_ROOT = "/tmp/spark_graft_scaling"
OFFSET = 10_000_000

#: Integer key columns shifted by replica_idx * OFFSET — every table in
#: the star schema shifts consistently, so replica i's rows join only
#: replica i's rows (K independent shards).
SHIFT_COLS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "customer": ["c_custkey", "c_nationkey"],
    "supplier": ["s_suppkey", "s_nationkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

#: Headline queries that read only batch tables (the streaming M4 uses
#: its own file-source staging; included — it reads events from sf_dir).
PROBE_QUERIES = [
    "A1_group_agg",
    "J1_inner_equi_join",
    "J7_broadcast_join",
    "W3_running_agg",
    "J10_asof_join",
    "J12_similarity_join",
    "D2_minhash_lsh",
    "T5_tfidf_top_term",
    "F9b_json_event_rollup",
    "M4_session_window",
    "SQL1_tpch_q3",
    "V5_mm_binary_features",
    # iterative family: rounds are a function of graph DIAMETER, which
    # K independent shards leave unchanged — these must scale like one
    # more pass over K x data per round, not super-linearly
    "GR1_pagerank",
    "GR3_connected_components",
    "GR4_bfs_levels",
    "D6_neardup_clusters",
    "ML3_knn_classifier",
]


def build(spark, k: int) -> str:
    """Materialize the K-replica dataset; returns its sf_dir."""
    out_dir = os.path.join(OUT_ROOT, f"x{k}")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for table, cols in SHIFT_COLS.items():
        src = spark.read.parquet(os.path.join(BASE, f"{table}.parquet"))
        reps = []
        for i in range(k):
            r = src
            for c in cols:
                r = r.withColumn(c, F.col(c) + F.lit(i * OFFSET))
            if table == "documents" and i > 0:
                # distinct shingles per replica, same intra-replica
                # duplicate structure -> constant duplicate density
                r = r.withColumn(
                    "text", F.regexp_replace("text", r"(\S+)", f"r{i}_$1")
                )
            reps.append(r)
        df = reps[0]
        for r in reps[1:]:
            df = df.unionByName(r)
        dest = os.path.join(out_dir, f"{table}.parquet")
        if table == "events":
            # the streaming stage (streaming/jobs.py:stage_events_dir)
            # symlinks events.parquet as a single FILE, matching the
            # driver's testdata layout — mirror that here
            tmp = dest + ".dir"
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(
                f for f in os.listdir(tmp)
                if f.startswith("part-") and f.endswith(".parquet")
            )
            shutil.move(os.path.join(tmp, part), dest)
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            df.write.mode("overwrite").parquet(dest)
    open(marker, "w").close()
    return out_dir


#: Comma-separated query names to exclude from a probe run (logged in
#: the JSON line so the omission is never silent). Exists for the very
#: large K: ML3's brute-force kNN is quadratic BY DESIGN (its test
#: split is 10% of the corpus, so query x corpus pairs grow with K^2 —
#: 3.6B pairs at K=100) and would dominate the run measuring a known
#: curve; the sub-linear serving path at that scale is the J12c-f
#: IVF/PQ ladder, which IS probed via J12.
SKIP = {
    s for s in os.environ.get("SPARK_GRAFT_PROBE_SKIP", "").split(",") if s
}


def time_queries(spark, qs, sf_dir: str) -> dict[str, float]:
    """One timing per query; a query that THROWS records -1.0 and the
    run continues — losing the other 14 timings to one OOM would hide
    exactly the evidence the probe exists to surface (the K=100 shake-
    out found a real one: 24 sequential sf10 queries exhaust one 8 GiB
    JVM even though each passes solo — size the heap to the simulated
    cluster via SPARK_GRAFT_DRIVER_MEM)."""
    timings: dict[str, float] = {}
    for name in PROBE_QUERIES:
        if name in SKIP:
            continue
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — record, report, continue
            print(f"PROBE ERROR {name}: {type(exc).__name__}", file=sys.stderr)
            timings[name] = -1.0
            continue
        timings[name] = round(time.perf_counter() - t0, 3)
    return timings


def _doc_bytes(spark, sf_dir: str) -> int:
    """Total document text bytes in one dataset — the single definition
    both the per-K numerator and the BASE denominator use, so the
    `doc_bytes_x` ratio cannot silently diverge between the two."""
    return (
        spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        .select(F.sum(F.length("text")).alias("b"))
        .collect()[0]["b"]
    )


def parse_args(argv: list[str] | None = None) -> list[int]:
    """CLI: replication factors; rejects K < 1 and unknown flags."""
    import argparse

    ap = argparse.ArgumentParser(
        description=(
            "Replicate the sf0.1 tables K times and time the headline "
            "queries at each K; prints one JSON line per K and a growth "
            "summary. Scaled data goes to /tmp/spark_graft_scaling/."
        )
    )
    ap.add_argument(
        "ks", metavar="K", type=int, nargs="*", default=[1, 3, 10],
        help="replication factors to probe (default: 1 3 10)",
    )
    ks = ap.parse_args(argv).ks
    if any(k < 1 for k in ks):
        ap.error("replication factors must be >= 1")
    return ks


def main() -> None:
    ks = parse_args()
    spark = get_session("scaling-probe", shuffle_partitions=32)
    qs = registry.queries()
    warm_up(spark, BASE)
    results: dict[int, dict[str, float]] = {}
    byte_mult: dict[int, float] = {}
    base_bytes = None
    for k in ks:
        sf_dir = build(spark, k) if k > 1 else BASE
        doc_bytes = _doc_bytes(spark, sf_dir)
        if base_bytes is None:
            # Always measure the K=1 denominator from BASE directly:
            # deriving it as doc_bytes/k from a scaled run understates
            # doc_bytes_x, because the per-replica token prefix inflates
            # document bytes superlinearly (measured 49.5x at K=30).
            base_bytes = doc_bytes if k == 1 else _doc_bytes(spark, BASE)
        byte_mult[k] = round(doc_bytes / base_bytes, 1)
        load_tables(spark, sf_dir)  # untimed at every K, as warm_up did at K=1
        timings = time_queries(spark, qs, sf_dir)
        results[k] = timings
        print(json.dumps({
            "k": k,
            "sf_equiv": round(0.1 * k, 2),
            "doc_bytes_x": byte_mult[k],
            "total_sec": round(sum(timings.values()), 3),
            "queries": timings,
            "skipped": sorted(SKIP),
            # One local JVM stands in for the WHOLE cluster's memory at
            # K x data — report its heap so growth numbers read against
            # the memory the run actually had (SPARK_GRAFT_DRIVER_MEM;
            # K >= 30 wants >= 32g on a 128 GiB box, see SCALE.md).
            "driver_mem": spark.conf.get("spark.driver.memory", "?"),
            "load_avg_1m": round(os.getloadavg()[0], 2),
        }), flush=True)
    if len(ks) > 1 and 1 in results:
        base = results[1]
        kmax = max(ks)
        print(f"\n{'query':28s} " + " ".join(f"x{k:<7d}" for k in ks)
              + f" growth@K={kmax} (rows x{kmax}, doc bytes x{byte_mult[kmax]})")
        for name in PROBE_QUERIES:
            if name in SKIP or any(results[k][name] < 0 for k in ks):
                continue
            row = " ".join(f"{results[k][name]:<8.2f}" for k in ks)
            growth = results[kmax][name] / max(base[name], 1e-9)
            print(f"{name:28s} {row} {growth:5.1f}x")


if __name__ == "__main__":
    main()
