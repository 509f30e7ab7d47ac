"""Streaming-friendly sketch operators A11-A12 (SURVEY.md §2.5 extension).

Reference basis: the spec's analytics surface implies cardinality and
frequency questions over unbounded inputs (TEST_TECNICO_INGENIERO_DATOS.md
pipeline scale notes); at 100 TB the exact answers need a full shuffle of
every distinct key, while a sketch needs O(1) state per partition and one
tiny merge. Spark ships HLL++ (`approx_count_distinct`, A4) but its
estimate is engine-specific and can't be oracle-checked; these two build
the classic sketches *relationally* from a portable md5 hash family, so
DuckDB reproduces them bit-for-bit and the driver's value-hash compare
still applies.

Scale notes (100 TB design point): both sketches are algebraic
aggregations — Spark computes them as partial (map-side) + final merge,
so shuffle traffic is O(sketch cells), independent of row count. The
Count-Min table is DEPTH x WIDTH counters (1 KiB here); the HLL register
file is M max-counters (256 B). That is the entire cross-partition state
— the point of the exercise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.registry import register

#: Count-Min geometry: DEPTH independent hash rows x WIDTH counters.
CM_DEPTH = 4
CM_WIDTH = 64

#: HLL geometry: M registers, hash split as 48-bit md5 = 8-bit bucket +
#: 40-bit rho window.
HLL_M = 256
HLL_WINDOW = 40
#: Standard bias constant alpha_m = 0.7213 / (1 + 1.079 / m). Embedded as
#: the SAME literal in both engines so the doubles parse identically.
HLL_ALPHA = repr(0.7213 / (1.0 + 1.079 / 256.0))


def _spark_h48(col):
    """First 48 bits of md5 as a non-negative long (portable: the DuckDB
    oracle computes ('0x' || substr(md5(x),1,12))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


_CM_ORACLE = f"""
WITH pairs AS (
  SELECT l_partkey,
         r,
         ('0x' || substr(md5(r::VARCHAR || ':' || l_partkey::VARCHAR), 1, 12))::BIGINT
           % {CM_WIDTH} AS bucket
  FROM lineitem
  CROSS JOIN (SELECT unnest(range({CM_DEPTH})) AS r)
),
cells AS (
  SELECT r, bucket, COUNT(*) AS c FROM pairs GROUP BY r, bucket
),
exact AS (
  SELECT l_partkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY l_partkey
),
lookup AS (
  SELECT e.l_partkey, r,
         ('0x' || substr(md5(r::VARCHAR || ':' || e.l_partkey::VARCHAR), 1, 12))::BIGINT
           % {CM_WIDTH} AS bucket
  FROM exact e CROSS JOIN (SELECT unnest(range({CM_DEPTH})) AS r)
),
est AS (
  SELECT l_partkey, MIN(c) AS est_cnt
  FROM lookup JOIN cells USING (r, bucket)
  GROUP BY l_partkey
)
SELECT e.l_partkey, e.exact_cnt, est.est_cnt,
       est.est_cnt - e.exact_cnt AS overcount
FROM exact e JOIN est USING (l_partkey)
"""


@register(
    "A11_countmin_sketch",
    oracle=_CM_ORACLE,
    tags=("agg", "sketch"),
)
def countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: Count-Min frequency sketch (Cormode & Muthukrishnan 2005),
    built relationally: every key fans out to DEPTH (row, bucket) cells
    via salted md5, one groupBy folds the whole table into a DEPTH x
    WIDTH counter grid, and a key's estimate is the MIN of its cells —
    always >= the true count, with the classic epsilon*N overcount bound.
    The cell grid (256 longs) is broadcast back for the estimate join, so
    the only O(rows) shuffle is the exact-count baseline the query also
    reports for verification. At 100 TB you'd keep ONLY the sketch: the
    grid is the entire reduce-side state, mergeable across any partition
    split (counts are associative)."""
    li = tables.load(spark, sf_dir, "lineitem").select("l_partkey")
    rows = F.explode(F.array(*[F.lit(r) for r in range(CM_DEPTH)])).alias("r")

    def bucket(key_col):
        salted = F.concat_ws(
            ":", F.col("r").cast("string"), key_col.cast("string")
        )
        return (_spark_h48(salted) % CM_WIDTH).alias("bucket")

    pairs = li.select("l_partkey", rows).select(
        "l_partkey", "r", bucket(F.col("l_partkey"))
    )
    cells = pairs.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    lookup = exact.select("l_partkey", rows).select(
        "l_partkey", "r", bucket(F.col("l_partkey"))
    )
    est = (
        lookup.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("l_partkey")
        .agg(F.min("c").alias("est_cnt"))
    )
    return exact.join(est, "l_partkey").select(
        "l_partkey",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
    )


_HLL_ORACLE = f"""
WITH hashed AS (
  SELECT DISTINCT
         ('0x' || substr(md5(l_orderkey::VARCHAR), 1, 12))::BIGINT AS h
  FROM lineitem
),
split AS (
  SELECT h % {HLL_M} AS bucket, h // {HLL_M} AS v FROM hashed
),
regs AS (
  SELECT bucket,
         MAX(CASE WHEN v = 0 THEN {HLL_WINDOW + 1}
                  ELSE {HLL_WINDOW + 1} - length(bin(v)) END) AS m_reg
  FROM split GROUP BY bucket
),
folded AS (
  SELECT COUNT(*) AS n_present,
         SUM(pow(2.0, -m_reg)) AS z_present
  FROM regs
),
exact AS (
  SELECT COUNT(DISTINCT l_orderkey) AS exact_distinct FROM lineitem
),
scored AS (
  SELECT exact_distinct,
         {HLL_M} - n_present AS zeros,
         {HLL_ALPHA}::DOUBLE * {HLL_M} * {HLL_M}
           / (({HLL_M} - n_present) + z_present) AS e_raw
  FROM folded CROSS JOIN exact
)
SELECT exact_distinct,
       round(CASE WHEN e_raw <= 2.5 * {HLL_M} AND zeros > 0
                  THEN {HLL_M} * ln({HLL_M} * 1.0 / zeros)
                  ELSE e_raw END, 4) AS hll_estimate,
       round((CASE WHEN e_raw <= 2.5 * {HLL_M} AND zeros > 0
                   THEN {HLL_M} * ln({HLL_M} * 1.0 / zeros)
                   ELSE e_raw END - exact_distinct)
             * 100.0 / exact_distinct, 4) AS rel_err_pct
FROM scored
"""


@register(
    "A12_hll_sketch",
    oracle=_HLL_ORACLE,
    tags=("agg", "sketch"),
)
def hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: HyperLogLog cardinality sketch (Flajolet et al. 2007), built
    relationally and bit-reproducibly: 48-bit md5 splits into an 8-bit
    register index and a 40-bit rho window; rho is computed with exact
    integer arithmetic (41 - length(bin(v)) — no floating log2, so both
    engines agree on every register), registers fold with MAX, and the
    harmonic-mean estimator runs on a sum of exact powers of two (every
    2^-M term and their sum are exactly representable, so the only
    rounding is the final round(,4)). Reports the estimate next to the
    exact count. At 100 TB the register file (256 bytes) is the entire
    state — this is approx_count_distinct (A4) with the lid off, and the
    MAX-fold is why it merges across any partitioning for free."""
    li = tables.load(spark, sf_dir, "lineitem")
    hashed = li.select(
        _spark_h48(F.col("l_orderkey").cast("string")).alias("h")
    ).distinct()
    split = hashed.select(
        (F.col("h") % HLL_M).alias("bucket"),
        # exact integer right-shift == DuckDB's h // 256 for h >= 0
        F.shiftright(F.col("h"), 8).alias("v"),
    )
    regs = split.groupBy("bucket").agg(
        F.max(
            F.when(F.col("v") == 0, F.lit(HLL_WINDOW + 1)).otherwise(
                F.lit(HLL_WINDOW + 1) - F.length(F.bin("v"))
            )
        ).alias("m_reg")
    )
    folded = regs.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(F.pow(F.lit(2.0), -F.col("m_reg"))).alias("z_present"),
    )
    exact = li.agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    zeros = F.lit(HLL_M) - F.col("n_present")
    e_raw = (
        F.lit(float(HLL_ALPHA))
        * HLL_M
        * HLL_M
        / ((F.lit(HLL_M) - F.col("n_present")) + F.col("z_present"))
    )
    corrected = F.when(
        (e_raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(HLL_M) / zeros),
    ).otherwise(e_raw)
    return (
        folded.crossJoin(F.broadcast(exact))
        .select(
            "exact_distinct",
            F.round(corrected, 4).alias("hll_estimate"),
            F.round(
                (corrected - F.col("exact_distinct"))
                * 100.0
                / F.col("exact_distinct"),
                4,
            ).alias("rel_err_pct"),
        )
    )


#: A16 heavy-hitter threshold: report terms with count > n_total / K.
#: K=50 (share > 2%) sits in the corpus's stable gap — the ~30 common
#: terms carry ~3.3% each, the rare tail ~0.1%, at every SF — so the
#: selection is non-trivial (the tail is excluded) and SF-independent.
HH_K = 50


@register(
    "A16_heavy_hitters",
    oracle=f"""
WITH tf AS (
  SELECT term, COUNT(*) AS c
  FROM (SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM tf
)
SELECT term,
       CAST(c AS BIGINT) AS n_occurrences,
       CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
FROM tf, tot
WHERE c * {HH_K} > n_total
""",
    tags=("agg", "sketch", "text"),
)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: exact frequent items via the two-pass heavy-hitters pattern
    — find every term with frequency > n/K without ever materializing
    the full term histogram in one place.

    Pass 1 generates CANDIDATES with bounded memory: each Arrow batch
    emits only its LOCALLY heavy terms (batch count * K > batch size,
    vectorized ``value_counts``, <= K survivors per batch). Pigeonhole
    guarantees a superset: a term with global count > n/K must exceed
    n_b/K in at least one batch, else its total could not reach n/K.
    Pass 2 is purely relational — exact counts of the candidate set
    (broadcast semi-join, map-side-combined count) against the 1-row
    corpus total, with the threshold as integer math (c*K > n, no
    float boundary).

    Scale posture: the full vocabulary histogram never shuffles — only
    O(batches * K) candidate rows and the candidate-filtered counts do.
    At 100 TB this is the standard alternative to a vocabulary-sized
    groupBy when only the head matters (A11's Count-Min estimates
    counts for KNOWN keys; A16 discovers the keys, exactly). The
    DuckDB oracle computes the same answer with the full histogram —
    affordable at oracle scale, the thing this query avoids at 100 TB."""
    from collections.abc import Iterator

    import pandas as pd

    from test_dataengineer2026_spark.functions.text import tokens

    d = tables.load(spark, sf_dir, "documents")
    terms = d.select(F.explode(tokens("text")).alias("term"))

    def local_heavy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vc = pdf["term"].value_counts()
            cand = vc[vc * HH_K > len(pdf)]
            yield pd.DataFrame({"term": cand.index.astype(str)})

    cands = terms.mapInPandas(local_heavy, schema="term string").distinct()
    tf = (
        terms.join(F.broadcast(cands), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    total = terms.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        tf.crossJoin(F.broadcast(total))
        .filter(F.col("n_occurrences") * HH_K > F.col("n_total"))
        .select(
            "term",
            "n_occurrences",
            (
                F.col("n_occurrences").cast("double")
                / F.col("n_total").cast("double")
            ).alias("share"),
        )
    )
