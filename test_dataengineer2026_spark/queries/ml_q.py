"""In-database ML primitives ML1-ML2 — model fitting as aggregation.

Reference basis: the spec's QA/analytics surface over extracted numerics
(TEST_TECNICO_INGENIERO_DATOS.md:119 sanity stats); the natural next step
every analytics engine ships is fitting simple models WITHOUT moving data
out: OLS regression reduces to six sufficient statistics (n, Σx, Σy,
Σx², Σy², Σxy), all algebraic aggregates.

Scale notes (100 TB design point): the entire fit is ONE map-side-partial
aggregation — sufficient statistics merge associatively, so network
traffic is 6 numbers per group regardless of row count. This is the same
shape `colStat`/MLlib summarizers use internally; here it's expressed
declaratively so Catalyst fuses it with any upstream filter/project.
Determinism: every sum runs in exact DECIMAL space (order-independent)
and the closed-form solve happens on the narrowed doubles — both engines
see identical inputs and apply identical IEEE arithmetic.

The regressand is rescaled to kilo-currency (exact decimal multiply by
0.001) so Σxy stays under the |sum| < 1e12 bound of the int64-backed
DECIMAL(18,6) narrowing even at high scale factors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.determinism import dnarrow
from test_dataengineer2026_spark.registry import register

#: Exact types: quantity is 2dp <= 50; price is 2dp <= ~1e5, so price in
#: K-units carries 5 exact fractional digits.
_QTY = "decimal(9,2)"
_PRICE = "decimal(12,2)"
_KSCALE = "decimal(6,3)"  # the 0.001 rescale literal


def _x() -> Column:
    return F.col("l_quantity").cast(_QTY)


def _y() -> Column:
    return F.col("l_extendedprice").cast(_PRICE) * F.lit("0.001").cast(_KSCALE)


_SQL_X = f"CAST(l_quantity AS {_QTY.upper()})"
_SQL_Y = f"(CAST(l_extendedprice AS {_PRICE.upper()}) * CAST(0.001 AS {_KSCALE.upper()}))"


def _suffstats() -> list[Column]:
    x, y = _x(), _y()
    return [
        F.count(F.lit(1)).alias("n"),
        dnarrow(F.sum(x)).alias("sx"),
        dnarrow(F.sum(y)).alias("sy"),
        dnarrow(F.sum(x * x)).alias("sxx"),
        dnarrow(F.sum(y * y)).alias("syy"),
        dnarrow(F.sum(x * y)).alias("sxy"),
    ]


_SQL_SUFFSTATS = f"""
  COUNT(*) AS n,
  CAST(CAST(SUM({_SQL_X}) AS DECIMAL(18,6)) AS DOUBLE) AS sx,
  CAST(CAST(SUM({_SQL_Y}) AS DECIMAL(18,6)) AS DOUBLE) AS sy,
  CAST(CAST(SUM({_SQL_X} * {_SQL_X}) AS DECIMAL(18,6)) AS DOUBLE) AS sxx,
  CAST(CAST(SUM({_SQL_Y} * {_SQL_Y}) AS DECIMAL(18,6)) AS DOUBLE) AS syy,
  CAST(CAST(SUM({_SQL_X} * {_SQL_Y}) AS DECIMAL(18,6)) AS DOUBLE) AS sxy
"""


def _solve(df: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """Closed-form OLS from sufficient statistics (identical double
    arithmetic on both engines; final round(,6) absorbs nothing — it is
    cosmetic because the inputs are already bit-identical)."""
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x_n = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y_n = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = cov_n / var_x_n
    return df.withColumns(
        {
            "slope_k_per_unit": F.round(slope, 6),
            "intercept_k": F.round((F.col("sy") - slope * F.col("sx")) / n, 6),
            "r2": F.round(cov_n * cov_n / (var_x_n * var_y_n), 6),
        }
    ).drop(*(c for c in ("sx", "sy", "sxx", "syy", "sxy") if c not in keep))


_SQL_SOLVE = """
SELECT n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_k_per_unit,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept_k,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
"""


@register(
    "ML1_ols_regression",
    oracle=f"""
WITH s AS (
  SELECT {_SQL_SUFFSTATS} FROM lineitem
)
{_SQL_SOLVE}, sx, sy FROM s
""",
    tags=("ml", "agg"),
)
def ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML1: ordinary least squares, price-on-quantity, as a single
    aggregation — the whole 100 TB table reduces map-side to six
    sufficient statistics before one row crosses the network, then the
    closed-form solve runs on the driver-free 1-row result. Also
    returns sx/sy so the oracle pins the exact decimal sums, not just
    the solved coefficients."""
    li = tables.load(spark, sf_dir, "lineitem")
    return _solve(li.agg(*_suffstats()), keep=("sx", "sy"))


@register(
    "ML2_grouped_ols",
    oracle=f"""
WITH s AS (
  SELECT l_returnflag, {_SQL_SUFFSTATS}
  FROM lineitem GROUP BY l_returnflag
)
{_SQL_SOLVE.replace("SELECT n,", "SELECT l_returnflag, n,")} FROM s
""",
    tags=("ml", "agg"),
)
def grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML2: one OLS model PER GROUP in a single pass — the grouped
    version of ML1 (a model per return-flag segment). Sufficient
    statistics partial-aggregate map-side, shuffle one 6-number state
    per group, and every group's solve is a scalar projection. This is
    the pattern for fitting millions of per-key models (per-document,
    per-domain, per-user) without a UDF or a driver loop."""
    li = tables.load(spark, sf_dir, "lineitem")
    return _solve(li.groupBy("l_returnflag").agg(*_suffstats()))


def _sql_dot_ml(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1,{dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


_ML3_K = 5


@register(
    "ML3_knn_classifier",
    oracle=f"""
WITH test AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS true_label
  FROM embeddings WHERE vec_id % 10 = 0
), train AS (
  SELECT vec_id AS cand_id, embedding AS ce, label FROM embeddings
  WHERE vec_id % 10 <> 0
), scored AS (
  SELECT query_id, true_label, cand_id, label,
         round({_sql_dot_ml('qe', 'ce')} /
               (sqrt({_sql_dot_ml('qe', 'qe')}) *
                sqrt({_sql_dot_ml('ce', 'ce')})), 9) AS cos_sim
  FROM test CROSS JOIN train
), nn AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, cand_id) AS rk
    FROM scored
  ) WHERE rk <= {_ML3_K}
), votes AS (
  SELECT query_id, true_label, label, COUNT(*) AS n_votes
  FROM nn GROUP BY 1, 2, 3
)
SELECT query_id, true_label, label AS predicted_label, n_votes,
       label = true_label AS is_correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY n_votes DESC, label) AS vrk
  FROM votes
) WHERE vrk = 1
""",
    tags=("ml", "vector", "topk"),
)
def knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML3: k-nearest-neighbor label prediction — the relational form of
    embedding-based classification / weak-label propagation over a
    training corpus (tag the unlabeled 10% from their 5 most
    cosine-similar labeled neighbors, majority vote, smallest-label
    tiebreak).

    Pure composition of shipped pieces: the J12 brute-force top-k
    (queries broadcast, corpus streams — zero corpus shuffle) feeding a
    two-level deterministic vote (groupBy count, then a row_number
    window with the total order n_votes DESC, label ASC). At 100 TB the
    top-k stage swaps for the IVF/PQ path (J12c-f) unchanged — the vote
    is oblivious to how neighbors were found. Output: one row per test
    vector with prediction, vote count, and correctness flag.
    """
    from test_dataengineer2026_spark.operators import similarity as S

    e = tables.load(spark, sf_dir, "embeddings")
    test = e.filter(F.col("vec_id") % 10 == 0)
    train = e.filter(F.col("vec_id") % 10 != 0)
    nn = S.cosine_topk(test, train, k=_ML3_K)
    labeled = nn.join(
        train.select(F.col("vec_id").alias("cand_id"), "label"), "cand_id"
    ).join(
        test.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        ),
        "query_id",
    )
    votes = labeled.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    from pyspark.sql import Window as W

    vw = W.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    return (
        votes.withColumn("vrk", F.row_number().over(vw))
        .filter(F.col("vrk") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("predicted_label"),
            "n_votes",
            (F.col("label") == F.col("true_label")).alias("is_correct"),
        )
    )


_ML4_K = 8  # centroids; init = embeddings of vec_id 0..7 (deterministic)
_ML4_DIM = 64


def _sql_sqdist(v: str, c: str, dim: int = _ML4_DIM) -> str:
    """Squared L2 distance over integer micro-unit vectors — pure
    BIGINT arithmetic, so the sum is EXACT and fold-order-independent
    (no engine-specific float accumulation order can change it)."""
    t = f"({v}[i] - {c}[i])"
    return (
        f"CAST(list_sum(list_transform(generate_series(1,{dim}), "
        f"i -> {t} * {t})) AS BIGINT)"
    )


@register(
    "ML4_kmeans_lloyd",
    oracle=f"""
WITH em AS (
  SELECT vec_id, label,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1000000.0) AS BIGINT)) AS e
  FROM embeddings
), cent0 AS (
  SELECT vec_id AS cid, e AS ce FROM em WHERE vec_id < {_ML4_K}
), d1 AS (
  SELECT e.vec_id, c.cid, {_sql_sqdist('e.e', 'c.ce')} AS dist
  FROM em e CROSS JOIN cent0 c
), a1 AS (
  SELECT vec_id, cid AS c_init FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d1
  ) WHERE rk = 1
), mem AS (
  SELECT a.c_init AS cid, i.i AS dim_idx, e.e[i.i] AS v
  FROM em e JOIN a1 a USING (vec_id),
       unnest(generate_series(1, {_ML4_DIM})) AS i(i)
), upd AS (
  SELECT cid, dim_idx,
         CAST(floor(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cval
  FROM mem GROUP BY cid, dim_idx
), cent1 AS (
  SELECT cid, list(cval ORDER BY dim_idx) AS ce FROM upd GROUP BY cid
), d2 AS (
  SELECT e.vec_id, c.cid, {_sql_sqdist('e.e', 'c.ce')} AS dist
  FROM em e CROSS JOIN cent1 c
), a2 AS (
  SELECT vec_id, cid AS c_final FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
    FROM d2
  ) WHERE rk = 1
)
SELECT e.vec_id, e.label,
       CAST(a1.c_init AS INTEGER) AS c_init,
       CAST(a2.c_final AS INTEGER) AS c_final,
       a1.c_init <> a2.c_final AS moved
FROM em e
JOIN a1 ON e.vec_id = a1.vec_id
JOIN a2 ON e.vec_id = a2.vec_id
""",
    tags=("ml", "vector", "clustering", "iterative"),
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML4: Lloyd's k-means as a fixed-point of relational operators —
    one full assign -> update -> assign cycle (k={_ML4_K}, deterministic
    init from the first k vectors), the iterative-algorithm pattern that
    PageRank (GR1) and connected components (GR3) also follow: each
    iteration is a bounded broadcast join plus one aggregation, never a
    driver-side loop over collected data.

    Cross-engine bit-determinism, the hard part of verifying float
    iteration: embedding values floor-quantize to integer MICRO-UNITS
    up front (the TS5/TS6 convention), so every distance is an EXACT
    BIGINT sum of squared integer diffs — immune to accumulation order,
    unlike a float fold whose result depends on whether the engine
    folds left or tree-reduces (round-5 ADVICE flagged exactly that
    risk in the previous round-to-9-decimals design). The centroid
    update is the single non-integer step: floor(sum/count) where both
    operands are exactly-representable integers, so the one IEEE
    division is bitwise identical across engines. Argmin ties break on
    centroid id over integer distances — no rounding boundary exists
    anywhere. At 100 TB: centroids are a k x dim broadcast (a few KB),
    the corpus never shuffles for assignment (map-only scoring), and
    the update is one partial-agg shuffle keyed on (cluster, dim) —
    integer sums partial-aggregate exactly.
    """
    e = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * F.lit(1000000.0)).cast("long"),
        ).alias("em"),
    )

    def sqdist(v, c):
        diff2 = F.zip_with(v, c, lambda a, b: (a - b) * (a - b))
        return F.aggregate(diff2, F.lit(0).cast("long"), lambda acc, x: acc + x)

    def assign(cent, out_name):
        from pyspark.sql import Window as W  # noqa: PLC0415

        d = e.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cid", sqdist(F.col("em"), F.col("ce")).alias("dist")
        )
        w = W.partitionBy("vec_id").orderBy("dist", "cid")
        return (
            d.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", F.col("cid").alias(out_name))
        )

    cent0 = e.filter(F.col("vec_id") < _ML4_K).select(
        F.col("vec_id").alias("cid"), F.col("em").alias("ce")
    )
    # The iteration-1 assignment feeds both the centroid update and the
    # final output — cache it (2 longs per vector) so the broadcast-score
    # pass runs once, the same discipline as GR1/GR3's per-round cache.
    a1 = assign(cent0, "c_init").cache()
    mem = (
        e.join(a1, "vec_id")
        .select(
            "vec_id",
            F.col("c_init").alias("cid"),
            F.posexplode("em").alias("pos", "val"),
        )
        .select(
            "cid",
            (F.col("pos") + 1).alias("dim_idx"),
            F.col("val").alias("v"),
        )
    )
    upd = mem.groupBy("cid", "dim_idx").agg(
        F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("cval")
    )
    cent1 = upd.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim_idx", "cval"))),
            lambda x: x["cval"],
        ).alias("ce")
    )
    a2 = assign(cent1, "c_final")
    return (
        e.select("vec_id", "label")
        .join(a1, "vec_id")
        .join(a2, "vec_id")
        .select(
            "vec_id",
            "label",
            F.col("c_init").cast("int").alias("c_init"),
            F.col("c_final").cast("int").alias("c_final"),
            (F.col("c_init") != F.col("c_final")).alias("moved"),
        )
    )


@register(
    "ML5_perceptron",
    oracle="""
WITH x AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y,
         CAST(1 AS BIGINT) AS x0,
         CAST(l_quantity AS BIGINT) AS x1,
         CAST(l_linenumber AS BIGINT) AS x2
  FROM lineitem
), e1 AS (
  -- epoch 1 from w = (0,0,0): every margin is 0 <= 0, all rows update
  SELECT CAST(SUM(y * x0) AS BIGINT) AS w0,
         CAST(SUM(y * x1) AS BIGINT) AS w1,
         CAST(SUM(y * x2) AS BIGINT) AS w2,
         CAST(COUNT(*) AS BIGINT) AS n_mis1
  FROM x
), e2 AS (
  SELECT e1.w0, e1.w1, e1.w2, e1.n_mis1,
         CAST(SUM(CASE WHEN y * (e1.w0 * x0 + e1.w1 * x1 + e1.w2 * x2) <= 0
                       THEN y * x0 ELSE 0 END) AS BIGINT) AS d0,
         CAST(SUM(CASE WHEN y * (e1.w0 * x0 + e1.w1 * x1 + e1.w2 * x2) <= 0
                       THEN y * x1 ELSE 0 END) AS BIGINT) AS d1,
         CAST(SUM(CASE WHEN y * (e1.w0 * x0 + e1.w1 * x1 + e1.w2 * x2) <= 0
                       THEN y * x2 ELSE 0 END) AS BIGINT) AS d2,
         CAST(SUM(CASE WHEN y * (e1.w0 * x0 + e1.w1 * x1 + e1.w2 * x2) <= 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_mis2
  FROM x CROSS JOIN e1
  GROUP BY 1, 2, 3, 4
)
SELECT w0 + d0 AS w_bias, w1 + d1 AS w_qty, w2 + d2 AS w_line,
       n_mis1, n_mis2
FROM e2
""",
    tags=("ml", "iterative", "classifier"),
)
def perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML5: two batch perceptron epochs (predict returnflag='R' from
    integer features) — the INTEGER-determinism twin of ML4's
    float-fold k-means: labels are +/-1, features are exact integers
    (bias, quantity, line number), so weight updates
    w += sum(y*x over misclassified) are associative integer sums —
    bit-identical on any engine, any partitioning, any order, with
    nothing to round. Each epoch is one full-corpus aggregate plus a
    1-row broadcast of the weights back across the data (the same
    broadcast-the-model shape as ML4's centroids and J12c's
    centroids): epoch 1 collapses to a plain SUM (zero weights
    misclassify everything), epoch 2 scores against the broadcast w
    and sums updates over the misclassified set. At 100 TB an epoch
    costs exactly one map-side-combined aggregation — the textbook
    in-database learner."""
    li = tables.load(spark, sf_dir, "lineitem")
    x = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(-1).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.col("l_quantity").cast("long").alias("x1"),
        F.col("l_linenumber").cast("long").alias("x2"),
    )
    e1 = x.agg(
        F.sum(F.col("y") * F.col("x0")).cast("long").alias("w0"),
        F.sum(F.col("y") * F.col("x1")).cast("long").alias("w1"),
        F.sum(F.col("y") * F.col("x2")).cast("long").alias("w2"),
        F.count(F.lit(1)).cast("long").alias("n_mis1"),
    )
    margin = F.col("y") * (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )
    mis = margin <= 0
    upd = lambda c: F.sum(  # noqa: E731
        F.when(mis, F.col("y") * F.col(c)).otherwise(F.lit(0))
    ).cast("long")
    e2 = (
        x.crossJoin(F.broadcast(e1))
        .groupBy("w0", "w1", "w2", "n_mis1")
        .agg(
            upd("x0").alias("d0"),
            upd("x1").alias("d1"),
            upd("x2").alias("d2"),
            F.sum(F.when(mis, 1).otherwise(0)).cast("long").alias("n_mis2"),
        )
    )
    return e2.select(
        (F.col("w0") + F.col("d0")).alias("w_bias"),
        (F.col("w1") + F.col("d1")).alias("w_qty"),
        (F.col("w2") + F.col("d2")).alias("w_line"),
        "n_mis1",
        "n_mis2",
    )
