"""Similarity-search queries: F10 vector math, J12 cosine top-k join,
and the SRP-LSH approximate variant (SURVEY.md §2.4 J12, §2.9 F10;
repo:BASELINE.json:6 "similarity search").

The DuckDB oracles mirror the exact arithmetic: double-cast elementwise
products, sequential list_sum fold (bit-identical to Spark's aggregate
fold — verified), sqrt, one divide, round to 9dp for ranking stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.functions.vector import cosine, dot, l2_norm
from test_dataengineer2026_spark.operators import similarity as S
from test_dataengineer2026_spark.registry import register


def _sql_dot(a: str, b: str, dim: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1,{dim}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"{_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"
    )


@register(
    "F10_vector_math",
    oracle=f"""
SELECT
  vec_id,
  round(sqrt({_sql_dot('embedding', 'embedding')}), 9) AS l2_norm,
  round({_sql_dot('embedding', 'embedding')}, 9) AS sq_norm,
  CAST(embedding[1] AS DOUBLE) AS first_dim,
  CAST(list_max(embedding) AS DOUBLE) AS max_dim,
  label
FROM embeddings
""",
    tags=("vector",),
)
def vector_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: norms / elementwise access over ARRAY<FLOAT> — zip_with +
    aggregate fold, fully JVM-side."""
    e = tables.load(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.round(l2_norm(emb), 9).alias("l2_norm"),
        F.round(dot(emb, emb), 9).alias("sq_norm"),
        F.element_at(emb, 1).cast("double").alias("first_dim"),
        F.array_max(emb).cast("double").alias("max_dim"),
        "label",
    )


@register(
    "J12_similarity_join",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5
), c AS (
  SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
), scored AS (
  SELECT query_id, cand_id, round({_sql_cos('qe', 'ce')}, 9) AS cos_sim
  FROM q CROSS JOIN c
  WHERE query_id <> cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS rk
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rk FROM ranked WHERE rk <= 10
""",
    tags=("vector", "join", "topk"),
)
def similarity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: brute-force cosine top-10 per query vector — the exact
    baseline: broadcast the (small) query side, stream the corpus, no
    corpus shuffle; rank on rounded cosine with id tiebreak."""
    e = tables.load(spark, sf_dir, "embeddings")
    return S.cosine_topk(e.filter(F.col("vec_id") < 5), e, k=10)


# NOTE: DuckDB's lambda parser rejects "CAST(x AS T)" inside a lambda body
# (the AS collides with the arrow grammar) — use postfix :: casts there.
_SRP_BITS_SQL = f"""
bits AS (
  SELECT vec_id AS vid, embedding AS e,
         list_transform(generate_series(0, {S.SRP_PLANES - 1}), p ->
           CASE WHEN list_sum(list_transform(generate_series(1, {S.DIM}), i ->
             e[i]::DOUBLE *
             (((('0x' || substr(md5(p || '_' || i), 1, 6))::INTEGER % 2) * 2 - 1)::DOUBLE)
           )) > 0 THEN 1 ELSE 0 END) AS bits
  FROM embeddings
)
"""


def srp_pairs_sql(threshold: float) -> str:
    """CTE chain ending in ``pairs(vec_a, vec_b, cos_sim)`` — the DuckDB
    mirror of operators.similarity.srp_neighbor_pairs(threshold).
    Compose as ``WITH {srp_pairs_sql(t)} SELECT ... FROM pairs``."""
    return f"""{_SRP_BITS_SQL},
buckets AS (
  SELECT vid, t.t AS table_idx,
         list_sum(list_transform(generate_series(1, {S.SRP_BITS}),
                                 j -> bits[t.t * {S.SRP_BITS} + j] * (1 << (j - 1)))) AS bucket
  FROM bits, unnest(generate_series(0, {S.SRP_TABLES - 1})) AS t(t)
),
cand AS (
  SELECT DISTINCT a.vid AS vec_a, b.vid AS vec_b
  FROM buckets a JOIN buckets b
    ON a.table_idx = b.table_idx AND a.bucket = b.bucket AND a.vid < b.vid
),
pairs AS (
  SELECT c.vec_a, c.vec_b,
         round({_sql_cos('ea.embedding', 'eb.embedding')}, 9) AS cos_sim
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.vec_a
  JOIN embeddings eb ON eb.vec_id = c.vec_b
  WHERE round({_sql_cos('ea.embedding', 'eb.embedding')}, 9) >= {threshold}
)"""


@register(
    "J12b_srp_lsh_ann",
    oracle=f"""
WITH {srp_pairs_sql(0.4)}
SELECT vec_a, vec_b, cos_sim FROM pairs
""",
    tags=("vector", "lsh", "ann"),
)
def srp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12b: the ANN scale path — sign-random-projection LSH (4 tables x
    6 bits, md5-derived deterministic hyperplanes); candidates are bucket
    collisions (equi-join), verified with exact cosine >= 0.4.

    At 100 TB the bucketed self-join replaces the O(n^2) cross join with
    a shuffle on (table_idx, bucket); recall tunes via (tables, bits).
    """
    e = tables.load(spark, sf_dir, "embeddings")
    return S.srp_neighbor_pairs(e, threshold=0.4)


@register(
    "J12c_ivf_ann",
    oracle=f"""
WITH seeds AS (
  SELECT vec_id AS cell, embedding AS s_emb FROM embeddings WHERE vec_id < {S.IVF_SEEDS}
), scored_assign AS (
  SELECT v.vec_id AS id, s.cell,
         round({_sql_cos('v.embedding', 's.s_emb')}, 9) AS sc
  FROM embeddings v CROSS JOIN seeds s
), assign AS (
  SELECT id, cell,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY sc DESC, cell) AS rn
  FROM scored_assign
), cells AS (
  SELECT id AS cand_id, cell FROM assign WHERE rn = 1
), qcells AS (
  SELECT id AS query_id, cell FROM assign WHERE id < 5 AND rn <= {S.IVF_PROBES}
), cand AS (
  SELECT DISTINCT q.query_id, c.cand_id
  FROM qcells q JOIN cells c USING (cell)
  WHERE q.query_id <> c.cand_id
), scored AS (
  SELECT cand.query_id, cand.cand_id,
         round({_sql_cos('qe.embedding', 'ce.embedding')}, 9) AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS rk
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rk FROM ranked WHERE rk <= 10
""",
    tags=("vector", "ann", "ivf"),
)
def ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12c: IVF-style ANN — corpus vectors are assigned to their
    nearest seed cell, each query probes its 2 nearest cells, exact
    cosine top-k runs only over the probed cells' members. At 100 TB the
    corpus is stored partitionBy(cell), so a probe scans probes/n_cells
    of the data; recall tunes via the probe count. Complements J12b's
    LSH with the partition-pruning flavor of ANN."""
    e = tables.load(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < S.IVF_SEEDS)
    queries = e.filter(F.col("vec_id") < 5)
    return S.ivf_topk(queries, e, seeds)


def _kmeans_cents_sql(iters: int) -> str:
    """CTE chain ``cents0 .. cents{iters}`` — the DuckDB mirror of
    operators.similarity.kmeans_centroids: assign = cross join + per-id
    rank, update = per-dim BIGINT sum of floor(val * 1e6). All-integer
    update arithmetic means the centroids are bit-identical across
    engines with no float-sum ordering concerns."""
    parts = [
        f"cents0 AS (SELECT vec_id AS cell, embedding AS c_emb "
        f"FROM embeddings WHERE vec_id < {S.IVF_SEEDS})"
    ]
    for it in range(1, iters + 1):
        parts.append(f"""sc{it} AS (
  SELECT v.vec_id AS id, c.cell,
         round({_sql_cos('v.embedding', 'c.c_emb')}, 9) AS s
  FROM embeddings v CROSS JOIN cents{it - 1} c
), a{it} AS (
  SELECT id, cell FROM (
    SELECT id, cell,
           ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cell) AS rn
    FROM sc{it}
  ) WHERE rn = 1
), s{it} AS (
  SELECT a.cell, i.i AS dim,
         SUM(CAST(floor(CAST(e.embedding[i.i] AS DOUBLE) * {S.KMEANS_QUANT}) AS BIGINT)) AS s
  FROM a{it} a
  JOIN embeddings e ON e.vec_id = a.id,
       unnest(generate_series(1, {S.DIM})) AS i(i)
  GROUP BY a.cell, i.i
), cents{it} AS (
  SELECT cell, list(CAST(s AS DOUBLE) ORDER BY dim) AS c_emb
  FROM s{it} GROUP BY cell
)""")
    return ",\n".join(parts)


@register(
    "J12d_ivf_kmeans_ann",
    oracle=f"""
WITH {_kmeans_cents_sql(S.KMEANS_ITERS)},
scf AS (
  SELECT v.vec_id AS id, c.cell,
         round({_sql_cos('v.embedding', 'c.c_emb')}, 9) AS s
  FROM embeddings v CROSS JOIN cents{S.KMEANS_ITERS} c
), assign AS (
  SELECT id, cell,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY s DESC, cell) AS rn
  FROM scf
), cells AS (
  SELECT id AS cand_id, cell FROM assign WHERE rn = 1
), qcells AS (
  SELECT id AS query_id, cell FROM assign WHERE id < 5 AND rn <= {S.IVF_PROBES}
), cand AS (
  SELECT DISTINCT q.query_id, c.cand_id
  FROM qcells q JOIN cells c USING (cell)
  WHERE q.query_id <> c.cand_id
), scored AS (
  SELECT cand.query_id, cand.cand_id,
         round({_sql_cos('qe.embedding', 'ce.embedding')}, 9) AS cos_sim
  FROM cand
  JOIN embeddings qe ON qe.vec_id = cand.query_id
  JOIN embeddings ce ON ce.vec_id = cand.cand_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS rk
  FROM scored
)
SELECT query_id, cand_id, cos_sim, rk FROM ranked WHERE rk <= 10
""",
    tags=("vector", "ann", "ivf", "kmeans"),
)
def ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12d: IVF ANN over TRAINED centroids — 2 Lloyd iterations of
    k-means expressed relationally (assign = broadcast crossjoin +
    per-id rank; update = per-dim exact BIGINT sum of 1e-6-quantized
    member values, valid because cosine assignment is scale-invariant).
    Training balances cell populations vs J12c's raw seeds — bounded
    per-probe scan cost, even task sizes; identical search plan. At
    100 TB: k centroids stay broadcast-sized, each iteration is one
    pass over the corpus, and the corpus is stored partitionBy(cell)
    for probe-pruned scans (recall/probe trade measured in
    tests/test_similarity.py)."""
    e = tables.load(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < S.IVF_SEEDS)
    queries = e.filter(F.col("vec_id") < 5)
    return S.ivf_topk_trained(queries, e, seeds)


_PQ_SUBS = f"""
subs AS (
  SELECT vec_id, m.m AS m,
         list_slice(embedding, m.m*{S.PQ_SUB} + 1, (m.m+1)*{S.PQ_SUB}) AS sub
  FROM embeddings, unnest(generate_series(0, {S.PQ_M - 1})) AS m(m)
),
codebook AS (
  SELECT m, vec_id AS k, sub AS csub FROM subs WHERE vec_id < {S.PQ_K}
)
"""


def _sql_l2sq(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1,{dim}), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
    )


@register(
    "J12e_pq_ann",
    oracle=f"""
WITH {_PQ_SUBS},
enc_scored AS (
  SELECT s.vec_id AS id, s.m, c.k,
         round({_sql_l2sq('s.sub', 'c.csub', S.PQ_SUB)}, 9) AS d
  FROM subs s JOIN codebook c USING (m)
), enc AS (
  SELECT id, m, k AS code FROM (
    SELECT id, m, k, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, k) AS rn
    FROM enc_scored
  ) WHERE rn = 1
), lut AS (
  SELECT s.vec_id AS query_id, s.m, c.k,
         CAST(floor({_sql_l2sq('s.sub', 'c.csub', S.PQ_SUB)} * {S.PQ_QUANT}) AS BIGINT) AS qd
  FROM subs s JOIN codebook c USING (m)
  WHERE s.vec_id < 5
), adc AS (
  SELECT l.query_id, e.id AS cand_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist_micro
  FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.code
  WHERE l.query_id <> e.id
  GROUP BY l.query_id, e.id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_dist_micro, cand_id) AS rk
  FROM adc
)
SELECT query_id, cand_id, adc_dist_micro, rk FROM ranked WHERE rk <= 10
""",
    tags=("vector", "ann", "pq"),
)
def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12e: product-quantization ANN (asymmetric distance / ADC) — the
    third leg of the ANN triad after LSH (J12b) and IVF (J12c/d), and
    the MEMORY story at 100 TB: vectors are stored as PQ_M=8 one-byte
    codes (32x smaller than raw floats); a query builds a 128-entry
    lookup table once and every candidate distance is a sum of 8 table
    entries over the code rows — the raw corpus vectors are never read
    at query time. ADC partial distances are floor-quantized to integer
    micro-units so the per-candidate sum is exact BIGINT arithmetic,
    keeping the whole pipeline (encode + score + rank) value-checkable
    against the SQL oracle. Codebooks here are deterministic seed
    slices; kmeans_centroids shows the training recipe."""
    e = tables.load(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < S.PQ_K)
    queries = e.filter(F.col("vec_id") < 5)
    return S.pq_topk(queries, e, seeds)


@register(
    "J12f_pq_rerank_ann",
    oracle=f"""
WITH {_PQ_SUBS},
enc_scored AS (
  SELECT s.vec_id AS id, s.m, c.k,
         round({_sql_l2sq('s.sub', 'c.csub', S.PQ_SUB)}, 9) AS d
  FROM subs s JOIN codebook c USING (m)
), enc AS (
  SELECT id, m, k AS code FROM (
    SELECT id, m, k, ROW_NUMBER() OVER (PARTITION BY id, m ORDER BY d, k) AS rn
    FROM enc_scored
  ) WHERE rn = 1
), lut AS (
  SELECT s.vec_id AS query_id, s.m, c.k,
         CAST(floor({_sql_l2sq('s.sub', 'c.csub', S.PQ_SUB)} * {S.PQ_QUANT}) AS BIGINT) AS qd
  FROM subs s JOIN codebook c USING (m)
  WHERE s.vec_id < 5
), adc AS (
  SELECT l.query_id, e.id AS cand_id, CAST(SUM(l.qd) AS BIGINT) AS adc_dist_micro
  FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.code
  WHERE l.query_id <> e.id
  GROUP BY l.query_id, e.id
), shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc_dist_micro, cand_id) AS rk
    FROM adc
  ) WHERE rk <= 100
), rescored AS (
  SELECT s.query_id, s.cand_id,
         round({_sql_cos('qe.embedding', 'ce.embedding')}, 9) AS cos_sim
  FROM shortlist s
  JOIN embeddings qe ON qe.vec_id = s.query_id
  JOIN embeddings ce ON ce.vec_id = s.cand_id
), reranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, cand_id) AS rk
  FROM rescored
)
SELECT query_id, cand_id, cos_sim, rk FROM reranked WHERE rk <= 10
""",
    tags=("vector", "ann", "pq", "rerank"),
)
def pq_rerank_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12f: PQ shortlist + exact re-rank — ADC over 8-byte codes cuts
    the candidate set to 100/query, then only those raw vectors are
    read for an exact cosine top-10 (recall@10 0.90 vs 0.34 for raw
    ADC at sf0.001). This is the production PQ deployment shape: code
    scan for candidates, point-lookups into the raw store for quality."""
    e = tables.load(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < S.PQ_K)
    queries = e.filter(F.col("vec_id") < 5)
    return S.pq_topk_reranked(queries, e, seeds)
