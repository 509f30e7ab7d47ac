"""Similarity search over embedding columns (J12 similarity join + the
SURVEY north-star "similarity search": brute-force cosine top-k baseline
and an LSH-bucketed approximate variant as the scale path).

100 TB design notes:

* **brute force** is O(|Q| x |C|): correct baseline, and the right
  answer when |Q| is small (broadcast the queries, stream the corpus —
  no shuffle of the corpus at all). The plan below broadcasts the query
  side explicitly.
* **SRP-LSH** (sign random projections, Charikar) buckets vectors by
  t tables of b sign-bits each; candidates = bucket collisions, an
  equi-join. Recall/cost is tuned by (t, b). Hash planes are derived
  from md5 so the whole pipeline — bucketing included — is
  value-checkable against the DuckDB oracle.
* exact top-k per query = window row_number over (rounded cosine,
  vec_id) — ranking on the ROUNDED value makes the selected set stable
  across engines; the tiebreaker resolves rounding-induced ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from test_dataengineer2026_spark.functions.vector import cosine, dot, l2_norm, l2sq, srp_sign_bits
from test_dataengineer2026_spark.tables import widen_if_narrow

SRP_TABLES = 4
SRP_BITS = 6
SRP_PLANES = SRP_TABLES * SRP_BITS
DIM = 64


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k most-cosine-similar corpus vectors per query vector."""
    # norms are per-vector, so they are computed in the child
    # projections (once per input row) instead of inside the pair
    # expression (once per PAIR — 3x the fold work over |Q| x |C|);
    # the arithmetic tree is unchanged, so the doubles are identical
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_emb"),
        l2_norm(F.col(vec_col)).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("c_emb"),
        l2_norm(F.col(vec_col)).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm")),
                9,
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos_sim", "rk")
    )


IVF_SEEDS = 16
IVF_PROBES = 2
KMEANS_ITERS = 2
#: centroid quantization step: member values are floor(val * 1e6) before
#: summing, so the update step is exact BIGINT arithmetic — order-
#: independent and bit-identical across engines (no float-sum drift).
KMEANS_QUANT = 1_000_000.0


def _assign_cells(
    v: DataFrame, cents: DataFrame, probes: int
) -> DataFrame:
    """(id, cell): nearest-``probes`` centroid cells per vector by
    cosine (rounded 9dp, cell tiebreak). ``v`` = (id, emb), ``cents`` =
    (cell, c_emb). The centroid side is always k rows — broadcast — so
    assignment never shuffles the corpus; the only exchange is the
    per-id ranking window."""
    # same norm-hoist as cosine_topk: per-vector norms in the child
    # projections, only the dot product per (vector, centroid) pair
    scored = (
        F.broadcast(
            cents.select(
                "cell", "c_emb", l2_norm(F.col("c_emb")).alias("c_norm")
            )
        )
        .crossJoin(v.select("id", "emb", l2_norm(F.col("emb")).alias("v_norm")))
        .select(
            "id",
            "cell",
            F.round(
                dot(F.col("emb"), F.col("c_emb"))
                / (F.col("v_norm") * F.col("c_norm")),
                9,
            ).alias("s"),
        )
    )
    w = W.partitionBy("id").orderBy(F.col("s").desc(), F.col("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= probes)
        .select("id", "cell")
    )


def kmeans_centroids(
    corpus: DataFrame,
    seeds: DataFrame,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cell, c_emb): Lloyd-iterated IVF centroids, expressed
    relationally — assign = broadcast-crossjoin + per-id rank, update =
    groupBy(cell, dim) sum of quantized member values.

    Two determinism tricks make this oracle-checkable:

    * the update step sums ``floor(val * 1e6)`` as BIGINT — exact,
      order-independent, identical in Spark and DuckDB;
    * the "mean" never divides: cosine assignment is scale-invariant,
      so the per-dim SUM of members points the same direction as the
      mean. Cells that lose all members drop out (k may shrink).

    At 100 TB each iteration is one broadcast pass over the corpus plus
    an O(dim x k) aggregate — no corpus self-join, no all-pairs work;
    centroids stay tiny and cacheable."""
    v = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    cents = seeds.select(F.col(id_col).alias("cell"), F.col(vec_col).alias("c_emb"))
    for _ in range(iters):
        assign = _assign_cells(v, cents, probes=1)
        exploded = v.join(assign, "id").select(
            "cell", F.posexplode("emb").alias("dim", "val")
        )
        sums = exploded.groupBy("cell", "dim").agg(
            F.sum(F.floor(F.col("val").cast("double") * F.lit(KMEANS_QUANT))).alias("s")
        )
        cents = sums.groupBy("cell").agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("s").cast("double").alias("cv")))
            )
            .getField("cv")
            .alias("c_emb")
        ).cache()
    return cents


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    seeds: DataFrame,
    probes: int = IVF_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: corpus vectors live in their single nearest seed
    cell; each query probes its ``probes`` nearest cells and runs exact
    cosine top-k over only those cells' members.

    At 100 TB the corpus is PARTITIONED BY cell on disk, so a probe
    reads only `probes / n_cells` of the data — the classic
    inverted-file trade of recall for a bounded candidate set. Real IVF
    trains centroids (k-means); a deterministic seed subset stands in
    here so the whole pipeline (assignment included) stays
    value-checkable against the SQL oracle — the plan shape is
    identical either way.
    """
    cents = seeds.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("c_emb")
    )
    return _ivf_search(queries, corpus, cents, probes, k, id_col, vec_col)


def ivf_topk_trained(
    queries: DataFrame,
    corpus: DataFrame,
    seeds: DataFrame,
    iters: int = KMEANS_ITERS,
    probes: int = IVF_PROBES,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """J12d: IVF ANN over k-means-TRAINED centroids (kmeans_centroids)
    instead of raw seed vectors. Training balances cell populations
    (measured: population stdev 6.1 -> 4.4 at sf0.001, 5.2 -> 4.4 at
    sf0.01), which at scale bounds per-probe scan cost and evens task
    sizes; recall at a FIXED probe budget can dip slightly because
    balanced cells mean smaller candidate sets — tune ``probes`` to
    trade it back. Same search plan as ivf_topk."""
    cents = kmeans_centroids(corpus, seeds, iters, id_col, vec_col)
    return _ivf_search(queries, corpus, cents, probes, k, id_col, vec_col)


def _ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    cents: DataFrame,
    probes: int,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    cv = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    qv = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("emb"))
    cells = _assign_cells(cv, cents, probes=1)
    qcells = _assign_cells(qv, cents, probes=probes)
    cand = (
        qcells.withColumnRenamed("id", "query_id")
        .join(cells.withColumnRenamed("id", "cand_id"), "cell")
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id")
        .distinct()
    )
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_emb"))
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 9).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos_sim", "rk")
    )


def srp_buckets(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(vec_id, table_idx, bucket) — one row per LSH table."""
    bits = srp_sign_bits(F.col(vec_col), SRP_PLANES, DIM)
    with_bits = df.select(F.col(id_col).alias("vid"), bits.alias("bits"))
    weights = F.array(*[F.lit(1 << p) for p in range(SRP_BITS)])
    buckets = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("bits"), t * SRP_BITS + 1, SRP_BITS),
                    weights,
                    lambda bit, w: bit * w,
                ),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            for t in range(SRP_TABLES)
        ]
    )
    return with_bits.select(
        "vid", F.posexplode(buckets).alias("table_idx", "bucket")
    )


def srp_neighbor_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate similar-pair search: SRP bucket collisions verified
    with exact cosine >= threshold.

    The bucket table is hash-redistributed then CACHED before the
    self-join: the SRP sign bits cost SRP_PLANES x DIM interpreted
    lambda ops per vector, so (a) a small single-file scan would pin
    that compute to one task (same rationale as D2's shingle pass), and
    (b) an uncached table would evaluate the bits once per join side.
    r18 measured on J12b at sf0.1: 7.0 s -> 2.5 s warm, identical pairs.

    Cache hygiene (r19, guide §5 'unpersist when done'): the candidate
    pair set is materialized EAGERLY via localCheckpoint so the bucket
    cache can be released before returning — the returned frame reads
    the (small) checkpointed pair table, never the cache, so a
    long-lived session calling this repeatedly (D5 + J12b share it)
    does not accumulate bucket-table blocks in storage memory (pinned
    in tests/test_similarity.py). The checkpoint also cuts the verify
    join's lineage: the SRP pass runs exactly once per call."""
    b = srp_buckets(widen_if_narrow(df, id_col), id_col, vec_col).cache()
    cands = (
        b.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
        .localCheckpoint()  # eager: both cache reads happen HERE
    )
    b.unpersist()
    va = df.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("emb_a"))
    vb = df.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("emb_b"))
    return (
        cands.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(F.col("emb_a"), F.col("emb_b")), 9).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# Product quantization (PQ): 64-d vectors -> PQ_M codes of log2(PQ_K)
# bits each. At 100 TB this is the memory story for ANN: 8 one-byte
# codes (8 B) stand in for 64 floats (256 B), a 32x compression, and
# query scoring reads only the code table plus a per-query 128-entry
# lookup table (ADC) — never the raw vectors.
PQ_M = 8
PQ_SUB = DIM // PQ_M
PQ_K = 16
#: ADC distances are quantized to integer micro-units before the
#: per-candidate sum so the aggregation is exact BIGINT arithmetic —
#: order-independent and engine-identical (same trick as KMEANS_QUANT).
PQ_QUANT = 1_000_000.0


def _subvectors(vec_col: F.Column) -> F.Column:
    """array of PQ_M length-PQ_SUB slices of the embedding."""
    return F.array(
        *[F.slice(vec_col, m * PQ_SUB + 1, PQ_SUB) for m in range(PQ_M)]
    )


def pq_codebook(seeds: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(m, k, csub): subspace codebooks from the deterministic seed
    vectors — PQ_K entries per subspace, each a PQ_SUB-dim slice of a
    seed (k-means-trainable exactly like kmeans_centroids; the seed
    codebook keeps the whole pipeline oracle-checkable)."""
    return seeds.select(
        F.col(id_col).alias("k"),
        F.posexplode(_subvectors(F.col(vec_col))).alias("m", "csub"),
    ).select("m", "k", "csub")


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code): nearest codebook entry per subspace (squared-L2,
    rounded 9dp, k tiebreak). The codebook is PQ_M x PQ_K rows —
    broadcast — so encoding is one scan of the corpus with a 128-row
    join; the only exchange is the per-(id, m) argmin window, and the
    encoded output is what gets STORED at scale (8 B/vector)."""
    subs = corpus.select(
        F.col(id_col).alias("id"),
        F.posexplode(_subvectors(F.col(vec_col))).alias("m", "sub"),
    )
    scored = subs.join(F.broadcast(codebook), "m").select(
        "id", "m", "k", F.round(l2sq(F.col("sub"), F.col("csub")), 9).alias("d")
    )
    w = W.partitionBy("id", "m").orderBy(F.col("d"), F.col("k"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "m", F.col("k").alias("code"))
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    seeds: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: the query stays exact; each
    candidate's distance is the sum over subspaces of the precomputed
    query-to-codeword squared-L2 (integer micro-units, exact BIGINT
    sum). Returns (query_id, cand_id, adc_dist_micro, rk) — rk by
    ascending approximate distance, cand tiebreak, self-match excluded.

    At 100 TB: the per-query LUT is PQ_M x PQ_K = 128 longs (broadcast),
    the scan reads only the 8-byte code rows, and the final top-k is a
    per-query window over candidate sums."""
    codebook = pq_codebook(seeds, id_col, vec_col)
    enc = pq_encode(corpus, codebook, id_col, vec_col)
    qsubs = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(_subvectors(F.col(vec_col))).alias("m", "qsub"),
    )
    lut = qsubs.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        "k",
        F.floor(l2sq(F.col("qsub"), F.col("csub")) * F.lit(PQ_QUANT))
        .cast("long")
        .alias("qd"),
    )
    adc = (
        enc.join(
            F.broadcast(lut),
            (enc.m == lut.m) & (enc.code == lut.k),
        )
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", F.col("id").alias("cand_id"))
        .agg(F.sum("qd").alias("adc_dist_micro"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adc_dist_micro"), F.col("cand_id"))
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "adc_dist_micro", "rk")
    )


def pq_topk_reranked(
    queries: DataFrame,
    corpus: DataFrame,
    seeds: DataFrame,
    shortlist: int = 100,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The deployable PQ recipe: ADC over the compressed codes produces
    a ``shortlist`` of candidates per query, then ONLY those raw
    vectors are fetched for an exact cosine re-rank (measured at
    sf0.001: recall@10 0.34 for raw ADC -> 0.90 after re-ranking a
    100-deep shortlist while reading 20% of the raw vectors). At 100 TB
    the code table is ~1/32 the corpus size, the shortlist join is an
    equi-join on cand_id against the (partitioned) raw store, and
    shortlist depth is the recall/IO knob."""
    sl = pq_topk(queries, corpus, seeds, k=shortlist, id_col=id_col, vec_col=vec_col)
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb"))
    c = corpus.select(F.col(id_col).alias("cand_id"), F.col(vec_col).alias("c_emb"))
    scored = (
        sl.select("query_id", "cand_id")
        .join(F.broadcast(q), "query_id")
        .join(c, "cand_id")
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(F.col("q_emb"), F.col("c_emb")), 9).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "cand_id", "cos_sim", "rk")
    )
