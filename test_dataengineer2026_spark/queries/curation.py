"""Corpus-curation operators C2-C5: the sampling / mixing / chunking /
packing stages of a training-data pipeline (north-star surface,
repo:BASELINE.json:6 — "add the LLM-data-pipeline operators").

C1 (the filter+dedup survival pipeline) lives in text_analysis.py; this
module adds the stages that come AFTER filtering when assembling a
pre-training corpus:

* **C2 stratified sampling** — deterministic per-stratum downsampling
  via a content-keyed uniform hash, the reproducible substitute for
  ``df.sampleBy`` (whose seeded RNG is engine-specific and so can't be
  oracle-checked bit-for-bit).
* **C3 mixture weighting** — turn a target language mixture + token
  budget into per-stratum sampling rates (the data-mixing computation
  behind every published pre-training recipe).
* **C4 context-window chunking** — split documents into fixed-size
  overlapping character windows (the retrieval / long-doc chunker).
* **C5 sequence packing** — assign documents to fixed-token-budget
  training packs via a running token count (streaming concat-and-split
  packing, the GPT-style "pack then split" batching step).

All four are pure codegen relational plans — no UDFs, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.queries.dedup import _PARAS_CTE
from test_dataengineer2026_spark.registry import register

# C2/C3: per-language sampling knobs. Weights are the *target* corpus
# mixture; 2^32 is the hash-bucket denominator.
LANG_RATES = {"en": 0.9, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.3}
HASH_DENOM = 4_294_967_296.0  # 2^32, exact in double

_RATE_CASE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}::DOUBLE" for k, v in LANG_RATES.items())
    + " ELSE 0.0::DOUBLE END"
)


def _uniform_hash(id_col: str) -> F.Column:
    """Deterministic uniform in [0, 1): first 32 bits of md5(id) / 2^32.

    Content-keyed sampling (vs. seeded RNG) is what you actually want at
    100 TB: the decision for a given doc_id is stable across reruns,
    engines, partitionings, and cluster sizes, so samples are
    reproducible and incremental reprocessing keeps prior decisions.
    """
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
    return h.cast("long") / F.lit(HASH_DENOM)


@register(
    "C2_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT / {HASH_DENOM}
      < ({_RATE_CASE_SQL})
""",
    tags=("curation", "sampling"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2: deterministic stratified sampling — keep a doc iff its
    content-keyed uniform hash falls under its language's target rate
    (en 0.9, de/fr/es 0.5, zh 0.3). Bit-reproducible sampleBy: the
    predicate is a pure map-side filter (no shuffle, no RNG state), so
    Catalyst pushes it into the scan and the plan is a single stage at
    any scale."""
    d = tables.load(spark, sf_dir, "documents")
    rate = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v)).otherwise(None)
            for k, v in LANG_RATES.items()
        ],
        F.lit(0.0),
    )
    return d.filter(_uniform_hash("doc_id") < rate).select("doc_id", "lang", "source")


# C3: token budget for the mixed corpus, in whitespace tokens.
MIX_BUDGET = 20_000


@register(
    "C3_mixture_weights",
    oracle=f"""
WITH t AS (
  SELECT lang,
         COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
  FROM documents GROUP BY lang
)
SELECT lang, n_docs, total_tokens,
       ({_RATE_CASE_SQL.replace("lang", "t.lang")}) * {MIX_BUDGET} AS target_tokens,
       LEAST(1.0::DOUBLE,
             ({_RATE_CASE_SQL.replace("lang", "t.lang")}) * {MIX_BUDGET}
               / nullif(total_tokens, 0))
         AS sample_rate
FROM t
""",
    tags=("curation", "sampling"),
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: source-mixture weighting — given a target per-language weight
    and a global token budget, compute each language's target token
    count and the document sampling rate that achieves it
    (min(1, weight*budget/available)). This is the data-mixing math of
    pre-training recipes (e.g. the mixture tables in the GPT-3 / LLaMA
    papers), computed from corpus stats in one partial+final aggregation
    — at 100 TB the per-language token totals are a map-side-combined
    agg over a scan that reads only (lang, text)."""
    d = tables.load(spark, sf_dir, "documents")
    weight = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v)).otherwise(None)
            for k, v in LANG_RATES.items()
        ],
        F.lit(0.0),
    )
    t = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("total_tokens"),
    )
    target = weight * F.lit(MIX_BUDGET)
    return t.select(
        "lang",
        "n_docs",
        "total_tokens",
        target.alias("target_tokens"),
        F.least(
            F.lit(1.0), target / F.nullif(F.col("total_tokens"), F.lit(0))
        ).alias("sample_rate"),
    )


# C4: chunk geometry — 400-char windows every 300 chars (100-char overlap).
CHUNK_SIZE = 400
CHUNK_STRIDE = 300


@register(
    "C4_chunk_documents",
    oracle=f"""
SELECT doc_id,
       ((s.start - 1) // {CHUNK_STRIDE})::BIGINT AS chunk_idx,
       substr(text, s.start, {CHUNK_SIZE}) AS chunk_text,
       length(substr(text, s.start, {CHUNK_SIZE}))::BIGINT AS chunk_len
FROM documents,
     unnest(generate_series(1, greatest(length(text), 1), {CHUNK_STRIDE})) AS s(start)
""",
    tags=("curation", "chunking"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4: context-window chunking — split each document into
    400-character windows every 300 characters (100 overlap), the
    retrieval-index / long-document chunker. chunk_idx derives from the
    window start, so no ordinality bookkeeping survives the explode.
    One narrow explode, no shuffle; at 100 TB output size is
    size(text) * size/stride ≈ 1.33x input and streams straight to a
    partitioned sink."""
    d = tables.load(spark, sf_dir, "documents")
    starts = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE))
    ).alias("start")
    chunk = F.expr(f"substring(text, start, {CHUNK_SIZE})")
    return d.select("doc_id", "text", starts).select(
        "doc_id",
        F.floor((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_idx"),
        chunk.alias("chunk_text"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
    )


# C5: training-sequence token budget per pack.
PACK_BUDGET = 2_000


@register(
    "C5_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_tokens AS start_tok
  FROM t
)
SELECT doc_id, source, n_tokens,
       (start_tok // {PACK_BUDGET})::BIGINT AS pack_id,
       (start_tok % {PACK_BUDGET})::BIGINT AS pack_offset
FROM c
""",
    tags=("curation", "packing"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C5: sequence packing — a running token count in (source, doc_id)
    order assigns each document a pack_id (which fixed-budget training
    sequence it starts in) and its token offset there: streaming
    concat-and-split packing, first-fit in stream order. Packing is
    per-source so the prefix sum is a partitioned window, not a global
    sort — at 100 TB each shard packs independently (exactly how a
    distributed tokenize-and-pack job shards), instead of serializing
    on one global cumulative sum."""
    d = tables.load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    start_tok = F.sum("n_tokens").over(w) - F.col("n_tokens")
    c = t.select("doc_id", "source", "n_tokens", start_tok.alias("start_tok"))
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("start_tok") / PACK_BUDGET).cast("bigint").alias("pack_id"),
        (F.col("start_tok") % PACK_BUDGET).cast("bigint").alias("pack_offset"),
    )


# C6: decontamination n-gram length and the eval-set slice.
DECON_N = 8
EVAL_SOURCE = "src0"


@register(
    "C6_decontaminate",
    oracle=f"""
WITH tokd AS (SELECT doc_id, source, string_split(text, ' ') AS tok FROM documents),
p AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(
             generate_series(1, len(tok) - {DECON_N - 1}),
             i -> array_to_string(tok[i:i+{DECON_N - 1}], ' ')))) AS g
  FROM tokd WHERE len(tok) >= {DECON_N}
),
h AS (SELECT doc_id, source, ('0x' || substr(md5(g), 1, 12))::BIGINT AS gh FROM p)
SELECT t.doc_id,
       COUNT(DISTINCT t.gh) AS n_hits,
       COUNT(DISTINCT e.doc_id) AS n_eval_docs
FROM h t JOIN h e ON t.gh = e.gh
WHERE t.source <> '{EVAL_SOURCE}' AND e.source = '{EVAL_SOURCE}'
GROUP BY t.doc_id
""",
    tags=("curation", "decontamination"),
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6: train/eval decontamination — flag training documents sharing
    any 8-token n-gram with the held-out eval slice (source = src0),
    reporting how many distinct grams and eval docs each one hits. The
    contamination check every training pipeline runs before training
    (the GPT-3 paper's 13-gram overlap scan, at n=8). Grams are hashed
    to 48-bit ints map-side, so the overlap join shuffles 8-byte keys,
    never gram text; at 100 TB the eval-side posting list is tiny
    relative to the corpus and broadcasts, making the scan
    map-only over the training side."""
    from test_dataengineer2026_spark.functions.text import shingles, tokens

    d = tables.widen_if_narrow(tables.load(spark, sf_dir, "documents"), "doc_id")

    def posting(df: DataFrame) -> DataFrame:
        # tokenize in its own projection — split() inside the shingle
        # lambda would re-split per window position (see shingle_sets)
        g = F.explode(shingles(F.col("tok"), DECON_N)).alias("g")
        df = df.select("doc_id", tokens("text").alias("tok"))
        return df.select("doc_id", g).select(
            "doc_id",
            F.conv(F.substring(F.md5("g"), 1, 12), 16, 10).cast("long").alias("gh"),
        )

    train = posting(d.filter(F.col("source") != EVAL_SOURCE))
    eval_p = posting(d.filter(F.col("source") == EVAL_SOURCE)).withColumnRenamed(
        "doc_id", "eval_doc"
    )
    return (
        train.join(eval_p, "gh")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("gh").alias("n_hits"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )


# C7: fixed per-stratum sample quota.
QUOTA_K = 20


@register(
    "C7_quota_sample",
    oracle=f"""
SELECT doc_id, lang, rn
FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
WHERE rn <= {QUOTA_K}
""",
    tags=("curation", "sampling"),
)
def quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C7: fixed-quota stratified sample — exactly min(k, |stratum|)
    docs per language, chosen by content-keyed hash order (the
    deterministic stand-in for per-stratum reservoir sampling: same
    docs every run, on any engine, under any partitioning). One window
    shuffle on lang; at 100 TB with huge strata the same quota comes
    from a rank-free two-pass instead (per-partition top-k heaps, then
    merge), which is O3's TakeOrderedAndProject pattern per stratum."""
    d = tables.load(spark, sf_dir, "documents")
    rn = F.row_number().over(
        W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    )
    return (
        d.select("doc_id", "lang", rn.alias("rn"))
        .filter(F.col("rn") <= QUOTA_K)
    )


@register(
    "C8_length_percentiles",
    oracle="""
WITH t AS (
  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), q AS (
  SELECT source, COUNT(*) AS n_docs,
         MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
         quantile_cont(n_tokens, [0.5, 0.9, 0.99]) AS qs
  FROM t GROUP BY source
)
SELECT source, n_docs, min_tokens, max_tokens,
       round(qs[1], 6) AS p50, round(qs[2], 6) AS p90, round(qs[3], 6) AS p99
FROM q
""",
    tags=("curation", "stats"),
)
def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C8: per-source token-length distribution (exact p50/p90/p99 +
    min/max) — the stats that drive C4's chunk size and C5's pack length.
    Exact `percentile` is the right call here because token counts are
    small bounded integers (the aggregation buffer is a value->count map,
    not the row set); for unbounded/continuous domains at 100 TB the
    drop-in is `percentile_approx` (A4's sketch pattern, mergeable and
    bounded-memory). Both engines interpolate at rank (n-1)*p; results
    are rounded to 6 decimals to absorb libm/order-of-operations ulps,
    the T5 convention."""
    d = tables.load(spark, sf_dir, "documents")
    t = d.select(
        "source", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    q = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
        F.expr("percentile(n_tokens, array(0.5D, 0.9D, 0.99D))").alias("qs"),
    )
    return q.select(
        "source",
        "n_docs",
        "min_tokens",
        "max_tokens",
        F.round(F.col("qs")[0], 6).alias("p50"),
        F.round(F.col("qs")[1], 6).alias("p90"),
        F.round(F.col("qs")[2], 6).alias("p99"),
    )


# C9: number of output shards for the deterministic training-data shuffle.
N_SHARDS = 16


@register(
    "C9_shuffle_shards",
    oracle=f"""
WITH s AS (
  SELECT doc_id,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 12))::BIGINT % {N_SHARDS} AS shard
  FROM documents
)
SELECT doc_id, shard,
       ROW_NUMBER() OVER (PARTITION BY shard
                          ORDER BY md5(doc_id::VARCHAR), doc_id) AS pos
FROM s
""",
    tags=("curation", "shuffle"),
)
def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C9: deterministic global shuffle for training-data ordering —
    shard = 48-bit md5(doc_id) mod N, position within shard by a second
    hash ordering. Content-keyed like C2, so the shuffle is reproducible
    across reruns, engines, and input partitionings (seeded RNG
    orderings are none of those). At 100 TB this is
    `repartition(N, shard)` + `sortWithinPartitions(pos)` straight into
    a partitioned sink: one exchange, no global sort, each shard file
    written independently — and an incremental append lands new docs in
    their stable shards without reshuffling history."""
    d = tables.load(spark, sf_dir, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.conv(F.substring(h, 1, 12), 16, 10).cast("long") % N_SHARDS
    w = W.partitionBy("shard").orderBy(h, "doc_id")
    return (
        d.select("doc_id", shard.alias("shard"))
        .select("doc_id", "shard", F.row_number().over(w).alias("pos"))
    )


#: C10: a paragraph seen in >= this many DISTINCT documents is
#: boilerplate (headers, footers, license blurbs — the CCNet heuristic).
BOILER_DF = 3


@register(
    "C10_boilerplate_removal",
    oracle=f"""
WITH {_PARAS_CTE},
dfreq AS (
  SELECT para_hash, COUNT(DISTINCT doc_id) AS df_docs
  FROM paras GROUP BY para_hash
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_paras,
       CAST(SUM(CASE WHEN df_docs >= {BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
       COALESCE(array_to_string(list(para_text ORDER BY para_idx) FILTER (WHERE df_docs < {BOILER_DF}), ' '), '') AS cleaned_text
FROM paras JOIN dfreq USING (para_hash)
GROUP BY doc_id
""",
    tags=("curation", "boilerplate"),
)
def boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C10: corpus-frequency boilerplate removal — drop paragraphs that
    appear in >= BOILER_DF distinct documents and rebuild each document
    from its kept paragraphs in order. The per-paragraph document
    frequency is a groupBy on the 16-byte digest (text never shuffles);
    the rebuild is one collect_list per doc sorted by paragraph index.
    At 100 TB: two exchanges total (digest DF, doc rebuild), both on
    narrow keys; the boilerplate table is usually tiny and broadcasts
    back onto the paragraph stream."""
    from test_dataengineer2026_spark.queries.dedup import _spark_paras

    d = tables.load(spark, sf_dir, "documents")
    paras = _spark_paras(d)
    dfreq = paras.groupBy("para_hash").agg(
        F.count_distinct("doc_id").alias("df_docs")
    )
    joined = paras.join(dfreq, "para_hash")
    boiler = F.col("df_docs") >= BOILER_DF
    kept = F.when(~boiler, F.struct("para_idx", "para_text"))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum(boiler.cast("int")).cast("long").alias("n_boiler"),
        F.concat_ws(
            " ", F.array_sort(F.collect_list(kept)).getField("para_text")
        ).alias("cleaned_text"),
    )


#: C11 temperature: weight language l by p_l^ALPHA (renormalized) — the
#: multilingual rebalancing exponent of mBERT/XLM-R (alpha in [0.2, 0.7]
#: upsamples tail languages). Quantized to integer micro-weights.
C11_ALPHA = 0.3
C11_PW_SCALE = 1_000_000
C11_GATE_BITS = 16  # 4 hex chars -> u in [0, 65536)


@register(
    "C11_temperature_sample",
    oracle=f"""
WITH s AS (
  SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang
),
tot AS (SELECT SUM(n_l) AS n FROM s),
w AS (
  SELECT lang, n_l,
         CAST(floor(pow(n_l * 1.0 / n, {C11_ALPHA}) * {C11_PW_SCALE}) AS BIGINT)
           AS pw_q,
         n // 2 AS t
  FROM s CROSS JOIN tot
),
z AS (SELECT SUM(pw_q) AS z FROM w)
SELECT d.doc_id, d.lang
FROM documents d
JOIN w ON w.lang = d.lang
CROSS JOIN z
WHERE ('0x' || substr(md5('mix:' || d.doc_id::VARCHAR), 1, 4))::BIGINT
        * z.z * w.n_l
      < w.pw_q * w.t * {2 ** C11_GATE_BITS}
""",
    tags=("curation", "sampling", "multilingual"),
)
def temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C11: temperature-scaled multilingual sampling — language l keeps
    documents at rate min(1, w_l * T / n_l) where w_l ∝ p_l^alpha
    (alpha=0.3 upsamples tail languages, the mBERT/XLM-R exponent) and
    T is the half-corpus target. The ONLY floating-point step is
    pow(p, alpha), immediately floor-quantized to integer micro-weights;
    the per-document gate is then a pure int64 inequality
    (h16 * Z * n_l < pw_q * T * 2^16), so membership is bit-identical on
    both engines — no double comparison sits on the keep/drop boundary.
    The min(1,·) clamp is implicit: when the rate exceeds 1 the RHS
    exceeds every possible h16 * Z * n_l. At 100 TB: one tiny stats agg,
    the per-lang weights broadcast, and the gate is a map-side filter at
    scan speed (int64 products bounded: h16 < 2^16, Z <= #langs * 1e6,
    so the LHS stays under 2^63 up to ~1e8 docs per language; shard the
    gate by a wider T scale past that)."""
    d = tables.load(spark, sf_dir, "documents")
    s = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    tot = s.agg(F.sum("n_l").alias("n"))
    w = s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_l",
        F.floor(
            F.pow(F.col("n_l") / F.col("n"), F.lit(C11_ALPHA)) * C11_PW_SCALE
        )
        .cast("long")
        .alias("pw_q"),
        F.expr("n div 2").alias("t"),
    )
    z = w.agg(F.sum("pw_q").alias("z"))
    h16 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    return (
        d.join(F.broadcast(w), "lang")
        .crossJoin(F.broadcast(z))
        .filter(
            h16 * F.col("z") * F.col("n_l")
            < F.col("pw_q") * F.col("t") * F.lit(2**C11_GATE_BITS)
        )
        .select("doc_id", "lang")
    )


from test_dataengineer2026_spark.operators import dedup as DD  # noqa: E402


@register(
    "C12_leakage_free_split",
    oracle="""
WITH RECURSIVE sets AS (
  SELECT doc_id AS doc,
         list_distinct(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
           i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
),
posting AS (
  SELECT doc, len(sh) AS set_size, unnest(sh) AS shingle FROM sets
),
pair_counts AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         a.set_size AS size_a, b.set_size AS size_b,
         COUNT(*) AS n_shared
  FROM posting a JOIN posting b
    ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
),
pairs AS (
  SELECT doc_a, doc_b FROM pair_counts
  WHERE CAST(n_shared AS DOUBLE) / (size_a + size_b - n_shared) >= 0.8
),
sym AS (
  SELECT doc_a AS doc, doc_b AS nbr FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
r AS (
  SELECT doc, nbr FROM sym
  UNION
  SELECT r.doc, s.nbr FROM r JOIN sym s ON r.nbr = s.doc
),
m AS (SELECT doc, MIN(nbr) AS mn FROM r GROUP BY doc),
clustered AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS cluster_id
  FROM documents d LEFT JOIN m ON d.doc_id = m.doc
),
folded AS (
  SELECT doc_id, cluster_id,
         CASE WHEN ('0x' || substr(md5(cluster_id::VARCHAR), 1, 8))::BIGINT
                   % 10 = 0
              THEN 'eval' ELSE 'train' END AS fold
  FROM clustered
)
SELECT fold,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT cluster_id) AS n_clusters,
       CAST((SELECT COUNT(*) FROM (
          SELECT cluster_id FROM folded
          GROUP BY cluster_id HAVING COUNT(DISTINCT fold) > 1
       )) AS BIGINT) AS n_straddling_clusters
FROM folded
GROUP BY fold
""",
    tags=("curation", "dedup", "sampling"),
)
def leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12: contamination-safe train/eval split — fold assignment is a
    deterministic hash of the NEAR-DUP CLUSTER id (D6's connected
    components), not the document id, so a document and all its
    near-duplicates land in the same fold by construction. Splitting at
    document granularity leaks eval content into training whenever two
    near-copies straddle the cut — the classic benchmark-contamination
    bug C6 decontaminates after the fact; C12 prevents it structurally.

    The fold function is the C2 content-hash gate applied to cluster_id
    (first 32 md5 bits mod 10 → ~10% eval), a pure map-side expression
    on top of the D6 labels. The query also audits itself: the
    straddling-cluster count is computed from the data and must be 0.
    Cost over plain D6: one extra aggregation — nothing new shuffles at
    100 TB.
    """
    d = tables.load(spark, sf_dir, "documents")
    pairs = DD.neardup_pairs_inverted(
        d, "text", "doc_id", n=3, threshold=0.8
    ).select("doc_a", "doc_b")
    nodes = d.select(F.col("doc_id").alias("doc"))
    cc = DD.connected_components(nodes, pairs)
    fold = F.when(
        F.conv(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 10
        == 0,
        F.lit("eval"),
    ).otherwise(F.lit("train"))
    folded = cc.select(
        F.col("doc").alias("doc_id"), "cluster_id", fold.alias("fold")
    ).cache()
    straddle = (
        folded.groupBy("cluster_id")
        .agg(F.countDistinct("fold").alias("nf"))
        .filter(F.col("nf") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_straddling_clusters"))
    )
    per_fold = folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    return per_fold.crossJoin(F.broadcast(straddle)).select(
        "fold", "n_docs", "n_clusters", "n_straddling_clusters"
    )


#: C13 curriculum phase edges (chars of text) — fixed thresholds, not
#: quantiles, so phase assignment is deterministic and engine-identical.
C13_PHASE_EDGES = (200, 400, 600, 800)


@register(
    "C13_curriculum_order",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         CAST(length(text) AS BIGINT) AS score,
         CASE WHEN length(text) < {C13_PHASE_EDGES[0]} THEN 0
              WHEN length(text) < {C13_PHASE_EDGES[1]} THEN 1
              WHEN length(text) < {C13_PHASE_EDGES[2]} THEN 2
              WHEN length(text) < {C13_PHASE_EDGES[3]} THEN 3
              ELSE 4 END AS phase
  FROM documents
)
SELECT doc_id, lang, score, CAST(phase AS INTEGER) AS phase,
       CAST(ROW_NUMBER() OVER (PARTITION BY phase ORDER BY score, doc_id)
            AS BIGINT) AS pos_in_phase
FROM scored
""",
    tags=("curation", "curriculum", "window"),
)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C13: curriculum ordering — easy-to-hard training order without a
    global sort. Docs land in fixed difficulty PHASES (closed-form
    thresholds on the score, here text length as the difficulty proxy),
    and ordering is only materialized WITHIN a phase (row_number over a
    phase-partitioned window). A trainer consumes phases in sequence;
    intra-phase order is defined yet never requires one machine to sort
    the corpus: at 100 TB each phase's window sorts locally after one
    hash exchange on phase, the same bounded-exchange shape as C9's
    shard shuffle. Fixed edges (not quantiles) keep assignment
    deterministic under any partitioning."""
    from pyspark.sql import Window as W

    d = tables.load(spark, sf_dir, "documents")
    score = F.length("text").cast("long")
    phase = (
        F.when(score < C13_PHASE_EDGES[0], 0)
        .when(score < C13_PHASE_EDGES[1], 1)
        .when(score < C13_PHASE_EDGES[2], 2)
        .when(score < C13_PHASE_EDGES[3], 3)
        .otherwise(4)
        .cast("int")
    )
    scored = d.select(
        "doc_id", "lang", score.alias("score"), phase.alias("phase")
    )
    w = W.partitionBy("phase").orderBy("score", "doc_id")
    return scored.select(
        "doc_id",
        "lang",
        "score",
        "phase",
        F.row_number().over(w).cast("long").alias("pos_in_phase"),
    )


#: C14: max docs kept per registered domain.
C14_DOMAIN_CAP = 15


@register(
    "C14_domain_quota_sample",
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, source || '.example.com' AS domain,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5(doc_id::VARCHAR), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, domain FROM ranked WHERE rk <= {C14_DOMAIN_CAP}
""",
    tags=("curation", "sampling", "web"),
)
def domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14: per-domain quota sampling — cap every site's contribution to
    the corpus (the anti-SEO-spam / anti-single-site-dominance gate of
    crawl curation, the consumer of F13's registered_domain). Selection
    within a domain orders by a content hash (deterministic, unbiased,
    reproducible across engines and reruns — same contract as C2's hash
    gate), and the cap is a row_number cutoff inside a domain-partitioned
    window: ONE hash exchange on domain, per-domain local sort bounded
    by domain size. Skewed megadomains at 100 TB would pre-aggregate a
    count and short-circuit (cap << count) before the window."""
    from pyspark.sql import Window as W

    d = tables.load(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            F.row_number().over(w).alias("rk"),
            "source",
        )
        .filter(F.col("rk") <= C14_DOMAIN_CAP)
        .select("doc_id", "domain")
    )
