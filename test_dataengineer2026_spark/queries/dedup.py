"""Deduplication queries D1-D4 over the documents table
(north-star surface, repo:BASELINE.json:6 "dedup").

The documents table plants ~25 near-duplicate pairs (3-gram Jaccard
>= 0.9) in an otherwise dissimilar corpus — exactly the regime LSH is
built for. Every pipeline here is mirrored move-for-move in the DuckDB
oracle using the portable md5 hash family, so even the LSH candidate
generation is value-checked, not just the final pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.operators import dedup as D
from test_dataengineer2026_spark.registry import register

# Shared oracle CTE: distinct 3-gram shingle sets per doc.
_SETS_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
sets AS (
  SELECT doc_id AS doc,
         CASE WHEN len(tok) >= 3
              THEN list_distinct(list_transform(generate_series(1, len(tok)-2),
                                                i -> array_to_string(tok[i:i+2], ' ')))
              ELSE [] END AS sh
  FROM toks
)
"""

# Kirsch-Mitzenmacher hash family mirror: h_i = (h1 + i*h2) % PRIME with
# h1/h2 = first/second 48 bits of md5(shingle) (operators/dedup.py).
_H1 = "('0x' || substr(md5(s), 1, 12))::BIGINT"
_H2 = "('0x' || substr(md5(s), 13, 12))::BIGINT"
_SIG_ENTRIES = ",\n         ".join(
    f"list_min(list_transform(sh, s -> ({_H1} + {i} * {_H2}) % {D.MINHASH_PRIME}))"
    for i in range(D.MINHASH_K)
)


@register(
    "D1_exact_dedup",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup",),
)
def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact dedup via content digest groupBy — digest computed
    map-side so document text never shuffles; keeper = min doc_id."""
    d = tables.load(spark, sf_dir, "documents")
    return D.exact_dedup_groups(d, "text", "doc_id")


@register(
    "D2_minhash_lsh",
    oracle=f"""
WITH {_SETS_CTE},
signed AS (
  SELECT doc, sh,
         [{_SIG_ENTRIES}] AS sig
  FROM sets
),
banded AS (
  SELECT doc, t.b AS band_idx,
         md5(array_to_string(sig[t.b*{D.MINHASH_ROWS}+1 : t.b*{D.MINHASH_ROWS}+{D.MINHASH_ROWS}], '|')) AS band_key
  FROM signed, unnest(generate_series(0, {D.MINHASH_BANDS - 1})) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jac
FROM cand c
JOIN sets sa ON sa.doc = c.doc_a
JOIN sets sb ON sb.doc = c.doc_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= 0.8
""",
    tags=("dedup", "lsh"),
)
def minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2: MinHash(k=16) + LSH(4 bands x 4 rows) near-dup pairs, verified
    with exact Jaccard >= 0.8. Signature cost O(k) per doc; banding makes
    candidate generation an equi-join instead of all-pairs."""
    d = tables.load(spark, sf_dir, "documents")
    return D.neardup_pairs_minhash(d, "text", "doc_id", n=3, threshold=0.8)


@register(
    "D3_ngram_jaccard",
    oracle=f"""
WITH {_SETS_CTE},
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
)
SELECT doc_a, doc_b,
       CAST(n_shared AS DOUBLE) / (size_a + size_b - n_shared) AS jac
FROM pair_counts
WHERE CAST(n_shared AS DOUBLE) / (size_a + size_b - n_shared) >= 0.8
""",
    tags=("dedup", "jaccard"),
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3: exact n-gram Jaccard via inverted shingle index (explode +
    self-join on shingle + co-occurrence count). The exact-recall
    baseline that D2 approximates; D3b runs the same pipeline with the
    document-frequency cap active — the knob that bounds the join
    fan-out at scale."""
    d = tables.load(spark, sf_dir, "documents")
    return D.neardup_pairs_inverted(d, "text", "doc_id", n=3, threshold=0.8)


@register(
    "D3b_ngram_jaccard_capped",
    oracle=f"""
WITH {_SETS_CTE},
posting AS (
  SELECT doc, len(sh) AS set_size, unnest(sh) AS shingle FROM sets
),
kept AS (
  SELECT shingle FROM posting GROUP BY shingle HAVING COUNT(*) <= {D.DF_CAP}
),
capped AS (
  SELECT p.doc, p.set_size, p.shingle FROM posting p JOIN kept k USING (shingle)
),
pair_counts AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b,
         a.set_size AS size_a, b.set_size AS size_b,
         COUNT(*) AS n_shared
  FROM capped a JOIN capped b
    ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       CAST(n_shared AS DOUBLE) / (size_a + size_b - n_shared) AS jac
FROM pair_counts
WHERE CAST(n_shared AS DOUBLE) / (size_a + size_b - n_shared) >= 0.8
""",
    tags=("dedup", "jaccard"),
)
def ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3b: D3's inverted-index Jaccard with the document-frequency cap
    ACTIVE (df_cap=DF_CAP=15) — the scale path exercised under the full
    oracle gate, not just documented. Shingles in more than df_cap docs
    are dropped from the posting list BEFORE the pair join, so the
    candidate fan-out is bounded by sum(min(df, cap)^2) instead of
    sum(df^2); set sizes stay UNCAPPED, so the reported jac is a lower
    bound on true Jaccard (a dropped stopword-shingle can only remove
    shared mass). The cap bites exactly where scale does (probed at
    all three sfs): at sf0.1 it drops 8% of posting rows and cuts the
    pair set 256 -> 82, while at sf0.001/0.01 the flatter df
    distribution passes every shingle through and D3b == D3 — the df
    groupBy + semi-join machinery runs (and is oracle-mirrored) at
    every sf either way.

    Scale notes: the df computation is one extra groupBy on the posting
    key — map-side combinable, same shuffle key as the pair join's
    build side, and the `kept` list is a semi-join the optimizer can
    turn into a bloom-pruned scan. At 100 TB this is the ONLY version
    of D3 you would run."""
    d = tables.load(spark, sf_dir, "documents")
    return D.neardup_pairs_inverted(
        d, "text", "doc_id", n=3, threshold=0.8, df_cap=D.DF_CAP
    )


@register(
    "D4_simhash",
    oracle=f"""
WITH {_SETS_CTE},
tok AS (
  SELECT doc, unnest(sh) AS t FROM sets
),
h AS (
  SELECT doc, CAST(('0x' || substr(md5(t), 1, 6)) AS INTEGER) AS h FROM tok
),
bits AS (
  SELECT doc, g.b AS b,
         SUM(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, unnest(generate_series(0, {D.SIMHASH_BITS - 1})) AS g(b)
  GROUP BY doc, g.b
),
sim AS (
  SELECT doc,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc
),
banded AS (
  SELECT doc, simhash, g.b AS band_idx,
         (simhash >> (g.b * {D.SIMHASH_BAND_BITS})) & {(1 << D.SIMHASH_BAND_BITS) - 1} AS band_val
  FROM sim, unnest(generate_series(0, {D.SIMHASH_BANDS - 1})) AS g(b)
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc < b.doc
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
    tags=("dedup", "simhash"),
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4: SimHash near-dup pairs — 24-bit fingerprints, 4x6-bit band LSH
    (pigeonhole: Hamming <= 3 implies a shared band), verified with
    bit_count(xor)."""
    d = tables.load(spark, sf_dir, "documents")
    out = D.neardup_pairs_simhash(d, "text", "doc_id", max_hamming=3)
    return out.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


from test_dataengineer2026_spark.queries.similarity import srp_pairs_sql  # noqa: E402


@register(
    "D5_embedding_neardup",
    oracle=f"""
WITH {srp_pairs_sql(0.45)},
sym AS (
  SELECT vec_a AS vec, vec_b AS nbr FROM pairs
  UNION ALL
  SELECT vec_b AS vec, vec_a AS nbr FROM pairs
),
m AS (SELECT vec, MIN(nbr) AS min_nbr FROM sym GROUP BY vec),
k AS (
  SELECT e.vec_id,
         LEAST(e.vec_id, COALESCE(m.min_nbr, e.vec_id)) AS keeper_id
  FROM embeddings e LEFT JOIN m ON e.vec_id = m.vec
)
SELECT vec_id, keeper_id, keeper_id <> vec_id AS is_dup FROM k
""",
    tags=("dedup", "vector"),
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: embedding-cosine near-dup — SRP-LSH bucket collisions verified
    with exact cosine >= 0.45, then a one-step min-neighbor contraction
    assigns every vector a keeper (keeper_id = min id in its verified
    neighborhood, itself if unique). At 100 TB the candidate join is an
    equi-shuffle on (table_idx, bucket); full transitive clusters would
    iterate the contraction to a fixpoint (or use a connected-components
    pass), which the single deterministic step here stands in for."""
    from test_dataengineer2026_spark.operators import similarity as SIM

    e = tables.load(spark, sf_dir, "embeddings")
    pairs = SIM.srp_neighbor_pairs(e, threshold=0.45)
    sym = pairs.select(
        F.col("vec_a").alias("vec"), F.col("vec_b").alias("nbr")
    ).unionAll(pairs.select(F.col("vec_b").alias("vec"), F.col("vec_a").alias("nbr")))
    m = sym.groupBy("vec").agg(F.min("nbr").alias("min_nbr"))
    joined = e.select("vec_id").join(m, e.vec_id == m.vec, "left")
    keeper = F.least(F.col("vec_id"), F.coalesce(F.col("min_nbr"), F.col("vec_id")))
    return joined.select(
        "vec_id",
        keeper.alias("keeper_id"),
        (keeper != F.col("vec_id")).alias("is_dup"),
    )


@register(
    "D6_neardup_clusters",
    oracle=f"""
WITH RECURSIVE {_SETS_CTE},
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
  UNION ALL
  SELECT doc_b AS doc, doc_a AS nbr FROM pairs
),
r AS (
  SELECT doc, nbr FROM sym
  UNION
  SELECT r.doc, s.nbr FROM r JOIN sym s ON r.nbr = s.doc
),
m AS (SELECT doc, MIN(nbr) AS mn FROM r GROUP BY doc)
SELECT d.doc_id,
       LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS cluster_id,
       LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN m ON d.doc_id = m.doc
""",
    tags=("dedup", "clustering"),
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: full transitive near-dup clusters — connected components
    (min-label propagation to a fixpoint, operators/dedup.py:
    connected_components) over the exact-Jaccard >= 0.8 pair graph,
    assigning every document the minimum doc_id reachable from it. The
    step D5's single contraction stands in for: with chains a~b~c where
    a never directly matches c, only the transitive closure groups all
    three. The oracle computes the same fixpoint with a recursive CTE;
    Spark iterates a join+groupBy per round (rounds = graph diameter,
    2-3 for near-dup cliques), the GraphFrames-style CC loop that runs
    unchanged on a 1000-executor cluster."""
    d = tables.load(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_inverted(d, "text", "doc_id", n=3, threshold=0.8).select(
        "doc_a", "doc_b"
    )
    nodes = d.select(F.col("doc_id").alias("doc"))
    cc = D.connected_components(nodes, pairs)
    return cc.select(
        F.col("doc").alias("doc_id"),
        "cluster_id",
        (F.col("cluster_id") != F.col("doc")).alias("is_dup"),
    )


CONTAIN_T = 0.9  # D7: containment threshold (|A∩B| / min(|A|,|B|))


@register(
    "D7_containment_dedup",
    oracle=f"""
WITH {_SETS_CTE},
signed AS (
  SELECT doc, sh,
         [{_SIG_ENTRIES}] AS sig
  FROM sets
),
banded AS (
  SELECT doc, t.b AS band_idx,
         md5(array_to_string(sig[t.b*{D.MINHASH_ROWS}+1 : t.b*{D.MINHASH_ROWS}+{D.MINHASH_ROWS}], '|')) AS band_key
  FROM signed, unnest(generate_series(0, {D.MINHASH_BANDS - 1})) AS t(b)
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc < b.doc
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh) AS containment_a,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh) AS containment_b
FROM cand c
JOIN sets sa ON sa.doc = c.doc_a
JOIN sets sb ON sb.doc = c.doc_b
WHERE GREATEST(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sa.sh),
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / len(sb.sh)) >= {CONTAIN_T}
""",
    tags=("dedup", "lsh", "containment"),
)
def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: containment dedup — asymmetric Jaccard |A∩B|/|A| on the SAME
    MinHash-LSH candidates as D2, flagging pairs where one shingle set
    nearly contains the other (quote-expansion / excerpt duplication,
    which symmetric Jaccard under-scores when lengths differ). Identical
    scale shape to D2: signatures O(k) per doc, candidates via band
    equi-join, exact set math only on the candidate pairs."""
    d = tables.load(spark, sf_dir, "documents")
    sets = D.shingle_sets(tables.widen_if_narrow(d, "doc_id"), "text", "doc_id").cache()
    banded = D.band_table(D.minhash_signature(sets)).cache()
    cands = D.lsh_candidate_pairs(banded)
    a = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    ca = inter / F.size("sh_a")
    cb = inter / F.size("sh_b")
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .filter(F.greatest(ca, cb) >= CONTAIN_T)
    )


# D8: "paragraph" granularity for exact substring-level dedup — fixed
# 4-word windows stand in for real paragraph breaks (the synthetic corpus
# has no newlines; on real data split on '\n\n' instead).
LINE_WORDS = 4

_PARAS_CTE = f"""
ptoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
paras AS (
  SELECT doc_id, CAST(i.i AS INTEGER) AS para_idx,
         array_to_string(list_slice(t, i.i*{LINE_WORDS} + 1, (i.i+1)*{LINE_WORDS}), ' ') AS para_text,
         md5(array_to_string(list_slice(t, i.i*{LINE_WORDS} + 1, (i.i+1)*{LINE_WORDS}), ' ')) AS para_hash
  FROM ptoks,
       unnest(generate_series(0, CAST(greatest(ceil(len(t)/{LINE_WORDS}.0), 1) AS BIGINT) - 1)) AS i(i)
)
"""


def _spark_paras(d: DataFrame) -> DataFrame:
    """(doc_id, para_idx, para_text, para_hash) — the Spark mirror of
    _PARAS_CTE. The hash is computed map-side, so downstream frequency
    shuffles move 16-byte digests, never the text."""
    toks = F.split("text", " ")
    n = F.greatest(F.ceil(F.size(toks) / LINE_WORDS), F.lit(1)).cast("int")
    para = F.concat_ws(
        " ", F.slice(F.col("t"), F.col("para_idx") * LINE_WORDS + 1, LINE_WORDS)
    )
    return (
        d.select("doc_id", toks.alias("t"),
                 F.explode(F.sequence(F.lit(0), n - 1)).alias("para_idx"))
        .select(
            "doc_id",
            "para_idx",
            para.alias("para_text"),
            F.md5(para).alias("para_hash"),
        )
    )


@register(
    "D8_paragraph_dedup",
    oracle=f"""
WITH {_PARAS_CTE}
SELECT doc_id, para_idx, para_hash,
       COUNT(*) OVER (PARTITION BY para_hash) AS n_occ,
       COUNT(*) OVER (PARTITION BY para_hash) > 1 AS is_dup
FROM paras
""",
    tags=("dedup", "paragraph"),
)
def paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8: paragraph-level exact dedup (the CCNet/Dolma line-dedup
    shape): hash every paragraph, count corpus-wide occurrences, flag
    repeats. Complements D1 (whole-doc) and D2 (near-dup): this is the
    operator that strips repeated boilerplate passages across otherwise
    distinct documents. At 100 TB only (doc_id, para_idx, digest) rows
    shuffle — the window on para_hash is one exchange of ~40 B/paragraph
    and the text stays at its source partition."""
    from pyspark.sql import Window as W

    d = tables.load(spark, sf_dir, "documents")
    paras = _spark_paras(d).drop("para_text")
    w = W.partitionBy("para_hash")
    n_occ = F.count(F.lit(1)).over(w).cast("long")
    return paras.select(
        "doc_id", "para_idx", "para_hash",
        n_occ.alias("n_occ"), (n_occ > 1).alias("is_dup"),
    )


@register(
    "D9_canonical_selection",
    oracle=f"""
WITH RECURSIVE {_SETS_CTE},
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
  UNION ALL
  SELECT doc_b AS doc, doc_a AS nbr FROM pairs
),
r AS (
  SELECT doc, nbr FROM sym
  UNION
  SELECT r.doc, s.nbr FROM r JOIN sym s ON r.nbr = s.doc
),
m AS (SELECT doc, MIN(nbr) AS mn FROM r GROUP BY doc),
clustered AS (
  SELECT d.doc_id,
         LEAST(d.doc_id, COALESCE(m.mn, d.doc_id)) AS cluster_id,
         CAST(len(list_distinct(string_split(d.text, ' '))) AS BIGINT)
           AS quality
  FROM documents d LEFT JOIN m ON d.doc_id = m.doc
)
SELECT doc_id, cluster_id,
       FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_id ORDER BY quality DESC, doc_id
       ) AS canonical_id,
       doc_id = FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_id ORDER BY quality DESC, doc_id
       ) AS is_kept
FROM clustered
""",
    tags=("dedup", "clustering", "curation"),
)
def canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: quality-aware canonicalization — within each transitive
    near-dup cluster (D6's connected components over the Jaccard >= 0.8
    pair graph), KEEP the highest-quality member instead of the
    arbitrary min-id one.

    This is the retention policy production dedup actually wants: "drop
    duplicates" really means "keep the best copy" (longest / richest
    vocabulary — here the distinct-token count, a deterministic integer
    with doc_id as total-order tiebreak). Composition: D6 cluster labels
    (join+agg rounds, O(edges) shuffle per round) + one per-doc scalar
    quality pass + one window over cluster_id to elect the canonical
    member — a single extra shuffle on the cluster key. Every cluster
    emits exactly one is_kept=true row, so downstream filtering is a
    codegen predicate, not a join back to a keeper table.
    """
    d = tables.load(spark, sf_dir, "documents")
    pairs = D.neardup_pairs_inverted(
        d, "text", "doc_id", n=3, threshold=0.8
    ).select("doc_a", "doc_b")
    nodes = d.select(F.col("doc_id").alias("doc"))
    cc = D.connected_components(nodes, pairs)
    quality = d.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("quality"),
    )
    clustered = cc.select(F.col("doc").alias("doc_id"), "cluster_id").join(
        quality, "doc_id"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    canonical = F.first("doc_id").over(w)
    return clustered.select(
        "doc_id",
        "cluster_id",
        canonical.alias("canonical_id"),
        (F.col("doc_id") == canonical).alias("is_kept"),
    )


# D10 exact-substring span dedup: fixed-width token windows, hashed.
_SPAN_W = 8  # tokens per span (shared span => >= 8-token exact overlap)
_SPAN_DF_CAP = 50  # spans in more docs than this are boilerplate, dropped
_SPAN_MIN_SHARED = 3  # pair survives with >= this many distinct shared spans


@register(
    "D10_substring_span_dedup",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
sp AS (
  SELECT doc_id,
         CASE WHEN len(tok) >= {_SPAN_W}
              THEN list_distinct(list_transform(
                     generate_series(1, len(tok) - {_SPAN_W - 1}),
                     i -> md5(array_to_string(tok[i:i+{_SPAN_W - 1}], ' '))))
              ELSE [] END AS spans
  FROM toks
),
posting AS (SELECT doc_id, unnest(spans) AS span_hash FROM sp),
keep AS (
  SELECT span_hash FROM posting
  GROUP BY span_hash HAVING COUNT(*) <= {_SPAN_DF_CAP}
),
capped AS (SELECT p.doc_id, p.span_hash FROM posting p JOIN keep USING (span_hash)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared_spans
  FROM capped a JOIN capped b
    ON a.span_hash = b.span_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared_spans
FROM pairs WHERE n_shared_spans >= {_SPAN_MIN_SHARED}
""",
    tags=("dedup", "substring", "spans"),
)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: exact substring-span dedup — the token-window analogue of
    suffix-array training-data dedup (find document pairs sharing long
    verbatim runs, even when whole-doc similarity is low).

    Every {_SPAN_W}-token window is hashed (md5 of the joined slice, a
    pure codegen higher-order expression — no Python); distinct span
    hashes per doc form a posting list; a document-frequency cap drops
    boilerplate spans (df > {_SPAN_DF_CAP}) BEFORE the pair join so the
    fan-out per span key is bounded; pairs sharing >= {_SPAN_MIN_SHARED}
    distinct spans survive. At 100 TB this is the same bounded
    equi-join discipline as D3/T6: shuffle keys are span hashes, the
    df-cap is computed with one map-side-combined count, and no
    document text ever reaches the pair join (hashes only).
    """
    # Widen the scan before the per-window md5 pass (r19, guide §2.5 —
    # the T6/D2 pattern): the single-file fixture feeds ONE task, and
    # the span-hash pipeline is additionally evaluated TWICE (df-cap
    # build + capped join), both serial without this. Layout-adaptive:
    # a many-file corpus keeps its native width. Interleaved A/B at
    # sf0.1: med 4.24 -> 2.30 s, identical pairs.
    d = tables.widen_if_narrow(
        tables.load(spark, sf_dir, "documents"),
        key="doc_id",
        min_rows_per_split=1_000,
    )
    w = _SPAN_W
    # Tokenize ONCE in a prior projection: split() inside the transform
    # lambda would re-split the text for every window position
    # (O(tokens^2) splits per doc — measured 8x slower at sf0.1).
    spans = d.select(
        "doc_id", F.split("text", " ").alias("tok")
    ).select(
        "doc_id",
        F.expr(
            f"""CASE WHEN size(tok) >= {w}
                THEN array_distinct(transform(
                       sequence(1, size(tok) - {w - 1}),
                       i -> md5(array_join(slice(tok, i, {w}), ' '))))
                ELSE array() END"""
        ).alias("spans"),
    )
    posting = spans.select("doc_id", F.explode("spans").alias("span_hash"))
    keep = (
        posting.groupBy("span_hash")
        .count()
        .filter(F.col("count") <= _SPAN_DF_CAP)
        .select("span_hash")
    )
    capped = posting.join(keep, "span_hash")
    a = capped.select(F.col("doc_id").alias("doc_a"), "span_hash")
    b = capped.select(F.col("doc_id").alias("doc_b"), "span_hash")
    return (
        a.join(b, "span_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared_spans"))
        .filter(F.col("n_shared_spans") >= _SPAN_MIN_SHARED)
    )
