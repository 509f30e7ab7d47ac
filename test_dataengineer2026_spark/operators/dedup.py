"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard
(SURVEY.md §2 north-star surface; repo:BASELINE.json:6 "dedup").

100 TB design notes:

* **exact**: hash-groupBy on a content digest — shuffle volume is
  O(distinct digests); the digest (md5/sha2) is computed map-side so
  full document text never shuffles.
* **MinHash+LSH**: per-doc signature is O(k) regardless of doc size;
  banding turns all-pairs O(n^2) into a self-join on (band_idx,
  band_key) whose cost is sum of squares of bucket sizes — near-linear
  when collisions are rare. Exact Jaccard verification runs only on
  candidate pairs. This is the canonical web-scale near-dup pipeline
  (Broder's shingling + banding, as described in MMDS ch.3).
* **SimHash**: 24-bit fingerprints with 4x6-bit band LSH; by pigeonhole
  any pair within Hamming distance 3 shares at least one exact band,
  so candidate generation is again an equi-join, verification a
  bit_count(xor) filter.
* **inverted-index Jaccard**: explode shingles, self-join on shingle,
  count co-occurrences — exact, and scalable if high-document-frequency
  shingles are dropped first (df cap), the classic positional-index
  optimization.

Every hash used is the portable md5 family (functions/text.py), so all
four pipelines stay bit-checkable against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from test_dataengineer2026_spark.functions.text import (
    hash24,
    hash_family,
    shingles,
    tokens,
)
from test_dataengineer2026_spark.lineage import release_checkpoint
from test_dataengineer2026_spark.tables import widen_if_narrow

# MinHash parameters: k = bands * rows_per_band signatures.
MINHASH_BANDS = 4
MINHASH_ROWS = 4
MINHASH_K = MINHASH_BANDS * MINHASH_ROWS

#: Kirsch-Mitzenmacher modulus: the k hash functions are
#: h_i(s) = (h1(s) + i*h2(s)) mod PRIME with h1/h2 carved from ONE md5
#: digest — 1 md5 per shingle instead of k, same MinHash guarantees
#: (prime > 2^32; h1,h2 < 2^48 so i*h2 stays well inside int64).
MINHASH_PRIME = 4_294_967_311

SIMHASH_BITS = 24
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS

#: Document-frequency cap for the capped inverted-index path (D3b): a
#: shingle appearing in more than DF_CAP docs is dropped from the
#: posting list before the pair join. Sized against the synthetic
#: corpus's df distribution at ALL three sfs (probed r18): at sf0.1 it
#: drops 8% of posting rows and cuts the >=0.8 pair set 256 -> 82 —
#: the stopword-shingle fan-out actually biting — while at
#: sf0.001/0.01 (smaller corpus, flatter df) it passes everything
#: through, so the capped pipeline still matches D3 there. At web
#: scale this cap is the difference between O(sum df^2) blowing up on
#: "of the" and a bounded candidate set.
DF_CAP = 15


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group rows by content digest; keeper = min id per digest."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(id, shingle_set) — distinct n-gram shingles per document.

    The token array is materialized in its own projection: passing the
    raw split() expression into shingles() would re-evaluate the split
    inside the transform lambda for EVERY window position (O(tokens^2)
    splits per document — measured ~2.5x slower at sf0.1 on D2)."""
    return df.select(
        F.col(id_col).alias("doc"), tokens(text_col).alias("tok")
    ).select(
        "doc",
        shingles(F.col("tok"), n).alias("sh"),
    )


def minhash_signature(sets: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """(doc, sh, sig) — sig[i] = min over shingles of
    (h1 + i*h2) mod MINHASH_PRIME, with h1/h2 the first/second 48 bits
    of md5(shingle) (Kirsch-Mitzenmacher double hashing: one digest
    yields the whole hash family). The digest pairs are materialized in
    their own projection so the k mins share one md5 pass per shingle.
    """
    digests = F.transform(F.col("sh"), lambda s: F.md5(s))
    digest_pairs = F.transform(
        digests,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 12), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 13, 12), 16, 10).cast("long").alias("h2"),
        ),
    )
    with_pairs = sets.select("doc", "sh", digest_pairs.alias("hp"))
    # One nested-lambda expression over a runtime index sequence instead
    # of k parallel column subtrees: identical values, ~k x smaller
    # generated code (the k-subtree form dominated D2's first-run time
    # with whole-stage codegen compilation, not execution).
    sig = F.transform(
        F.sequence(F.lit(0).cast("long"), F.lit(k - 1).cast("long")),
        lambda i: F.array_min(
            F.transform(
                F.col("hp"),
                lambda p: (p.h1 + i * p.h2) % F.lit(MINHASH_PRIME),
            )
        ),
    )
    return with_pairs.select("doc", "sh", sig.alias("sig"))


def band_table(
    signed: DataFrame, bands: int = MINHASH_BANDS, rows: int = MINHASH_ROWS
) -> DataFrame:
    """(doc, band_idx, band_key) — one row per LSH band."""
    return signed.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def lsh_candidate_pairs(banded: DataFrame) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one LSH band.
    Pass a CACHED band table: the self-join evaluates it twice."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays.

    |A∩B| / (|A| + |B| - |A∩B|): all integer counts, one final division —
    bit-deterministic on any engine.
    """
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    return inter / (F.size(sh_a) + F.size(sh_b) - inter)


def neardup_pairs_minhash(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """MinHash LSH candidates verified with exact Jaccard >= threshold.

    The input is hash-redistributed first: shingling + k md5 minhashes
    per document are compute-bound, and a small single-file scan would
    otherwise pin the whole pipeline to one task.
    """
    sets = shingle_sets(widen_if_narrow(df, id_col), text_col, id_col, n).cache()
    banded = band_table(minhash_signature(sets)).cache()
    cands = lsh_candidate_pairs(banded)
    a = sets.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )


def neardup_pairs_inverted(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard via inverted shingle index.

    At scale, pass df_cap to drop shingles appearing in more than df_cap
    docs (stopword-shingles dominate pair blowup and cannot contribute to
    high-Jaccard pairs when the sets are large).
    """
    sets = shingle_sets(widen_if_narrow(df, id_col), text_col, id_col, n)
    posting = sets.select(
        "doc", F.size("sh").alias("set_size"), F.explode("sh").alias("shingle")
    )
    if df_cap is not None:
        keep = (
            posting.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap)
            .select("shingle")
        )
        posting = posting.join(keep, "shingle")
    a = posting.alias("a")
    b = posting.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.set_size").alias("size_a"),
            F.col("b.set_size").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    inter = F.col("n_shared").cast("double")
    jac = inter / (F.col("size_a") + F.col("size_b") - inter)
    return pair_counts.select("doc_a", "doc_b", jac.alias("jac")).filter(
        F.col("jac") >= threshold
    )


def simhash_table(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """(doc, simhash) — 24-bit SimHash over distinct n-gram shingles.

    bit b of simhash = sign of sum over shingles of (+1 if bit b of
    hash24(shingle) else -1). Shingles, not unigrams: with a tiny shared
    vocabulary every document contains nearly every word, so token-level
    fingerprints collapse; shingle sets stay discriminative.
    """
    toks = (
        widen_if_narrow(df, id_col)
        .select(F.col(id_col).alias("doc"), tokens(text_col).alias("tok_arr"))
        .select("doc", F.explode(shingles(F.col("tok_arr"), n)).alias("tok"))
        .withColumn("h", hash24(F.col("tok")))
    )
    bit_sums = toks.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(2**b)).otherwise(0).cast("long")
        sim = term if sim is None else sim + term
    return bit_sums.select("doc", sim.alias("simhash"))


def neardup_pairs_simhash(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash LSH: 4x6-bit bands; pigeonhole guarantees recall for
    Hamming <= 3; verify with bit_count(xor) <= max_hamming."""
    sh = simhash_table(df, text_col, id_col)
    banded = sh.select(
        "doc",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                    .bitwiseAND((1 << SIMHASH_BAND_BITS) - 1)
                    .cast("long")
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(
        F.col("sim_a").bitwiseXOR(F.col("sim_b"))
    ).alias("hamming")
    return cands.select("doc_a", "doc_b", hamming).filter(
        F.col("hamming") <= max_hamming
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label connected components over an undirected pair graph.

    ``nodes``: one column ``doc``; ``edges``: columns ``doc_a, doc_b``.
    Returns (doc, cluster_id) with cluster_id = min doc id reachable.

    Label propagation with pointer doubling: every node starts labeled
    with itself; each round, a node takes the min of its own and its
    neighbors' labels, then shortcuts to its label's label (label = the
    label of whatever node it currently points at). The shortcut halves
    chain depth every round, so convergence is O(log diameter) rounds
    rather than O(diameter) — a 1M-node path graph converges in ~20
    rounds instead of 1M. Each round is two equi-joins + one groupBy
    (all shuffling on the 8-byte doc key); the convergence test is a
    count aggregate, the one legitimate driver-side scalar in an
    iterative distributed algorithm.

    Raises ``RuntimeError`` if ``max_iter`` rounds pass without reaching
    a fixpoint — returning partially propagated labels would silently
    split clusters (and diverge from the transitive-closure oracle).

    Each round ends in ``localCheckpoint`` — caching alone does NOT
    truncate the logical plan, and with ~4 references to the previous
    label table per round the un-truncated lineage grows ~4^rounds:
    at sf0.1 the analyzer itself OOMed the driver around round 8
    before any executor ran a task. Checkpointing resets the lineage
    to the materialized result, so plan size is constant per round —
    the same discipline GraphX/GraphFrames apply to iterative graph
    jobs. On a cluster, swap localCheckpoint for reliable
    ``checkpoint()`` against the checkpoint dir so executor loss
    cannot drop a round's blocks.
    """
    from pyspark.sql import Observation  # noqa: PLC0415

    # the edge list is consumed once per round — for callers whose edges
    # come from an expensive pipeline (D6/D9: minhash/inverted-index
    # candidate generation + verify), an uncached sym would re-run that
    # whole pipeline every round; cache the 2-long-per-edge table once
    sym = (
        edges.select(F.col("doc_a").alias("doc"), F.col("doc_b").alias("nbr"))
        .unionAll(
            edges.select(F.col("doc_b").alias("doc"), F.col("doc_a").alias("nbr"))
        )
        .cache()
    )
    labels = nodes.select("doc", F.col("doc").alias("label")).cache()
    prev_materialized = labels
    nbr = sym.alias("s")
    for _ in range(max_iter):
        nbr_min = (
            nbr.join(
                labels.select(
                    F.col("doc").alias("nbr_doc"), F.col("label").alias("nbr_label")
                ),
                F.col("s.nbr") == F.col("nbr_doc"),
            )
            .groupBy(F.col("s.doc").alias("doc"))
            .agg(F.min("nbr_label").alias("m"))
        )
        # old_label rides along so the convergence count is an observed
        # metric of the SAME job that materializes the round — one job
        # per round instead of checkpoint + a separate count join
        # (halves the per-round driver latency that dominates locally).
        propagated = labels.join(nbr_min, "doc", "left").select(
            "doc",
            F.col("label").alias("old_label"),
            F.least(F.col("label"), F.coalesce(F.col("m"), F.col("label"))).alias(
                "label"
            ),
        )
        # Pointer doubling: follow one hop through the label table so a
        # node pointing at an already-relabeled node jumps straight to
        # that node's (smaller) label.
        obs = Observation()
        new_labels = (
            propagated.alias("p")
            .join(
                propagated.select(
                    F.col("doc").alias("l_doc"), F.col("label").alias("l_label")
                ),
                F.col("p.label") == F.col("l_doc"),
                "left",
            )
            .select(
                F.col("p.doc").alias("doc"),
                F.col("p.old_label").alias("old_label"),
                F.least(
                    F.col("p.label"), F.coalesce(F.col("l_label"), F.col("p.label"))
                ).alias("label"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("old_label")).cast("long")).alias(
                    "changed"
                ),
            )
            # materialize AND truncate lineage (see docstring): cache()
            # would keep the full 4^round logical plan alive. The
            # eager checkpoint job also fires the observation above.
            .localCheckpoint()
        )
        changed = obs.get["changed"] or 0
        # round 1's prev is the .cache()d seed (CacheManager path);
        # later rounds are localCheckpoints, whose storage plain
        # unpersist() does NOT free — release_checkpoint handles both
        # (lineage.py documents the measured no-op).
        release_checkpoint(prev_materialized)
        prev_materialized = new_labels
        labels = new_labels.select("doc", "label")
        if changed == 0:
            # the result is localCheckpoint-materialized, so it no
            # longer depends on sym's lineage — release the edge cache
            # instead of pinning it for the session's lifetime (a
            # long-lived session running many CC queries would
            # otherwise accumulate dead edge blocks until clearCache)
            sym.unpersist()
            return labels.select("doc", F.col("label").alias("cluster_id"))
    sym.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "with pointer doubling this needs a component diameter > "
        f"2**{max_iter} — check the edge set for pathology"
    )
