"""Multimodal binary-column queries (SURVEY north-star "multimodal
columns"): real mapInPandas plumbing over BINARY payloads, with SQL
oracles recomputing the same features from the source text (the corpus
is ASCII, so char ops == byte ops on the oracle side)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.multimodal.binary_ops import (
    attach_binary,
    decode_png_features,
    decode_wav_features,
    extract_features,
    sample_frames,
    synthesize_png,
    synthesize_wav,
)
from test_dataengineer2026_spark.registry import register


@register(
    "V5_mm_binary_features",
    oracle="""
SELECT
  doc_id,
  CAST(strlen(text) AS BIGINT) AS byte_len,
  md5(text) AS content_md5,
  ascii(substring(text, 1, 1)) AS first_byte,
  CAST(strlen(text) % 640 AS INTEGER) AS width,
  CAST((strlen(text) * 7) % 480 AS INTEGER) AS height
FROM documents
""",
    tags=("multimodal", "udf", "mapInPandas"),
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5 + multimodal: binary payload -> typed features via mapInPandas
    (Arrow batch iterator). Decoder dimensions are a clearly-marked
    deterministic fake (no imaging libs in this build); everything else
    (md5, lengths, bytes) is real.

    The Spark side measures the UTF-8 payload in BYTES, so the oracle
    uses DuckDB's strlen (bytes), not length (chars) — equal on ASCII,
    divergent otherwise. md5(text) in DuckDB already hashes the UTF-8
    bytes, matching the binary md5. The one char-semantic residual is
    first_byte (oracle: first codepoint; DuckDB cannot slice blobs) —
    equal only while the corpus is ASCII, which
    tests/test_parity.py::test_fixture_text_is_ascii pins loudly."""
    d = tables.load(spark, sf_dir, "documents")
    return extract_features(attach_binary(d))


@register(
    "MM2_frame_sample",
    oracle="""
WITH f AS (
  SELECT doc_id, text, g.i AS frame_idx
  FROM documents, unnest(generate_series(0, 2)) AS g(i)
  WHERE g.i < least(3, length(text) // 100)
)
SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
       md5(substring(text, frame_idx * 100 + 1, 100)) AS frame_md5,
       CAST(100 AS BIGINT) AS frame_len
FROM f
""",
    tags=("multimodal", "mapInPandas"),
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: fixed 100-byte windows, up to 3 frames
    per payload — the keyframe-extraction batch shape.

    The oracle frames by CHARACTERS (DuckDB cannot substring blobs);
    the Spark side frames the UTF-8 payload by BYTES. Kept consistently
    char-based rather than mixing a byte count with char slices —
    equal only while the corpus is ASCII, which
    tests/test_parity.py::test_fixture_text_is_ascii pins loudly."""
    d = tables.load(spark, sf_dir, "documents")
    return sample_frames(attach_binary(d), frame_size=100, max_frames=3)


@register(
    "MM4_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         3 + doc_id % 6 AS width,
         2 + doc_id % 5 AS height
  FROM documents
), px AS (
  SELECT d.doc_id, d.width, d.height,
         (d.doc_id + 31 * y.y + 7 * x.x) % 256 AS v
  FROM dims d,
       unnest(generate_series(0, d.width - 1)) AS x(x),
       unnest(generate_series(0, d.height - 1)) AS y(y)
)
SELECT doc_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(8 AS INTEGER) AS bit_depth,
       CAST(0 AS INTEGER) AS color_type,
       COUNT(*) AS n_pixels,
       CAST(SUM(v) AS BIGINT) AS pixel_sum,
       CAST(MIN(v) AS INTEGER) AS pixel_min,
       CAST(MAX(v) AS INTEGER) AS pixel_max
FROM px
GROUP BY 1, 2, 3
""",
    tags=("multimodal", "mapInPandas", "decode"),
)
def mm_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM4: REAL image decode end-to-end. Each document id deterministically
    synthesizes a spec-conformant greyscale PNG (zlib-compressed IDAT,
    scanline filters rotating through all five types), and the decode
    operator parses IHDR, inflates, reverses the filters and emits pixel
    statistics. The oracle never sees PNG bytes — it recomputes every
    expected pixel from the closed-form (doc_id + 31y + 7x) % 256 via
    generate_series, so encoder and decoder cannot share a compensating
    bug that survives the comparison. Both sides are mapInPandas over
    Arrow batches: at 100 TB the decode runs decoder-parallel on
    executors, one Python crossing per batch, nothing on the driver."""
    d = tables.load(spark, sf_dir, "documents")
    return decode_png_features(synthesize_png(d))


@register(
    "MM5_wav_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         8000 + (doc_id % 4) * 4000 AS sample_rate,
         20 + doc_id % 30 AS n_samples
  FROM documents
), smp AS (
  SELECT d.doc_id, d.sample_rate, d.n_samples,
         (d.doc_id * 31 + i.i * 17) % 65536 - 32768 AS v
  FROM dims d, unnest(generate_series(0, d.n_samples - 1)) AS i(i)
)
SELECT doc_id,
       CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(16 AS INTEGER) AS bit_depth,
       COUNT(*) AS n_samples,
       CAST(SUM(v) AS BIGINT) AS sample_sum,
       CAST(MIN(v) AS INTEGER) AS sample_min,
       CAST(MAX(v) AS INTEGER) AS sample_max
FROM smp
GROUP BY 1, 2
""",
    tags=("multimodal", "mapInPandas", "decode", "audio"),
)
def mm_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM5: REAL audio decode end-to-end — the WAV twin of MM4. Each
    document id synthesizes a spec-conformant RIFF/PCM16 payload
    (multimodal/wav.py), the decode operator walks the chunk structure
    and unpacks actual samples, and the oracle recomputes every expected
    sample from the closed form ((id*31 + i*17) % 65536 - 32768) via
    generate_series — encoder and decoder cannot share a compensating
    bug that survives. mapInPandas both ways: executor-parallel,
    Arrow-batched, nothing on the driver."""
    d = tables.load(spark, sf_dir, "documents")
    return decode_wav_features(synthesize_wav(d))


@register(
    "MM3_modality_router",
    oracle="""
SELECT CASE doc_id % 3 WHEN 0 THEN 'image/jpeg'
                       WHEN 1 THEN 'image/png'
                       ELSE 'audio/wav' END AS modality,
       COUNT(*) AS n_payloads,
       CAST(SUM(strlen(text) + CASE doc_id % 3 WHEN 0 THEN 3
                                               WHEN 1 THEN 4
                                               ELSE 4 END) AS BIGINT)
         AS total_bytes
FROM documents
GROUP BY 1
""",
    tags=("multimodal", "sink"),
)
def mm_modality_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM3: magic-byte modality routing — the ingest fan-out of a mixed
    media lake: sniff each opaque binary payload's leading bytes
    (JPEG FF D8 FF / PNG 89 'PNG' / WAV 'RIFF'), tag its MIME type, and
    write a modality-partitioned store that downstream per-modality
    decoders (V5/MM2) prune statically. The sniff is hex(substring) over
    BINARY — pure JVM codegen, no UDF: routing 100 TB of blobs costs one
    scan plus the partitioned write, and unknown magics would land in an
    'unknown' partition instead of failing the job. Payload magics here
    are synthesized deterministically (doc_id mod 3) since the corpus is
    text; the sniffing and routing plumbing is the real thing."""
    import os

    import pyspark.sql.functions as F

    from test_dataengineer2026_spark.sources import io as sio
    from test_dataengineer2026_spark.staging import staged_dir

    d = attach_binary(tables.load(spark, sf_dir, "documents"))
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(bytes([0xFF, 0xD8, 0xFF])))
        .when(F.col("doc_id") % 3 == 1, F.lit(b"\x89PNG"))
        .otherwise(F.lit(b"RIFF"))
    )
    payloads = d.select(
        "doc_id", F.concat(magic, F.col("content")).alias("payload")
    )
    head = F.hex(F.substring("payload", 1, 4))
    sniffed = payloads.select(
        "doc_id",
        "payload",
        F.when(head.startswith("FFD8FF"), F.lit("image/jpeg"))
        .when(head == F.lit("89504E47"), F.lit("image/png"))
        .when(head == F.lit("52494646"), F.lit("audio/wav"))
        .otherwise(F.lit("unknown"))
        .alias("modality"),
    )
    out = os.path.join(staged_dir(sf_dir, "sink_stage"), "modality_store")
    sio.sink_parquet(sniffed, out, partition_by=["modality"])
    # writer-side schema so an empty corpus routes to an empty frame
    # instead of an UNABLE_TO_INFER_SCHEMA crash (see scan_parquet)
    back = sio.scan_parquet(spark, out, schema=sniffed.schema)
    return back.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_payloads"),
        F.sum(F.length("payload")).cast("long").alias("total_bytes"),
    )


@register(
    "MM6_perceptual_hash",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         3 + doc_id % 6 AS width,
         2 + doc_id % 5 AS height
  FROM documents
), grid AS (
  SELECT d.doc_id, d.width, d.height,
         gy.gy * 8 + gx.gx AS idx,
         (d.doc_id + 31 * ((gy.gy * d.height) // 8)
                   + 7 * ((gx.gx * d.width) // 8)) % 256 AS v
  FROM dims d,
       unnest(generate_series(0, 7)) AS gx(gx),
       unnest(generate_series(0, 7)) AS gy(gy)
), tot AS (
  SELECT doc_id, SUM(v) AS total FROM grid GROUP BY doc_id
), bits AS (
  SELECT g.doc_id, g.width, g.height,
         SUM(CASE WHEN 64 * g.v > t.total
                  THEN 1::HUGEINT << g.idx ELSE 0::HUGEINT END) AS s
  FROM grid g JOIN tot t USING (doc_id)
  GROUP BY 1, 2, 3
)
SELECT doc_id,
       CAST(width AS INTEGER) AS width,
       CAST(height AS INTEGER) AS height,
       CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                 THEN s - 18446744073709551616::HUGEINT
                 ELSE s END AS BIGINT) AS ahash
FROM bits
""",
    tags=("multimodal", "mapInPandas", "decode", "neardup"),
)
def mm_perceptual_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM6: perceptual average-hash over REAL decoded pixels (MM4's
    decode feeding an image near-dup key). Classic aHash: downsample to
    a fixed 8x8 grid (nearest-neighbour, exact integer sampling), then
    threshold each cell against the grid mean — always exactly 64 bits
    regardless of image size. The oracle recomputes every bit from the
    closed pixel form, so the decode + downsample + thresholding path
    is verified bit-for-bit; the hash is the equi-join key that
    replaces pairwise image comparison at 100 TB (same banding
    discipline as D2/D5). Map-only plan: synthesize -> decode+hash,
    zero exchanges."""
    from test_dataengineer2026_spark.multimodal.binary_ops import (
        decode_png_ahash,
    )

    d = tables.load(spark, sf_dir, "documents")
    return decode_png_ahash(synthesize_png(d))


@register(
    "MM7_audio_frame_features",
    oracle="""
WITH dims AS (
  SELECT doc_id, 20 + doc_id % 30 AS n_samples FROM documents
), smp AS (
  SELECT d.doc_id, i.i AS i,
         (d.doc_id * 31 + i.i * 17) % 65536 - 32768 AS v
  FROM dims d, unnest(generate_series(0, d.n_samples - 1)) AS i(i)
), paired AS (
  SELECT doc_id, i, v,
         LEAD(v) OVER (PARTITION BY doc_id ORDER BY i) AS v_next,
         CAST(i // 16 AS INTEGER) AS frame_idx,
         (i + 1) // 16 AS next_frame
  FROM smp
)
SELECT doc_id, frame_idx,
       CAST(COUNT(*) AS INTEGER) AS n_samples,
       CAST(SUM(v * v) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN next_frame = frame_idx AND v * v_next < 0
                     THEN 1 ELSE 0 END) AS INTEGER) AS n_zero_crossings
FROM paired
GROUP BY 1, 2
""",
    tags=("multimodal", "mapInPandas", "decode", "audio"),
)
def mm_audio_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM7: windowed audio features over MM5's real PCM16 decode — per
    16-sample frame, exact-integer signal energy (sum of squares) and
    zero-crossing count (adjacent within-frame sign flips), the
    standard cheap voicing/noisiness front-end of an audio curation
    pipeline. Feature math is vectorized numpy inside the same Arrow
    batch pass as the RIFF decode; the oracle recomputes every sample
    from the closed form and re-derives both features relationally, so
    decoder AND featurizer verify bit-for-bit. Map-only plan: zero
    exchanges; at 100 TB this runs decoder-parallel on executors."""
    from test_dataengineer2026_spark.multimodal.binary_ops import (
        decode_wav_frame_features,
    )

    d = tables.load(spark, sf_dir, "documents")
    return decode_wav_frame_features(synthesize_wav(d))


# MM8 Hamming-LSH over the MM6 perceptual hash.
_MM8_BANDS = 4  # 4 x 16-bit bands over the 64-bit aHash
_MM8_BAND_DF_CAP = 16  # band buckets larger than this are degenerate, dropped
_MM8_MAX_HAMMING = 2  # verified pair threshold (bits differing out of 64)


@register(
    "MM8_image_neardup_bands",
    oracle=f"""
WITH dims AS (
  SELECT doc_id, 3 + doc_id % 6 AS width, 2 + doc_id % 5 AS height
  FROM documents
), grid AS (
  SELECT d.doc_id, gy.gy * 8 + gx.gx AS idx,
         (d.doc_id + 31 * ((gy.gy * d.height) // 8)
                   + 7 * ((gx.gx * d.width) // 8)) % 256 AS v
  FROM dims d,
       unnest(generate_series(0, 7)) AS gx(gx),
       unnest(generate_series(0, 7)) AS gy(gy)
), tot AS (
  SELECT doc_id, SUM(v) AS total FROM grid GROUP BY doc_id
), bits AS (
  SELECT g.doc_id,
         SUM(CASE WHEN 64 * g.v > t.total
                  THEN 1::HUGEINT << g.idx ELSE 0::HUGEINT END) AS s
  FROM grid g JOIN tot t USING (doc_id)
  GROUP BY 1
), ah AS (
  SELECT doc_id,
         CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                   THEN s - 18446744073709551616::HUGEINT
                   ELSE s END AS BIGINT) AS ahash
  FROM bits
), bands AS (
  SELECT doc_id, ahash, b.b AS band_idx,
         (ahash >> (b.b * 16)) & 65535 AS band_val
  FROM ah, unnest(generate_series(0, {_MM8_BANDS - 1})) AS b(b)
), keepb AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING COUNT(*) <= {_MM8_BAND_DF_CAP}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.ahash AS ha,
                  b.doc_id AS doc_b, b.ahash AS hb
  FROM bands a
  JOIN keepb USING (band_idx, band_val)
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb)) <= {_MM8_MAX_HAMMING}
""",
    tags=("multimodal", "neardup", "lsh", "mapInPandas"),
)
def mm_image_neardup_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM8: perceptual image near-dup pairs via Hamming-distance LSH
    over MM6's 64-bit aHash — the multimodal completion of the D2
    banding discipline: two hashes within Hamming distance r agree on
    at least one of the {_MM8_BANDS} 16-bit bands whenever r <
    {_MM8_BANDS}, so banding finds every pair at the verification
    threshold ({_MM8_MAX_HAMMING} bits) with zero recall loss EXCEPT
    inside dropped degenerate buckets.

    The band df-cap (> {_MM8_BAND_DF_CAP} docs sharing a band value)
    is the image analogue of D10's boilerplate-span cap: synthetic and
    real corpora alike concentrate mass in a few low-entropy band
    values (all-sky, all-black frames); capping them bounds the
    candidate fan-out per join key, which is what makes the plan
    survive 100 TB — candidate generation stays an equi-join on
    (band_idx, band_val), the verify step touches only candidates,
    and full images never reach the join (64-bit hashes only).
    Decode+hash runs once, map-only, in Arrow-batched mapInPandas.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    from test_dataengineer2026_spark.multimodal.binary_ops import (  # noqa: PLC0415
        decode_png_ahash,
    )

    d = tables.load(spark, sf_dir, "documents")
    # Decode+hash once; the cached table is 2 longs per image and feeds
    # both sides of the band self-join (at 100 TB this is a materialized
    # fingerprint table, not a cache).
    ah = decode_png_ahash(synthesize_png(d)).select("doc_id", "ahash").cache()
    b = spark.range(_MM8_BANDS).select(F.col("id").cast("int").alias("band_idx"))
    bands = ah.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "ahash",
        "band_idx",
        F.expr("shiftright(ahash, band_idx * 16) & 65535").alias("band_val"),
    )
    keepb = (
        bands.groupBy("band_idx", "band_val")
        .count()
        .filter(F.col("count") <= _MM8_BAND_DF_CAP)
        .select("band_idx", "band_val")
    )
    left = bands.join(keepb, ["band_idx", "band_val"]).select(
        "band_idx", "band_val",
        F.col("doc_id").alias("doc_a"), F.col("ahash").alias("ha"),
    )
    right = bands.select(
        "band_idx", "band_val",
        F.col("doc_id").alias("doc_b"), F.col("ahash").alias("hb"),
    )
    cand = (
        left.join(right, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "ha", "doc_b", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return cand.select(
        "doc_a", "doc_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= _MM8_MAX_HAMMING)


@register(
    "MM9_corrupt_quarantine",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 7 = 0 THEN 'corrupt'
            WHEN doc_id % 7 = 1 THEN 'bad_signature'
            ELSE 'ok' END AS status,
       CASE WHEN doc_id % 7 IN (0, 1) THEN NULL
            ELSE CAST(3 + doc_id % 6 AS INTEGER) END AS width,
       CASE WHEN doc_id % 7 IN (0, 1) THEN NULL
            ELSE CAST(2 + doc_id % 5 AS INTEGER) END AS height
FROM documents
""",
    tags=("multimodal", "mapInPandas", "decode", "quarantine"),
)
def mm_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MM9: corrupt-payload quarantine — the failure path MM4's decode
    deliberately does NOT have (it raises loudly). Deterministic fault
    injection over the real synthesized PNGs: every 7th payload is
    truncated to 20 bytes (valid signature, unreadable body), every
    7th+1 gets its first magic byte zeroed; the total decoder
    classifies each row (bad_signature / corrupt / ok + true dims)
    instead of throwing. The oracle states the closed form of the
    injection, so the test proves BOTH that the decoder really fails
    on the damaged bytes AND that it still returns exact dimensions
    for every intact payload. At 100 TB this is the badRecordsPath
    discipline as a first-class relational output: quarantined rows
    stay in-band, filterable, countable, and re-processable — a
    corrupt shard costs its rows, never the job."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from test_dataengineer2026_spark.multimodal.binary_ops import (  # noqa: PLC0415
        decode_png_status,
    )

    d = tables.load(spark, sf_dir, "documents")
    damaged = synthesize_png(d).select(
        "doc_id",
        F.expr(
            """CASE WHEN doc_id % 7 = 0 THEN substring(payload, 1, 20)
                    WHEN doc_id % 7 = 1
                      THEN concat(X'00', substring(payload, 2, length(payload) - 1))
                    ELSE payload END"""
        ).alias("payload"),
    )
    return decode_png_status(damaged)
