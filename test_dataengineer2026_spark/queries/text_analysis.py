"""Text-analysis operators (F12 + north-star surface: language ID,
quality scoring, token counting, fingerprinting, TF-IDF).

Reference basis: repo:BASELINE.json:6 "text analysis"; the documents
table carries a lang ground-truth column (repo:FIXTURES.md §1.2); the
spec's company/name normalization implies string analytics (TEST.md:32).

All pipelines are pure JVM SQL expressions (split / higher-order array
functions / window), never per-row Python — at 100 TB the tokenizer IS
the scan loop, so it must stay inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from test_dataengineer2026_spark import tables
from test_dataengineer2026_spark.functions.text import tokens
from test_dataengineer2026_spark.registry import register

# Tiny per-language stopword profiles (public-knowledge function words).
STOPWORDS = {
    "en": ("the", "a", "of", "and", "is", "to"),
    "es": ("el", "la", "de", "y", "es", "que"),
    "de": ("der", "die", "das", "und", "ist", "zu"),
    "fr": ("le", "la", "de", "et", "est", "que"),
    "zh": ("de", "shi", "he", "zai", "le", "you"),
}
LANGS = tuple(STOPWORDS)  # fixed priority order for deterministic ties


@register(
    "T1_token_count",
    oracle=r"""
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
  CAST(length(text) AS BIGINT) AS n_chars_measured,
  n_chars AS n_chars_declared,
  length(text) = n_chars AS chars_consistent
FROM documents
""",
    tags=("text",),
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T: token counting — whitespace tokens and a regex token pattern
    (the BPE-ish pre-tokenizer shape), plus a QA cross-check against the
    declared n_chars column (TEST.md:119 'does it extract correctly')."""
    d = tables.load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).cast("long").alias(
            "n_word_tokens"
        ),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.col("n_chars").alias("n_chars_declared"),
        (F.length("text") == F.col("n_chars")).alias("chars_consistent"),
    )


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"CAST(len(list_intersect(list_distinct(string_split(text, ' ')), [{words}])) AS INTEGER)"
    )


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN s_{lang} >= greatest({', '.join('s_' + o for o in LANGS if o != lang)}) THEN '{lang}'"
        for lang in LANGS
    )
    + " END"
)


@register(
    "T2_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_score_sql(lang)} AS s_{lang}" for lang in LANGS)}
  FROM documents
)
SELECT doc_id, lang AS lang_truth,
       {_LANG_CASE} AS lang_pred,
       s_en, s_es,
       ({_LANG_CASE}) = lang AS is_correct
FROM scored
""",
    tags=("text", "langid"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T: language ID via stopword-profile overlap — score per language =
    |distinct tokens ∩ stopword set|, argmax with a fixed priority order
    for deterministic ties. (The harness corpus is same-vocab word soup,
    so this mostly demonstrates the pipeline + accuracy reporting.)"""
    d = tables.load(spark, sf_dir, "documents")
    toks = F.array_distinct(tokens("text"))
    scores = {
        lang: F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS[lang]]))
        ).alias(f"s_{lang}")
        for lang in LANGS
    }
    scored = d.select("doc_id", "lang", *scores.values())
    pred = None
    for lang in LANGS:
        others = [F.col(f"s_{o}") for o in LANGS if o != lang]
        cond = F.col(f"s_{lang}") >= F.greatest(*others)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return scored.select(
        "doc_id",
        F.col("lang").alias("lang_truth"),
        pred.alias("lang_pred"),
        "s_en",
        "s_es",
        (pred == F.col("lang")).alias("is_correct"),
    )


@register(
    "T3_quality_score",
    oracle="""
WITH t AS (
  SELECT doc_id, text,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
         CAST(len(list_intersect(list_distinct(string_split(text, ' ')),
                                 ['the', 'a', 'of', 'and', 'is', 'to'])) AS BIGINT) AS n_stop
  FROM documents
)
SELECT doc_id, n_tokens,
       CAST(length(text) - (n_tokens - 1) AS DOUBLE) / n_tokens AS avg_token_len,
       CAST(n_unique AS DOUBLE) / n_tokens AS unique_ratio,
       CAST(n_stop AS DOUBLE) / 6 AS stopword_coverage,
       n_tokens BETWEEN 50 AND 1000
         AND CAST(n_unique AS DOUBLE) / n_tokens > 0.02 AS passes_quality
FROM t
""",
    tags=("text", "quality"),
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T: document quality signals — length band, mean token length,
    type-token ratio, stopword coverage — the standard pretraining-corpus
    filter features; each an integer ratio (single fp divide)."""
    d = tables.load(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    toks_d = F.array_distinct(tok)
    n_tokens = F.size(tok).cast("long")
    n_unique = F.size(toks_d).cast("long")
    n_stop = F.size(
        F.array_intersect(toks_d, F.array(*[F.lit(w) for w in STOPWORDS["en"]]))
    ).cast("long")
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (
            (F.length("text") - (n_tokens - 1)).cast("double") / n_tokens
        ).alias("avg_token_len"),
        (n_unique.cast("double") / n_tokens).alias("unique_ratio"),
        (n_stop.cast("double") / 6).alias("stopword_coverage"),
        (
            n_tokens.between(50, 1000) & (n_unique.cast("double") / n_tokens > 0.02)
        ).alias("passes_quality"),
    )


@register(
    "T4_fingerprint",
    oracle="""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS vocab_fingerprint,
       md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS prefix_fingerprint
FROM documents
""",
    tags=("text", "fingerprint"),
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T: document fingerprints — canonical vocabulary fingerprint
    (sorted distinct tokens) and a positional prefix fingerprint; both
    portable md5 so clustering on them is engine-independent."""
    d = tables.load(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(tok)), " ")).alias(
            "vocab_fingerprint"
        ),
        F.md5(F.concat_ws(" ", F.slice(tok, 1, 8))).alias("prefix_fingerprint"),
    )


@register(
    "T5_tfidf_top_term",
    oracle="""
WITH tf AS (
  SELECT doc_id, t.tok AS term, COUNT(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(tok)
  GROUP BY doc_id, t.tok
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * round(ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tfidf,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term AS top_term, tfidf AS top_tfidf
FROM ranked WHERE rk = 1
""",
    tags=("text", "tfidf"),
)
def tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T: TF-IDF — term frequency per doc (explode+count), document
    frequency per term, idf = ln(N/df) (rounded: libm), top term per doc.

    df comes from a COUNT window over the tf table partitioned by
    ``term``, not from a groupBy+self-join: the join formulation scans
    and explodes the corpus twice (no exchange reuse across the two
    differently-projected branches) and pays two extra exchanges to
    align on ``term`` (r18 before-plan: 2 scans, 2 Generates, 4
    Exchanges). The window reuses the single tf pass and adds exactly
    one exchange on ``term`` (guide §2.4: two operations keyed the same
    way share one exchange). Same values: count(*) over (partition by
    term) == the joined df. At 100 TB the window shuffles the same
    bytes the join's left side shuffled — one fewer full pass either
    way. Only the 1-row doc count is broadcast.
    """
    d = tables.load(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    wt = W.partitionBy("term")
    scored = (
        tf.withColumn("df", F.count(F.lit(1)).over(wt))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.round(F.log(F.col("n_docs").cast("double") / F.col("df")), 6)
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("term").alias("top_term"), F.col("tfidf").alias("top_tfidf"))
    )


@register(
    "C1_corpus_curation",
    oracle="""
WITH t AS (
  SELECT doc_id, source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_unique,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
), k AS (
  SELECT source,
         rn = 1 AND lang = 'en'
           AND n_tokens BETWEEN 50 AND 1000
           AND CAST(n_unique AS DOUBLE) / n_tokens > 0.02 AS kept,
         n_tokens
  FROM t
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS kept_ratio
FROM k GROUP BY source
""",
    tags=("text", "pipeline", "curation"),
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1: the end-to-end training-corpus curation pipeline — exact
    dedup (keep lowest doc_id per content hash, W5's pattern), language
    gate, and the T3 quality band (token count + type-token ratio),
    reported as per-source survival stats. This is the composition the
    individual operators exist for; at 100 TB it is one scan, one
    window shuffle on the 16-byte content hash, and one partial+final
    aggregation — document text never shuffles."""
    d = tables.load(spark, sf_dir, "documents")
    tok = F.split("text", " ")
    n_tokens = F.size(tok).cast("long")
    n_unique = F.size(F.array_distinct(tok)).cast("long")
    rn = F.row_number().over(
        W.partitionBy(F.md5("text")).orderBy("doc_id")
    )
    t = d.select(
        "source",
        "lang",
        n_tokens.alias("n_tokens"),
        n_unique.alias("n_unique"),
        rn.alias("rn"),
    )
    kept = (
        (F.col("rn") == 1)
        & (F.col("lang") == "en")
        & F.col("n_tokens").between(50, 1000)
        & (F.col("n_unique").cast("double") / F.col("n_tokens") > 0.02)
    )
    k = t.select("source", kept.alias("kept"), "n_tokens")
    return k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("n_tokens")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("kept_tokens"),
        (
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("kept_ratio"),
    )


@register(
    "T7_repetition_signals",
    oracle="""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT doc_id, 2 AS n,
         unnest(list_transform(generate_series(1, len(t)-1),
                               i -> t[i] || ' ' || t[i+1])) AS gram
  FROM toks
  UNION ALL
  SELECT doc_id, 3,
         unnest(list_transform(generate_series(1, len(t)-2),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
  FROM toks
),
cnt AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM g GROUP BY doc_id, n, gram),
per AS (
  SELECT doc_id, n, MAX(c) AS top_c, SUM(c) AS total,
         SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM cnt GROUP BY doc_id, n
)
SELECT doc_id,
       MAX(CASE WHEN n = 2 THEN CAST(top_c AS DOUBLE) / total END) AS top_bigram_frac,
       MAX(CASE WHEN n = 2 THEN CAST(dup AS DOUBLE) / total END) AS dup_bigram_frac,
       MAX(CASE WHEN n = 3 THEN CAST(top_c AS DOUBLE) / total END) AS top_trigram_frac,
       MAX(CASE WHEN n = 3 THEN CAST(dup AS DOUBLE) / total END) AS dup_trigram_frac
FROM per GROUP BY doc_id
""",
    tags=("text", "quality", "repetition"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: Gopher-style repetition filters (Rae et al. 2021 §A1.1): per
    document, the fraction of n-gram positions covered by the single
    most-common n-gram and by any duplicated n-gram, for n = 2 and 3.
    High values flag boilerplate / machine-generated repetition that the
    T3 length-band filter misses. Formulated like T5's TF pass — explode
    n-grams, count per (doc, n, gram), re-aggregate per doc — so the
    heavy table is (doc_id, gram, count), never raw text; every count is
    an integer and each fraction is a single final division."""
    d = tables.load(spark, sf_dir, "documents")

    def grams(n: int):
        parts = " || ' ' || ".join(f"element_at(t, i + {j})" for j in range(n))
        return F.expr(
            f"CASE WHEN size(t) >= {n} THEN "
            f"transform(sequence(1, size(t) - {n - 1}), i -> {parts}) "
            f"ELSE array() END"
        )

    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    g = None
    for n in (2, 3):
        part = toks.select(
            "doc_id", F.lit(n).alias("n"), F.explode(grams(n)).alias("gram")
        )
        g = part if g is None else g.unionByName(part)
    cnt = g.groupBy("doc_id", "n", "gram").agg(F.count(F.lit(1)).alias("c"))
    per = cnt.groupBy("doc_id", "n").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )

    def frac(n: int, num: str):
        return F.max(
            F.when(F.col("n") == n, F.col(num).cast("double") / F.col("total"))
        )

    return per.groupBy("doc_id").agg(
        frac(2, "top_c").alias("top_bigram_frac"),
        frac(2, "dup").alias("dup_bigram_frac"),
        frac(3, "top_c").alias("top_trigram_frac"),
        frac(3, "dup").alias("dup_trigram_frac"),
    )


# Winnowing parameters: k-char grams, window of w consecutive gram hashes.
WINNOW_K = 6
WINNOW_W = 8


@register(
    "T6_winnowing_fingerprint",
    oracle=f"""
WITH h AS (
  SELECT doc_id,
         list_transform(generate_series(1, length(text) - {WINNOW_K - 1}),
                        i -> ('0x' || substr(md5(substr(text, i, {WINNOW_K})), 1, 6))::INTEGER) AS hs
  FROM documents
  WHERE length(text) >= {WINNOW_K + WINNOW_W - 1}
), fp AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - {WINNOW_W - 1}),
                                      j -> list_min(hs[j:j+{WINNOW_W - 1}]))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM fp
""",
    tags=("text", "fingerprint", "winnowing"),
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: winnowing document fingerprints (Schleimer/Wilkerson/Aiken's
    local-minima scheme, the rolling-hash fingerprint family): hash
    every k-char gram, keep the minimum hash of each w-hash window,
    dedupe. Guarantees any shared substring of length >= k+w-1 yields a
    shared fingerprint, with ~2/(w+1) selection density — the
    plagiarism/near-dup fingerprint whose output is a tiny fraction of
    the text. Pure codegen higher-order expressions; at 100 TB the
    fingerprint table joins on (fingerprint) to find overlapping docs,
    exactly like the D2/D3 posting-list pattern.

    The scan is hash-redistributed first (tables.widen_if_narrow): one md5
    per character position is the heaviest per-row compute in the text
    family, and a small single-file scan would pin it all to one task —
    the same rationale as D2's shingle pass. r18 measured: 4.6 s on 1
    task -> 0.74 s warm at sf0.1."""
    d = tables.widen_if_narrow(tables.load(spark, sf_dir, "documents"), "doc_id")
    hs = F.expr(
        f"transform(sequence(1, length(text) - {WINNOW_K - 1}), "
        f"i -> cast(conv(substr(md5(substr(text, i, {WINNOW_K})), 1, 6), 16, 10) as int))"
    )
    eligible = d.filter(F.length("text") >= WINNOW_K + WINNOW_W - 1).select(
        "doc_id", hs.alias("hs")
    )
    fps = F.array_distinct(
        F.expr(
            f"transform(sequence(1, size(hs) - {WINNOW_W - 1}), "
            f"j -> array_min(slice(hs, j, {WINNOW_W})))"
        )
    )
    return eligible.select("doc_id", F.explode(fps).alias("fingerprint"))


# T8: PII patterns (emails, phone numbers, IPv4) — the pre-training
# privacy scrub. The synthetic corpus carries no PII, so the query
# plants deterministic PII derived from doc_id IN BOTH ENGINES and then
# proves the scrub removes exactly what it should.
EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
IP_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9][0-9-]{6,}[0-9]"

_PII_SQL = (
    "text || ' Contact u' || CAST(doc_id AS VARCHAR) || '@mail.example "
    "or call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' "
    "|| CAST(doc_id % 100 AS VARCHAR)"
)


@register(
    "T8_pii_redaction",
    oracle=f"""
WITH pii AS (SELECT doc_id, {_PII_SQL} AS raw FROM documents)
SELECT doc_id,
  CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(raw, '{IP_RE}')) AS BIGINT) AS n_ips,
  CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(raw,
      '{EMAIL_RE}', '[EMAIL]', 'g'),
      '{IP_RE}', '[IP]', 'g'),
      '{PHONE_RE}', '[PHONE]', 'g') AS redacted
FROM pii
""",
    tags=("text", "pii"),
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: PII redaction — regex scrub of emails, IPv4 addresses and
    phone numbers with per-class counts (the audit trail a privacy
    pipeline must emit). Order matters: emails first (their domains can
    contain digit runs), then IPs, then phones, so one class's
    replacement token is never half-eaten by the next pattern. Pure
    codegen scalar work: zero exchanges, text never leaves its scan
    partition; at 100 TB this runs at scan speed like every T-family
    op."""
    d = tables.load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" Contact u"), F.col("doc_id").cast("string"),
        F.lit("@mail.example or call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "[EMAIL]"), IP_RE, "[IP]"
        ),
        PHONE_RE,
        "[PHONE]",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(IP_RE), 0)).cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


@register(
    "T9_text_normalization",
    oracle="""
WITH messy AS (
  SELECT doc_id,
         '  <<' || upper(substr(text, 1, 16)) || '>>!!!  ' || text || '   The  End...  ' AS m
  FROM documents
)
SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(m), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm_text,
  md5(trim(regexp_replace(regexp_replace(lower(m), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_fp,
  CAST(length(trim(regexp_replace(regexp_replace(lower(m), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
FROM messy
""",
    tags=("text", "normalize"),
)
def text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T9: canonical text normalization — lowercase, strip punctuation
    and symbols to spaces, collapse whitespace, trim — plus the md5
    fingerprint of the canonical form (the key D1 exact-dedup should
    hash AFTER normalization so trivial formatting differences stop
    defeating it). The query manufactures messy input (case, brackets,
    punctuation, ragged spacing) from the clean corpus in both engines,
    so the oracle proves the normalizer actually earns its keep.
    Scalar codegen only — scan-speed at any scale."""
    d = tables.load(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit("  <<"), F.upper(F.substring("text", 1, 16)), F.lit(">>!!!  "),
        F.col("text"), F.lit("   The  End...  "),
    )
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(messy), "[^a-z0-9 ]", " "), " +", " ")
    )
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_fp"),
        F.length(norm).cast("long").alias("norm_len"),
    )


# T10: fixed classifier weights (a fasttext-style linear quality filter
# stand-in — in production these come from a trained model; frozen
# literals keep the gate deterministic and oracle-checkable).
T10_W = {"bias": -1.0, "len": 1.5, "ttr": 2.0, "wordlen": 0.5, "stop": -3.0}
T10_STOPWORDS = ("the", "a", "of", "and", "to")


@register(
    "T10_quality_classifier",
    oracle=f"""
WITH feats AS (
  SELECT doc_id,
         least(len(string_split(text, ' ')) / 100.0, 1.0) AS f_len,
         len(list_distinct(string_split(text, ' '))) * 1.0
           / len(string_split(text, ' ')) AS f_ttr,
         length(replace(text, ' ', '')) * 1.0
           / (len(string_split(text, ' ')) * 10.0) AS f_wordlen,
         len(list_filter(string_split(text, ' '),
             t -> list_contains({list(T10_STOPWORDS)}, t))) * 1.0
           / len(string_split(text, ' ')) AS f_stop
  FROM documents
)
SELECT doc_id,
       round(f_len, 6) AS f_len, round(f_ttr, 6) AS f_ttr,
       round(f_wordlen, 6) AS f_wordlen, round(f_stop, 6) AS f_stop,
       round(1.0 / (1.0 + exp(-({T10_W['bias']} + {T10_W['len']} * f_len
             + {T10_W['ttr']} * f_ttr + {T10_W['wordlen']} * f_wordlen
             + {T10_W['stop']} * f_stop))), 6) AS quality,
       round(1.0 / (1.0 + exp(-({T10_W['bias']} + {T10_W['len']} * f_len
             + {T10_W['ttr']} * f_ttr + {T10_W['wordlen']} * f_wordlen
             + {T10_W['stop']} * f_stop))), 6) >= 0.5 AS keep
FROM feats
""",
    tags=("text", "quality", "classifier"),
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: linear quality classifier — four interpretable features
    (capped length, type-token ratio, mean word length, stopword
    fraction) through a frozen-weight logistic gate, the fasttext-style
    keep/drop filter every pretraining corpus passes through. All
    higher-order array functions, zero UDFs, zero exchanges: the
    classifier runs at scan speed and the keep flag is ready for a
    partitioned sink."""
    d = tables.load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    nw = F.size(toks).cast("double")
    f_len = F.least(nw / 100.0, F.lit(1.0))
    f_ttr = F.size(F.array_distinct(toks)).cast("double") / nw
    f_wordlen = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "double"
    ) / (nw * 10.0)
    stops = F.array(*[F.lit(s) for s in T10_STOPWORDS])
    f_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t))).cast(
        "double"
    ) / nw
    z = (
        F.lit(T10_W["bias"])
        + F.lit(T10_W["len"]) * f_len
        + F.lit(T10_W["ttr"]) * f_ttr
        + F.lit(T10_W["wordlen"]) * f_wordlen
        + F.lit(T10_W["stop"]) * f_stop
    )
    quality = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "doc_id",
        F.round(f_len, 6).alias("f_len"),
        F.round(f_ttr, 6).alias("f_ttr"),
        F.round(f_wordlen, 6).alias("f_wordlen"),
        F.round(f_stop, 6).alias("f_stop"),
        quality.alias("quality"),
        (quality >= 0.5).alias("keep"),
    )


#: T11: docs whose mean per-token surprisal exceeds this (micro-nats)
#: are "surprising" under the corpus unigram LM — the KenLM-style
#: perplexity gate. ~e^3.4 = 30 perplexity on this ~30-word vocabulary.
T11_SURPRISAL_GATE = 3_400_000


@register(
    "T11_unigram_surprisal",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
), uni AS (
  SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t
), total AS (
  SELECT SUM(cnt) AS n FROM uni
), scored AS (
  SELECT tok.doc_id,
         CAST(floor(-ln(uni.cnt * 1.0 / total.n) * 1000000.0) AS BIGINT) AS s_micro
  FROM tok JOIN uni USING (t) CROSS JOIN total
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(s_micro) AS BIGINT) AS surprisal_micro_total,
       round(SUM(s_micro) * 1.0 / COUNT(*) / 1000000.0, 6) AS avg_surprisal_nats,
       SUM(s_micro) * 1.0 / COUNT(*) > {T11_SURPRISAL_GATE} AS too_surprising
FROM scored
GROUP BY doc_id
""",
    tags=("text", "lm", "perplexity"),
)
def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: unigram-LM surprisal filter (the KenLM perplexity gate of
    CCNet/Gopher, collapsed to its order-0 core): pass 1 builds the
    corpus unigram table, pass 2 scores each document by mean -ln p(t).
    Per-token surprisal is floor-quantized to integer micro-nats so the
    per-doc sum is exact BIGINT arithmetic (order-independent across
    engines); only the final mean divides. At 100 TB the unigram table
    is vocabulary-sized — joined on token WITHOUT a broadcast hint (the
    T5 lesson: vocabularies are unbounded; AQE may still choose to
    broadcast a small one) and the 1-row total IS broadcast."""
    d = tables.load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("cnt"))
    total = uni.agg(F.sum("cnt").alias("n"))
    s_micro = (
        F.floor(-F.log(F.col("cnt").cast("double") / F.col("n")) * 1_000_000.0)
        .cast("long")
    )
    scored = tok.join(uni, "t").crossJoin(F.broadcast(total)).select(
        "doc_id", s_micro.alias("s_micro")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("s_micro").cast("long").alias("surprisal_micro_total"),
        F.round(
            F.sum("s_micro").cast("double") / F.count(F.lit(1)) / 1_000_000.0, 6
        ).alias("avg_surprisal_nats"),
        # double comparison on both sides: DuckDB CAST(double AS BIGINT)
        # rounds while Spark truncates, so never integer-cast this mean
        (
            F.sum("s_micro").cast("double") / F.count(F.lit(1))
            > F.lit(float(T11_SURPRISAL_GATE))
        ).alias("too_surprising"),
    )


@register(
    "T12_bpe_pair_stats",
    oracle="""
WITH words AS (
  SELECT w FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
  ) WHERE length(w) >= 2
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                               i -> substr(w, i, 2))) AS pair
  FROM words
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
""",
    tags=("text", "tokenizer", "topk"),
)
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: byte-pair frequency statistics — the inner loop of BPE
    tokenizer training. One corpus pass counts every adjacent character
    pair inside every whitespace word; the top pair is what a BPE
    trainer would merge next (iterating = re-running this count over the
    re-segmented corpus, each round a full relational pass — the
    map-reduce formulation of tokenizer training).

    The pair explosion is a codegen higher-order function (sequence +
    transform + explode — fan-out = characters per doc, linear), counts
    combine map-side before the single pair-key shuffle, and the top-30
    is TakeOrderedAndProject with the pair string as total-order
    tiebreak. Words shorter than 2 chars are filtered BEFORE the
    sequence call (Spark's sequence(1, 0) auto-steps backwards rather
    than returning empty — the T7 gotcha).
    """
    d = tables.load(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


@register(
    "T13_bigram_surprisal",
    oracle="""
WITH tl AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), tok AS (
  SELECT doc_id, toks[g.i] AS t, g.i AS pos
  FROM tl, unnest(generate_series(1, len(toks))) AS g(i)
), bg AS (
  SELECT doc_id,
         lag(t) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
         t AS w2
  FROM tok
), pairs AS (
  SELECT doc_id, w1, w2 FROM bg WHERE w1 IS NOT NULL
), c2 AS (
  SELECT w1, w2, COUNT(*) AS cnt2 FROM pairs GROUP BY w1, w2
), c1 AS (
  SELECT w1, COUNT(*) AS cnt1 FROM pairs GROUP BY w1
), scored AS (
  SELECT p.doc_id,
         CAST(floor(-ln(c2.cnt2 * 1.0 / c1.cnt1) * 1000000.0) AS BIGINT) AS s_micro
  FROM pairs p JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(s_micro) AS BIGINT) AS surprisal_micro_total,
       round(SUM(s_micro) * 1.0 / COUNT(*) / 1000000.0, 6) AS avg_surprisal_nats
FROM scored
GROUP BY doc_id
""",
    tags=("text", "lm", "perplexity"),
)
def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: bigram conditional surprisal — T11's unigram gate upgraded
    one LM order: each token is scored by -ln p(w2 | w1) with
    p = c(w1,w2) / c(w1,·), both counts from the corpus itself. Same
    determinism contract as T11 (floor-quantized micro-nats, exact
    BIGINT sums, one final rounded division). Shape at 100 TB: bigrams
    come from a doc-partitioned window (no self-join of the token
    table), the two count tables are vocabulary²- and vocabulary-sized
    equi-joins on the bigram key — no broadcast of unbounded state, the
    same posture the T5 fix established."""
    from pyspark.sql import Window as W

    d = tables.load(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "t")
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    pairs = (
        tok.select("doc_id", F.lag("t").over(w).alias("w1"), F.col("t").alias("w2"))
        .filter(F.col("w1").isNotNull())
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt2"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cnt1"))
    s_micro = (
        F.floor(
            -F.log(F.col("cnt2").cast("double") / F.col("cnt1")) * 1_000_000.0
        ).cast("long")
    )
    scored = (
        pairs.join(c2, ["w1", "w2"]).join(c1, "w1").select("doc_id", s_micro.alias("s_micro"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("s_micro").cast("long").alias("surprisal_micro_total"),
        F.round(
            F.sum("s_micro").cast("double") / F.count(F.lit(1)) / 1_000_000.0, 6
        ).alias("avg_surprisal_nats"),
    )


@register(
    "T14_zipf_rank",
    oracle="""
WITH tf AS (
  SELECT term, COUNT(*) AS n_occurrences
  FROM (SELECT UNNEST(string_split(text, ' ')) AS term FROM documents)
  GROUP BY term
), ranked AS (
  SELECT term, n_occurrences,
         ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) AS rank,
         SUM(n_occurrences) OVER () AS total_occ
  FROM tf
), cum AS (
  SELECT term, n_occurrences, rank, total_occ,
         SUM(n_occurrences) OVER (
           ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_occ
  FROM ranked
)
SELECT CAST(rank AS BIGINT) AS rank, term,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(rank * n_occurrences AS BIGINT) AS zipf_product,
       CAST(cum_occ AS DOUBLE) / CAST(total_occ AS DOUBLE) AS cum_share
FROM cum
WHERE rank <= 100
""",
    tags=("text", "window", "agg"),
)
def zipf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: corpus term-frequency distribution — the top-100 terms with
    frequency rank, Zipf product (rank x count, ~constant when the
    corpus follows Zipf's law) and cumulative mass share. The standard
    first diagnostic on a training corpus: a head that covers too much
    mass means boilerplate (C10's target); a distorted tail means
    tokenizer or scraping artifacts.

    Determinism: rank breaks count ties alphabetically; counts and the
    rank-ordered cumsum are exact BIGINT; the share is one final
    BIGINT/BIGINT binary64 division written identically on both
    engines.

    Scale posture: explode + count is one map-side-combined shuffle on
    term; the rank/cumsum windows are global BUT run on the vocabulary
    (post-aggregation), not the corpus — vocab is millions of rows at
    100 TB, and only the top-100 survive, so a TakeOrdered pre-cut
    could bound even that; the unpartitioned window never sees a
    data-sized input."""
    d = tables.load(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w_rank = W.orderBy(F.col("n_occurrences").desc(), F.col("term"))
    ranked = tf.select(
        "term",
        "n_occurrences",
        F.row_number().over(w_rank).alias("rank"),
        F.sum("n_occurrences").over(W.partitionBy()).alias("total_occ"),
    )
    w_cum = W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = ranked.select(
        "term",
        "n_occurrences",
        "rank",
        "total_occ",
        F.sum("n_occurrences").over(w_cum).alias("cum_occ"),
    ).filter(F.col("rank") <= 100)
    return cum.select(
        F.col("rank").cast("long").alias("rank"),
        "term",
        "n_occurrences",
        (F.col("rank") * F.col("n_occurrences")).cast("long").alias("zipf_product"),
        (F.col("cum_occ").cast("double") / F.col("total_occ").cast("double")).alias(
            "cum_share"
        ),
    )
