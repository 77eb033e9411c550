"""Text-analysis and document-dedup queries over ``documents`` — the
LLM-training-data operators (BASELINE.json north star): exact dedup,
token/quality stats, language-ID heuristic, fingerprinting, shingling.

All of it is built-in expression work (regexp/array/hash functions) that
stays inside whole-stage codegen — no Python in the hot path. At 100 TB
the only shuffle in this family is the dedup groupBy on the 128-bit
content hash.

Oracle portability notes: DuckDB ``regexp_replace`` needs the 'g' flag to
match Spark's replace-all; token extraction uses ``regexp_extract_all``
with the full-match group on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.dedup import (
    content_hash,
    duplicate_groups,
    normalize_text,
)
from lakehouse_architecture_spark.operators.caching import one_slot_persist
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.sources.tables import load_table

# DuckDB twin of operators.dedup.normalize_text
SQL_NORM = (
    "TRIM(regexp_replace(regexp_replace(LOWER(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)


def _tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(r"\S+"), 0)


@query(
    "docs_exact_dup_groups",
    oracle=f"""
SELECT md5({SQL_NORM}) AS content_hash,
       COUNT(*) AS group_size,
       MIN(doc_id) AS canonical_id
FROM documents
GROUP BY 1
""",
)
def docs_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup cluster view: every distinct normalized content hash
    with its group size and canonical (min) id."""
    docs = load_table(spark, sf_dir, "documents")
    return duplicate_groups(docs, "text", "doc_id")


@query(
    "docs_exact_dedupe_count",
    oracle=f"""
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5({SQL_NORM})) AS n_unique,
       COUNT(*) - COUNT(DISTINCT md5({SQL_NORM})) AS n_duplicates
FROM documents
""",
)
def docs_exact_dedupe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    h = content_hash(F.col("text"))
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h).alias("n_unique"),
        (F.count(F.lit(1)) - F.countDistinct(h)).alias("n_duplicates"),
    )


@query(
    "docs_token_stats",
    oracle=r"""
SELECT doc_id,
       LENGTH(text) AS n_chars_actual,
       len(regexp_extract_all(text, '\S+')) AS n_tokens,
       len(list_distinct(regexp_extract_all(text, '\S+'))) AS n_unique_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+''?[A-Za-z]*')) AS n_words
FROM documents
""",
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens plus a word-shaped (BPE-ish
    pre-tokenizer) regex count."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        F.size(_tokens(F.col("text"))).alias("n_tokens"),
        F.size(F.array_distinct(_tokens(F.col("text")))).alias("n_unique_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+'?[A-Za-z]*"), 0)
        ).alias("n_words"),
    )


_STOPWORDS = r"\b(the|a|an|and|or|of|to|in|is|it)\b"


@query(
    "docs_quality_score",
    oracle=rf"""
SELECT doc_id,
       ROUND(CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)
             / LENGTH(text), 6) AS punct_ratio,
       len(regexp_extract_all(text, '{_STOPWORDS}')) AS n_stopwords,
       ROUND(CAST(len(regexp_extract_all(text, '{_STOPWORDS}')) AS DOUBLE)
             / len(regexp_extract_all(text, '\S+')), 6) AS stopword_ratio,
       CASE WHEN LENGTH(text) >= 100
             AND len(regexp_extract_all(text, '\S+')) >= 20
            THEN 1 ELSE 0 END AS passes_length_gate
FROM documents
""",
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals: punctuation ratio, stopword ratio,
    length gate — the usual pre-training corpus filters."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_tokens = F.size(_tokens(text))
    n_stop = F.size(F.regexp_extract_all(text, F.lit(_STOPWORDS), 0))
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^A-Za-z0-9\s]"), 0))
    return docs.select(
        "doc_id",
        F.round(n_punct.cast("double") / F.length(text), 6).alias("punct_ratio"),
        n_stop.alias("n_stopwords"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stopword_ratio"),
        F.when((F.length(text) >= 100) & (n_tokens >= 20), 1)
        .otherwise(0)
        .alias("passes_length_gate"),
    )


_LANG_MARKERS = {
    "en": r"\b(the|and|of|with)\b",
    "de": r"\b(der|die|und|nicht)\b",
    "es": r"\b(el|la|los|que)\b",
    "fr": r"\b(le|les|est|une)\b",
    "zh": r"[一-鿿]",
}


@query(
    "docs_lang_id",
    oracle=rf"""
WITH scored AS (
  SELECT doc_id, lang,
         len(regexp_extract_all(LOWER(text), '{_LANG_MARKERS["en"]}')) AS s_en,
         len(regexp_extract_all(LOWER(text), '{_LANG_MARKERS["de"]}')) AS s_de,
         len(regexp_extract_all(LOWER(text), '{_LANG_MARKERS["es"]}')) AS s_es,
         len(regexp_extract_all(LOWER(text), '{_LANG_MARKERS["fr"]}')) AS s_fr,
         len(regexp_extract_all(text, '{_LANG_MARKERS["zh"]}')) AS s_zh
  FROM documents
)
SELECT doc_id, lang,
       CASE
         WHEN s_zh > 0 THEN 'zh'
         WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr'
       END AS lang_guess
FROM scored
""",
)
def docs_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with a deterministic tie order
    (zh by script, then en > de > es > fr)."""
    docs = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    s = {
        k: F.size(
            F.regexp_extract_all(
                F.col("text") if k == "zh" else lower, F.lit(v), 0
            )
        )
        for k, v in _LANG_MARKERS.items()
    }
    guess = (
        F.when(s["zh"] > 0, "zh")
        .when((s["en"] >= s["de"]) & (s["en"] >= s["es"]) & (s["en"] >= s["fr"]), "en")
        .when((s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when(s["es"] >= s["fr"], "es")
        .otherwise("fr")
    )
    return docs.select("doc_id", "lang", guess.alias("lang_guess"))


@query(
    "docs_fingerprint",
    oracle=f"""
SELECT doc_id,
       md5({SQL_NORM}) AS fingerprint,
       SUBSTRING(md5({SQL_NORM}), 1, 16) AS fingerprint_prefix
FROM documents
""",
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of normalized text (dedup join key)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = content_hash(F.col("text"))
    return docs.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.substring(fp, 1, 16).alias("fingerprint_prefix"),
    )


@query(
    "docs_shingle_stats",
    oracle=f"""
WITH norm AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       len(list_distinct(
         list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       )) AS n_distinct_shingles
FROM norm
""",
)
def docs_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram word shingling (the MinHash front end): distinct shingle
    count per document, computed with array expressions only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text(F.col("text")), " ")
    docs = docs.select("doc_id", toks.alias("toks"))
    shingles = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at("toks", i),
                F.element_at("toks", i + 1),
                F.element_at("toks", i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct(shingles)).alias("n_distinct_shingles"),
    )


TOP_TERMS_ORACLE = f"""
SELECT tok, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
FROM (
  SELECT doc_id, u.tok
  FROM (SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents),
       UNNEST(t) AS u(tok)
) x
WHERE tok <> ''
GROUP BY tok
ORDER BY n_occurrences DESC, tok
LIMIT 25
"""


@query("docs_top_terms", oracle=TOP_TERMS_ORACLE)
def docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies: top-25 normalized tokens by occurrence
    with document frequency — the word-count shape (explode -> two-level
    agg) every corpus-statistics job reduces to. Partial aggregation
    absorbs the explosion map-side; only (token, partial counts) rows
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    return (
        toks.groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("tok"))
        .limit(25)
    )


TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, u.tok
  FROM (SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents),
       UNNEST(t) AS u(tok)
  WHERE u.tok <> ''
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT f.doc_id, f.tok, f.tf, d.df, n.n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY f.doc_id ORDER BY f.tf DESC, d.df ASC, f.tok ASC
         ) AS rn
  FROM tf f JOIN dfreq d USING (tok), n
)
SELECT doc_id, tok, tf, df, n_docs FROM scored WHERE rn <= 3
"""


@query("docs_tfidf_top_terms", oracle=TFIDF_ORACLE)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinctive terms by TF-IDF — the classic
    keyword-extraction / topic-labeling shape for corpus curation.

    Plan at scale: tokenize map-side; term-frequency groupBy shuffles on
    (doc_id, tok); document-frequency is a second partial-aggregated
    groupBy on tok; the corpus doc count broadcasts as a 1-row relation;
    final ranking windows on doc_id. No driver-side data, no UDFs.
    Ranking is integer-deterministic — (tf DESC, df ASC, tok) — and the
    compared output is the exact integer triple (tf, df, n_docs) that
    fully determines tf * ln(n_docs/df): the float itself is derived in
    reporting, never compared, so parity cannot hinge on a 1-ulp libm
    difference between JVM Math.log and DuckDB's C log."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = tf.join(dfreq, "tok").crossJoin(F.broadcast(total))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("tok")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "tok", "tf", "df", "n_docs")
    )


# Chunking geometry: 128-token context budget with a 96-token stride
# (32-token overlap) — the window shape long documents are split into
# before tokenized training samples are drawn. Integer-only math so
# both engines derive identical manifests.
_CHUNK_TOKENS = 128
_CHUNK_STRIDE = 96

CHUNK_ORACLE = rf"""
WITH t AS (
  SELECT doc_id, len(regexp_extract_all(text, '\S+')) AS n_tokens
  FROM documents
),
k AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens <= {_CHUNK_TOKENS} THEN 1
              ELSE 1 + (n_tokens - {_CHUNK_TOKENS} + {_CHUNK_STRIDE - 1})
                       // {_CHUNK_STRIDE} END AS n_chunks
  FROM t
)
SELECT doc_id, n_tokens, i AS chunk_idx,
       i * {_CHUNK_STRIDE} + 1 AS start_tok,
       LEAST(i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}, n_tokens) AS end_tok,
       LEAST(i * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}, n_tokens)
         - i * {_CHUNK_STRIDE} AS n_chunk_tokens
FROM k, UNNEST(generate_series(0, n_chunks - 1)) AS u(i)
"""


@query("docs_chunk_manifest", oracle=CHUNK_ORACLE)
def docs_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk manifest: every document split into
    128-token chunks on a 96-token stride (32-token overlap) — the
    complement of sequence PACKING (operators/packing.py packs short
    docs UP to a budget; this splits long docs DOWN to one). The
    manifest is (doc_id, chunk_idx, token range) — downstream sample
    extraction is a slice per row, needing no re-tokenization.

    Guarantees, enforced by construction and mirrored in the oracle:
    full coverage (last chunk's end = n_tokens), every chunk but
    possibly the last is exactly 128 tokens, overlap is exactly 32
    except before a shorter final chunk, and every doc yields >= 1
    chunk (an empty doc gets one empty chunk). Plan: one narrow
    projection computes token counts, a per-row sequence+explode emits
    chunk rows — no shuffle, no join; cost is linear in output rows at
    any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(_tokens(F.col("text")))
    base = docs.select("doc_id", n.alias("n_tokens")).withColumn(
        "n_chunks",
        F.when(F.col("n_tokens") <= _CHUNK_TOKENS, F.lit(1)).otherwise(
            F.lit(1)
            + F.expr(
                f"(n_tokens - {_CHUNK_TOKENS} + {_CHUNK_STRIDE - 1})"
                f" div {_CHUNK_STRIDE}"
            )
        ),
    )
    start = F.col("chunk_idx") * _CHUNK_STRIDE + 1
    end = F.least(
        F.col("chunk_idx") * _CHUNK_STRIDE + _CHUNK_TOKENS, F.col("n_tokens")
    )
    return (
        base.select(
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "chunk_idx",
            start.alias("start_tok"),
            end.alias("end_tok"),
            (end - F.col("chunk_idx") * _CHUNK_STRIDE).alias("n_chunk_tokens"),
        )
    )


@query(
    "docs_dedup_savings_report",
    oracle=f"""
WITH g AS (
  SELECT md5({SQL_NORM}) AS h,
         COUNT(*) AS n,
         SUM(n_chars) AS bytes_g,
         arg_min(n_chars, doc_id) AS canon_bytes
  FROM documents GROUP BY 1
)
SELECT CAST(SUM(n) AS BIGINT) AS n_docs,
       COUNT(*) AS n_unique,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_docs,
       CAST(SUM(bytes_g) AS BIGINT) AS bytes_total,
       CAST(SUM(canon_bytes) AS BIGINT) AS bytes_after_exact,
       CAST(SUM(bytes_g) - SUM(canon_bytes) AS BIGINT) AS bytes_saved
FROM g
""",
)
def docs_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup business case as one integer row: how many documents
    and how many bytes exact dedup removes, with the kept bytes being
    the CANONICAL (min doc_id) member's — the "what did dedup buy us"
    report every curation pipeline publishes. One groupBy on the
    content hash + a 1-row rollup; min_by picks the canonical member's
    size without a join back."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(content_hash(F.col("text")).alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("bytes_g"),
        F.min_by("n_chars", "doc_id").alias("canon_bytes"),
    )
    return g.agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup_docs"),
        F.sum("bytes_g").cast("long").alias("bytes_total"),
        F.sum("canon_bytes").cast("long").alias("bytes_after_exact"),
        (F.sum("bytes_g") - F.sum("canon_bytes"))
        .cast("long")
        .alias("bytes_saved"),
    )


@query(
    "docs_dup_profile_by_source",
    oracle=f"""
WITH h AS (
  SELECT doc_id, source, md5({SQL_NORM}) AS ch FROM documents
),
xs AS (
  SELECT ch FROM h GROUP BY ch HAVING COUNT(DISTINCT source) > 1
)
SELECT h.source,
       COUNT(*) AS n_docs,
       CAST(COUNT(*) - COUNT(DISTINCT h.ch) AS BIGINT)
         AS n_within_source_dups,
       COUNT(xs.ch) AS n_cross_source_docs
FROM h LEFT JOIN xs ON h.ch = xs.ch
GROUP BY h.source
""",
)
def docs_dup_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate profile per mixture source: within-source exact-dup
    counts AND the documents whose content also appears in ANOTHER
    source — cross-source leakage, the thing that silently double-
    weights content when sources are sampled independently. One hash
    projection, a distinct-source aggregate on the hash (small by
    construction), and a broadcast-joined rollup; integer-only
    compared surface."""
    docs = load_table(spark, sf_dir, "documents")
    h = docs.select("source", content_hash(F.col("text")).alias("ch"))
    xs = (
        h.groupBy("ch")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("ch", F.lit(True).alias("cross"))
    )
    return (
        h.join(F.broadcast(xs), "ch", "left_outer")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count(F.lit(1)) - F.countDistinct("ch"))
            .cast("long")
            .alias("n_within_source_dups"),
            F.count_if(F.col("cross").isNotNull()).alias(
                "n_cross_source_docs"
            ),
        )
    )


# Rare = document frequency <= this (types, not occurrences). Mirrored
# literally in the oracle so both engines draw the same line.
RARE_DF_CAP = 2

RARE_TOKEN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, u.tok
  FROM (SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents),
       UNNEST(t) AS u(tok)
  WHERE u.tok <> ''
),
types AS (SELECT DISTINCT doc_id, tok FROM toks),
dfreq AS (SELECT tok, COUNT(*) AS df FROM types GROUP BY 1)
SELECT t.doc_id,
       COUNT(*) AS n_types,
       COUNT(*) FILTER (WHERE d.df <= {RARE_DF_CAP}) AS n_rare_types
FROM types t JOIN dfreq d USING (tok)
GROUP BY t.doc_id
"""


@query("docs_rare_token_ratio", oracle=RARE_TOKEN_ORACLE)
def docs_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token density per document — distinct normalized tokens
    whose corpus document frequency is <= RARE_DF_CAP, next to the
    doc's distinct-token count. High rare-type share flags OCR noise,
    codes/ids, and boilerplate-free gibberish; near-zero flags
    template text — both ends are curation signals, and the consumer
    derives the ratio from the two exact integers (float rule).

    Plan: inverted-index topology — one shuffle on token for the
    document-frequency aggregate, the type relation re-joined on token
    (partial aggregation absorbs the explode map-side), one shuffle on
    doc_id for the per-doc rollup. No corpus-squared term anywhere."""
    from lakehouse_architecture_spark.operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    types = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    dfreq = types.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        types.join(dfreq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.count_if(F.col("df") <= RARE_DF_CAP).alias("n_rare_types"),
        )
    )


# Decimal length buckets, pinned literally on both engines: exact
# integer compares, no log() on any compared surface (float rule).
_LEN_BUCKETS = [0, 100, 300, 1000, 3000, 10000]

_BUCKET_CASE_SQL = " ".join(
    f"WHEN n_chars < {hi} THEN {i}"
    for i, hi in enumerate(_LEN_BUCKETS[1:])
)

LENGTH_HIST_ORACLE = f"""
WITH b AS (
  SELECT CASE {_BUCKET_CASE_SQL} ELSE {len(_LEN_BUCKETS) - 1} END AS bucket,
         n_chars, doc_id
  FROM documents
)
SELECT bucket, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
FROM b GROUP BY bucket
"""


@query("docs_length_histogram", oracle=LENGTH_HIST_ORACLE)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution over pinned decimal buckets
    (<100 / <300 / <1k / <3k / <10k / rest) — the first profile every
    corpus audit draws: where the mass sits, how much is trivially
    short (length-gate fodder), whether a long tail exists. Buckets
    are exact integer CASE compares mirrored literally in the oracle
    (no log() on a compared surface). One partial-aggregated shuffle
    over a key space the size of the bucket list."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.lit(len(_LEN_BUCKETS) - 1)
    for i, hi in reversed(list(enumerate(_LEN_BUCKETS[1:]))):
        bucket = F.when(F.col("n_chars") < hi, F.lit(i)).otherwise(bucket)
    return (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "docs_vocab_growth_by_source",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, source, unnest(regexp_extract_all(text, '\S+')) AS tok
  FROM documents
)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS total_tokens,
       COUNT(DISTINCT tok) AS distinct_tokens,
       ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6)
         AS type_token_ratio
FROM toks
GROUP BY source
""",
)
def docs_vocab_growth_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law input) per mixture source: token
    volume vs distinct-type count and the type-token ratio. A falling
    TTR at constant doc count is the classic symptom of templated /
    near-duplicate content inside one source — the per-source twin of
    the corpus novelty score. Spark plans both COUNT(DISTINCT)s as one
    expand + two partial-aggregated shuffles keyed by (source, value);
    nothing here is proportional to more than the exploded token
    stream, so the plan carries to 100 TB unchanged."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", F.explode(_tokens(F.col("text"))).alias("tok"))
    return toks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tok").alias("distinct_tokens"),
        F.round(
            F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


@query(
    "docs_token_freq_spectrum",
    oracle=r"""
WITH tf AS (
  SELECT tok, COUNT(*) AS occurrences
  FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents)
  GROUP BY tok
)
SELECT occurrences, COUNT(*) AS n_tokens
FROM tf
GROUP BY occurrences
""",
)
def docs_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum (the Zipf-tail / Good-Turing
    input): for each corpus occurrence count, how many distinct tokens
    occur exactly that often. Hapax mass vs head mass is a one-glance
    corpus health check — synthetic or boilerplate-heavy corpora have
    no hapax tail. Integer-only compared surface. Two shuffles: the
    token-frequency aggregate (exploded-stream sized, partial-agg
    combined) and a vocabulary-sized regroup — the second input is
    |vocab| rows, negligible at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(_tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    return tf.groupBy("occurrences").agg(F.count(F.lit(1)).alias("n_tokens"))


@query(
    "docs_bpe_merge_qa",
    oracle=r"""
WITH words AS (
  SELECT unnest(regexp_extract_all(text, '\S+')) AS w FROM documents
),
v AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w)
SELECT 10 AS n_merges_requested,
       COUNT(*) AS n_distinct_words,
       CAST(SUM(c) AS BIGINT) AS total_word_occurrences,
       CAST(SUM(LENGTH(w)) AS BIGINT) AS vocab_symbols,
       TRUE AS merges_match_reference
FROM v
""",
)
def docs_bpe_merge_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training QA (operators/bpe.py): learn
    10 merges on the corpus with Spark doing every corpus-sized step,
    then verify the merge list MERGE-BY-MERGE against the pure-Python
    reference implementation run on the same word frequencies. An
    iterative algorithm has no SQL twin, so the oracle is
    invariant-style (the emb_top_pc_power_iteration pattern): DuckDB
    recomputes the exact vocabulary spine and the equality certificate
    is genuinely evaluated Spark-side — any divergence in pair
    counting, tie-breaking, or the greedy merge fold flips the boolean
    and the driver row goes red.

    The reference comparison collects the word-frequency vocabulary —
    bounded by |distinct words|, fine for a QA query (the trainer
    itself never collects more than the 1-row argmax per iteration; at
    web scale this QA would run on a sampled vocabulary instead)."""
    from lakehouse_architecture_spark.operators.bpe import (
        train_bpe,
        train_bpe_reference,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=True)
    vocab_rows = wf.collect()
    vocab = {r.word: r.cnt for r in vocab_rows}
    got = train_bpe(docs, "text", 10, freqs=wf)
    ref = train_bpe_reference(None, 10, vocab=vocab)
    return spark.createDataFrame(
        [
            (
                10,
                len(vocab),
                int(sum(vocab.values())),
                int(sum(len(w) for w in vocab)),
                got == ref,
            )
        ],
        "n_merges_requested int, n_distinct_words long, "
        "total_word_occurrences long, vocab_symbols long, "
        "merges_match_reference boolean",
    )


@query(
    "docs_bpe_encode_stats",
    oracle=r"""
WITH per AS (
  SELECT source, regexp_extract_all(text, '\S+') AS ws FROM documents
)
SELECT source,
       CAST(SUM(len(ws)) AS BIGINT) AS n_words,
       CAST(SUM(COALESCE(
         list_sum(list_transform(ws, x -> LENGTH(x))), 0)) AS BIGINT)
         AS n_chars,
       TRUE AS tokens_within_bounds,
       TRUE AS sample_matches_reference
FROM per GROUP BY source ORDER BY source
""",
)
def docs_bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE with the trained tokenizer (operators/bpe.py apply_bpe —
    a native per-word merge fold, no shuffle, no Python in the hot
    path): learn 10 merges, tokenize every document, and roll up the
    per-source token economics a training-data budget reads. The
    compared surface is the exact word/char spine both engines compute
    plus two QA booleans evaluated Spark-side:

      tokens_within_bounds     -- every document's subword count lies
                                  in [word count, non-space char
                                  count] (merges only ever shrink the
                                  char split, never below one token
                                  per word);
      sample_matches_reference -- the 5 lowest-doc_id documents encode
                                  identically under the pure-Python
                                  greedy reference.

    The oracle asserts both as literal TRUE — a regression in the fold
    (overlap handling, merge order) flips a boolean and fails the
    driver hash.

    DICTIONARY ENCODE (r14, measured 15.2 -> 2.1 s median at sf0.1,
    interleaved same-session A/B, identical rows): the merge fold is a
    deep expression (10 nested higher-order folds), and running it per
    word INSTANCE paid |occurrences| x depth while words repeat
    heavily (Zipf). The token counts are now computed ONCE per
    DISTINCT word (bpe_word_tokens over the word-frequency relation the
    trainer already built) and joined back to the exploded instance
    stream — |vocabulary| fold evaluations, broadcast under the 2M-row
    cap with a plain shuffle join beyond (the loop-recipe cap
    doctrine). At web scale this is the standard tokenizer-cache
    shape: the Zipf head covers almost all instances. The 5-doc
    reference check still encodes real token ARRAYS via apply_bpe on
    the 5-row sample."""
    from lakehouse_architecture_spark.operators.bpe import (
        apply_bpe,
        bpe_word_tokens,
        train_bpe,
        word_frequencies,
    )

    docs = load_table(spark, sf_dir, "documents")
    wf = word_frequencies(docs, "text").localCheckpoint(eager=True)
    merges = train_bpe(docs, "text", 10, freqs=wf)

    toks = apply_bpe(docs, "text", merges)
    words = F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)
    word_toks = wf.select(
        "word",
        F.size(bpe_word_tokens(F.col("word"), merges)).alias("w_tokens"),
        F.length("word").alias("w_chars"),
    )
    bcast_vocab = wf.count() <= 2_000_000
    dict_rel = F.broadcast(word_toks) if bcast_vocab else word_toks
    inst = docs.select("source", "doc_id", F.explode(words).alias("word"))
    per_nonempty = (
        inst.join(dict_rel, "word")
        .groupBy("source", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("w_chars").cast("long").alias("n_chars"),
            F.sum("w_tokens").alias("n_tokens"),
        )
    )
    # LEFT join back onto the document spine (r14 ADVICE): the explode
    # drops zero-token documents, so an inner-join-only aggregate would
    # silently lose all-empty documents (and whole sources) from the
    # per-source rollup where the pre-dictionary-encode form emitted
    # their (0, 0, true) rows. Coalesced zeros restore that contract.
    per = docs.select("source", "doc_id").join(
        per_nonempty, ["source", "doc_id"], "left"
    ).select(
        "source",
        F.coalesce("n_words", F.lit(0)).alias("n_words"),
        F.coalesce("n_chars", F.lit(0).cast("long")).alias("n_chars"),
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
    )

    sample = (
        docs.orderBy("doc_id")
        .limit(5)
        .select("doc_id", "text", toks.alias("toks"))
        .collect()
    )

    def encode_reference(text: str) -> list[str]:
        out: list[str] = []
        for w in text.split():
            syms = list(w)
            for m in merges:
                a, b = m["left"], m["right"]
                new: list[str] = []
                for s in syms:
                    if new and new[-1] == a and s == b:
                        new[-1] = a + b
                    else:
                        new.append(s)
                syms = new
            out.extend(syms)
        return out

    sample_ok = all(list(r.toks) == encode_reference(r.text) for r in sample)

    return (
        per.groupBy("source")
        .agg(
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").cast("long").alias("n_chars"),
            F.min(
                (F.col("n_tokens") >= F.col("n_words"))
                & (F.col("n_tokens") <= F.col("n_chars"))
            ).alias("tokens_within_bounds"),
        )
        .select(
            "source",
            "n_words",
            "n_chars",
            "tokens_within_bounds",
            F.lit(bool(sample_ok)).alias("sample_matches_reference"),
        )
        .orderBy("source")
    )


PPL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS t FROM documents
),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
),
c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
v AS (
  SELECT COUNT(DISTINCT u.tok) AS vsz
  FROM toks, UNNEST(t) AS u(tok) WHERE u.tok <> ''
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(-SUM(LN((c12.c12 + 1.0) / (c1.c1 + v.vsz))) / COUNT(*), 6)
         AS cross_entropy
FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1), v
GROUP BY b.doc_id
ORDER BY b.doc_id
"""


@query("docs_bigram_cross_entropy", oracle=PPL_ORACLE)
def docs_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM cross-entropy — the CCNet-style
    perplexity quality filter (Wenzek et al. 2020, "CCNet: Extracting
    high quality monolingual datasets from web crawl data"): train an
    add-one-smoothed bigram model on the corpus itself, score every
    document by its average negative log-likelihood under it, and
    low-likelihood documents (gibberish, boilerplate soup, wrong-
    language fragments) surface as the high-entropy tail. The
    SEQUENCE-sensitive member of the quality family: token entropy
    (`docs_token_entropy`) sees a bag of words, this sees word ORDER —
    a shuffled document keeps its unigram entropy but loses its bigram
    likelihood.

    Cross-engine float doctrine (the token_entropy precedent): every
    log argument is a ratio of EXACT INTEGER counts ((c12+1)/(c1+V),
    both engines dividing as doubles), so the only divergence sources
    are 1-ulp libm log differences and summation order, both ~1e-13
    absolute over a ~100-term sum — round(6) makes the compared value
    identical. Documents with fewer than two tokens have no bigrams
    and are absent on both engines by the same rule.

    Plan at scale: the bigram relation is built once from the token
    arrays (order-preserving transform over the array index — never a
    posexplode + self-join) and one-slot persisted; the model is two
    map-side-combinable counts over it (bounded by VOCABULARY², and in
    practice by observed bigrams ~ corpus tokens); scoring re-joins
    the same persisted relation against the model on (w1, w2) and w1
    — two hash-partitioned joins, vocabulary-bounded build sides at
    any corpus size; the vocab size broadcasts as a 1-row relation."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(normalize_text(F.col("text")), " ").alias("t")
    )
    bg = one_slot_persist(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1), "
                    "(w, i) -> struct(w AS w1, t[i + 1] AS w2))"
                )
            ).alias("b"),
        ).select("doc_id", "b.w1", "b.w2"),
        slot="text-bigram-rel",
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vsz = (
        toks.select(F.explode("t").alias("w"))
        .filter(F.col("w") != "")
        .agg(F.countDistinct("w").alias("vsz"))
    )
    logp = F.log(
        (F.col("c12") + F.lit(1.0)) / (F.col("c1") + F.col("vsz"))
    )
    return (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(vsz))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                -F.sum(logp) / F.count(F.lit(1)), 6
            ).alias("cross_entropy"),
        )
        .orderBy("doc_id")
    )


ZIPF_ORACLE = f"""
WITH toks AS (
  SELECT u.tok
  FROM (SELECT str_split({SQL_NORM}, ' ') AS t FROM documents),
       UNNEST(t) AS u(tok)
  WHERE u.tok <> ''
),
counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1),
ranked AS (
  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
  FROM counts ORDER BY n DESC, tok LIMIT 100
),
pts AS (
  SELECT LN(CAST(rk AS DOUBLE)) AS x, LN(CAST(n AS DOUBLE)) AS y FROM ranked
),
s AS (
  SELECT COUNT(*) AS k, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT CAST(k AS BIGINT) AS n_terms,
       ROUND((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS zipf_slope
FROM s
"""


@query("docs_zipf_slope", oracle=ZIPF_ORACLE)
def docs_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: the OLS
    slope of ln(frequency) on ln(rank) across the top-100 terms — the
    standard corpus-health diagnostic (natural language sits near -1;
    boilerplate-heavy or template-generated corpora flatten it, and a
    collapse toward 0 flags a degenerate vocabulary). Complements
    `docs_token_entropy` (which is mass-weighted) with the shape of the
    frequency TAIL.

    Float-parity doctrine: both ln arguments are exact INTEGERS (the
    rank and the occurrence count), so the libm calls agree
    cross-engine on integer inputs, and the OLS slope — a ratio of
    sums over <=100 such doubles — is emitted through round(6), which
    absorbs summation-order differences (~1e-12) with six orders of
    margin. The ranking itself is integer-deterministic
    (count DESC, token ASC).

    Plan shape: tokenize map-side, one partial-aggregated groupBy on
    the token, top-100 via TakeOrderedAndProject; the window and the
    moment fold run on a 100-row relation. Nothing after the vocabulary
    aggregate is corpus-sized."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("tok")).limit(100)
    ranked = top.select(
        "n",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("tok")))
        .alias("rk"),
    )
    pts = ranked.select(
        F.log(F.col("rk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("k").cast("long").alias("n_terms"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k"))
            / (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")),
            6,
        ).alias("zipf_slope"),
    )


SCRIPT_CENSUS_ORACLE = r"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]'))) AS BIGINT)
         AS n_letters,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT)
         AS n_digits,
       CAST(SUM(len(regexp_extract_all(text, '[ \t\r\n]'))) AS BIGINT)
         AS n_whitespace,
       CAST(SUM(len(regexp_extract_all(text, '[^\x00-\x7F]'))) AS BIGINT)
         AS n_non_ascii
FROM documents GROUP BY source ORDER BY source
"""


@query("docs_script_census", oracle=SCRIPT_CENSUS_ORACLE)
def docs_script_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class census — the charset QA rung every
    ingest pipeline runs before language ID: ASCII letters, digits,
    whitespace, and NON-ASCII code points per source. A source whose
    non-ascii share jumps signals an encoding fault (mojibake doubles
    it) or a language-mix shift; a digits-heavy source is usually
    tables/logs masquerading as prose. The classes are counted as
    REGEX MATCH COUNTS on both engines (regexp_count Spark-side,
    len(regexp_extract_all) in DuckDB) rather than length arithmetic,
    so the cross-engine contract never touches either engine's
    length/char-vs-byte semantics (the r12 levenshtein lesson); the
    chosen classes ([A-Za-z], [0-9], [ \\t\\r\\n], [^\\x00-\\x7F])
    parse identically under Java regex and RE2. All-integer output;
    single scan, one partial-aggregated groupBy on source — scan-speed
    at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.regexp_count("text", F.lit(r"[A-Za-z]")))
            .cast("long")
            .alias("n_letters"),
            F.sum(F.regexp_count("text", F.lit(r"[0-9]")))
            .cast("long")
            .alias("n_digits"),
            F.sum(F.regexp_count("text", F.lit("[ \t\r\n]")))
            .cast("long")
            .alias("n_whitespace"),
            F.sum(F.regexp_count("text", F.lit(r"[^\x00-\x7F]")))
            .cast("long")
            .alias("n_non_ascii"),
        )
        .orderBy("source")
    )
