"""Training-data curation queries: dedup groups (connected components),
sequence packing, train/test contamination, repetition filtering.

These compose the pairwise dedup/similarity operators into the
decisions an LLM data pipeline actually ships: which docs to DROP
(components), how to BATCH the survivors (packing), whether eval data
LEAKED into train (contamination), and which docs are degenerate
(repetition). All relational; the one iterative algorithm (components)
is bounded label propagation with a recursive-CTE oracle twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_spark.operators.components import (
    connected_components,
)
from lakehouse_architecture_spark.operators.dedup import normalize_text
from lakehouse_architecture_spark.operators.minhash import (
    ngram_jaccard_pairs,
    shingles,
)
from lakehouse_architecture_spark.operators.packing import (
    pack_greedy,
    whitespace_tokens,
)
from lakehouse_architecture_spark.queries.dedup_sim import (
    _SHC_CTE,
    _SHINGLES_CTE,
    MAX_DOC_FREQ,
)
from lakehouse_architecture_spark.queries.registry import query
from lakehouse_architecture_spark.queries.sampling import (
    _sql_bucket,
    hash_bucket,
)
from lakehouse_architecture_spark.queries.text import SQL_NORM
from lakehouse_architecture_spark.sources.tables import load_table

# --- dedup groups: connected components over near-dup edges ------------

_PAIRS_SQL = f"""
sizes AS (SELECT doc, COUNT(*) AS n FROM shc GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS n_common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes za ON za.doc = doc_a
  JOIN sizes zb ON zb.doc = doc_b
  WHERE CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common) >= 0.3
)
"""

COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_SHC_CTE},
{_PAIRS_SQL},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.d AS doc, reach.r FROM reach JOIN edges e ON e.s = reach.doc
)
SELECT doc AS doc_id, MIN(r) AS component
FROM reach GROUP BY doc ORDER BY doc_id
"""


@query("docs_dup_components", oracle=COMPONENTS_ORACLE)
def docs_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components (min-label propagation,
    operators/components.py) over exact n-gram Jaccard >= 0.3 edges;
    the oracle is the transitive closure as a recursive CTE."""
    docs = load_table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
    ).select("doc_a", "doc_b")
    labels = connected_components(edges)
    return labels.select(
        F.col("doc").alias("doc_id"), F.col("comp").alias("component")
    ).orderBy("doc_id")


# Keep-best election per component: winner = max n_chars, ties broken
# by the LOWER doc_id. The (n_chars, doc_id) order is packed into one
# exact integer for DuckDB's arg_max (no struct ordering there): the
# 1e16 id slot is collision-free far past any test SF and HUGEINT /
# decimal(38,0) math is exact on both engines.
KEEP_BEST_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_SHC_CTE},
{_PAIRS_SQL},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.d AS doc, reach.r FROM reach JOIN edges e ON e.s = reach.doc
),
comp AS (SELECT doc, MIN(r) AS component FROM reach GROUP BY doc)
SELECT c.component,
       arg_max(c.doc,
               CAST(d.n_chars AS HUGEINT) * 10000000000000000 - c.doc)
         AS kept_doc_id,
       COUNT(*) AS n_members,
       MAX(d.n_chars) AS kept_n_chars
FROM comp c JOIN documents d ON d.doc_id = c.doc
GROUP BY c.component ORDER BY c.component
"""


@query("docs_dedup_keep_best", oracle=KEEP_BEST_ORACLE)
def docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST dedup election: for every near-dup component, the
    member production would keep — the longest document (n_chars), ties
    broken by the lower doc_id — plus the component's size. This is the
    policy layer over docs_dup_components: collapsing a duplicate
    cluster should keep its best member, not whichever carried the
    smallest id (operators/components.dedup_keep_best_per_component is
    the relation-returning form; this query emits the election table
    the policy audits). Same cost shape as components itself: the
    election adds one max_by aggregate on the component key."""
    docs = load_table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
    ).select("doc_a", "doc_b")
    labels = connected_components(edges)
    packed = (
        F.col("n_chars").cast("decimal(38,0)")
        * F.lit(10000000000000000).cast("decimal(38,0)")
        - F.col("doc_id")
    )
    return (
        labels.withColumnRenamed("doc", "doc_id")
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy(F.col("comp").alias("component"))
        .agg(
            F.max_by("doc_id", packed).alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.max("n_chars").alias("kept_n_chars"),
        )
        .orderBy("component")
    )


# --- sequence packing ---------------------------------------------------

PACK_BUDGET = 2048  # power of two: cumsum/budget is exact in double
N_SHARDS = 16

PACKING_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '\\S+')) AS n_tokens,
         {_sql_bucket('doc_id', N_SHARDS)} AS shard
  FROM documents
)
SELECT doc_id, shard, n_tokens,
  CAST(FLOOR((SUM(n_tokens) OVER (
        PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      - n_tokens) / {PACK_BUDGET}.0) AS BIGINT) AS pack_id
FROM t ORDER BY doc_id
"""


@query("docs_packing_manifest", oracle=PACKING_ORACLE)
def docs_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget bin assignment (greedy per-shard running sum,
    operators/packing.py): one shuffle on the shard key, then pure
    window algebra — bins never cross shards, so packing 100 TB is
    embarrassingly parallel across shards."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        whitespace_tokens(F.col("text")).alias("n_tokens"),
        hash_bucket(F.col("doc_id"), N_SHARDS).alias("shard"),
    )
    packed = pack_greedy(
        t, "n_tokens", "doc_id", "shard", PACK_BUDGET
    )
    return packed.select("doc_id", "shard", "n_tokens", "pack_id").orderBy(
        "doc_id"
    )


# --- train/test contamination ------------------------------------------

CONTAMINATION_ORACLE = f"""
WITH {_SHINGLES_CTE},
tsh AS (SELECT doc, shingle FROM sh WHERE {_sql_bucket('doc')} < 10),
trn AS (SELECT DISTINCT shingle FROM sh WHERE {_sql_bucket('doc')} >= 10)
SELECT tsh.doc AS doc_id,
       COUNT(*) AS n_shingles,
       COUNT(trn.shingle) AS n_contaminated,
       ROUND(CAST(COUNT(trn.shingle) AS DOUBLE) / COUNT(*), 6)
         AS contamination
FROM tsh LEFT JOIN trn ON tsh.shingle = trn.shingle
GROUP BY tsh.doc ORDER BY doc_id
"""


@query("docs_test_contamination", oracle=CONTAMINATION_ORACLE)
def docs_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-leakage audit: fraction of each held-out doc's 3-gram
    shingles that appear anywhere in the train split (same md5-bucket
    split as docs_hash_split_counts). The semi-join side carries only
    DISTINCT train shingles; at 100 TB swap in a bloom filter built
    from the same relation for a shuffle-free prefilter."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"))
    test_sh = shingles(docs.filter(b < 10), "text", "doc_id")
    train_sh = (
        shingles(docs.filter(b >= 10), "text", "doc_id")
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    n_cont = F.count("hit")
    return (
        test_sh.join(train_sh, "shingle", "left_outer")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            n_cont.alias("n_contaminated"),
            F.round(n_cont.cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination"
            ),
        )
        .orderBy("doc_id")
    )


# --- repetition / degeneracy scoring -----------------------------------

REPETITION_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS ts FROM documents
),
tok AS (SELECT doc_id, t AS token FROM toks, UNNEST(ts) AS u(t)),
counts AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  CAST(MAX(c) AS BIGINT) AS top_token_freq,
  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition_ratio
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


# --- lexical diversity / entropy ---------------------------------------

ENTROPY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, str_split({SQL_NORM}, ' ') AS ts FROM documents
),
tok AS (SELECT doc_id, t AS token FROM toks, UNNEST(ts) AS u(t)),
counts AS (
  SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token
)
SELECT doc_id,
  CAST(SUM(c) AS BIGINT) AS n_tokens,
  COUNT(*) AS n_distinct_tokens,
  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio,
  ROUND(LOG2(CAST(SUM(c) AS DOUBLE))
        - SUM(c * LOG2(CAST(c AS DOUBLE))) / SUM(c), 6) AS token_entropy
FROM counts GROUP BY doc_id ORDER BY doc_id
"""


@query("docs_token_entropy", oracle=ENTROPY_ORACLE)
def docs_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity filter signals: type-token ratio and unigram
    token entropy per doc (Gopher-style quality rules threshold both).
    Entropy uses the count identity H = log2(n) - sum(c*log2 c)/n so the
    heavy term is one SUM over integer counts; the 1e-16-relative
    addition-order noise vanishes under round(6)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token"),
    )
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return (
        counts.groupBy("doc_id")
        .agg(
            n.alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.round(F.count(F.lit(1)).cast("double") / n, 6).alias(
                "type_token_ratio"
            ),
            F.round(
                F.log2(n.cast("double"))
                - F.sum(F.col("c") * F.log2(F.col("c").cast("double"))) / n,
                6,
            ).alias("token_entropy"),
        )
        .orderBy("doc_id")
    )


# --- PII scrubbing ------------------------------------------------------

# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround.
EMAIL_RE = r"[a-zA-Z0-9._%+\-]+@[a-zA-Z0-9.\-]+\.[a-zA-Z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\- ]{7,}[0-9]"

PII_ORACLE = f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
  md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                     '{PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash
FROM documents ORDER BY doc_id
"""


@query("docs_pii_scrub", oracle=PII_ORACLE)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit: per-doc email/phone match counts and the
    fingerprint of the scrubbed text (emails then phones replaced by
    typed placeholders). Pure columnar regex — no UDF; the scrubbed
    text itself is one select away (the query ships the hash so the
    oracle can verify the full transform, not just the counts)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(text, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_hash"),
    ).orderBy("doc_id")


@query("docs_repetition_score", oracle=REPETITION_ORACLE)
def docs_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-text filter signal: most-frequent-token share per doc
    (boilerplate/spam detectors threshold on this). Two partial-agg
    groupBys, no UDF, no window over raw tokens."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text(F.col("text")), " ")).alias("token"),
    )
    counts = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_token_freq"),
            F.round(F.max("c").cast("double") / F.sum("c"), 6).alias(
                "repetition_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --- end-to-end curation funnel ---------------------------------------

def _funnel_oracle() -> str:
    from lakehouse_architecture_spark.queries.text import _LANG_MARKERS

    en = _LANG_MARKERS["en"]
    is_en = " AND ".join(
        f"len(regexp_extract_all(LOWER(text), '{en}'))"
        f" >= len(regexp_extract_all(LOWER(text), '{_LANG_MARKERS[k]}'))"
        for k in ("de", "es", "fr")
    )
    return rf"""
WITH t AS (
  SELECT doc_id, text, {SQL_NORM} AS norm FROM documents
),
flags AS (
  SELECT doc_id, text, norm,
         (LENGTH(text) >= 100
          AND len(regexp_extract_all(text, '\S+')) >= 20) AS pass_len,
         (len(regexp_extract_all(text, '{_LANG_MARKERS["zh"]}')) = 0
          AND {is_en}) AS is_en
  FROM t
),
s2 AS (SELECT * FROM flags WHERE pass_len),
s3 AS (SELECT * FROM s2 WHERE is_en),
s4 AS (
  SELECT * FROM s3
  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(norm) ORDER BY doc_id) = 1
),
toks AS (SELECT doc_id, str_split(norm, ' ') AS t FROM s4),
sh AS (
  SELECT DISTINCT doc_id AS doc, s AS shingle
  FROM toks, UNNEST(
    CASE WHEN len(t) >= 3
         THEN list_transform(generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [array_to_string(t, ' ')] END
  ) AS u(s)
),
shc AS (
  SELECT doc, shingle FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_DOC_FREQ}
),
{_PAIRS_SQL.strip().rstrip()},
dup_b AS (SELECT DISTINCT doc_b FROM pairs),
s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_b FROM dup_b))
SELECT 1 AS stage_idx, 'total' AS stage,
       (SELECT COUNT(*) FROM t) AS n_surviving
UNION ALL SELECT 2, 'length_gate', (SELECT COUNT(*) FROM s2)
UNION ALL SELECT 3, 'lang_en', (SELECT COUNT(*) FROM s3)
UNION ALL SELECT 4, 'exact_dedup', (SELECT COUNT(*) FROM s4)
UNION ALL SELECT 5, 'near_dup_dedup', (SELECT COUNT(*) FROM s5)
"""


@query("docs_curation_funnel", oracle=_funnel_oracle())
def docs_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation decision chain as ONE auditable funnel: how
    many documents survive each successive filter a pre-training corpus
    actually ships through —

      1 total -> 2 length gate (>=100 chars, >=20 tokens) ->
      3 English (marker heuristic, zh-script short-circuit) ->
      4 exact dedup (canonical = min doc_id per normalized-content
        hash) -> 5 near-dup removal (drop the higher doc_id of every
        exact n-gram Jaccard >= 0.3 pair among survivors).

    Every stage reuses the exact operator the standalone queries check
    (same normalization, same lang markers, same DF-capped Jaccard), so
    the funnel's counts are consistent with the per-operator outputs by
    construction — and the whole chain is replicated in the oracle.

    Plan (reworked r9; the r5 shape cached the flagged corpus — ALL
    docs' text + flags — because two consumers read it, and that
    corpus-sized MEMORY_AND_DISK pin was one of the two documented
    scale-killers in SCALING.md's limits table): stages 1-3 are now a
    scan-only conditional aggregate (no shuffle, no materialization —
    counts fold map-side); the stage-4 survivor relation shuffles ONLY
    the en-surviving rows to the content-hash grain and elects the
    canonical doc as a struct-min (min over struct(doc_id, text) —
    doc_id is unique, so the election is deterministic and equal to
    the old min/min_by pair). The survivor relation has two consumers
    (the n4 count and the near-dup pair job's gram build), so it is
    one-slot persisted (operators/caching) — survivor-grain, i.e. the
    deduped-English subset, strictly smaller than the old corpus-wide
    cache, and RELEASED by the next query that uses the slot instead
    of accumulating. The lang-ID regexes run once in each of the two
    scans — linear map-side CPU, the price of holding no corpus-sized
    state anywhere. Stage 5 = n4 minus the distinct dropped doc_ids
    from the exact-Jaccard pair job over the survivors, unchanged."""
    from lakehouse_architecture_spark.operators.caching import (
        one_slot_persist,
    )
    from lakehouse_architecture_spark.operators.dedup import content_hash
    from lakehouse_architecture_spark.queries.text import _LANG_MARKERS

    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n_toks = F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))
    pass_len = (F.length(text) >= 100) & (n_toks >= 20)
    lower = F.lower(text)
    s = {
        k: F.size(
            F.regexp_extract_all(text if k == "zh" else lower, F.lit(v), 0)
        )
        for k, v in _LANG_MARKERS.items()
    }
    is_en = (
        (s["zh"] == 0)
        & (s["en"] >= s["de"])
        & (s["en"] >= s["es"])
        & (s["en"] >= s["fr"])
    )
    en = pass_len & is_en
    counts = docs.agg(
        F.count(F.lit(1)).alias("n1"),
        F.count_if(pass_len).alias("n2"),
        F.count_if(en).alias("n3"),
    )
    # Stage-4 survivor RELATION: en rows only reach the hash shuffle;
    # canonical = min en doc_id per hash, with THAT row's text.
    s4 = one_slot_persist(
        docs.filter(en)
        .groupBy(content_hash(F.col("text")).alias("h"))
        .agg(
            F.min(F.struct(F.col("doc_id"), F.col("text"))).alias("canon")
        )
        .select(
            F.col("canon.doc_id").alias("doc_id"),
            F.col("canon.text").alias("text"),
        ),
        slot="curation-funnel-s4",
    )
    n4df = s4.agg(F.count(F.lit(1)).alias("n4"))
    counts = counts.crossJoin(n4df)
    pairs = ngram_jaccard_pairs(
        s4, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
    )
    # Every doc_b comes from s4, so n5 = n4 - |distinct doc_b| without
    # re-materializing the anti-joined survivor relation.
    ndup = pairs.agg(F.countDistinct("doc_b").alias("nd"))
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("stage_idx"),
                F.lit(name).alias("stage"),
                n.alias("n_surviving"),
            )
            for i, name, n in [
                (1, "total", F.col("n1")),
                (2, "length_gate", F.col("n2")),
                (3, "lang_en", F.col("n3")),
                (4, "exact_dedup", F.col("n4")),
                (5, "near_dup_dedup", F.col("n4") - F.col("nd")),
            ]
        ]
    )
    return counts.crossJoin(ndup).select(F.explode(rows).alias("r")).select(
        "r.*"
    )


CLUSTER_SIZE_HIST_ORACLE = f"""
WITH RECURSIVE {_SHINGLES_CTE},
{_SHC_CTE},
{_PAIRS_SQL},
edges AS (
  SELECT doc_a AS s, doc_b AS d FROM pairs
  UNION ALL
  SELECT doc_b AS s, doc_a AS d FROM pairs
),
nodes AS (SELECT DISTINCT s AS doc FROM edges),
reach AS (
  SELECT doc, doc AS r FROM nodes
  UNION
  SELECT e.d AS doc, reach.r FROM reach JOIN edges e ON e.s = reach.doc
),
comp AS (SELECT doc, MIN(r) AS component FROM reach GROUP BY doc),
csize AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM csize GROUP BY 1
"""


@query("docs_dup_cluster_size_histogram", oracle=CLUSTER_SIZE_HIST_ORACLE)
def docs_dup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup cluster SIZE distribution — how duplication mass is
    shaped: many pairs vs a few mega-clusters. The deciding input for
    dedup policy (keep-one collapses a k-cluster to 1 doc, so the
    histogram IS the projected token savings) and the early-warning
    for boilerplate explosions (a fat tail here means a template is
    eating the corpus). Same component labels the keep-one/keep-best
    elections use; two extra count aggregates, each over relations no
    bigger than the cluster count."""
    docs = load_table(spark, sf_dir, "documents")
    edges = ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.3, max_doc_freq=MAX_DOC_FREQ,
    ).select("doc_a", "doc_b")
    labels = connected_components(edges)
    csize = labels.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        csize.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
    )


def _classifier_features(docs: DataFrame) -> tuple[DataFrame, list[str]]:
    """Shared feature spine of the learned quality filter: label
    (the separable held-out rule ``n_chars > 290``), two correlated
    signal features (log length, word count) and two noise features
    (English-marker density, CJK char count). One narrow projection —
    at 100 TB this is a single scan, no shuffle."""
    from lakehouse_architecture_spark.queries.text import _LANG_MARKERS

    text = F.col("text")
    n_words = F.size(F.regexp_extract_all(text, F.lit(r"\S+"), 0))
    en_hits = F.size(
        F.regexp_extract_all(F.lower(text), F.lit(_LANG_MARKERS["en"]), 0)
    )
    zh_hits = F.size(
        F.regexp_extract_all(text, F.lit(_LANG_MARKERS["zh"]), 0)
    )
    feats = docs.select(
        (F.col("n_chars") > 290).cast("int").alias("y"),
        F.log1p(F.col("n_chars")).alias("f_log_len"),
        n_words.cast("double").alias("f_n_words"),
        (en_hits.cast("double") / (n_words + F.lit(1))).alias("f_en_density"),
        zh_hits.cast("double").alias("f_zh_chars"),
    )
    return feats, ["f_log_len", "f_n_words", "f_en_density", "f_zh_chars"]


@query(
    "docs_quality_classifier_qa",
    oracle="""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_chars > 290 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pos,
       40 AS n_iters,
       TRUE AS loss_improved,
       TRUE AS beats_majority
FROM documents
""",
)
def docs_quality_classifier_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned curation filter (operators/logreg.py): logistic
    regression trained on-cluster — the fastText-classifier role in
    CCNet/RefinedWeb-style pipelines, every corpus-sized step a single
    Spark aggregate (matrix-free, like the PCA probe).

    Target choice is deliberate: the synthetic corpus's ``lang`` label
    is RANDOM with respect to the text (measured — every language's
    marker statistics are identical), so no classifier can learn it;
    this QA instead trains against a separable held-out rule
    (``n_chars > 290``) with the signal reachable only through
    correlated features (log length, word count) next to two noise
    features (marker density, CJK count). What the certificates pin is
    the OPTIMIZER, end to end:

      loss_improved  -- final mean log-loss <= 0.9 * ln 2 (the w = 0
                        starting loss; a frozen or diverged fit fails);
      beats_majority -- training accuracy strictly above the majority-
                        class share (the fit must actually find the
                        rule, not predict the biggest class).

    An iterative fit has no SQL twin, so the oracle is invariant-style:
    DuckDB recomputes the exact label spine (corpus size, positive
    count, iteration budget) and asserts the booleans as literal TRUE.
    """
    from lakehouse_architecture_spark.operators.logreg import train_logistic

    docs = load_table(spark, sf_dir, "documents")
    feats, cols = _classifier_features(docs)
    r = train_logistic(feats, cols, "y", lr=2.0, iters=40)
    loss_ok = bool(r["final_loss"] <= 0.9 * r["initial_loss"])
    acc_ok = bool(r["accuracy"] > r["majority_share"])
    return spark.createDataFrame(
        [(r["n"], r["n_pos"], 40, loss_ok, acc_ok)],
        "n_docs long, n_pos long, n_iters int, loss_improved boolean, "
        "beats_majority boolean",
    )


@query(
    "docs_learned_filter_apply",
    oracle="""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN n_chars > 290 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_label_pos,
       TRUE AS probs_in_range,
       TRUE AS separates_classes,
       TRUE AS agrees_above_majority
FROM documents
""",
)
def docs_learned_filter_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of the learned curation filter: train on the
    corpus (docs_quality_classifier_qa's spine), then SCORE every
    document with operators/logreg.score_logistic — the model folds
    into one narrow projection, so the 100 TB filtering pass is a
    single scan with no shuffle (the CCNet/RefinedWeb deployment
    shape: classify once, thenceforth filter or weight by ``p_keep``).

    Iterative training has no SQL twin, so the oracle pins the exact
    label spine (corpus size, positive count) and certifies the scorer
    through invariants asserted as literal TRUE:

      probs_in_range        -- every p_keep lands in [0, 1] (a broken
                               sigmoid or un-standardized feature
                               escapes the range or goes NaN, which
                               also fails: NaN min/max compare false);
      separates_classes     -- mean p_keep over true positives
                               strictly exceeds mean over negatives
                               (scoring must carry the learned
                               signal, not collapse to a constant);
      agrees_above_majority -- thresholding p_keep at 0.5 agrees with
                               the label more often than the majority
                               class predicts (the filter decision
                               itself beats the trivial baseline).
    """
    from lakehouse_architecture_spark.operators.logreg import (
        score_logistic,
        train_logistic,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats, cols = _classifier_features(docs)
    model = train_logistic(feats, cols, "y", lr=2.0, iters=40)
    scored = score_logistic(feats, cols, model)
    y, p = F.col("y"), F.col("p_keep")
    s = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.min(p).alias("pmin"),
        F.max(p).alias("pmax"),
        F.avg(F.when(y == 1, p)).alias("p_pos"),
        F.avg(F.when(y == 0, p)).alias("p_neg"),
        F.avg(((p >= 0.5) == (y == 1)).cast("double")).alias("agree"),
    ).first()
    in_range = bool(s.pmin >= 0.0 and s.pmax <= 1.0)
    separates = bool(s.p_pos > s.p_neg)
    majority = max(s.n_pos, s.n - s.n_pos) / s.n
    agrees = bool(s.agree > majority)
    return spark.createDataFrame(
        [(s.n, int(s.n_pos), in_range, separates, agrees)],
        "n_docs long, n_label_pos long, probs_in_range boolean, "
        "separates_classes boolean, agrees_above_majority boolean",
    )


LENGTH_DECILE_ORACLE = """
WITH r AS (
  SELECT doc_id, n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rk,
         COUNT(*) OVER () AS n
  FROM documents
)
SELECT CAST(((rk - 1) * 10) // n + 1 AS INT) AS decile,
       COUNT(*) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM r GROUP BY 1 ORDER BY 1
"""


@query("docs_length_decile_profile", oracle=LENGTH_DECILE_ORACLE)
def docs_length_decile_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equal-count length binning of the corpus — per decile of the
    (n_chars, doc_id) total order: document count and the char-length
    envelope. The curation precursor to sequence packing: length
    deciles are how a packing/batching stage picks bucket boundaries,
    and a skewed decile profile (e.g. decile 10 holding most of the
    bytes) is the first thing a mixture rebalance looks at.

    The global rank deliberately does NOT use
    ``ROW_NUMBER() OVER (ORDER BY ...)`` on the Spark side — an
    unpartitioned window exchanges the whole corpus into ONE task.
    r16: it does not rank rows at all — decile membership, count and
    the char envelope are constant within an n_chars tie group (whose
    ranks are contiguous), so the profile is closed-form integer
    arithmetic on the (n_chars, count, offset) relation
    (operators/ranking.equidepth_band_stats, guide §2.3/§2.4: the
    full-row window sort and the rank join-back are gone). The DuckDB
    oracle states the same total order with the plain window; this is
    index-decile binning (floor((rk-1)*10/N)+1), deliberately NOT
    NTILE (whose remainder distribution differs)."""
    from lakehouse_architecture_spark.operators.ranking import (
        equidepth_band_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    return (
        equidepth_band_stats(docs, "n_chars", 10)
        .select(
            F.col("band").cast("int").alias("decile"),
            F.col("n_rows").alias("n_docs"),
            F.col("min_v").alias("min_chars"),
            F.col("max_v").alias("max_chars"),
            F.col("sum_v").alias("sum_chars"),
        )
        .orderBy("decile")
    )
