"""Text analysis for training-data pipelines (north-star extension).

Language ID (stopword/CJK heuristic), quality scoring (length/punct/
stopword ratios), token counting, and document fingerprinting — all
expressed with JVM-side builtins (split/filter/transform/regexp) so
the hot path never crosses into Python, and each with an exact DuckDB
oracle.

Tokenization is the shared convention: lower(trim(text)) split on
whitespace (see pipeline.dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import (
    TOKS_CTE,
    TRIGRAM_IDX_CTES,
    cached_doc_shingles,
    shingles_df,
    tokens,
    tokens_sql,
    trigram_ctes,
)
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import session_relation

_STOP_EN = ("the", "a", "and", "of", "is", "to", "in", "it")


def _in_list(arr_expr: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({arr_expr}, x -> x IN ({lst})))"


def _in_list_duck(arr_expr: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({arr_expr}, x -> x IN ({lst})))"


def raw_quality(stop_col, punct_col, cpt_col):
    """The weighted quality sum over (stopword_ratio, punct_ratio,
    chars_per_token) columns — the SINGLE Spark-side definition behind
    text_quality_score (unclamped, rounded), quality_weight_over, and
    through it sample_quality_weighted / sample_quality_top_fraction /
    pipeline_training_manifest. Term order mirrors
    ``_RAW_QUALITY_SQL`` so both engines produce identical doubles."""
    return (
        0.5 * F.least(stop_col * 5, F.lit(1.0))
        + 0.3 * (1.0 - F.least(punct_col * 10, F.lit(1.0)))
        + 0.2 * F.least(cpt_col / 8.0, F.lit(1.0))
    )


# the SQL twin of raw_quality(); expects columns named stopword_ratio /
# punct_ratio / chars_per_token in scope
_RAW_QUALITY_SQL = (
    "0.5 * least(stopword_ratio * 5, 1.0)"
    " + 0.3 * (1.0 - least(punct_ratio * 10, 1.0))"
    " + 0.2 * least(chars_per_token / 8.0, 1.0)"
)


def quality_weight_over(docs):
    """Attach the clamped [0.05, 0.95] heuristic quality weight as
    column ``w`` (the weight formula itself is ``raw_quality`` — one
    definition for every consumer). ``docs`` needs (doc_id, text);
    all other columns pass through. Arithmetic order matches
    ``quality_wt_cte`` term for term so both engines produce the
    identical IEEE doubles."""
    t = docs.withColumn("__n", F.length("text")).withColumn("__t", tokens())
    feat = (
        t.withColumn(
            "__punct",
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
            / F.col("__n"),
        )
        .withColumn(
            "__stop",
            F.expr(_in_list("__t", _STOP_EN)).cast("double") / F.size("__t"),
        )
        .withColumn("__cpt", F.col("__n").cast("double") / F.size("__t"))
    )
    quality = raw_quality(F.col("__stop"), F.col("__punct"), F.col("__cpt"))
    return feat.withColumn(
        "w", F.least(F.greatest(quality, F.lit(0.05)), F.lit(0.95))
    ).drop("__n", "__t", "__punct", "__stop", "__cpt")


def quality_wt_cte(src: str) -> str:
    """DuckDB CTE chain mirroring ``quality_weight_over`` over relation
    ``src``: defines CTEs ``q_toks``/``q_feat``/``q_wt``; ``q_wt`` has
    (doc_id, w). Embed inside a WITH list."""
    return f"""q_toks AS (
        SELECT doc_id, text, length(text) AS n,
               {tokens_sql('text')} AS t
        FROM {src}
    ),
    q_feat AS (
        SELECT doc_id,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / n
                   AS punct_ratio,
               CAST({_in_list_duck('t', _STOP_EN)} AS DOUBLE) / len(t) AS stopword_ratio,
               CAST(length(text) AS DOUBLE) / len(t) AS chars_per_token
        FROM q_toks
    ),
    q_wt AS (
        SELECT doc_id,
               least(greatest({_RAW_QUALITY_SQL}, 0.05), 0.95) AS w
        FROM q_feat
    )"""


@register(
    "text_token_count",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, n_chars,
               {tokens_sql('text')} AS t
        FROM documents
    )
    SELECT doc_id,
           len(t)                                                        AS n_tokens,
           n_chars,
           len(list_distinct(t))                                         AS n_unique_tokens,
           round(list_sum(list_transform(t, x -> CAST(length(x) AS DOUBLE))) / len(t), 4)
                                                                         AS avg_token_len
    FROM toks
    """,
    tags=("text", "tokens"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + length token statistics per document. (A BPE-ish
    subword estimate is ~n_chars/4; emitted by text_quality_score.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "n_chars", tokens().alias("t"))
    return t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        "n_chars",
        F.size(F.array_distinct("t")).alias("n_unique_tokens"),
        F.round(
            F.expr("aggregate(t, CAST(0 AS DOUBLE), (acc, x) -> acc + length(x))") / F.size("t"), 4
        ).alias("avg_token_len"),
    )


_QUALITY_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, text, length(text) AS n,
               {tokens_sql('text')} AS t
        FROM documents
    ),
    feat AS (
        SELECT doc_id,
               len(t) AS n_tokens,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / n
                   AS punct_ratio,
               CAST({_in_list_duck('t', _STOP_EN)} AS DOUBLE) / len(t) AS stopword_ratio,
               CAST(length(text) AS DOUBLE) / len(t)                   AS chars_per_token,
               CAST(ceil(length(text) / 4.0) AS BIGINT)                AS est_bpe_tokens
        FROM toks
    )
    SELECT doc_id, n_tokens, est_bpe_tokens,
           round(punct_ratio, 4)    AS punct_ratio,
           round(stopword_ratio, 4) AS stopword_ratio,
           round({_RAW_QUALITY_SQL}, 4) AS quality_score
    FROM feat
"""


@register("text_quality_score", oracle=_QUALITY_ORACLE, tags=("text", "quality"))
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword density (fluency proxy),
    punctuation noise, token shape — the standard cheap pre-filter
    before expensive model-based scoring. Map-only at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", F.length("text").alias("n"), tokens().alias("t"))
    feat = t.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double") / F.col("n")
        ).alias("punct_ratio"),
        (F.expr(_in_list("t", _STOP_EN)).cast("double") / F.size("t")).alias("stopword_ratio"),
        (F.col("n").cast("double") / F.size("t")).alias("chars_per_token"),
        F.ceil(F.col("n") / 4.0).cast("long").alias("est_bpe_tokens"),
    )
    quality = raw_quality(
        F.col("stopword_ratio"), F.col("punct_ratio"), F.col("chars_per_token")
    )
    return feat.select(
        "doc_id",
        "n_tokens",
        "est_bpe_tokens",
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality_score"),
    )


_LANGS = (
    ("en", ("the", "a", "and", "of", "is")),
    ("es", ("el", "la", "de", "que", "y")),
    ("de", ("der", "die", "und", "das", "ist")),
    ("fr", ("le", "les", "et", "des", "un")),
)
_CJK_RANGE = "\\x{4e00}-\\x{9fff}"  # RE2/Java-compatible escape


def _langid_oracle() -> str:
    scores = ",\n               ".join(
        f"{_in_list_duck('t', words)} AS s_{code}" for code, words in _LANGS
    )
    # deterministic argmax: first language (in _LANGS order) reaching the max
    best = "CASE "
    for code, _ in _LANGS:
        others = [f"s_{c}" for c, _ in _LANGS]
        best += f"WHEN s_{code} = greatest({', '.join(others)}) THEN '{code}' "
    best += "END"
    return f"""
    WITH toks AS (
        SELECT doc_id, text, {tokens_sql('text')} AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               {scores},
               length(regexp_replace(text, '[^\\x{{4e00}}-\\x{{9fff}}]', '', 'g')) AS n_cjk,
               len(t) AS n_tokens
        FROM toks
    )
    SELECT doc_id,
           CASE WHEN n_cjk * 2 > n_tokens THEN 'zh' ELSE {best} END AS lang_pred,
           s_en, s_es, s_de, s_fr, n_cjk
    FROM scored
    """


@register("text_language_id", oracle=_langid_oracle(), tags=("text", "langid"))
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword/CJK-based language ID: per-language signature-word hit
    counts, CJK-character dominance for zh, deterministic argmax.
    (The testdata's `lang` column is synthetic label noise — its text
    is one shared vocabulary — so the heuristic is validated against
    its own SQL oracle, not that column.)"""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "text", tokens().alias("t"))
    scored = t.select(
        "doc_id",
        *[F.expr(_in_list("t", words)).alias(f"s_{code}") for code, words in _LANGS],
        F.length(F.regexp_replace("text", f"[^{_CJK_RANGE}]", "")).alias("n_cjk"),
        F.size("t").alias("n_tokens"),
    )
    others = [f"s_{c}" for c, _ in _LANGS]
    best = F.when(F.lit(False), "x")
    for code, _ in _LANGS:
        best = best.when(F.col(f"s_{code}") == F.greatest(*others), code)
    return scored.select(
        "doc_id",
        F.when(F.col("n_cjk") * 2 > F.col("n_tokens"), "zh").otherwise(best).alias("lang_pred"),
        "s_en",
        "s_es",
        "s_de",
        "s_fr",
        "n_cjk",
    )


@register(
    "text_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               {tokens_sql('text')} AS t
        FROM documents
    )
    SELECT doc_id, source,
           md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS bag_fingerprint,
           md5(lower(trim((SELECT text FROM documents d2 WHERE d2.doc_id = toks.doc_id))))
               AS exact_fingerprint
    FROM toks
    """,
    tags=("text", "fingerprint"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact (md5 of normalized text) and
    bag-of-words (md5 of sorted distinct tokens — invariant to word
    order, the cheap shingle-free near-dup key)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "source",
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens())))).alias("bag_fingerprint"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("exact_fingerprint"),
    )


@register(
    "text_regex_tokens",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(t) AS BIGINT) AS n_subword_units,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT)  AS n_word_units,
           CAST(len(list_filter(t, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT)  AS n_number_units,
           CAST(len(list_filter(t, x -> NOT regexp_matches(x, '^[a-z0-9]'))) AS BIGINT) AS n_punct_units
    FROM toks
    ORDER BY doc_id
    """,
    tags=("text", "tokens", "bpe", "regex"),
)
def text_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenization counts: the GPT-2-ish pre-tokenizer
    regex (letter runs | digit runs | single punctuation) applied per
    document — the unit count that upstream BPE merge tables operate
    on, and the standard per-doc token budget estimate for training
    pipelines. Pure `regexp_extract_all` + higher-order filters: one
    map-only pass, JVM-side, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.expr(r"regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)").alias("t"),
    )
    return t.select(
        "doc_id",
        F.size("t").cast("long").alias("n_subword_units"),
        F.size(F.expr("filter(t, x -> x rlike '^[a-z]+$')")).cast("long").alias("n_word_units"),
        F.size(F.expr("filter(t, x -> x rlike '^[0-9]+$')")).cast("long").alias("n_number_units"),
        F.size(F.expr("filter(t, x -> NOT (x rlike '^[a-z0-9]'))")).cast("long").alias("n_punct_units"),
    ).orderBy("doc_id")


_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_URL = r"https?://[^\s]+"


@register(
    "text_pii_scrub",
    # The corpus has no natural PII, so the query plants deterministic
    # email/URL strings per doc_id and the redaction must remove
    # exactly those — both engines build and scrub the same string.
    oracle=f"""
    WITH planted AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or https://host/page/'
                    || CAST(doc_id AS VARCHAR) AS raw
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, raw,
               regexp_replace(
                   regexp_replace(raw, '{_PII_URL}', '<URL>', 'g'),
                   '{_PII_EMAIL}', '<EMAIL>', 'g') AS clean
        FROM planted
    )
    SELECT doc_id,
           CAST(length(raw) - length(clean) AS BIGINT) AS n_chars_removed,
           CAST((length(clean) - length(replace(clean, '<EMAIL>', ''))) / 7
                AS BIGINT) AS n_emails,
           CAST((length(clean) - length(replace(clean, '<URL>', ''))) / 5
                AS BIGINT) AS n_urls
    FROM scrubbed
    ORDER BY doc_id
    """,
    tags=("text", "pii", "scrub"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: replace emails and URLs with typed
    placeholder tokens and report per-doc removal counts — the
    pre-training scrub every web-scale corpus runs. Pure
    ``regexp_replace`` (same RE2-compatible patterns in both
    engines): map-only, JVM-side, zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://host/page/"),
        F.col("doc_id").cast("string"),
    )
    planted = docs.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), _PII_URL, "<URL>"), _PII_EMAIL, "<EMAIL>"
    )
    scrubbed = planted.withColumn("clean", clean)
    n_emails = (
        (F.length("clean") - F.length(F.regexp_replace("clean", "<EMAIL>", ""))) / 7
    )
    n_urls = (
        (F.length("clean") - F.length(F.regexp_replace("clean", "<URL>", ""))) / 5
    )
    return scrubbed.select(
        "doc_id",
        (F.length("raw") - F.length("clean")).cast("long").alias("n_chars_removed"),
        n_emails.cast("long").alias("n_emails"),
        n_urls.cast("long").alias("n_urls"),
    ).orderBy("doc_id")


@register(
    "text_length_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT lang,
               len({tokens_sql('text')}) AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT lang, n_tokens,
               CASE WHEN n_tokens < 16 THEN '<16'
                    WHEN n_tokens < 32 THEN '16-31'
                    WHEN n_tokens < 64 THEN '32-63'
                    WHEN n_tokens < 128 THEN '64-127'
                    ELSE '>=128' END AS bucket
        FROM toks
    )
    SELECT lang, bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM bucketed
    GROUP BY lang, bucket
    """,
    tags=("text", "tokens", "batching"),
)
def text_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per language in power-of-two-ish buckets
    — the statistic batch planners use to pack sequences (bucketed
    batching / sequence-length binning). One map pass + one grouped
    aggregate on a tiny key space."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("lang", F.size(tokens()).alias("n_tokens"))
    bucket = (
        F.when(F.col("n_tokens") < 16, "<16")
        .when(F.col("n_tokens") < 32, "16-31")
        .when(F.col("n_tokens") < 64, "32-63")
        .when(F.col("n_tokens") < 128, "64-127")
        .otherwise(">=128")
    )
    return (
        t.select("lang", "n_tokens", bucket.alias("bucket"))
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
    )


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH {TOKS_CTE},
    tri AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS g
        FROM toks WHERE len(t) >= 3
    )
    SELECT doc_id,
           len(g)                                        AS n_trigrams,
           len(list_distinct(g))                         AS n_unique_trigrams,
           round(1.0 - len(list_distinct(g)) * 1.0 / len(g), 4)
                                                         AS dup_trigram_ratio,
           CASE WHEN 1.0 - len(list_distinct(g)) * 1.0 / len(g) > 0.2
                THEN 1 ELSE 0 END                        AS is_repetitive
    FROM tri
    """,
    tags=("text", "quality", "repetition"),
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signal (the Gopher/C4-style quality
    filter): fraction of duplicate token trigrams per doc — looping or
    boilerplate-stuffed documents score high and get flagged.

    Scale shape: ZERO shuffles — tokenize, build the trigram list, and
    count total vs distinct entirely with array expressions inside one
    projection, so at 100 TB this is a map-only pass at scan speed.
    (Contrast the corpus-wide shingle index ops, which must shuffle;
    a per-doc signal never needs to.) Docs with < 3 tokens have no
    trigram and drop out, mirrored by the oracle's len(t) >= 3."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("t")).filter(F.size("t") >= 3)
    g = t.select(
        "doc_id",
        F.expr(
            "transform(sequence(1, size(t) - 2), i -> concat_ws(' ', slice(t, i, 3)))"
        ).alias("g"),
    )
    ratio = F.lit(1.0) - F.size(F.array_distinct("g")) / F.size("g")
    return g.select(
        "doc_id",
        F.size("g").alias("n_trigrams"),
        F.size(F.array_distinct("g")).alias("n_unique_trigrams"),
        F.round(ratio, 4).alias("dup_trigram_ratio"),
        F.when(ratio > 0.2, F.lit(1)).otherwise(F.lit(0)).alias("is_repetitive"),
    )


@register(
    "text_ngram_topk",
    oracle=f"""
    WITH {TRIGRAM_IDX_CTES},
    sh AS (
        SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS trigram
        FROM idx
    ),
    counted AS (
        SELECT trigram, count(*) AS freq FROM sh GROUP BY trigram
    )
    SELECT trigram, freq
    FROM counted
    ORDER BY freq DESC, trigram
    LIMIT 20
    """,
    tags=("text", "ngram", "vocab"),
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 token trigrams with counts — the vocabulary/
    phrase-statistics builder (feeds BPE merge selection, boilerplate
    detection, and the shingle df-cap threshold choice). Explode +
    one map-side-combinable count + TakeOrdered top-k: no global sort,
    the k rows collapse at the driver. Deterministic tie-break on the
    trigram text keeps the cross-engine hash stable."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingles_df(docs, n=3, distinct=False)
    return (
        sh.groupBy(F.col("shingle").alias("trigram"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "trigram")
        .limit(20)
    )


_DATASET_CARD_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               len({tokens_sql('text')}) AS n_tok,
               md5(lower(trim(text))) AS fp
        FROM documents
    )
    SELECT metric, value FROM (
        SELECT 'n_docs' AS metric, CAST(count(*) AS DOUBLE) AS value FROM toks
        UNION ALL
        SELECT 'n_tokens', CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) FROM toks
        UNION ALL
        SELECT 'avg_tokens_per_doc',
               round(CAST(CAST(sum(n_tok) AS BIGINT) AS DOUBLE) / count(*), 4)
        FROM toks
        UNION ALL
        SELECT 'duplicate_rate',
               round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6)
        FROM toks
        UNION ALL
        SELECT 'n_langs', CAST(count(DISTINCT lang) AS DOUBLE) FROM toks
        UNION ALL
        SELECT 'n_sources', CAST(count(DISTINCT source) AS DOUBLE) FROM toks
    )
    ORDER BY metric
"""


@register(
    "pipeline_dataset_card",
    oracle=_DATASET_CARD_ORACLE,
    tags=("pipeline", "dataset-card", "stats"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card statistics block every corpus release ships
    (HF dataset cards, Dolma/C4 papers): document and token counts,
    mean document length, exact-duplicate rate, and language/source
    cardinalities — in long (metric, value) form so downstream
    dashboards ingest it schema-free. Complements
    `maintenance_table_stats` (per-COLUMN profile of a relational
    table) with the corpus-level profile of the text table.

    Scale shape: ONE pass over documents computes per-doc token
    counts and fingerprints map-only; every metric is then a
    map-side-combinable aggregate (the three DISTINCTs are
    fingerprint/lang/source — at 100 TB swap the exact distinct
    fingerprint count for approx_count_distinct, the
    `agg_approx_distinct` machinery, to avoid the full-width
    exchange). Value column is uniformly DOUBLE: counts are exact
    integers below 2^53, ratios rounded in-query."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        "source",
        F.size(tokens()).alias("n_tok"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    agg = t.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.count_distinct("fp").alias("n_fp"),
        F.count_distinct("lang").alias("n_langs"),
        F.count_distinct("source").alias("n_sources"),
    )
    return (
        agg.select(
            F.explode(
                F.create_map(
                    F.lit("n_docs"), F.col("n_docs").cast("double"),
                    F.lit("n_tokens"), F.col("n_tokens").cast("double"),
                    F.lit("avg_tokens_per_doc"),
                    F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 4),
                    F.lit("duplicate_rate"),
                    F.round(
                        F.lit(1.0) - F.col("n_fp").cast("double") / F.col("n_docs"), 6
                    ),
                    F.lit("n_langs"), F.col("n_langs").cast("double"),
                    F.lit("n_sources"), F.col("n_sources").cast("double"),
                )
            ).alias("metric", "value")
        )
        .orderBy("metric")
    )


# ---------------------------------------------------------------------------
# round 7: BPE merge statistics, shingle novelty, character entropy


@register(
    "text_bpe_merge_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT {tokens_sql('text')} AS t
        FROM documents
    ),
    words AS (SELECT unnest(t) AS w FROM toks),
    pairs AS (
        SELECT substring(w, i, 2) AS pair
        FROM (
            SELECT w, unnest(range(1, length(w))) AS i
            FROM words WHERE length(w) >= 2
        )
    ),
    counts AS (
        SELECT pair, CAST(count(*) AS BIGINT) AS n FROM pairs GROUP BY pair
    )
    SELECT pair, n, CAST(rk AS BIGINT) AS rk FROM (
        SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rk
        FROM counts
    ) WHERE rk <= 40
    ORDER BY rk
    """,
    tags=("text", "bpe", "tokenizer"),
)
def text_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration: corpus-wide adjacent
    character-pair frequencies within words, top-40 — exactly the
    statistic a byte-pair-encoding tokenizer trainer computes to pick
    its next merge rule (repeat with the merged symbol to grow the
    vocab; `text_vocab_induction` is the word-level sibling).

    Scale shape: the pair explode is map-side (xW chars per word, no
    shuffle), the count is one map-side-combinable aggregate over an
    alphabet^2-bounded key space (<=26^2 for [a-z] corpora — the
    group state is tiny no matter the corpus), and the top-40 window
    runs on that aggregated table (post-aggregation smallness, the
    `text_vocab_induction` argument)."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokens()).alias("w")).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy(F.col("n").desc(), "pair")
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 40)
        .orderBy("rk")
    )


@register(
    "text_shingle_novelty",
    oracle=f"""
    WITH {trigram_ctes('sh')},
    firsts AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
               AS n_novel,
           round(count(*) FILTER (WHERE f.first_doc = s.doc_id) * 1.0 / count(*), 4)
               AS novelty
    FROM sh s JOIN firsts f ON s.shingle = f.shingle
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
    tags=("text", "novelty", "dedup", "scale"),
)
def text_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's distinct
    trigrams whose corpus-wide FIRST occurrence (minimum doc_id —
    ingestion order) is this document — the additive-information
    signal curation pipelines use to rank near-duplicates beyond the
    binary keep/drop of `dedup_*` (a doc can evade the 0.7-Jaccard
    gate yet contribute almost nothing new).

    Scale shape (round-13 rewrite, r12 verdict #4): TWO combinable
    aggregates over the session-cached distinct (doc_id, shingle)
    relation (``cached_doc_shingles``) — the min-doc_id-per-shingle
    pass and the shingles-per-doc count — then the novel count comes
    from aggregating the FIRSTS relation itself (one row per distinct
    shingle, grouped by its winning doc), and the final join is
    doc-keyed between two doc-sized aggregates. The previous form
    joined the full corpus-sized shingle relation back against firsts
    on the shingle key — at the x64 tier (~80M shingle instances,
    ~128x token volume) that join-back was the entire 30 s wall; this
    form's corpus-sized work is just the two map-side-combinable
    exchanges. No pairwise anything: cost is O(corpus shingles), not
    O(pairs), which is why novelty scoring scales where exact
    pairwise Jaccard needs LSH. The DuckDB oracle keeps the
    independent join-back formulation — two derivations agreeing is
    the stronger check."""
    sh = cached_doc_shingles(spark, sf_dir, n=3)
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = firsts.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) / F.col("n_shingles"), 4
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_char_entropy",
    oracle="""
    WITH chars AS (
        SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT source, ch, CAST(count(*) AS BIGINT) AS c
        FROM chars GROUP BY source, ch
    ),
    totals AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM counts GROUP BY source
    ),
    terms AS (
        SELECT c.source, t.n, t.n_distinct,
               c.c * CAST(round(ln(c.c * 1.0 / t.n) * 1e6, 0) AS BIGINT) AS cq
        FROM counts c JOIN totals t ON c.source = t.source
    )
    SELECT source, n AS n_chars, n_distinct,
           round(-CAST(sum(cq) AS BIGINT) / n / 1e6, 4) AS entropy_nats
    FROM terms
    GROUP BY source, n, n_distinct
    ORDER BY source
    """,
    tags=("text", "entropy", "quality"),
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-distribution Shannon entropy (nats) —
    the cheap gibberish/encoding-noise detector: natural prose sits
    near ~2.9 nats over [a-z], while base64 blobs, hex dumps, and
    repeated boilerplate pull sharply higher or lower. Complements
    `text_quality_score`'s length/punct ratios with a
    distributional signal.

    Scale: one map-side explode to (source, char) counts (<=26 keys
    per source after map-side combine), then arithmetic on the tiny
    aggregate. Cross-engine floats via the `text_unigram_logprob`
    discipline: each ln(p) term is integer-quantized at 1e6 BEFORE
    the weighted sum, so the sum is exact integer arithmetic and the
    final entropy is two divisions in identical order."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "source",
        F.explode(F.expr("regexp_extract_all(lower(text), '[a-z]', 0)")).alias("ch"),
    )
    counts = chars.groupBy("source", "ch").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_distinct")
    )
    q = F.round(F.log(F.col("c") / F.col("n")) * F.lit(1e6), 0).cast("long")
    terms = counts.join(totals, "source").select(
        "source", "n", "n_distinct", (F.col("c") * q).alias("cq")
    )
    return (
        terms.groupBy("source", "n", "n_distinct")
        .agg(F.sum("cq").alias("sum_cq"))
        .select(
            "source",
            F.col("n").alias("n_chars"),
            "n_distinct",
            F.round(-F.col("sum_cq") / F.col("n") / F.lit(1e6), 4).alias(
                "entropy_nats"
            ),
        )
        .orderBy("source")
    )


@register(
    "pipeline_quality_funnel",
    oracle=f"""
    WITH flags AS (
        SELECT d.doc_id,
               d.n_chars >= 100 AS b_len,
               d.lang = 'en' AS b_lang,
               len({tokens_sql('d.text')}) >= 30
                   AS b_tok,
               d.doc_id = k.keeper AS b_uniq
        FROM documents d
        JOIN (
            SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keeper
            FROM documents GROUP BY 1
        ) k ON md5(lower(trim(d.text))) = k.fp
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
               CAST(count(*) FILTER (WHERE b_len) AS BIGINT) AS n1,
               CAST(count(*) FILTER (WHERE b_len AND b_lang) AS BIGINT) AS n2,
               CAST(count(*) FILTER (WHERE b_len AND b_lang AND b_tok)
                    AS BIGINT) AS n3,
               CAST(count(*) FILTER (WHERE b_len AND b_lang AND b_tok AND b_uniq)
                    AS BIGINT) AS n4
        FROM flags
    )
    SELECT * FROM (
        SELECT CAST(0 AS BIGINT) AS stage_id, 'raw' AS stage, n0 AS n_surviving FROM agg
        UNION ALL
        SELECT 1, 'min_length', n1 FROM agg
        UNION ALL
        SELECT 2, 'lang_en', n2 FROM agg
        UNION ALL
        SELECT 3, 'min_tokens', n3 FROM agg
        UNION ALL
        SELECT 4, 'exact_dedup', n4 FROM agg
    )
    ORDER BY stage_id
    """,
    tags=("pipeline", "quality", "funnel", "observability"),
)
def pipeline_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel observability: cumulative survivor counts
    through the standard gate sequence (length -> language -> token
    floor -> exact dedup) — the drop-off report every corpus build
    publishes next to its dataset card (`pipeline_dataset_card`), and
    the first place a mis-tuned gate shows up (one stage suddenly
    eating 40% of the corpus).

    Scale shape: gate flags are one map-side pass (the dedup flag
    joins the md5-fingerprint keeper relation, the `dedup_exact_docs`
    aggregate, on its uniform hash key); all five cumulative counts
    come out of ONE aggregate over the flags (FILTER-clause
    composition — `agg_filter_clause` machinery), then a constant
    5-row unpivot."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    keepers = docs.groupBy(fp.alias("fp")).agg(F.min("doc_id").alias("keeper"))
    flags = (
        docs.select("doc_id", "n_chars", "lang", "text", fp.alias("fp"))
        .join(keepers, "fp")
        .select(
            (F.col("n_chars") >= 100).alias("b_len"),
            (F.col("lang") == "en").alias("b_lang"),
            (F.size(tokens()) >= 30).alias("b_tok"),
            (F.col("doc_id") == F.col("keeper")).alias("b_uniq"),
        )
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count_if(F.col("b_len")).alias("n1"),
        F.count_if(F.col("b_len") & F.col("b_lang")).alias("n2"),
        F.count_if(F.col("b_len") & F.col("b_lang") & F.col("b_tok")).alias("n3"),
        F.count_if(
            F.col("b_len") & F.col("b_lang") & F.col("b_tok") & F.col("b_uniq")
        ).alias("n4"),
    )
    stages = [
        (0, "raw", "n0"),
        (1, "min_length", "n1"),
        (2, "lang_en", "n2"),
        (3, "min_tokens", "n3"),
        (4, "exact_dedup", "n4"),
    ]
    rows = [
        agg.select(
            F.lit(sid).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            F.col(col).alias("n_surviving"),
        )
        for sid, name, col in stages
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("stage_id")


# --- term-pair PMI ---------------------------------------------------

_PMI_MIN_DF = 5  # drop hapax-ish terms before pairing
_PMI_VOCAB_CAP = 2048  # top terms by (df DESC, term) kept in the vocab
_PMI_MIN_CO = 20  # minimum pair co-document support reported


@register(
    "text_term_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest({tokens_sql('text')}) AS term
        FROM documents
    ),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks),
    vocab AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df
        FROM toks GROUP BY term
        HAVING count(*) >= {_PMI_MIN_DF}
        ORDER BY df DESC, term
        LIMIT {_PMI_VOCAB_CAP}
    ),
    tv AS (SELECT t.doc_id, t.term FROM toks t JOIN vocab USING (term)),
    co AS (
        SELECT a.term AS term_a, b.term AS term_b,
               CAST(count(*) AS BIGINT) AS co_df
        FROM tv a JOIN tv b
          ON a.doc_id = b.doc_id AND a.term < b.term
        GROUP BY a.term, b.term
        HAVING count(*) >= {_PMI_MIN_CO}
    )
    SELECT term_a, term_b, co_df, va.df AS df_a, vb.df AS df_b,
           round(ln((co_df * 1.0 * n_docs) / (va.df * 1.0 * vb.df)), 4)
               AS pmi
    FROM co
    JOIN vocab va ON va.term = term_a
    JOIN vocab vb ON vb.term = term_b
    CROSS JOIN n
    ORDER BY term_a, term_b
    """,
    tags=("text", "pmi", "cooccurrence", "scale"),
)
def text_term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information over term co-occurrence at the
    document level — the collocation / topic-pair signal behind
    phrase mining and embedding-free relatedness ("spark" and
    "window" co-occur 3x more than independence predicts). PMI =
    ln(P(a,b) / P(a)P(b)) with document frequencies as the
    probability estimates.

    Scale discipline: the pair space is bounded BEFORE the self-join
    — terms below {_PMI_MIN_DF} docs are dropped, the vocabulary is
    capped at the top {_PMI_VOCAB_CAP} terms by df (a deterministic
    (df DESC, term) order + LIMIT), and the per-doc self-join fans
    out at most (distinct capped terms per doc choose 2), with the
    co-occurrence aggregate bounded by vocab-cap^2 cells. The tiny
    vocab relation broadcasts into both the filter and the df
    lookups. The PMI ln() runs once per surviving pair on exact
    integer ratios assembled in token-identical order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens()).alias("term")
    ).distinct()
    n_docs = toks.agg(F.count_distinct("doc_id").alias("n_docs"))
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _PMI_MIN_DF)
        .orderBy(F.col("df").desc(), "term")
        .limit(_PMI_VOCAB_CAP)
    )
    tv = toks.join(F.broadcast(vocab.select("term")), "term").select(
        "doc_id", "term"
    )
    a, b = tv.alias("a"), tv.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("co_df"))
        .filter(F.col("co_df") >= _PMI_MIN_CO)
    )
    va = vocab.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    return (
        co.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "co_df",
            "df_a",
            "df_b",
            F.round(
                F.log(
                    (F.col("co_df") * F.lit(1.0) * F.col("n_docs"))
                    / (F.col("df_a") * F.lit(1.0) * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy("term_a", "term_b")
    )


# --- source signature terms (class-TF-IDF) ---------------------------

_SIG_TOP_K = 5


@register(
    "text_source_signature_terms",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               unnest({tokens_sql('text')}) AS term
        FROM documents
    ),
    tf AS (
        SELECT source, term, CAST(count(*) AS BIGINT) AS tf
        FROM toks GROUP BY source, term
    ),
    sdf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS src_df FROM tf GROUP BY term
    ),
    n AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM tf),
    scored AS (
        SELECT tf.source, tf.term, tf.tf, sdf.src_df,
               tf.tf * CAST(round(ln(CAST(n_sources AS DOUBLE)
                                     / CAST(sdf.src_df AS DOUBLE)) * 1e6, 0)
                            AS BIGINT) AS score_q
        FROM tf JOIN sdf USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY score_q DESC, term) AS rank
        FROM scored
    )
    SELECT source, term, tf, src_df, score_q, rank
    FROM ranked WHERE rank <= {_SIG_TOP_K}
    ORDER BY source, rank
    """,
    tags=("text", "tfidf", "topic", "scale"),
)
def text_source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-TF-IDF signature terms per SOURCE: the top-5 (_SIG_TOP_K)
    terms most distinctive of each source's aggregate vocabulary
    (tf within the source x ln(n_sources / sources-containing-term))
    — the group-level topic-signature readout (BERTopic's c-TF-IDF)
    behind corpus composition dashboards and source-mix debugging.
    Deliberately DISTINCT from `text_keyword_tfidf` (per-DOC salience
    over document frequencies): here the "documents" of the TF-IDF
    are the source classes themselves, so a 20-source corpus yields
    20 signature rows-of-_SIG_TOP_K regardless of corpus size.

    Cross-engine float discipline: idf over the tiny source axis is
    integer-quantized at 1e6 BEFORE the tf multiply (the
    `text_unigram_logprob` idiom) — ranking is exact int64.

    Scale shape: class-tf is one map-side-combinable aggregate over
    the token explode (vocab x n_sources rows out, NOT corpus-sized);
    src_df re-aggregates that relation; n_sources broadcasts; the
    per-source top-k is a rank-filtered window with a
    WindowGroupLimit partial below the source exchange. int64
    headroom: score_q <= tf x 3e6 at 20 sources — safe to tf ~ 3e12
    occurrences per source."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(tokens()).alias("term"))
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    sdf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("src_df"))
    n = tf.agg(F.count_distinct("source").alias("n_sources"))
    idf_q = F.round(
        F.log(
            F.col("n_sources").cast("double") / F.col("src_df").cast("double")
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    scored = (
        tf.join(sdf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "source", "term", "tf", "src_df",
            (F.col("tf") * idf_q).alias("score_q"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("score_q").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _SIG_TOP_K)
        .orderBy("source", "rank")
    )


# --- bigram LM scoring ------------------------------------------------


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH {TOKS_CTE},
    uni AS (
        SELECT unnest(t) AS w, doc_id FROM toks
    ),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uc),
    bi AS (
        SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
        FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY bigram),
    terms AS (
        SELECT b.doc_id,
               CAST(round(ln(CAST(bc.c + 1 AS DOUBLE)
                             / CAST(uc.c + v.vocab AS DOUBLE)) * 1e6, 0)
                    AS BIGINT) AS lp_q
        FROM bi b
        JOIN bc ON bc.bigram = b.bigram
        JOIN uc ON uc.w = b.w1
        CROSS JOIN v
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)       AS n_bigrams,
           CAST(sum(lp_q) AS BIGINT)      AS logprob_q,
           round(CAST(sum(lp_q) AS DOUBLE) / (count(*) * 1e6), 4)
               AS avg_logprob
    FROM terms
    GROUP BY doc_id
    ORDER BY doc_id
    """,
    tags=("text", "language-model", "quality", "scale"),
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram log-probability under an
    add-one-smoothed corpus bigram LM: lp(w1 w2) = ln((c(w1,w2)+1) /
    (c(w1)+V)) — the order-sensitive fluency signal
    `text_unigram_logprob` (bag-of-words) cannot see: scrambled or
    template-stitched text keeps its unigram score but collapses
    here. Standard membership/quality filter in pretraining pipelines.

    Cross-engine float discipline: each conditional ln is quantized
    at 1e6 BEFORE the per-doc sum (the unigram-LM idiom), so doc
    scores are exact int64 sums; ONE display division at the end.

    Scale shape: the bigram model is a map-side-combinable aggregate
    over the bigram explode (observed-bigram-sized, not vocab²); doc
    scoring joins instances to the model on bigram and to unigram
    counts on w1 — both keyed shuffles on model-sized relations; V
    is a broadcast scalar. No windows, no driver math."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens().alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("uc"))
    v = uc.agg(F.count(F.lit(1)).alias("vocab"))
    bi = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.posexplode(F.expr("slice(t, 1, size(t) - 1)")).alias("i", "w1"),
            "t",
        )
        .select(
            "doc_id",
            "w1",
            F.concat_ws(
                " ", F.col("w1"), F.expr("element_at(t, i + 2)")
            ).alias("bigram"),
        )
    )
    bc = bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("bc"))
    lp_q = F.round(
        F.log(
            (F.col("bc") + F.lit(1)).cast("double")
            / (F.col("uc") + F.col("vocab")).cast("double")
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    terms = (
        bi.join(bc, "bigram")
        .join(uc, bi.w1 == uc.w)
        .crossJoin(F.broadcast(v))
        .select("doc_id", lp_q.alias("lp_q"))
    )
    return (
        terms.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp_q").alias("logprob_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "logprob_q",
            F.round(
                F.col("logprob_q").cast("double")
                / (F.col("n_bigrams") * F.lit(1e6)),
                4,
            ).alias("avg_logprob"),
        )
        .orderBy("doc_id")
    )


# --- language-ID / metadata agreement audit ---------------------------


def _langid_agreement_oracle() -> str:
    return f"""
    WITH pred AS ({_langid_oracle()}),
    joined AS (
        SELECT d.lang AS lang_label, p.lang_pred
        FROM documents d JOIN pred p USING (doc_id)
    ),
    cells AS (
        SELECT lang_label, lang_pred, CAST(count(*) AS BIGINT) AS n
        FROM joined GROUP BY 1, 2
    ),
    totals AS (
        SELECT lang_label, CAST(sum(n) AS BIGINT) AS n_label
        FROM cells GROUP BY lang_label
    )
    SELECT c.lang_label, c.lang_pred, c.n,
           round(c.n * 1.0 / t.n_label, 4) AS share_of_label
    FROM cells c JOIN totals t USING (lang_label)
    ORDER BY lang_label, lang_pred
"""


@register(
    "text_langid_agreement",
    oracle=_langid_agreement_oracle(),
    tags=("text", "langid", "evaluation", "metadata-audit"),
)
def text_langid_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix between the `lang` METADATA column and the
    content-based `text_language_id` prediction — the metadata-trust
    audit a curation pipeline runs before using upstream labels for
    filtering or mixture weighting. On clean data the diagonal
    dominates; on THIS fixture the matrix is deliberately flat —
    the synthetic `lang` labels are noise over one shared vocabulary
    (documented on `text_language_id`) — which is exactly the signal
    the audit exists to surface: flat rows mean the metadata cannot
    be trusted and content-based ID must drive the pipeline. Member
    of the evaluation family (`similarity_ivf_recall`,
    `dedup_minhash_calibration`, `embeddings_centroid_drift`).

    Scale shape: the classifier pass is map-only (token containment
    scores + one regex), the matrix is a |langs|² aggregate, shares
    are int64 count ratios rounded once."""
    docs = load_table(spark, sf_dir, "documents")
    pred = text_language_id(spark, sf_dir).select("doc_id", "lang_pred")
    cells = (
        docs.select("doc_id", F.col("lang").alias("lang_label"))
        .join(pred, "doc_id")
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("lang_label").agg(F.sum("n").alias("n_label"))
    return (
        cells.join(F.broadcast(totals), "lang_label")
        .select(
            "lang_label",
            "lang_pred",
            "n",
            F.round(F.col("n") / F.col("n_label"), 4).alias("share_of_label"),
        )
        .orderBy("lang_label", "lang_pred")
    )


# ---------------------------------------------------------------------------
# Corpus-statistics readouts: vocabulary growth and source divergence

_HEAPS_BUCKETS = 10


@register(
    "text_heaps_law",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST(ceil((max(doc_id) + 1) * 1.0 / {_HEAPS_BUCKETS}) AS BIGINT)
                   AS bsize
        FROM documents
    ),
    tok AS (
        SELECT doc_id // b.bsize AS bucket,
               unnest({tokens_sql('text')})
                   AS token
        FROM documents, bounds b
    ),
    tokens_per_bucket AS (
        SELECT bucket, count(*) AS n_tok FROM tok GROUP BY bucket
    ),
    first_seen AS (
        SELECT token, min(bucket) AS first_bucket FROM tok GROUP BY token
    ),
    types_per_bucket AS (
        SELECT first_bucket AS bucket, count(*) AS n_new
        FROM first_seen GROUP BY first_bucket
    ),
    cum_tok AS (
        SELECT p AS bucket, sum(n_tok) AS cum_tokens
        FROM (SELECT bucket, n_tok,
                     unnest(range(bucket, {_HEAPS_BUCKETS})) AS p
              FROM tokens_per_bucket)
        GROUP BY p
    ),
    cum_types AS (
        SELECT p AS bucket, sum(n_new) AS cum_types
        FROM (SELECT bucket, n_new,
                     unnest(range(bucket, {_HEAPS_BUCKETS})) AS p
              FROM types_per_bucket)
        GROUP BY p
    )
    SELECT CAST(t.bucket AS BIGINT) AS bucket,
           CAST(t.cum_tokens AS BIGINT) AS cum_tokens,
           CAST(y.cum_types AS BIGINT) AS cum_types,
           round(ln(y.cum_types) / ln(t.cum_tokens), 4) AS heaps_exponent
    FROM cum_tok t JOIN cum_types y ON t.bucket = y.bucket
    ORDER BY bucket
    """,
    tags=("text", "corpus-stats", "scale"),
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: cumulative distinct token
    TYPES vs cumulative token INSTANCES over 10 doc_id-ordered corpus
    prefixes, plus the empirical Heaps exponent ln(V)/ln(N) per
    prefix — the readout that tells a data pipeline whether more
    corpus keeps buying vocabulary (and how fast tokenizer vocab
    budgets saturate).

    A naive prefix-distinct re-counts the vocabulary 10 times (10
    corpus scans). Instead: prefix-distinct decomposes by FIRST
    OCCURRENCE — one groupBy(token) -> min(bucket) pass, then each
    bucket's new-type count fans out to the prefixes it contributes
    to (a <=10x explode over a 10-row relation). One corpus-sized
    shuffle keyed by token, everything after is tiny. The bucket size
    derives from one broadcast max(doc_id) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    bounds = F.broadcast(
        docs.agg(
            F.ceil((F.max("doc_id") + 1) / F.lit(_HEAPS_BUCKETS))
            .cast("long")
            .alias("bsize")
        )
    )
    tok = (
        docs.crossJoin(bounds)
        .select(
            (F.col("doc_id") / F.col("bsize")).cast("long").alias("bucket"),
            F.explode(tokens()).alias("token"),
        )
    )
    tokens_per_bucket = tok.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tok"))
    first_seen = tok.groupBy("token").agg(F.min("bucket").alias("first_bucket"))
    types_per_bucket = first_seen.groupBy(
        F.col("first_bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_new"))
    cum_tok = (
        tokens_per_bucket.select(
            "n_tok",
            F.explode(
                F.sequence(F.col("bucket"), F.lit(_HEAPS_BUCKETS - 1))
            ).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.sum("n_tok").alias("cum_tokens"))
    )
    cum_types = (
        types_per_bucket.select(
            "n_new",
            F.explode(
                F.sequence(F.col("bucket"), F.lit(_HEAPS_BUCKETS - 1))
            ).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(F.sum("n_new").alias("cum_types"))
    )
    return (
        cum_tok.join(cum_types, "bucket")
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "cum_tokens",
            "cum_types",
            F.round(
                F.log(F.col("cum_types").cast("double"))
                / F.log(F.col("cum_tokens").cast("double")),
                4,
            ).alias("heaps_exponent"),
        )
        .orderBy("bucket")
    )


@register(
    "text_js_divergence",
    oracle=f"""
    WITH tok AS (
        SELECT source,
               unnest({tokens_sql('text')})
                   AS token
        FROM documents
    ),
    st AS (
        SELECT source, token, count(*) AS c FROM tok GROUP BY source, token
    ),
    s_tot AS (SELECT source, sum(c) AS n_s FROM st GROUP BY source),
    corpus AS (SELECT token, sum(c) AS c_t FROM st GROUP BY token),
    c_tot AS (SELECT sum(c) AS n FROM st),
    grid AS (
        SELECT s.source, v.token,
               coalesce(st.c, 0) * 1.0 / t.n_s AS p,
               v.c_t * 1.0 / ct.n AS m
        FROM (SELECT DISTINCT source FROM st) s
        CROSS JOIN corpus v
        CROSS JOIN c_tot ct
        JOIN s_tot t ON t.source = s.source
        LEFT JOIN st ON st.source = s.source AND st.token = v.token
    )
    SELECT source,
           CAST(max(n_s_out) AS BIGINT) AS n_tokens,
           round(sum(CASE WHEN p > 0
                          THEN 0.5 * p * ln(2.0 * p / (p + m)) ELSE 0 END)
                 + sum(0.5 * m * ln(2.0 * m / (p + m))), 4) AS jsd
    FROM (SELECT g.*, t.n_s AS n_s_out
          FROM grid g JOIN s_tot t ON t.source = g.source)
    GROUP BY source
    ORDER BY source
    """,
    tags=("text", "corpus-stats", "divergence"),
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's unigram
    distribution and the corpus-wide distribution — the domain-drift
    readout a mixture-sampling pipeline monitors (a source whose JSD
    rises is drifting away from the blend it was weighted for;
    sampling weights in `sample_domain_mixture` assume it hasn't).

    Shape: one token-keyed count per (source, token), two tiny
    marginals, then the (source x vocab) probability grid — bounded
    by #sources * vocab size, NOT corpus size (the corpus-sized work
    is the single groupBy). m > 0 everywhere by construction (every
    vocab token occurs somewhere), p = 0 rows contribute only the
    m-side term, so the sum is well-defined without epsilons. Both
    engines sum the same <=vocab-size term set per source and round
    to 4dp."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens()).alias("token"))
    st = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    s_tot = st.groupBy("source").agg(F.sum("c").alias("n_s"))
    corpus = st.groupBy("token").agg(F.sum("c").alias("c_t"))
    c_tot = F.broadcast(st.agg(F.sum("c").alias("n")))
    grid = (
        s_tot.crossJoin(corpus)
        .crossJoin(c_tot)
        .join(st, ["source", "token"], "left")
        .select(
            "source",
            "n_s",
            (F.coalesce(F.col("c"), F.lit(0)) / F.col("n_s")).alias("p"),
            (F.col("c_t") / F.col("n")).alias("m"),
        )
    )
    p_term = F.when(
        F.col("p") > 0,
        0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("m"))),
    ).otherwise(F.lit(0.0))
    m_term = 0.5 * F.col("m") * F.log(2.0 * F.col("m") / (F.col("p") + F.col("m")))
    return (
        grid.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.round(F.sum(p_term) + F.sum(m_term), 4).alias("jsd"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 9: readability — the quality dimension the punct/stopword/CPT
# heuristic (quality_weight_over) does not measure: sentence and
# syllable structure.


@register(
    "text_readability",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(len({tokens_sql('text')})
                    AS BIGINT) AS n_words,
               CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                    AS BIGINT) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                 - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4)
               AS flesch
    FROM feats
    ORDER BY doc_id
    """,
    tags=("text", "quality", "readability", "scale"),
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document, with the standard corpus-scale
    syllable proxy (vowel-group runs [aeiouy]+ — the heuristic every
    large-corpus readability pass uses, since true syllabification
    needs a dictionary): flesch = 206.835 - 1.015 * words/sentence -
    84.6 * syllables/word. Sentences are [.!?]+ runs (clamped to >= 1
    so fragment docs score rather than divide by zero). Extreme
    scores flag OCR noise (few sentence marks, vowel-poor garbage)
    and boilerplate lists — failure modes invisible to the
    punct/stopword quality heuristic, which is why readability rides
    as an independent quality column in curation stacks.

    All three counts are integers from the SAME regex semantics in
    both engines (Spark regexp_count / DuckDB len(regexp_extract_all)
    over identical patterns); the score is one arithmetic expression
    evaluated term-for-term identically (the quality_weight_over IEEE
    parity discipline), rounded to 4.

    Scale shape: map-only — three regex counts and one expression per
    row, no shuffle at all until the output sort."""
    docs = load_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_words"),
        F.greatest(
            F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
        ).cast("long").alias("n_sentences"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syllables"),
    )
    return feats.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllables").cast("double") / F.col("n_words")),
            4,
        ).alias("flesch"),
    ).orderBy("doc_id")


@register(
    "text_token_entropy",
    oracle=f"""
    WITH counts AS (
        SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT doc_id,
                   unnest({tokens_sql('text')})
                       AS token
            FROM documents
        )
        GROUP BY doc_id, token
    ),
    terms AS (
        SELECT doc_id, c,
               CAST(round(c * ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT)
                   AS clnc_q
        FROM counts
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(clnc_q) AS BIGINT) AS s_q
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           round(ln(CAST(n_tokens AS DOUBLE))
                 - (CAST(s_q AS DOUBLE) / 1e6) / n_tokens, 4) AS entropy
    FROM per_doc
    ORDER BY doc_id
    """,
    tags=("text", "quality", "entropy", "scale"),
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram (token) Shannon entropy per document, in nats:
    H = ln(n) - (1/n) * sum(c * ln c) over the doc's token counts —
    the lexical-diversity quality signal: near-zero entropy is the
    templated/repetitive-doc fingerprint (a curation gate upstream of
    the repetition-ratio and winnowing tiers), and entropy close to
    ln(n_types) is healthy prose.

    Cross-engine float stance (the events_power_law_alpha pattern):
    each per-type term c*ln(c) is QUANTIZED to an integer at 1e-6
    resolution before summation, so the corpus-sized aggregation is
    an exact BIGINT sum in both engines; the only unquantized float
    ops (one ln, one division, one subtraction) happen once per
    OUTPUT row on identical inputs.

    Scale shape: one (doc, token) count aggregate (map-side
    combinable) and one per-doc reduction — the same two-level shape
    as text_vocab_induction, nothing global anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("doc_id", F.explode(tokens()).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    terms = counts.select(
        "doc_id",
        "c",
        F.round(F.col("c") * F.log(F.col("c").cast("double")) * 1e6, 0)
        .cast("long")
        .alias("clnc_q"),
    )
    per_doc = terms.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum("clnc_q").alias("s_q"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(
            F.log(F.col("n_tokens").cast("double"))
            - (F.col("s_q").cast("double") / 1e6) / F.col("n_tokens"),
            4,
        ).alias("entropy"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Round 10: Gopher-style quality RULES report (Rae et al. 2021,
# "Scaling Language Models: ... Gopher", table A1) — the rule-based
# complement to text_quality_score's continuous score: production
# pipelines gate on named boolean rules (so a curation run can see
# WHICH rule is removing data), not on one blended score.

_GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH d AS (
        SELECT {tokens_sql('text')} AS w,
               len({tokens_sql('text')}) AS n,
               length(regexp_replace(trim(text), '\\s+', '', 'g')) AS swl,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) // 3
                   AS n_ellipsis
        FROM documents
    ),
    per_doc AS (
        SELECT n, swl, n_hash, n_ellipsis,
               len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                   AS n_alpha,
               len(list_filter(w, x -> x IN
                   ('the','be','to','of','and','that','have','with')))
                   AS n_stop
        FROM d
    ),
    flags AS (
        SELECT CASE WHEN n < 50 THEN 1 ELSE 0 END AS f_word_count_low,
               CASE WHEN n > 100000 THEN 1 ELSE 0 END AS f_word_count_high,
               CASE WHEN swl < 3 * n OR swl > 10 * n THEN 1 ELSE 0 END
                   AS f_mean_word_len_out,
               CASE WHEN 10 * (n_hash + n_ellipsis) > n THEN 1 ELSE 0 END
                   AS f_symbol_ratio_high,
               CASE WHEN 5 * n_alpha < 4 * n THEN 1 ELSE 0 END
                   AS f_alpha_words_low,
               CASE WHEN n_stop < 2 THEN 1 ELSE 0 END AS f_stopword_scarce
        FROM per_doc
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f_word_count_low) AS BIGINT) AS word_count_low,
               CAST(sum(f_word_count_high) AS BIGINT) AS word_count_high,
               CAST(sum(f_mean_word_len_out) AS BIGINT) AS mean_word_len_out,
               CAST(sum(f_symbol_ratio_high) AS BIGINT) AS symbol_ratio_high,
               CAST(sum(f_alpha_words_low) AS BIGINT) AS alpha_words_low,
               CAST(sum(f_stopword_scarce) AS BIGINT) AS stopword_scarce,
               CAST(sum(CASE WHEN f_word_count_low + f_word_count_high
                            + f_mean_word_len_out + f_symbol_ratio_high
                            + f_alpha_words_low + f_stopword_scarce > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS any_rule
        FROM flags
    )
    SELECT rule, n_failed,
           round(n_failed * 1.0 / (SELECT n_docs FROM agg), 4) AS fail_rate
    FROM (
        SELECT 'alpha_words_low' AS rule, alpha_words_low AS n_failed FROM agg
        UNION ALL SELECT 'any_rule', any_rule FROM agg
        UNION ALL SELECT 'mean_word_len_out', mean_word_len_out FROM agg
        UNION ALL SELECT 'stopword_scarce', stopword_scarce FROM agg
        UNION ALL SELECT 'symbol_ratio_high', symbol_ratio_high FROM agg
        UNION ALL SELECT 'word_count_high', word_count_high FROM agg
        UNION ALL SELECT 'word_count_low', word_count_low FROM agg
    )
    ORDER BY rule
    """,
    tags=("text", "quality", "gopher", "scale"),
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality report: the named boolean document filters
    of Rae et al.'s table A1 — word count in [50, 100k], mean word
    length in [3, 10], symbol-to-word ratio (# and ...) <= 0.1, >= 80%
    of words containing an alphabetic character, >= 2 stop-word hits —
    each reported as (rule, n_failed, fail_rate) plus an ``any_rule``
    row, so a curation run sees WHICH rule removes how much data
    before gating (the per-rule attribution a single blended quality
    score cannot give). Line-level Gopher rules (bullet/ellipsis line
    starts) are omitted: the corpus is single-line.

    Every rule is evaluated in INTEGER form (swl < 3*n, 10*symbols >
    n, 5*alpha < 4*n) — no float ratio is ever compared against a
    float threshold, so the per-doc booleans are bit-exact across
    engines and the only floats are the final rounded rates.

    Scale shape: one map-only pass computes the six per-doc flags
    (split + two regexp counts, no explode of token rows), one
    combinable aggregate reduces them to a single row of counters,
    and the report unpivots driver-free via stack — the cheapest
    possible corpus-wide readout shape (same plan family as
    text_quality_score)."""
    docs = load_table(spark, sf_dir, "documents")
    w = tokens()
    n = F.size(w)
    swl = F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellipsis = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit("...")))
    ) / F.lit(3)
    n_alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    n_stop = F.size(
        F.filter(w, lambda x: x.isin(*_GOPHER_STOPWORDS))
    )
    flags = docs.select(
        (n < 50).cast("long").alias("f_word_count_low"),
        (n > 100000).cast("long").alias("f_word_count_high"),
        ((swl < 3 * n) | (swl > 10 * n)).cast("long").alias(
            "f_mean_word_len_out"
        ),
        (10 * (n_hash + n_ellipsis.cast("long")) > n).cast("long").alias(
            "f_symbol_ratio_high"
        ),
        (5 * n_alpha < 4 * n).cast("long").alias("f_alpha_words_low"),
        (n_stop < 2).cast("long").alias("f_stopword_scarce"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_word_count_low").alias("word_count_low"),
        F.sum("f_word_count_high").alias("word_count_high"),
        F.sum("f_mean_word_len_out").alias("mean_word_len_out"),
        F.sum("f_symbol_ratio_high").alias("symbol_ratio_high"),
        F.sum("f_alpha_words_low").alias("alpha_words_low"),
        F.sum("f_stopword_scarce").alias("stopword_scarce"),
        F.sum(
            (
                F.col("f_word_count_low")
                + F.col("f_word_count_high")
                + F.col("f_mean_word_len_out")
                + F.col("f_symbol_ratio_high")
                + F.col("f_alpha_words_low")
                + F.col("f_stopword_scarce")
                > 0
            ).cast("long")
        ).alias("any_rule"),
    )
    unpivoted = agg.select(
        "n_docs",
        F.expr(
            "stack(7,"
            " 'alpha_words_low', alpha_words_low,"
            " 'any_rule', any_rule,"
            " 'mean_word_len_out', mean_word_len_out,"
            " 'stopword_scarce', stopword_scarce,"
            " 'symbol_ratio_high', symbol_ratio_high,"
            " 'word_count_high', word_count_high,"
            " 'word_count_low', word_count_low"
            ") AS (rule, n_failed)"
        ),
    )
    return unpivoted.select(
        "rule",
        "n_failed",
        F.round(F.col("n_failed") / F.col("n_docs"), 4).alias("fail_rate"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# Round 11: C4-style cleaning-rules report (Raffel et al. 2020, the C4
# corpus construction heuristics) — the other canonical rule set next
# to Gopher's. C4's filters are page/line-level web heuristics; this
# corpus is synthetic single-line word salad, so the canonical rules
# fire degenerately (no terminal punctuation anywhere -> 100%; no
# lorem-ipsum/braces/policy boilerplate -> 0%) and the report says so
# honestly — that IS the point of a per-rule attribution readout: it
# tells a curation run "C4's web heuristics would delete this corpus,
# don't apply them blindly". One corpus-scaled rule (word count below
# the corpus's own short-doc knee) is included so the report also
# exercises a discriminating rate.

_C4_POLICY_PHRASES = ("cookie", "javascript", "privacy policy", "terms of use")
_C4_MIN_WORDS = 40  # corpus-scaled; C4's own line rule is < 5 words


@register(
    "text_c4_rules",
    oracle=f"""
    WITH d AS (
        SELECT lower(text) AS lt, trim(text) AS tt,
               len({tokens_sql('text')}) AS n,
               length(text) - length(regexp_replace(text, '[.!?]', '', 'g'))
                   AS n_sent
        FROM documents
    ),
    flags AS (
        SELECT CASE WHEN NOT regexp_matches(tt, '[.!?"]$') THEN 1 ELSE 0 END
                   AS f_no_terminal_punct,
               CASE WHEN n_sent < 3 THEN 1 ELSE 0 END AS f_too_few_sentences,
               CASE WHEN n < {_C4_MIN_WORDS} THEN 1 ELSE 0 END AS f_short_doc,
               CASE WHEN contains(lt, 'lorem ipsum') THEN 1 ELSE 0 END
                   AS f_lorem_ipsum,
               CASE WHEN contains(lt, '{{') THEN 1 ELSE 0 END AS f_curly_brace,
               CASE WHEN contains(lt, 'cookie') OR contains(lt, 'javascript')
                     OR contains(lt, 'privacy policy')
                     OR contains(lt, 'terms of use') THEN 1 ELSE 0 END
                   AS f_policy_phrase
        FROM d
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(f_no_terminal_punct) AS BIGINT) AS no_terminal_punct,
               CAST(sum(f_too_few_sentences) AS BIGINT) AS too_few_sentences,
               CAST(sum(f_short_doc) AS BIGINT) AS short_doc,
               CAST(sum(f_lorem_ipsum) AS BIGINT) AS lorem_ipsum,
               CAST(sum(f_curly_brace) AS BIGINT) AS curly_brace,
               CAST(sum(f_policy_phrase) AS BIGINT) AS policy_phrase,
               CAST(sum(CASE WHEN f_no_terminal_punct + f_too_few_sentences
                            + f_short_doc + f_lorem_ipsum + f_curly_brace
                            + f_policy_phrase > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS any_rule
        FROM flags
    )
    SELECT rule, n_failed,
           round(n_failed * 1.0 / (SELECT n_docs FROM agg), 4) AS fail_rate
    FROM (
        SELECT 'any_rule' AS rule, any_rule AS n_failed FROM agg
        UNION ALL SELECT 'curly_brace', curly_brace FROM agg
        UNION ALL SELECT 'lorem_ipsum', lorem_ipsum FROM agg
        UNION ALL SELECT 'no_terminal_punct', no_terminal_punct FROM agg
        UNION ALL SELECT 'policy_phrase', policy_phrase FROM agg
        UNION ALL SELECT 'short_doc', short_doc FROM agg
        UNION ALL SELECT 'too_few_sentences', too_few_sentences FROM agg
    )
    ORDER BY rule
    """,
    tags=("text", "quality", "c4", "scale"),
)
def text_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-rule quality report (Raffel et al. 2020): the named boolean
    document filters of the C4 construction — terminal punctuation,
    >= 3 sentences, the lorem-ipsum / curly-brace / policy-phrase
    boilerplate detectors — each as (rule, n_failed, fail_rate) plus
    an ``any_rule`` row, the per-rule attribution sibling of
    `text_gopher_rules` (see the module comment for the honest
    degenerate-rates caveat on this synthetic corpus). Every rule is
    an integer/boolean computed from exact string ops (char counts,
    substring containment, one anchored regex) — nothing float until
    the final rounded rates.

    Scale shape: identical to the Gopher report — one map-only flag
    pass (no token explode), one combinable single-row aggregate, a
    driver-free stack unpivot."""
    docs = load_table(spark, sf_dir, "documents")
    lt = F.lower(F.col("text"))
    tt = F.trim(F.col("text"))
    n = F.size(tokens())
    n_sent = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), r"[.!?]", "")
    )
    policy = None
    for phrase in _C4_POLICY_PHRASES:
        hit = F.contains(lt, F.lit(phrase))
        policy = hit if policy is None else (policy | hit)
    flags = docs.select(
        (~tt.rlike('[.!?"]$')).cast("long").alias("f_no_terminal_punct"),
        (n_sent < 3).cast("long").alias("f_too_few_sentences"),
        (n < _C4_MIN_WORDS).cast("long").alias("f_short_doc"),
        F.contains(lt, F.lit("lorem ipsum")).cast("long").alias("f_lorem_ipsum"),
        F.contains(lt, F.lit("{")).cast("long").alias("f_curly_brace"),
        policy.cast("long").alias("f_policy_phrase"),
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_no_terminal_punct").alias("no_terminal_punct"),
        F.sum("f_too_few_sentences").alias("too_few_sentences"),
        F.sum("f_short_doc").alias("short_doc"),
        F.sum("f_lorem_ipsum").alias("lorem_ipsum"),
        F.sum("f_curly_brace").alias("curly_brace"),
        F.sum("f_policy_phrase").alias("policy_phrase"),
        F.sum(
            (
                F.col("f_no_terminal_punct")
                + F.col("f_too_few_sentences")
                + F.col("f_short_doc")
                + F.col("f_lorem_ipsum")
                + F.col("f_curly_brace")
                + F.col("f_policy_phrase")
                > 0
            ).cast("long")
        ).alias("any_rule"),
    )
    unpivoted = agg.select(
        "n_docs",
        F.expr(
            "stack(7,"
            " 'any_rule', any_rule,"
            " 'curly_brace', curly_brace,"
            " 'lorem_ipsum', lorem_ipsum,"
            " 'no_terminal_punct', no_terminal_punct,"
            " 'policy_phrase', policy_phrase,"
            " 'short_doc', short_doc,"
            " 'too_few_sentences', too_few_sentences"
            ") AS (rule, n_failed)"
        ),
    )
    return unpivoted.select(
        "rule",
        "n_failed",
        F.round(F.col("n_failed") / F.col("n_docs"), 4).alias("fail_rate"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# Round 11: iterative BPE tokenizer training (Sennrich et al. 2016) —
# the multi-round trainer `text_bpe_merge_pairs` (one iteration's
# statistic) points at. Distributed-BPE state is the WORD-TYPE
# relation (vocab-bounded, not corpus-bounded): one corpus pass
# builds (word, freq), then every merge round is a combinable
# adjacent-pair aggregate over the types plus a map-only rewrite of
# the symbol strings with the round's single merge rule — the shape
# production tokenizer trainers use at corpus scale.

_BPE_ROUNDS = 5


def _bpe_chain_cte() -> str:
    """The WITH-body of the BPE training chain (words -> w0 -> 5 x
    (pair counts p{r}, best pair b{r}, merged types w{r})), carrying
    the word key through every round — shared by the trainer oracle
    (reads the b{r} picks) and the encoder oracle (reads the final
    w{_BPE_ROUNDS} symbol strings), so the shipped merge table and
    the encoding it implies can never diverge. w{r} CTEs are
    MATERIALIZED: each round references its predecessor twice (pair
    count + rewrite), which DuckDB's default CTE inlining would
    expand exponentially (the _mmr_oracle lesson)."""
    steps = []
    prev = "w0"
    for r in range(1, _BPE_ROUNDS + 1):
        steps.append(f"""
    p{r} AS (
        SELECT pair, CAST(sum(n) AS BIGINT) AS total
        FROM (
            SELECT unnest([a[i] || ' ' || a[i+1] FOR i IN range(1, len(a))])
                       AS pair,
                   n
            FROM (SELECT regexp_split_to_array(sym, ' ') AS a, n FROM {prev})
            WHERE len(a) >= 2
        ) GROUP BY pair
    ),
    b{r} AS (
        SELECT pair, total,
               split_part(pair, ' ', 1) AS lsym,
               split_part(pair, ' ', 2) AS rsym
        FROM p{r} ORDER BY total DESC, pair LIMIT 1
    ),
    w{r} AS MATERIALIZED (
        SELECT w.w,
               trim(replace(
                 replace('  ' || replace(w.sym, ' ', '  ') || '  ',
                         ' ' || b.lsym || '  ' || b.rsym || ' ',
                         ' ' || b.lsym || b.rsym || ' '),
                 '  ', ' ')) AS sym,
               w.n
        FROM {prev} w CROSS JOIN b{r} b
    )""")
        prev = f"w{r}"
    return f"""words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest({tokens_sql('text')}) AS w
            FROM documents
        ) GROUP BY w
    ),
    w0 AS MATERIALIZED (
        SELECT w,
               array_to_string([w[i] FOR i IN range(1, length(w)+1)], ' ')
                   AS sym,
               n
        FROM words
    ),{','.join(steps)}"""


def _bpe_oracle() -> str:
    body = " UNION ALL ".join(
        f"SELECT {r} AS merge_round, pair, lsym || rsym AS new_symbol, "
        f"total AS pair_count FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_chain_cte()}
    SELECT merge_round, pair, new_symbol, pair_count FROM ({body})
    ORDER BY merge_round
    """


@register(
    "text_bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("text", "bpe", "tokenizer", "iterative", "scale"),
)
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the first ``_BPE_ROUNDS`` BPE merge rules over the corpus
    (Sennrich et al. 2016): start from per-character symbol sequences
    of the frequency-weighted word types, and per round (1) count
    adjacent symbol pairs weighted by word frequency, (2) pick the
    most frequent pair (ties to the lexicographically smallest — a
    deterministic stand-in for insertion order), (3) rewrite every
    type's symbol string with the merge applied greedily left to
    right. Emits (merge_round, pair, new_symbol, pair_count) — the
    merge table a tokenizer ships.

    Greedy left-to-right merge as pure string ops, identical in both
    engines: the symbol string's gaps are doubled (so each occurrence
    owns its boundary spaces and adjacent occurrences don't steal
    each other's — plain replace() scans non-overlapping left to
    right in Spark and DuckDB alike), the pair pattern
    ``' l  r '`` is replaced by ``' lr '``, and the gaps collapse
    back. 'a a a' under merge (a,a) gives 'aa a', the BPE greedy.

    Scale shape: ONE corpus pass builds the word-type relation (the
    only corpus-sized step); every round after is a combinable pair
    aggregate + a map-only rewrite over the VOCAB-bounded types, with
    exactly one (pair, count) row collected per round — the broadcast
    merge rule. O(rounds x vocab) after the count, like production
    distributed BPE trainers; the full corpus is never re-touched."""
    rows, _ = bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        rows, "merge_round int, pair string, new_symbol string, pair_count long"
    ).orderBy("merge_round")


def bpe_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the BPE training loop and return BOTH artifacts: the merge
    table rows (merge_round, pair, new_symbol, pair_count) and the
    final word-type relation (w, sym, n) with all merges applied —
    shared by the trainer query and the encoder
    (`text_bpe_apply_encode`) so the shipped merges and the encoding
    they imply come from one derivation (the substring_spans /
    simhash_candidate_pairs discipline). See `text_bpe_train_merges`
    for the algorithm and scale notes.

    A session relation per round count: a session running BOTH the
    trainer and the encoder pays the 5 driver-round training loop
    once — exactly what a production tokenizer job does (train,
    persist the merge table, encode against it; never re-train per
    consumer)."""
    return session_relation(
        spark, "bpe", sf_dir, "documents", lambda: _bpe_train_build(spark, sf_dir), _BPE_ROUNDS
    )


def _bpe_train_build(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = words.select(
        "w",
        F.expr(
            "array_join(transform(sequence(1, length(w)), "
            "i -> substring(w, i, 1)), ' ')"
        ).alias("sym"),
        "n",
    )
    rows: list[tuple[int, str, str, int]] = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            cur.select(F.split("sym", " ").alias("a"), "n")
            .filter(F.size("a") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(a) - 1), i -> "
                        "concat(element_at(a, i), ' ', element_at(a, i + 1)))"
                    )
                ).alias("pair"),
                "n",
            )
            .groupBy("pair")
            .agg(F.sum("n").alias("total"))
        )
        top = pairs.orderBy(F.desc("total"), "pair").limit(1).collect()
        if not top:
            break  # every type is a single symbol: vocabulary exhausted
        pair = top[0].pair
        lsym, rsym = pair.split(" ", 1)
        rows.append((r, pair, lsym + rsym, int(top[0].total)))
        expanded = F.concat(
            F.lit("  "),
            F.replace(F.col("sym"), F.lit(" "), F.lit("  ")),
            F.lit("  "),
        )
        merged = F.replace(
            expanded,
            F.lit(f" {lsym}  {rsym} "),
            F.lit(f" {lsym}{rsym} "),
        )
        cur = cur.select(
            "w",
            F.trim(F.replace(merged, F.lit("  "), F.lit(" "))).alias("sym"),
            "n",
        )
    return rows, cur


@register(
    "text_bpe_apply_encode",
    oracle=f"""
    WITH {_bpe_chain_cte()},
    inst AS (
        SELECT doc_id,
               unnest({tokens_sql('text')}) AS w
        FROM documents
    ),
    enc AS (
        SELECT w,
               CAST(len(regexp_split_to_array(sym, ' ')) AS BIGINT) AS n_sym
        FROM w{_BPE_ROUNDS}
    )
    SELECT i.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(e.n_sym) AS BIGINT) AS n_bpe_tokens,
           round(sum(e.n_sym) * 1.0 / count(*), 4) AS tokens_per_word
    FROM inst i JOIN enc e USING (w)
    GROUP BY i.doc_id
    ORDER BY i.doc_id
    """,
    tags=("text", "bpe", "tokenizer", "scale"),
)
def text_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the merge table `text_bpe_train_merges`
    ships: per document, whitespace word count, BPE token count under
    the trained merges, and tokens-per-word — the compression readout
    a token-budget pipeline needs (how many model tokens does this
    corpus actually cost?), and the loop-closer that proves the merge
    table is applicable, not just a statistic.

    Encoding never touches document text: each word INSTANCE joins
    the vocab-bounded encoded type table (broadcast-scale dimension)
    for its symbol count — the corpus-sized work is one token explode
    + one combinable per-doc aggregate. The shared `bpe_train` /
    chain-CTE derivation guarantees the encoder and the trainer agree
    on every merge."""
    _, types = bpe_train(spark, sf_dir)
    enc = types.select(
        "w", F.size(F.split("sym", " ")).cast("long").alias("n_sym")
    )
    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select("doc_id", F.explode(tokens()).alias("w"))
    return (
        inst.join(F.broadcast(enc), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sym").alias("n_bpe_tokens"),
            F.round(F.sum("n_sym") / F.count(F.lit(1)), 4).alias(
                "tokens_per_word"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Round 11: multinomial Naive Bayes source classifier — the
# closed-form member of the quality-classifier family (the slot
# fastText/logistic quality filters occupy in CCNet-style pipelines):
# train per-class token likelihoods in two aggregates, classify every
# document by exact integer argmax, and emit the confusion matrix —
# the auditable "can content predict its own metadata?" readout that
# `text_langid_agreement` gives for lang and
# `text_source_signature_terms` hints at for source.


_NB_VOCAB_MIN_COUNT = 3

# Reliability-bin geometry for the calibration readout: margins (top-1
# minus top-2 quantized log-score, 1e-6-nat units) are binned at 0.25
# nats per bin, capped at bin 12 (>= 3 nats ahead) — chosen against
# the measured sf0.01 margin distribution (quartiles ~0.16/0.36/0.68
# nats, p90 ~1.1) so the bins actually spread. Integer division on
# already-quantized int64 margins, so both engines bin identically.
_NB_MARGIN_BIN_Q = 250_000
_NB_MARGIN_MAX_BIN = 12
# A corpus with a single source class has no runner-up; its margin is
# the cap value so it lands (meaningfully) in the top-confidence bin.
_NB_MARGIN_CAP_Q = (_NB_MARGIN_MAX_BIN + 1) * _NB_MARGIN_BIN_Q

# Shared DuckDB derivation of the per-document NB prediction relation
# pred(doc_id, source, predicted, margin_q) — the single SQL-side
# counterpart of `nb_doc_predictions`, spliced into the confusion
# matrix, class-metrics, and calibration oracles so all three replay
# ONE scoring pipeline (the substring_spans / simhash discipline).
_NB_PRED_CTE = f"""
    tok AS (
        SELECT doc_id, source,
               unnest({tokens_sql('text')}) AS w
        FROM documents
    ),
    vocab AS (
        SELECT w FROM tok GROUP BY w
        HAVING count(*) >= {_NB_VOCAB_MIN_COUNT}
    ),
    vsize AS (SELECT CAST(count(*) + 1 AS BIGINT) AS vv FROM vocab),
    inst AS (
        SELECT t.doc_id, t.source,
               CASE WHEN v.w IS NULL THEN '<unk>' ELSE t.w END AS w
        FROM tok t LEFT JOIN vocab v ON t.w = v.w
    ),
    classes AS (
        SELECT source AS src, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM inst GROUP BY source
    ),
    total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM classes),
    cnt AS (
        SELECT source AS src, w, CAST(count(*) AS BIGINT) AS c
        FROM inst GROUP BY source, w
    ),
    ctok AS (SELECT src, CAST(sum(c) AS BIGINT) AS tok_c FROM cnt GROUP BY src),
    logp AS (
        SELECT c.src, c.w,
               CAST(round(ln((c.c + 1.0) / (t.tok_c + s.vv)) * 1e6, 0)
                    AS BIGINT) AS q
        FROM cnt c JOIN ctok t ON c.src = t.src CROSS JOIN vsize s
    ),
    zero AS (
        SELECT t.src,
               CAST(round(ln(1.0 / (t.tok_c + s.vv)) * 1e6, 0) AS BIGINT) AS zq
        FROM ctok t CROSS JOIN vsize s
    ),
    prior AS (
        SELECT c.src,
               CAST(round(ln(CAST(c.n_docs AS DOUBLE) / t.n_total) * 1e6, 0)
                    AS BIGINT) AS pq
        FROM classes c CROSS JOIN total t
    ),
    tf AS (
        SELECT doc_id, source, w, CAST(count(*) AS BIGINT) AS f
        FROM inst GROUP BY doc_id, source, w
    ),
    scored AS (
        SELECT i.doc_id, i.source,
               z.src AS cand,
               CAST(sum(i.f * COALESCE(l.q, z.zq)) AS BIGINT) AS sq
        FROM tf i
        CROSS JOIN zero z
        LEFT JOIN logp l ON l.src = z.src AND l.w = i.w
        GROUP BY i.doc_id, i.source, z.src, z.zq
    ),
    totals AS (
        SELECT s.doc_id, s.source, s.cand,
               CAST(s.sq + p.pq AS BIGINT) AS total
        FROM scored s JOIN prior p ON p.src = s.cand
    ),
    pred0 AS (
        SELECT doc_id, source, cand AS predicted,
               total - lead(total) OVER (
                   PARTITION BY doc_id ORDER BY total DESC, cand
               ) AS margin_raw,
               row_number() OVER (
                   PARTITION BY doc_id ORDER BY total DESC, cand
               ) AS r
        FROM totals
    ),
    pred AS (
        SELECT doc_id, source, predicted,
               CAST(COALESCE(margin_raw, {_NB_MARGIN_CAP_Q}) AS BIGINT)
                   AS margin_q
        FROM pred0 WHERE r = 1
    )
"""


def nb_doc_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NB prediction relation (doc_id, source, predicted,
    margin_q) — the SINGLE scoring derivation behind the confusion
    matrix (`text_naive_bayes_source`), the per-class metrics
    (`text_nb_class_metrics`), and the reliability bins
    (`text_nb_margin_calibration`), so the model all three report on
    is literally the same relation (the bpe_train / simhash_candidate
    discipline). margin_q = top-1 minus top-2 total quantized
    log-score: every term is int64 BEFORE subtraction, so the margin
    is exact in both engines; a single-class corpus (no runner-up)
    gets the cap value and lands in the top-confidence bin.

    Algorithm + scale shape: see `text_naive_bayes_source`. The
    cached relation is one narrow row per document (4 columns) — a
    session relation, so a session running the classifier and its two
    evaluation readouts pays the scoring pipeline once, exactly as a
    production job would persist the scored relation once and derive
    every eval table from it."""
    return session_relation(
        spark, "nb_predictions", sf_dir, "documents", lambda: _nb_score_predictions(spark, sf_dir)
    )


def _nb_score_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY NB scoring pipeline (train + score + argmax + margin)
    behind `nb_doc_predictions` — separated so plan tests can audit
    the scoring plan itself (broadcast model join, no SMJ/cartesian/
    row-python) rather than the checkpoint scan that hides it."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "source", F.explode(tokens()).alias("w"))
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cw"))
        .filter(F.col("cw") >= _NB_VOCAB_MIN_COUNT)
        .select("w")
    )
    vsize = vocab.agg((F.count(F.lit(1)) + 1).alias("vv"))
    inst = (
        tok.join(F.broadcast(vocab.withColumn("in_v", F.lit(1))), "w", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("in_v").isNull(), "<unk>").otherwise(F.col("w")).alias("w"),
        )
    )
    classes = inst.groupBy(F.col("source").alias("src")).agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    total = classes.agg(F.sum("n_docs").alias("n_total"))
    cnt = inst.groupBy(F.col("source").alias("src"), "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    ctok = cnt.groupBy("src").agg(F.sum("c").alias("tok_c"))
    logp = (
        cnt.join(ctok, "src")
        .crossJoin(F.broadcast(vsize))
        .select(
            "src",
            "w",
            F.round(
                F.log((F.col("c") + F.lit(1.0)) / (F.col("tok_c") + F.col("vv")))
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("q"),
        )
    )
    zero = ctok.crossJoin(F.broadcast(vsize)).select(
        "src",
        F.round(F.log(F.lit(1.0) / (F.col("tok_c") + F.col("vv"))) * F.lit(1e6), 0)
        .cast("long")
        .alias("zq"),
    )
    prior = classes.crossJoin(F.broadcast(total)).select(
        "src",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("n_total")) * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("pq"),
    )
    tf = inst.groupBy("doc_id", "source", "w").agg(
        F.count(F.lit(1)).alias("f")
    )
    lp = logp.select(
        F.col("src").alias("l_src"), F.col("w").alias("l_w"), "q"
    )
    scored = (
        tf.crossJoin(F.broadcast(zero))
        .join(
            F.broadcast(lp),
            (F.col("src") == F.col("l_src")) & (F.col("w") == F.col("l_w")),
            "left",
        )
        .groupBy("doc_id", "source", "src", "zq")
        .agg(F.sum(F.col("f") * F.coalesce("q", F.col("zq"))).alias("sq"))
    )
    totals = scored.join(F.broadcast(prior), "src").select(
        "doc_id",
        "source",
        F.col("src").alias("predicted"),
        (F.col("sq") + F.col("pq")).cast("long").alias("total"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("total"), "predicted")
    pred = (
        totals.withColumn("r", F.row_number().over(w))
        .withColumn("margin_raw", F.col("total") - F.lead("total").over(w))
        .filter(F.col("r") == 1)
        .select(
            "doc_id",
            "source",
            "predicted",
            F.coalesce(F.col("margin_raw"), F.lit(_NB_MARGIN_CAP_Q))
            .cast("long")
            .alias("margin_q"),
        )
    )
    return pred


@register(
    "text_naive_bayes_source",
    oracle=f"""
    WITH {_NB_PRED_CTE}
    SELECT source, predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM pred
    GROUP BY source, predicted
    ORDER BY source, predicted
    """,
    tags=("text", "classifier", "naive-bayes", "quality", "scale"),
)
def text_naive_bayes_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes with add-one smoothing, trained on the
    corpus's own source labels and applied back to every document:
    per-class token log-likelihoods ln((c+1)/(tok_c+V')) and priors
    quantized to 1e-6 integers BEFORE summation (the unigram-LM
    discipline), so each document's per-class score is exact int64
    and the argmax — ties broken by class name — is pure integer
    comparison in both engines. Output is the confusion matrix
    (true source, predicted source, docs): a diagonal-heavy matrix
    means content carries its provenance (a trainable quality/domain
    filter exists); a flat one means source labels add no signal
    beyond priors — the go/no-go for fastText-style corpus filters.

    OOV handling: words below the {min-count} vocabulary floor map
    to '<unk>' BEFORE counting, so train and apply share one closed
    vocabulary and every (class, word) miss falls back to the
    zero-count smoothed likelihood — the textbook multinomial-NB
    treatment, and what bounds the broadcast model at 100 TB (the
    floor is the knob; raise it and the model shrinks, accuracy
    degrades gracefully).

    Scale shape: training is two map-side-combinable aggregates
    (class-word counts = model, class token totals); scoring works on
    the (doc, word, tf) COUNT relation — the textbook multinomial
    form, which collapses repeated tokens before the class explode —
    crossed with |classes| rows against the BROADCAST model:
    O(distinct doc-word pairs x classes) map work, then one
    (doc, class) combinable sum and a doc-keyed window argmax. No
    corpus-sized shuffle beyond the per-doc aggregates every text op
    pays. The scored relation itself lives in `nb_doc_predictions`
    (round 12), shared with the class-metrics and calibration
    readouts."""
    pred = nb_doc_predictions(spark, sf_dir)
    return (
        pred.groupBy("source", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "predicted")
    )


@register(
    "text_nb_class_metrics",
    oracle=f"""
    WITH {_NB_PRED_CTE},
    cls_all AS (SELECT DISTINCT source AS class FROM pred),
    t AS (SELECT source AS class, count(*) AS n FROM pred GROUP BY source),
    p AS (
        SELECT predicted AS class, count(*) AS n FROM pred GROUP BY predicted
    ),
    tpx AS (
        SELECT source AS class, count(*) AS n FROM pred
        WHERE source = predicted GROUP BY source
    )
    SELECT c.class AS class,
           CAST(COALESCE(t.n, 0) AS BIGINT) AS n_true,
           CAST(COALESCE(p.n, 0) AS BIGINT) AS n_pred,
           CAST(COALESCE(tpx.n, 0) AS BIGINT) AS tp,
           round(COALESCE(tpx.n, 0) * 1.0
                 / nullif(COALESCE(p.n, 0), 0), 4) AS prec,
           round(COALESCE(tpx.n, 0) * 1.0
                 / nullif(COALESCE(t.n, 0), 0), 4) AS rec,
           round(2.0 * COALESCE(tpx.n, 0)
                 / nullif(COALESCE(t.n, 0) + COALESCE(p.n, 0), 0), 4) AS f1
    FROM cls_all c
    LEFT JOIN t ON t.class = c.class
    LEFT JOIN p ON p.class = c.class
    LEFT JOIN tpx ON tpx.class = c.class
    ORDER BY c.class
    """,
    tags=("text", "classifier", "naive-bayes", "evaluation"),
)
def text_nb_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 for the NB source classifier
    — the standard evaluation readout derived from the SAME scored
    relation as the confusion matrix (`nb_doc_predictions`), following
    the evaluation-follows-model discipline (ANN -> recall gate,
    sketches -> error bands; r11 verdict #5). tp/n_true/n_pred are
    exact counts; P = tp/n_pred, R = tp/n_true, F1 = 2*tp/(n_true +
    n_pred) (the count form — algebraically 2PR/(P+R), but computed
    from integers so a 4-dp round is the only float step and both
    engines agree bit-for-bit). A class never predicted reports
    prec = NULL (undefined), rec = 0 — the honest convention.

    Scale shape: three map-side-combinable counts over the per-doc
    prediction relation joined on the |classes|-row key — model-sized
    work after the shared scoring pass; nothing here grows with corpus
    size except the one count over predictions."""
    pred = nb_doc_predictions(spark, sf_dir)
    t = pred.groupBy(F.col("source").alias("class")).agg(
        F.count(F.lit(1)).alias("n_t")
    )
    p = pred.groupBy(F.col("predicted").alias("class")).agg(
        F.count(F.lit(1)).alias("n_p")
    )
    tpx = (
        pred.filter(F.col("source") == F.col("predicted"))
        .groupBy(F.col("source").alias("class"))
        .agg(F.count(F.lit(1)).alias("n_tp"))
    )
    n_true = F.coalesce("n_t", F.lit(0))
    n_pred = F.coalesce("n_p", F.lit(0))
    tp = F.coalesce("n_tp", F.lit(0))
    return (
        t.join(p, "class", "left")
        .join(tpx, "class", "left")
        .select(
            "class",
            n_true.cast("long").alias("n_true"),
            n_pred.cast("long").alias("n_pred"),
            tp.cast("long").alias("tp"),
            F.round(tp / F.nullif(n_pred.cast("long"), F.lit(0)), 4).alias("prec"),
            F.round(tp / F.nullif(n_true.cast("long"), F.lit(0)), 4).alias("rec"),
            F.round(
                2.0 * tp / F.nullif((n_true + n_pred).cast("long"), F.lit(0)), 4
            ).alias("f1"),
        )
        .orderBy("class")
    )


@register(
    "text_nb_margin_calibration",
    oracle=f"""
    WITH {_NB_PRED_CTE}
    SELECT CAST(least(margin_q // {_NB_MARGIN_BIN_Q},
                      {_NB_MARGIN_MAX_BIN}) AS BIGINT) AS margin_bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN source = predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(sum(CASE WHEN source = predicted THEN 1.0 ELSE 0.0 END)
                 / count(*), 4) AS accuracy
    FROM pred
    GROUP BY margin_bin
    ORDER BY margin_bin
    """,
    tags=("text", "classifier", "naive-bayes", "evaluation", "calibration"),
)
def text_nb_margin_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration-bin) table for the NB source
    classifier: documents binned by prediction-confidence margin
    (top-1 minus top-2 quantized log-score, 0.25 nats per bin, capped
    at bin 12), with per-bin accuracy. A well-behaved classifier shows
    accuracy rising monotonically with margin — the readout that says
    whether the margin is usable as a confidence threshold for
    selective filtering (keep only predictions >= bin k). Margins are
    already-exact int64 (see `nb_doc_predictions`), so the binning is
    pure integer division and both engines agree exactly; accuracy is
    the single 4-dp float step.

    Scale shape: one combinable groupBy over the shared per-doc
    prediction relation into <= 13 bins — nothing beyond the scoring
    pass every NB readout shares."""
    pred = nb_doc_predictions(spark, sf_dir)
    return (
        pred.select(
            F.least(
                F.expr(f"margin_q div {_NB_MARGIN_BIN_Q}"),
                F.lit(_NB_MARGIN_MAX_BIN).cast("long"),
            ).alias("margin_bin"),
            "source",
            "predicted",
        )
        .groupBy("margin_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("source") == F.col("predicted"), 1).otherwise(0)
            ).alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("source") == F.col("predicted"), 1.0).otherwise(0.0)
                )
                / F.count(F.lit(1)),
                4,
            ).alias("accuracy"),
        )
        .orderBy("margin_bin")
    )


# ---------------------------------------------------------------------------
# Round 11: Zipf rank-frequency fit — the companion diagnostic to
# `text_heaps_law`: natural text shows ln(count) ~ intercept +
# slope*ln(rank) with slope near -1; a much flatter slope flags
# synthetic/templated corpora, a much steeper one a vocabulary
# dominated by boilerplate — the corpus-health readout run before
# trusting frequency-based filters.


_ZIPF_TOP_RANKS = 1000


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH counted AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT unnest({tokens_sql('text')}) AS w
            FROM documents
        ) GROUP BY w
    ),
    top AS (
        SELECT c FROM counted ORDER BY c DESC, w LIMIT {_ZIPF_TOP_RANKS}
    ),
    ranked AS (
        SELECT CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC)
                                  AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x_q,
               CAST(round(ln(CAST(c AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y_q
        FROM top
    ),
    m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x_q) AS BIGINT) AS sx,
               CAST(sum(y_q) AS BIGINT) AS sy,
               CAST(sum(x_q * x_q) AS BIGINT) AS sxx,
               CAST(sum(x_q * y_q) AS BIGINT) AS sxy,
               CAST(sum(y_q * y_q) AS BIGINT) AS syy
        FROM ranked
    )
    SELECT n AS n_ranks,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx), 4)
               AS zipf_slope,
           round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * sxy
                      - CAST(sx AS DOUBLE) * sy)
                     / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                      * sx) / (1e6 * n), 4) AS ln_intercept,
           round(((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
                 / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 4)
               AS r2
    FROM m
    """,
    tags=("text", "zipf", "corpus-stats", "scale"),
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(count) against ln(rank) over the top-1000
    vocabulary: slope (Zipf predicts ~ -1), the ln-space intercept
    (in natural-log units, de-quantized), and r-squared. Ranks come
    from a TakeOrderedAndProject top-k cut (count desc, word asc —
    deterministic), so the ranking window runs over a <=1000-row
    capped relation, never the vocabulary (the `text_vocab_induction`
    discipline); both ln terms quantize to 1e-6 integers BEFORE the
    moment sums, so all six OLS moments are exact int64 and the three
    output doubles come from token-identical expression trees.

    Scale shape: one map-side-combinable vocabulary count (the pass
    every text op pays), one top-k cut, and a 6-counter rollup over
    1000 rows — corpus size only touches the first aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counted.orderBy(F.desc("c"), "w").limit(_ZIPF_TOP_RANKS).select("c")
    ranked = top.select(
        F.round(
            F.log(F.row_number().over(W.orderBy(F.desc("c"))).cast("double"))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("x_q"),
        F.round(F.log(F.col("c").cast("double")) * F.lit(1e6), 0)
        .cast("long")
        .alias("y_q"),
    )
    m = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_q").alias("sx"),
        F.sum("y_q").alias("sy"),
        F.sum(F.col("x_q") * F.col("x_q")).alias("sxx"),
        F.sum(F.col("x_q") * F.col("y_q")).alias("sxy"),
        F.sum(F.col("y_q") * F.col("y_q")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    return m.select(
        F.col("n").alias("n_ranks"),
        F.round(num / denx, 4).alias("zipf_slope"),
        F.round((syd - (num / denx) * sxd) / (F.lit(1e6) * nd), 4).alias(
            "ln_intercept"
        ),
        F.round((num * num) / (denx * deny), 4).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Round 13: exact AUC for the quality-scoring tier — the evaluation
# readout the heuristic pre-filter was missing (the NB classifier got
# its P/R/F1 + calibration pair in round 12; this is the same
# discipline applied to the quality score). The label is lang = 'en':
# the score's fluency term IS the English stopword density, so on a
# real corpus this AUC is the score's own validity check. On the
# SYNTHETIC testdata the lang label is nearly independent of the text
# (every doc's words are drawn from the same English-ish vocabulary;
# measured stopword density 0.057-0.064 across all five langs), so
# the expected readout here is barely above 0.5 — that IS the correct
# answer for this corpus, and what the oracle pins is the exact
# rank-sum machinery, which evaluates any (scorer, label) pair
# unchanged.


@register(
    "text_quality_auc",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, text, length(text) AS n,
               {tokens_sql('text')} AS t
        FROM documents
    ),
    feat AS (
        SELECT lang,
               CAST(length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / n
                   AS punct_ratio,
               CAST({_in_list_duck('t', _STOP_EN)} AS DOUBLE) / len(t) AS stopword_ratio,
               CAST(length(text) AS DOUBLE) / len(t)                   AS chars_per_token
        FROM toks
    ),
    scored AS (
        SELECT CAST(round(({_RAW_QUALITY_SQL}) * 1e6, 0) AS BIGINT) AS score_q,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
        FROM feat
    ),
    per_score AS (
        SELECT score_q,
               CAST(sum(pos) AS BIGINT) AS np,
               CAST(sum(1 - pos) AS BIGINT) AS nn
        FROM scored GROUP BY score_q
    ),
    cum AS (
        SELECT score_q, np, nn,
               CAST(COALESCE(sum(nn) OVER (
                   ORDER BY score_q
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS neg_below
        FROM per_score
    )
    SELECT CAST(sum(np) AS BIGINT) AS n_pos,
           CAST(sum(nn) AS BIGINT) AS n_neg,
           CAST(count(*) AS BIGINT) AS n_scores,
           round(CAST(sum(2 * np * neg_below + np * nn) AS BIGINT)
                 / (2.0 * sum(np) * sum(nn)), 4) AS auc
    FROM cum
    """,
    tags=("text", "quality", "evaluation", "scale"),
)
def text_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-aware ROC AUC of the heuristic quality score against
    the lang='en' label, via the rank-sum (Mann-Whitney U) identity:

        AUC = [ sum_s np(s) * nn(<s)  +  np(s) * nn(s) / 2 ]
              / (n_pos * n_neg)

    computed entirely in integer arithmetic on the DOUBLED U (so tie
    halves stay exact), over scores quantized to 1e-6 — the float
    score never crosses engines, only its integer quantization (the
    NB/unigram discipline), so the AUC matches DuckDB bit-for-bit.

    Scale shape: one map pass to score + label, one combinable
    groupBy on the quantized score, then the cumulative-negatives
    window over the PER-SCORE relation — bounded at 1,000,001 rows by
    the 1e-6 quantization regardless of corpus size (allowlisted
    global window), nothing corpus-sized is ever sorted. This is how
    AUC is computed at 100 TB: histogram the scores, rank-sum the
    histogram."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang", "text", F.length("text").alias("n"), tokens().alias("t")
    )
    feat = t.select(
        "lang",
        (
            F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).cast("double")
            / F.col("n")
        ).alias("punct_ratio"),
        (F.expr(_in_list("t", _STOP_EN)).cast("double") / F.size("t")).alias(
            "stopword_ratio"
        ),
        (F.col("n").cast("double") / F.size("t")).alias("chars_per_token"),
    )
    q = raw_quality(
        F.col("stopword_ratio"), F.col("punct_ratio"), F.col("chars_per_token")
    )
    scored = feat.select(
        F.round(q * 1e6, 0).cast("long").alias("score_q"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_score = scored.groupBy("score_q").agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn"),
    )
    w = W.orderBy("score_q").rowsBetween(W.unboundedPreceding, -1)
    cum = per_score.withColumn(
        "neg_below", F.coalesce(F.sum("nn").over(w), F.lit(0)).cast("long")
    )
    return cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.count(F.lit(1)).cast("long").alias("n_scores"),
        F.round(
            F.sum(
                2 * F.col("np") * F.col("neg_below") + F.col("np") * F.col("nn")
            ).cast("long")
            / (F.lit(2.0) * F.sum("np") * F.sum("nn")),
            4,
        ).alias("auc"),
    )
