"""Deterministic sampling and dataset-split assignment for
training-data pipelines (north-star extension; the reference has no
sampling surface at all).

Both operators key off ``md5(text-of-key)`` *hex-string prefixes*
rather than numeric hash conversions: md5 produces identical lowercase
hex in Spark (over UTF-8 bytes) and DuckDB (over the varchar), so the
oracles reproduce the exact row sets — and the sample is stable across
runs, engines, partitionings, and cluster sizes, which is the property
that matters for reproducible training sets (a ``TABLESAMPLE`` or
``rand()`` sample is none of those things).

Scale shape: hash sampling and split assignment are map-only passes —
a filter or a projected CASE on a per-row hash — with aggregation only
where the query itself reports distribution stats; no shuffle is
introduced by the sampling itself, so at 100 TB they run at scan
speed. The per-class cap sampler is the exception (it needs a
per-group ranking) and is evaluated as a two-level window to keep
low-cardinality group keys off single reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import cached_doc_shingles, tokens, tokens_sql
from rdbms_scala_spark.registry import register


def _doc_hash():
    """Lowercase md5 hex of the doc_id rendered as text — the
    deterministic per-row coin, identical in both engines."""
    return F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))


@register(
    "sample_deterministic_hash",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
    """,
    tags=("sample", "deterministic", "scale"),
)
def sample_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~3/16 deterministic sample of the corpus: keep rows whose md5
    hex starts with 0/1/2. Adding data never reshuffles membership of
    existing rows (unlike rand() or TABLESAMPLE), so downstream
    training sets are append-stable."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(
        F.substring(_doc_hash(), 1, 1).isin("0", "1", "2")
    ).select("doc_id", "lang", "source", "n_chars")


@register(
    "sample_train_val_test",
    oracle="""
    WITH assigned AS (
        SELECT lang,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('c','d')
                    THEN 'val'
                    ELSE 'test' END AS split,
               n_chars
        FROM documents
    )
    SELECT lang, split, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM assigned
    GROUP BY lang, split
    """,
    tags=("sample", "split", "scale"),
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 12/2/2-sixteenths train/val/test assignment from
    the md5 hex prefix, reported as per-language split sizes — the
    leakage-proof split: a document's split is a pure function of its
    id, so no near-dup pair can straddle splits after dedup keyed on
    the same id space, and re-runs can never migrate rows."""
    docs = load_table(spark, sf_dir, "documents")
    first = F.substring(_doc_hash(), 1, 1)
    split = (
        F.when(first.isin(*"0123456789ab"), "train")
        .when(first.isin("c", "d"), "val")
        .otherwise("test")
    )
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@register(
    "sample_per_group_cap",
    oracle="""
    SELECT doc_id, lang
    FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 5
    ORDER BY lang, doc_id
    """,
    tags=("sample", "balance", "scale"),
)
def sample_per_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class cap: keep at most 5 documents per language, chosen by
    md5-hash order — the class-balancing sampler (caps over-represented
    languages/sources without biasing toward low ids; deterministic).

    Two-level evaluation because the group key is LOW-cardinality: a
    single window over `lang` would funnel an entire language through
    one reducer at 100 TB. Level 1 pre-caps within (lang, hash-bucket)
    — 32 parallel reducers per language, each keeping its local top-5
    by hash order; level 2 re-windows over the <= 5x32 survivors per
    language. The global top-5-by-hash is contained in the union of
    per-bucket top-5s, so the result is identical to the single-window
    form (which is what the oracle expresses)."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _doc_hash().alias("h")
    )
    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(32))
    w_local = W.partitionBy("lang", bucket).orderBy("h", "doc_id")
    survivors = (
        docs.withColumn("rn_local", F.row_number().over(w_local))
        .filter(F.col("rn_local") <= 5)
        .drop("rn_local")
    )
    w_final = W.partitionBy("lang").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rn", F.row_number().over(w_final))
        .filter(F.col("rn") <= 5)
        .select("doc_id", "lang")
        .orderBy("lang", "doc_id")
    )


def _hex_threshold(rate):
    """8-hex-digit string h such that a uniform md5 prefix < h with
    probability ``rate``: lower(lpad(hex(least(floor(rate * 2^32),
    2^32-1)))). Comparing two fixed-width lowercase hex strings is
    exactly the integer compare — no hex->int parsing, which DuckDB
    has no clean scalar for. ``rate`` must be the same IEEE double in
    both engines (every caller derives it from identical arithmetic),
    so the threshold string is identical too.

    The LEAST cap is a misuse guard: at rate >= 1, floor(2^32) is 9
    hex digits and lpad-TRUNCATES to '10000000' — a silent 1/16 sample
    masquerading as keep-everything, identical in both engines so no
    oracle could catch it. Capped, rate >= 1 keeps all but the one-in-
    2^32 'ffffffff' prefix; callers wanting exact keep-all (e.g.
    sample_domain_mixture) still short-circuit with `rate >= 1 OR`."""
    capped = F.least(
        F.floor(rate * F.lit(4294967296.0)).cast("long"), F.lit(4294967295)
    )
    return F.lower(F.lpad(F.hex(capped), 8, "0"))


def _quality_weighted_oracle() -> str:
    from rdbms_scala_spark.pipeline.text import quality_wt_cte

    return f"""
    WITH {quality_wt_cte('documents')}
    SELECT doc_id, round(w, 4) AS keep_weight
    FROM q_wt
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
          < lower(lpad(hex(LEAST(CAST(floor(w * 4294967296.0) AS BIGINT), 4294967295)), 8, '0'))
    ORDER BY doc_id
    """


@register(
    "sample_quality_weighted",
    oracle=_quality_weighted_oracle(),
    tags=("sample", "quality", "deterministic", "scale"),
)
def sample_quality_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic Bernoulli sampling: each document
    is kept with probability equal to its (clamped) heuristic quality
    score — the standard soft quality filter for pretraining corpora
    (hard thresholds cliff-edge the distribution; weighting keeps a
    graded tail). The coin is the md5 prefix compared against a
    per-row hex threshold, so membership is a pure function of
    (doc_id, score): append-stable, engine-independent, and exactly
    reproducible by the oracle — no rand().

    Map-only at any scale: score, threshold, and compare are all
    per-row expressions; the quality formula is THE shared definition
    (text.quality_weight_over / text.quality_wt_cte), so this sampler,
    text_quality_score and pipeline_training_manifest cannot drift
    apart."""
    from rdbms_scala_spark.pipeline.text import quality_weight_over

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        quality_weight_over(docs)
        .filter(F.substring(_doc_hash(), 1, 8) < _hex_threshold(F.col("w")))
        .select("doc_id", F.round("w", 4).alias("keep_weight"))
        .orderBy("doc_id")
    )


@register(
    "sample_domain_mixture",
    oracle="""
    WITH counts AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    rates AS (
        SELECT source, n_docs,
               sqrt(CAST((SELECT min(n_docs) FROM counts) AS DOUBLE)
                    / CAST(n_docs AS DOUBLE)) AS keep_rate
        FROM counts
    )
    SELECT d.source, r.n_docs,
           round(r.keep_rate, 4) AS keep_rate,
           count(*) AS n_kept
    FROM documents d JOIN rates r USING (source)
    WHERE r.keep_rate >= 1.0
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)
          < lower(lpad(hex(LEAST(CAST(floor(r.keep_rate * 4294967296.0) AS BIGINT), 4294967295)), 8, '0'))
    GROUP BY d.source, r.n_docs, r.keep_rate
    ORDER BY d.source
    """,
    tags=("sample", "mixture", "deterministic", "scale"),
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened domain rebalancing (alpha = 0.5): resample
    so source shares go from n_s/N to proportional-to-sqrt(n_s) — the
    standard multi-domain/multilingual mixture flattening that keeps
    head domains from drowning the tail. For alpha = 0.5 the per-source
    keep-rate closes to sqrt(n_min / n_s) (the smallest source keeps
    everything): no cross-source share sum survives in the formula, so
    there is NO order-dependent float aggregation anywhere — rates are
    a sqrt of an integer ratio, identical in any engine.

    Scale shape: one tiny per-source count aggregate broadcasts back
    onto the corpus; the keep decision is the same md5-vs-threshold
    per-row compare as sample_quality_weighted; the output aggregate
    is map-side combinable. Adding data only ever re-rates sources,
    never reshuffles which surviving doc_ids are kept."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    n_min = counts.agg(F.min("n_docs").alias("n_min"))
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        "source",
        "n_docs",
        F.sqrt(F.col("n_min").cast("double") / F.col("n_docs").cast("double")).alias(
            "keep_rate"
        ),
    )
    kept = (
        docs.join(F.broadcast(rates), "source")
        .filter(
            (F.col("keep_rate") >= 1.0)
            | (F.substring(_doc_hash(), 1, 8) < _hex_threshold(F.col("keep_rate")))
        )
    )
    return (
        kept.groupBy("source", "n_docs", F.round("keep_rate", 4).alias("keep_rate"))
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select("source", "n_docs", "keep_rate", "n_kept")
        .orderBy("source")
    )


_TOP_FRACTION = 0.2  # keep the top 20% of docs by quality weight


def _quality_top_oracle() -> str:
    from rdbms_scala_spark.pipeline.text import quality_wt_cte

    return f"""
    WITH {quality_wt_cte('documents')}
    SELECT doc_id, round(w, 4) AS keep_weight
    FROM q_wt
    WHERE w >= (SELECT quantile_cont(w, {1 - _TOP_FRACTION}) FROM q_wt)
    ORDER BY doc_id
    """


@register(
    "sample_quality_top_fraction",
    oracle=_quality_top_oracle(),
    tags=("sample", "quality", "quantile", "scale"),
)
def sample_quality_top_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the top 20% of documents by quality weight — the hard
    percentile cut, complementing sample_quality_weighted's soft
    Bernoulli gate. The threshold is ONE number (the corpus's 0.8
    quantile of w) computed as an aggregate and broadcast-cross-joined
    back, so the filter itself is map-side.

    Spark's exact ``percentile`` and DuckDB's ``quantile_cont`` share
    the same definition (linear interpolation on the sorted multiset),
    and the inputs are identical doubles, so the thresholds agree
    bit-for-bit. The exact percentile aggregates a per-value count map
    — fine into the millions of distinct values; at 100 TB swap in
    ``approx_percentile(w, q, err)`` (same plan shape, sketch-merge
    combine) and accept the epsilon-rank error, or compute the exact
    quantile on a deterministic md5 sample."""
    from rdbms_scala_spark.pipeline.text import quality_weight_over

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qdf = quality_weight_over(docs).select("doc_id", "w")
    thr = qdf.agg(F.expr(f"percentile(w, {1 - _TOP_FRACTION})").alias("thr"))
    return (
        qdf.crossJoin(F.broadcast(thr))
        .filter(F.col("w") >= F.col("thr"))
        .select("doc_id", F.round("w", 4).alias("keep_weight"))
        .orderBy("doc_id")
    )


_SPLIT_VAL_FROM = "2000-01-01 00:00:00"
_SPLIT_TEST_FROM = "2001-01-01 00:00:00"

_TIME_SPLIT_ORACLE = f"""
    SELECT CASE WHEN o_orderdate < TIMESTAMP '{_SPLIT_VAL_FROM}' THEN 'train'
                WHEN o_orderdate < TIMESTAMP '{_SPLIT_TEST_FROM}' THEN 'val'
                ELSE 'test' END AS split,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(min(o_orderdate) AS DATE) AS VARCHAR) AS first_date,
           CAST(CAST(max(o_orderdate) AS DATE) AS VARCHAR) AS last_date,
           round(sum(round(o_totalprice, 2)), 2) AS total_price
    FROM orders
    GROUP BY 1
    ORDER BY first_date
"""


@register(
    "sample_split_by_time",
    oracle=_TIME_SPLIT_ORACLE,
    tags=("sample", "split", "temporal"),
)
def sample_split_by_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/val/test split: everything before the val
    cutoff trains, a held-out recent year validates, the newest
    months test — the split discipline for forecasting / recommender
    / eval-freshness workloads where a RANDOM split (see
    `sample_train_val_test`) leaks the future into training. Cutoffs
    are fixed timestamps, so the assignment is reproducible on any
    engine and append-stable: new data can only land in (or after)
    the test window, never reshuffle history.

    Scale shape: map-only assignment + one tiny grouped aggregate —
    and because the split predicate is a raw column comparison, a
    date-partitioned layout (`scan_partition_pruned`) serves each
    split via partition pruning with no assignment pass at all.
    Rows order chronologically (by each split's first date):
    train, val, test."""
    orders = load_table(spark, sf_dir, "orders")
    split = (
        F.when(F.col("o_orderdate") < F.lit(_SPLIT_VAL_FROM).cast("timestamp"), "train")
        .when(F.col("o_orderdate") < F.lit(_SPLIT_TEST_FROM).cast("timestamp"), "val")
        .otherwise("test")
    )
    return (
        orders.select(
            split.alias("split"),
            "o_orderdate",
            F.round("o_totalprice", 2).alias("p2"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_date"),
            F.round(F.sum("p2"), 2).alias("total_price"),
        )
        .orderBy("first_date")
    )


# ---------------------------------------------------------------------------
# round 7: fixed-n stratified sampling + epoch-seeded reshuffling

_STRAT_N = 5


@register(
    "sample_stratified_fixed_n",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rk
        FROM documents
    ) WHERE rk <= {_STRAT_N}
    ORDER BY source, rk
    """,
    tags=("sample", "stratified", "deterministic"),
)
def sample_stratified_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-n stratified sample: exactly N documents per source,
    chosen by md5 order — the eval-set builder ("50 random docs from
    every domain") complementing `sample_per_group_cap` (which caps)
    and `sample_domain_mixture` (which reweights). The md5 ordering
    key makes the draw deterministic, append-stable per stratum, and
    engine-independent; the window is PARTITIONED by source, so the
    per-reducer state is one stratum, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _STRAT_N)
        .orderBy("source", "rk")
    )


_EPOCH_TOP = 20


@register(
    "sample_epoch_shuffle",
    oracle=f"""
    WITH h AS (
        SELECT e.epoch, doc_id,
               md5(e.epoch || ':' || doc_id) AS h
        FROM documents CROSS JOIN (VALUES (0), (1)) e(epoch)
    ),
    r AS (
        SELECT epoch, doc_id, h,
               row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id) AS rk
        FROM h
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, CAST(rk AS BIGINT) AS rk, doc_id
    FROM r WHERE rk <= {_EPOCH_TOP}
    ORDER BY epoch, rk
    """,
    tags=("sample", "shuffle", "training", "deterministic"),
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-seeded deterministic reshuffle: ordering the corpus by
    md5(epoch || ':' || doc_id) gives every training epoch a
    different but fully reproducible permutation (the data-order
    seed of an LLM training run — resumable mid-epoch because the
    order is a pure function, not RNG state). Emitted: the first
    {_EPOCH_TOP} docs of epochs 0 and 1, demonstrating the
    permutations differ.

    Scale shape: per-epoch heads go through orderBy+limit, which
    Spark plans as TakeOrderedAndProject — a distributed top-k
    (per-partition heaps + one k-row merge), NOT a global sort; the
    full-epoch form is a sortWithinPartitions over md5-range file
    splits, still no global exchange."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    heads = []
    for epoch in (0, 1):
        h = F.md5(F.concat_ws(":", F.lit(str(epoch)), F.col("doc_id").cast("string")))
        heads.append(
            docs.select(
                F.lit(epoch).cast("long").alias("epoch"), "doc_id", h.alias("h")
            )
            .orderBy("h", "doc_id")
            .limit(_EPOCH_TOP)
        )
    from pyspark.sql import Window as W

    top = heads[0].unionByName(heads[1])
    w = W.partitionBy("epoch").orderBy("h", "doc_id")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("long"))
        .select("epoch", "rk", "doc_id")
        .orderBy("epoch", "rk")
    )


_KFOLD_K = 5


@register(
    "sample_kfold_assignment",
    oracle=f"""
    WITH folds AS (
        SELECT lang, n_chars,
               CAST((strpos('0123456789abcdef',
                            substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)
                    % {_KFOLD_K} AS BIGINT) AS fold
        FROM documents
    )
    SELECT fold,
           CAST(count(*) AS BIGINT) AS n_holdout,
           CAST((SELECT count(*) FROM documents) - count(*) AS BIGINT)
               AS n_train,
           round(avg(n_chars), 4) AS avg_chars
    FROM folds
    GROUP BY fold
    ORDER BY fold
    """,
    tags=("sample", "kfold", "deterministic"),
)
def sample_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: a document's
    fold is its md5 first-nibble index mod k — a pure function of the
    id (the `sample_train_val_test` discipline extended to k folds),
    so folds are reproducible on any engine, append-stable, and
    leakage-proof after id-keyed dedup. Report: per-fold holdout and
    complement-train sizes. 16 % 5 != 0 gives folds 0 a ~1/16 extra
    nibble — documented bias, irrelevant for CV and exactly
    reproducible; use two nibbles mod k when k needs finer balance."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.expr(
        "CAST((instr('0123456789abcdef', "
        f"substring(md5(CAST(doc_id AS STRING)), 1, 1)) - 1) % {_KFOLD_K} AS BIGINT)"
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        docs.select(fold.alias("fold"), "n_chars")
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_holdout"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "fold",
            "n_holdout",
            (F.col("n_total") - F.col("n_holdout")).alias("n_train"),
            "avg_chars",
        )
        .orderBy("fold")
    )


_RESERVOIR_K = 100


@register(
    "sample_reservoir_exact_k",
    oracle=f"""
    SELECT doc_id, lang, source,
           md5('rsv:' || CAST(doc_id AS VARCHAR)) AS sample_key
    FROM documents
    ORDER BY sample_key
    LIMIT {_RESERVOIR_K}
    """,
    tags=("sample", "reservoir", "topk", "scale"),
)
def sample_reservoir_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample via hash-rank top-k — the distributed
    reservoir: rank every row by a deterministic per-row hash and
    keep the k smallest. Equivalent in distribution to classic
    reservoir sampling (any k-subset is equally likely under a
    uniform hash) but embarrassingly parallel where the textbook
    algorithm is inherently sequential: each partition keeps its own
    k smallest (TakeOrderedAndProject partial), and only k rows per
    partition reach the driver-side final heap — no global sort, no
    single reducer over the corpus.

    Unlike `sample_deterministic_hash` (fixed FRACTION, size drifts
    with the corpus), this pins exact sample SIZE; membership is
    still append-stable in the weaker sense that adding rows can only
    displace the largest-keyed members, never reshuffle survivors
    arbitrarily. The hash is seed-prefixed md5 (engine-independent),
    so the oracle is the same ORDER BY + LIMIT."""
    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    return (
        docs.select("doc_id", "lang", "source", key.alias("sample_key"))
        .orderBy("sample_key")
        .limit(_RESERVOIR_K)
    )


# ---------------------------------------------------------------------------
# Round 9: token-budget mixture planning — the "how many epochs of
# each source does an N-token run see" readout that sits one level
# above sample_domain_mixture: that op REBALANCES docs; this one
# PLANS the token budget allocation before any resampling happens.

_MIX_ALPHA = 0.3
_MIX_BUDGET = 10_000_000  # planned training tokens


@register(
    "pipeline_token_budget_mixture",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(sum(len({tokens_sql('text')}))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    weighted AS (
        SELECT source, n_tokens,
               pow(CAST(n_tokens AS DOUBLE), {_MIX_ALPHA}) AS w
        FROM per_source
    )
    SELECT source, n_tokens,
           round(w / (SELECT sum(w) FROM weighted), 4) AS mix_weight,
           round({_MIX_BUDGET} * w / (SELECT sum(w) FROM weighted)
                 / n_tokens, 4) AS epochs
    FROM weighted
    ORDER BY source
    """,
    tags=("pipeline", "mixture", "planning", "scale"),
)
def pipeline_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled token-budget mixture plan (alpha = 0.3, the
    flattening exponent in the mT5/data-mixing family): per-source
    token counts n_s give sampling weights n_s^alpha / sum(n_t^alpha),
    and a 10M-token training budget converts each weight into EPOCHS
    over that source (budget * weight / n_s) — the table that exposes
    over-epoching before a run starts (a tail source at 8 epochs
    memorizes; the standard guardrail is ~4).

    vs sample_domain_mixture: that op emits a per-doc keep decision at
    alpha = 0.5 (where the keep-rate closes to a float-sum-free form);
    this one emits the PLAN — weights and epochs — and therefore does
    carry one cross-source float sum (20 pow() terms). The sum spans
    ~dozens of sources at any corpus size (sources are domains, not
    rows), so the round-4 margin is the established small-sum stance,
    not a scale risk.

    Scale shape: one map-side-combinable token-count aggregate over
    the corpus; everything after operates on the per-source relation
    (broadcast-sized by construction)."""
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.sum(F.size(tokens())).alias("n_tokens")
    )
    weighted = per_source.select(
        "source",
        "n_tokens",
        F.pow(F.col("n_tokens").cast("double"), F.lit(_MIX_ALPHA)).alias("w"),
    )
    tot = F.broadcast(weighted.agg(F.sum("w").alias("tw")))
    return (
        weighted.crossJoin(tot)
        .select(
            "source",
            "n_tokens",
            F.round(F.col("w") / F.col("tw"), 4).alias("mix_weight"),
            F.round(
                F.lit(_MIX_BUDGET) * F.col("w") / F.col("tw") / F.col("n_tokens"),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 10: DSIR-style importance resampling — hashed-n-gram importance
# weights (Xie et al., "Data Selection for Language Models via
# Importance Resampling", NeurIPS 2023). One level below the mixture
# planners: those rebalance SOURCES; this scores each DOCUMENT by how
# target-like its hashed unigram distribution is.

_DSIR_BUCKETS = 256  # 2 hex chars of md5(token); production uses 3-4
_DSIR_K = 100


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH binst AS (
        SELECT doc_id, lang, source,
               (CASE WHEN substr(hx, 1, 1) BETWEEN '0' AND '9'
                     THEN CAST(substr(hx, 1, 1) AS INTEGER)
                     ELSE ascii(substr(hx, 1, 1)) - 87 END) * 16
               + (CASE WHEN substr(hx, 2, 1) BETWEEN '0' AND '9'
                       THEN CAST(substr(hx, 2, 1) AS INTEGER)
                       ELSE ascii(substr(hx, 2, 1)) - 87 END) AS bucket
        FROM (
            SELECT doc_id, lang, source, substr(md5(tok), 1, 2) AS hx
            FROM (
                SELECT doc_id, lang, source,
                       unnest({tokens_sql('text')})
                           AS tok
                FROM documents
            )
        )
    ),
    bcounts AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS c_r,
               CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS c_t
        FROM binst GROUP BY bucket
    ),
    model AS (
        SELECT g.bucket, COALESCE(b.c_r, 0) AS c_r, COALESCE(b.c_t, 0) AS c_t
        FROM generate_series(0, {_DSIR_BUCKETS - 1}) AS g(bucket)
        LEFT JOIN bcounts b USING (bucket)
    ),
    totals AS (
        SELECT CAST(sum(c_r) AS BIGINT) AS n_r, CAST(sum(c_t) AS BIGINT) AS n_t
        FROM model
    ),
    deltas AS (
        SELECT m.bucket,
               CAST(round(ln((m.c_t + 1.0) / (t.n_t + {_DSIR_BUCKETS}.0)) * 1e6, 0)
                    AS BIGINT)
             - CAST(round(ln((m.c_r + 1.0) / (t.n_r + {_DSIR_BUCKETS}.0)) * 1e6, 0)
                    AS BIGINT) AS dq
        FROM model m CROSS JOIN totals t
    ),
    perdoc AS (
        SELECT doc_id, lang, source, bucket, CAST(count(*) AS BIGINT) AS n
        FROM binst GROUP BY doc_id, lang, source, bucket
    )
    SELECT doc_id, lang, source,
           CAST(sum(p.n) AS BIGINT) AS n_tokens,
           CAST(sum(p.n * d.dq) AS BIGINT) AS weight_q,
           round(CAST(sum(p.n * d.dq) AS BIGINT) / 1e6 / CAST(sum(p.n) AS BIGINT),
                 4) + 0.0 AS avg_logratio
    FROM perdoc p JOIN deltas d USING (bucket)
    GROUP BY doc_id, lang, source
    ORDER BY weight_q DESC, doc_id
    LIMIT {_DSIR_K}
    """,
    tags=("sample", "dsir", "importance", "scale"),
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scoring (Xie et al. 2023): rank raw-pool
    documents by log(p_target(x) / p_raw(x)) under bag-of-hashed-
    unigram models, where the target distribution is fit on the
    corpus's own ``lang = 'en'`` slice (the "formal target corpus"
    stand-in) and the raw distribution on the whole pool. The top-k by
    weight is the batch DSIR selects — the standard
    cheaper-than-a-classifier way to steer a 100 TB crawl toward a
    target domain. Hashing (first 2 hex chars of md5(token), 256
    buckets) makes the feature space FIXED regardless of vocabulary
    size; production uses 3-4 chars, the arithmetic is unchanged.

    Cross-engine float discipline: each bucket's
    ln(p_t) - ln(p_r) (Laplace +1 smoothing over the full bucket
    domain) is integer-quantized at 1e6 BEFORE the per-doc weighted
    sum, so document weights are exact integer dot products
    (`text_unigram_logprob` discipline) and the final ranking cannot
    drift between engines. The per-token average adds `+ 0.0` after
    rounding on BOTH sides: DuckDB's round keeps IEEE -0.0 where
    Spark's HALF_UP BigDecimal path yields +0.0, and the driver
    compares stringified values — adding positive zero normalizes
    both engines to +0.0.

    Scale shape: token instances collapse to (doc, bucket) counts via
    one map-side-combinable aggregate; the model is a 256-row
    broadcast (two counts in ONE pass — count + count_if over the
    target flag); the per-doc weight is a second combinable aggregate;
    selection is TakeOrderedAndProject top-k, never a global sort. No
    pairwise anything, no Python."""
    docs = load_table(spark, sf_dir, "documents")
    inst = docs.select(
        "doc_id", "lang", "source", F.explode(tokens()).alias("tok")
    ).select(
        "doc_id",
        "lang",
        "source",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10)
        .cast("int")
        .alias("bucket"),
    )
    bcounts = inst.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_r"),
        F.count_if(F.col("lang") == "en").alias("c_t"),
    )
    domain = spark.range(_DSIR_BUCKETS).select(F.col("id").cast("int").alias("bucket"))
    model = domain.join(bcounts, "bucket", "left").select(
        "bucket",
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
    )
    totals = model.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"))

    def qln(c, n):
        return F.round(
            F.log((c + F.lit(1.0)) / (n + F.lit(float(_DSIR_BUCKETS)))) * 1e6, 0
        ).cast("long")

    deltas = model.crossJoin(F.broadcast(totals)).select(
        "bucket",
        (qln(F.col("c_t"), F.col("n_t")) - qln(F.col("c_r"), F.col("n_r"))).alias(
            "dq"
        ),
    )
    perdoc = inst.groupBy("doc_id", "lang", "source", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        perdoc.join(F.broadcast(deltas), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("dq")).alias("weight_q"),
            (
                F.round(F.sum(F.col("n") * F.col("dq")) / 1e6 / F.sum("n"), 4)
                + F.lit(0.0)
            ).alias("avg_logratio"),
        )
        .orderBy(F.desc("weight_q"), "doc_id")
        .limit(_DSIR_K)
    )


# ---------------------------------------------------------------------------
# Round 10: submodular max-coverage greedy — the token-space
# counterpart to embeddings_kcenter_coreset: that op spreads
# prototypes in EMBEDDING space; this one picks the k documents whose
# shingle sets jointly cover the most of the corpus vocabulary
# (Nemhauser et al. 1978: the greedy is a (1 - 1/e)-approximation to
# the NP-hard optimum), the classic coverage objective for training-
# subset selection.

_COVERAGE_K = 5
_COVERAGE_N = 3  # word n-gram order, matches the dedup shingle tier


def coverage_gain_pass(sh: DataFrame, selected_ids: list) -> DataFrame:
    """One greedy round's marginal-gain relation, ranked: the covered
    set (distinct shingles of the docs chosen so far — broadcast-sized
    by construction, <= k docs) anti-joins the shingle relation, the
    remainder counts per doc (map-side combinable), and the ordering
    feeds a TakeOrderedAndProject top-1 at the caller's `.limit(1)`.
    Shared by the query loop and the plan-pin test so the pinned plan
    IS the executed plan."""
    covered = (
        sh.filter(F.col("doc_id").isin(selected_ids))
        .select("shingle")
        .distinct()
    )
    return (
        sh.join(F.broadcast(covered), "shingle", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("gain"))
        .orderBy(F.desc("gain"), "doc_id")
    )


def _coverage_oracle() -> str:
    """Unrolled greedy CTE chain: round r counts each doc's NOT-YET-
    COVERED distinct shingles, picks the argmax (ties to the lowest
    doc_id), and folds its shingles into the covered set."""
    steps = []
    final = []
    for r in range(_COVERAGE_K):
        prev_sel = (
            "SELECT doc_id FROM sh WHERE 1 = 0"
            if r == 0
            else " UNION ALL ".join(
                f"SELECT doc_id FROM pick{i}" for i in range(r)
            )
        )
        steps.append(f"""
    sel{r} AS MATERIALIZED ({prev_sel}),
    cov{r} AS (
        SELECT DISTINCT s.shingle FROM sh s
        WHERE s.doc_id IN (SELECT doc_id FROM sel{r})
    ),
    gain{r} AS (
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS gain
        FROM sh s
        WHERE NOT EXISTS (
            SELECT 1 FROM cov{r} c WHERE c.shingle = s.shingle
        )
        GROUP BY s.doc_id
    ),
    pick{r} AS MATERIALIZED (
        SELECT doc_id, gain FROM gain{r} ORDER BY gain DESC, doc_id LIMIT 1
    ),
    total{r} AS (
        SELECT CAST(count(DISTINCT s.shingle) AS BIGINT) AS covered_total
        FROM sh s
        WHERE s.doc_id IN (SELECT doc_id FROM sel{r}
                           UNION ALL SELECT doc_id FROM pick{r})
    )""")
        final.append(
            f"SELECT {r} AS round, p.doc_id, p.gain, t.covered_total "
            f"FROM pick{r} p CROSS JOIN total{r} t"
        )
    chain = ",".join(steps)
    body = " UNION ALL ".join(final)
    return f"""
    WITH sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS shingle
            FROM (
                SELECT doc_id,
                       {tokens_sql('text')} AS t
                FROM documents
            ), LATERAL (
                SELECT unnest(generate_series(1, len(t) - {_COVERAGE_N - 1}))
                    AS i
            )
            WHERE len(t) >= {_COVERAGE_N}
        )
    ),{chain}
    SELECT round, doc_id, gain, covered_total FROM ({body})
    ORDER BY round
    """


@register(
    "sample_coverage_greedy",
    oracle=_coverage_oracle(),
    tags=("sample", "coreset", "iterative", "scale"),
)
def sample_coverage_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage subset selection over word 3-gram
    shingles: k rounds, each adding the document with the most
    not-yet-covered distinct shingles (marginal gain; ties to the
    lowest doc_id). Emits the selection trajectory — (round, doc_id,
    marginal gain, cumulative distinct shingles covered) — whose
    flattening gain curve is the submodular diminishing-returns
    readout, the coverage twin of `embeddings_kcenter_coreset`'s
    radius curve.

    Scale shape per round: the shingle relation is the session-cached
    ``cached_doc_shingles`` checkpoint (derived once per session, the
    pagerank/minhash shared-materialization discipline — the greedy
    reads it ~2k times, so re-deriving tokenize+explode+distinct per
    round would dominate); the covered set is the distinct shingles
    of the <= k docs chosen so far — broadcast-sized by construction
    — so the marginal-gain pass is ONE broadcast left-anti join over
    the cached relation feeding a map-side-combinable per-doc count,
    collapsed by TakeOrderedAndProject top-1; the coverage total is
    the driver-side running sum of the gains (exact over the distinct
    shingle relation — see the in-loop comment), so each round is
    exactly ONE job. Model state returning to the driver is
    (doc_id, gain) per round, k rounds total — O(k * corpus-shingles)
    overall, no pairwise anything. The DuckDB oracle unrolls the identical greedy chain,
    so the trajectory (ties included) is replayed exactly."""
    sh = cached_doc_shingles(spark, sf_dir, n=_COVERAGE_N)

    selected: list[tuple[int, int, int, int]] = []
    total = 0
    for r in range(_COVERAGE_K):
        ids = [d for _, d, _, _ in selected]
        top = coverage_gain_pass(sh, ids).limit(1).collect()
        if not top:
            # Degenerate corpus: every shingle already covered (or no
            # doc has >= n tokens), so the round's gain relation is
            # empty. The oracle's pick{r} CTE is empty too and its
            # UNION ALL simply emits fewer rows — match that shorter
            # trajectory instead of raising IndexError.
            break
        pick = top[0]
        # covered_total is the running sum of the marginal gains (r15
        # optimization, guide §1.2 "don't compute things you throw
        # away"): ``sh`` is the DISTINCT (doc_id, shingle) relation and
        # ``gain`` counts exactly the pick's shingles not yet covered,
        # so |covered ∪ pick| = |covered| + gain — the per-round
        # distinct-count job the round-10 form ran to re-derive the
        # same number (k extra corpus-slice jobs) is redundant. The
        # oracle computes the distinct count directly; the identity
        # makes the values equal, pinned by
        # test_coverage_greedy_total_is_gain_sum.
        total += int(pick.gain)
        selected.append((r, int(pick.doc_id), int(pick.gain), total))

    return (
        spark.createDataFrame(
            selected, "round int, doc_id long, gain long, covered_total long"
        )
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# Round 11: language-temperature resampling (the XLM-R / mBERT
# multilingual mixing rule, Conneau et al. 2020): sample languages
# proportionally to p_l^alpha instead of p_l so low-resource languages
# are up-weighted relative to the head. alpha = 0.5 here, i.e.
# q_l ~ sqrt(n_l) — sqrt is IEEE-correctly-rounded in BOTH engines
# (unlike pow), and quantizing each sqrt to 1e-6 BEFORE the
# normalizing sum makes the mixture weights exact int64 arithmetic,
# so the per-document Bernoulli rates are bit-identical doubles and
# the kept set replays exactly (the _hex_threshold discipline).


@register(
    "sample_lang_temperature",
    oracle="""
    WITH lc AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ),
    lq AS (
        SELECT lang, n,
               CAST(round(sqrt(CAST(n AS DOUBLE)) * 1e6, 0) AS BIGINT) AS s_q
        FROM lc
    ),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS total,
               CAST(sum(s_q) AS BIGINT) AS sq_total
        FROM lq
    ),
    rates AS (
        SELECT lang, n, s_q, total, sq_total,
               LEAST(1.0, CAST((total // 2) * s_q AS DOUBLE)
                          / CAST(sq_total * n AS DOUBLE)) AS rate
        FROM lq CROSS JOIN tot
    ),
    kept AS (
        SELECT d.lang, CAST(count(*) AS BIGINT) AS n_kept
        FROM documents d JOIN rates r USING (lang)
        WHERE r.rate >= 1.0
           OR substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
              < lower(lpad(hex(LEAST(CAST(floor(r.rate * 4294967296.0)
                                          AS BIGINT), 4294967295)), 8, '0'))
        GROUP BY d.lang
    )
    SELECT r.lang, r.n AS n_docs, COALESCE(k.n_kept, 0) AS n_kept,
           round(r.n * 1.0 / r.total, 4) AS share_before,
           round(r.s_q * 1.0 / r.sq_total, 4) AS temp_share,
           round(r.rate, 4) AS rate
    FROM rates r LEFT JOIN kept k USING (lang)
    ORDER BY r.lang
    """,
    tags=("sample", "temperature", "multilingual", "scale"),
)
def sample_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resample the corpus across languages at alpha=0.5
    into a half-size budget: per-language acceptance rate
    ``min(1, B * q_l / n_l)`` with ``q_l ~ sqrt(n_l)`` (quantized —
    see the module comment), drawn per document with the
    deterministic md5 coin. Emits the per-language audit row —
    before-share, temperature share, rate, kept count — the readout
    that shows the head language (en) capped and the tail languages
    kept near-whole, i.e. the multilingual balancing the rule exists
    for.

    Scale shape: one combinable language-count aggregate (key space =
    language inventory, tiny), the rate table broadcast back onto the
    corpus for a map-only Bernoulli filter, one combinable kept-count
    aggregate — two corpus passes, no shuffle wider than the language
    key. The saturated-rate OR clause is the exact keep-all
    short-circuit (`_hex_threshold`'s documented cap)."""
    docs = load_table(spark, sf_dir, "documents")
    lq = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "s_q",
            F.round(F.sqrt(F.col("n").cast("double")) * 1e6, 0).cast("long"),
        )
    )
    tot = lq.agg(
        F.sum("n").alias("total"), F.sum("s_q").alias("sq_total")
    )
    rates = (
        lq.crossJoin(F.broadcast(tot))
        .withColumn(
            "rate",
            F.least(
                F.lit(1.0),
                (F.expr("total div 2") * F.col("s_q")).cast("double")
                / (F.col("sq_total") * F.col("n")).cast("double"),
            ),
        )
    )
    coin = F.substring(
        F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 8
    )
    kept = (
        docs.join(F.broadcast(rates.select("lang", "rate")), "lang")
        .filter((F.col("rate") >= 1.0) | (coin < _hex_threshold(F.col("rate"))))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        rates.join(kept, "lang", "left")
        .select(
            "lang",
            F.col("n").alias("n_docs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(F.col("n") / F.col("total"), 4).alias("share_before"),
            F.round(F.col("s_q") / F.col("sq_total"), 4).alias("temp_share"),
            F.round("rate", 4).alias("rate"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Round 11: leakage-safe splitting — `sample_train_val_test` splits
# on doc_id, which keeps EXACT re-inserts together only if they share
# the id; two byte-identical documents with different ids (the normal
# crawl situation) can straddle train/test and leak. The group-aware
# split keys the assignment on the CONTENT fingerprint, so every
# exact-duplicate cluster lands in one split by construction.


@register(
    "sample_leakage_safe_split",
    oracle="""
    WITH fp AS (
        SELECT doc_id, n_chars,
               md5(lower(trim(text))) AS fingerprint
        FROM documents
    ),
    assigned AS (
        SELECT doc_id, n_chars, fingerprint,
               CASE WHEN substr(md5('split:' || fingerprint), 1, 1)
                         IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                    THEN 'train'
                    WHEN substr(md5('split:' || fingerprint), 1, 1)
                         IN ('c','d')
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM fp
    ),
    straddle AS (
        SELECT CAST(count(*) AS BIGINT) AS n_straddling
        FROM (
            SELECT fingerprint
            FROM assigned GROUP BY fingerprint
            HAVING count(DISTINCT split) > 1
        )
    )
    SELECT a.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT a.fingerprint) AS BIGINT) AS n_clusters,
           round(avg(a.n_chars), 4) AS avg_chars,
           s.n_straddling
    FROM assigned a CROSS JOIN straddle s
    GROUP BY a.split, s.n_straddling
    ORDER BY a.split
    """,
    tags=("sample", "split", "leakage", "dedup", "scale"),
)
def sample_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split keyed on the exact-dedup
    content fingerprint (`dedup_exact_docs`'s md5 of normalized
    text): all copies of a document — whatever their ids — get the
    same 12/2/2-sixteenths assignment, so exact duplicates can never
    straddle train and test (the contamination vector Lee et al. 2022
    measure). Emits per-split doc and cluster counts plus
    n_straddling, the machine-checked proof column: a fingerprint
    with >1 distinct split would count there, and it is structurally
    zero because split is a pure function of fingerprint.

    Scale shape: one map pass to fingerprint + assign (no shuffle),
    one split-keyed rollup with a distinct-count (partial per
    partition), and the straddle audit one fingerprint-keyed
    aggregate — the same exchanges exact dedup already pays; at
    100 TB you'd key on the MinHash cluster id instead for near-dup
    safety (same plan, different fingerprint column)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    first = F.substring(F.md5(F.concat(F.lit("split:"), fp)), 1, 1)
    assigned = docs.select(
        "doc_id",
        "n_chars",
        fp.alias("fingerprint"),
        F.when(first.isin(*"0123456789ab"), "train")
        .when(first.isin("c", "d"), "val")
        .otherwise("test")
        .alias("split"),
    )
    straddle = (
        assigned.groupBy("fingerprint")
        .agg(F.count_distinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .agg(F.count(F.lit(1)).alias("n_straddling"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("fingerprint").alias("n_clusters"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .crossJoin(F.broadcast(straddle))
        .select("split", "n_docs", "n_clusters", "avg_chars", "n_straddling")
        .orderBy("split")
    )
