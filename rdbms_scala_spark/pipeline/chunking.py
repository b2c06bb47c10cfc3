"""Document chunking and sequence packing (north-star extension).

The two structural ops of a pretraining data pipeline that sit between
cleaning and the trainer:

- **chunking**: split each document into fixed-width character windows
  with overlap (the context-window prep for training and retrieval).
  Map-only — the explode fan-out is proportional to document length,
  never a shuffle, so it scales linearly with corpus bytes.
- **packing**: lay chunks end-to-end into fixed token-budget packs
  (how pretraining batches are actually built — documents cross pack
  boundaries; the pack id/offset of every chunk is the materialized
  "where does my batch come from" index). Exact sequential packing is
  a prefix sum = one global sort — a single reducer at 100 TB — so the
  corpus is first SHARDED by an md5 prefix of doc_id (deterministic,
  engine-independent, same trick as sampling.py) and each shard packs
  independently: the window runs per shard (|corpus|/P rows per
  reducer), which is exactly how multi-worker training ingest packs in
  practice (each data-loader shard packs its own stream).

Both ops are pure column expressions (sequence/explode/substring,
window prefix sums), so the DuckDB oracles replay them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import (
    TOKS_CTE,
    _contam_sh_chain,
    _substring_spans_cte,
    contamination_hot_shingles,
    contamination_shingles,
    shingles_df,
    substring_doc_tokens,
    substring_spans,
    tokens,
    tokens_sql,
)
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import session_relation

_CHUNK_W = 512  # chunk width, chars
_CHUNK_S = 384  # stride, chars (overlap = width - stride = 128)

_PACK_BUDGET = 256  # tokens per pack
_PACK_SHARDS = 8  # md5-prefix shards; at scale ~ number of ingest workers


def chunked_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_id, chunk_start, chunk_text) fixed-width windows.

    Chunk count per doc: 1 when n_chars <= _CHUNK_W, else
    ceil((n_chars - _CHUNK_W)/_CHUNK_S) + 1 — the last chunk is the
    (possibly short) tail, and every char belongs to >= 1 chunk.
    Integer arithmetic only, so Spark and DuckDB agree exactly."""
    n_extra = F.when(
        F.col("n_chars") > _CHUNK_W,
        F.expr(f"(n_chars - {_CHUNK_W} + {_CHUNK_S} - 1) div {_CHUNK_S}"),
    ).otherwise(F.lit(0))
    return (
        docs.select("doc_id", "text", "n_chars", n_extra.alias("k"))
        .select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.col("k"))).alias("chunk_id"),
        )
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * _CHUNK_S).alias("chunk_start"),
            F.expr(f"substring(text, chunk_id * {_CHUNK_S} + 1, {_CHUNK_W})").alias(
                "chunk_text"
            ),
        )
    )


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH chunks AS (
        SELECT doc_id,
               unnest(range(
                   CASE WHEN n_chars > {_CHUNK_W}
                        THEN (n_chars - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
                        ELSE 0 END + 1
               )) AS chunk_id,
               text
        FROM documents
    )
    SELECT doc_id, chunk_id,
           chunk_id * {_CHUNK_S} AS chunk_start,
           length(substr(text, chunk_id * {_CHUNK_S} + 1, {_CHUNK_W})) AS chunk_len,
           substr(md5(substr(text, chunk_id * {_CHUNK_S} + 1, {_CHUNK_W})), 1, 8)
               AS chunk_digest
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
    tags=("text", "chunking", "pipeline", "scale"),
)
def text_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking of the documents table. The
    gate row carries each chunk's length and an md5 digest prefix
    rather than the chunk text itself (same information for equality
    checking, ~64x less compare traffic).

    100 TB shape: no shuffle at all — sequence/explode/substring are
    map-side, output size is bounded by bytes * (width/stride), and
    the orderBy exists only for the deterministic gate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    return (
        chunked_docs(docs)
        .select(
            "doc_id",
            "chunk_id",
            "chunk_start",
            F.length("chunk_text").alias("chunk_len"),
            F.substring(F.md5(F.col("chunk_text")), 1, 8).alias("chunk_digest"),
        )
        .orderBy("doc_id", "chunk_id")
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS VARCHAR) AS hx,
               len({tokens_sql('text')}) AS n_tokens
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, n_tokens,
               CASE
                   WHEN hx BETWEEN '0' AND '9'
                       THEN CAST(hx AS INTEGER) % {_PACK_SHARDS}
                   ELSE (ascii(hx) - ascii('a') + 10) % {_PACK_SHARDS}
               END AS shard
        FROM toks
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               -- window SUM yields HUGEINT, which pandas would float-ify
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM sharded
    )
    SELECT doc_id, shard, n_tokens,
           cum_before // {_PACK_BUDGET} AS pack_id,
           cum_before % {_PACK_BUDGET} AS pack_offset
    FROM packed
    ORDER BY shard, doc_id
    """,
    tags=("text", "packing", "pipeline", "scale"),
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded sequential sequence packing: every document gets the
    (shard, pack_id, pack_offset) where its tokens land when the shard
    stream is concatenated and cut every {budget} tokens — documents
    straddle pack boundaries, as in real packed pretraining.

    The shard is the first md5 hex digit of doc_id mod {shards}
    (deterministic, engine-independent); the prefix sum is a per-shard
    window — NO global single-reducer sort; per-reducer work is
    |corpus|/shards and shards scale with ingest workers. Token count
    is the whitespace tokenizer shared with text_token_count."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 1)
    sharded = docs.select(
        "doc_id",
        F.size(tokens()).alias("n_tokens"),
        (F.conv(hx, 16, 10).cast("int") % _PACK_SHARDS).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return (
        sharded.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.expr(f"cum_before div {_PACK_BUDGET}").alias("pack_id"),
            (F.col("cum_before") % _PACK_BUDGET).alias("pack_offset"),
        )
        .orderBy("shard", "doc_id")
    )


def _manifest_oracle() -> str:
    from rdbms_scala_spark.pipeline.text import quality_wt_cte

    return f"""
    WITH keepers AS (
        SELECT min(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(lower(trim(text)))
    ),
    kept AS (
        SELECT d.doc_id, d.text, d.n_chars
        FROM documents d JOIN keepers USING (doc_id)
    ),
    {quality_wt_cte('kept')},
    gated AS (
        SELECT k.doc_id, k.text, k.n_chars
        FROM kept k JOIN q_wt USING (doc_id)
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              < lower(lpad(hex(LEAST(CAST(floor(w * 4294967296.0) AS BIGINT), 4294967295)), 8, '0'))
    ),
    chunks AS (
        SELECT doc_id,
               unnest(range(
                   CASE WHEN n_chars > {_CHUNK_W}
                        THEN (n_chars - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}
                        ELSE 0 END + 1
               )) AS chunk_id,
               text
        FROM gated
    ),
    toks AS (
        SELECT doc_id, chunk_id,
               CAST(ceil(length(substr(text, chunk_id * {_CHUNK_S} + 1, {_CHUNK_W})) / 4.0)
                    AS BIGINT) AS n_tokens,
               CASE
                   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) BETWEEN '0' AND '9'
                       THEN CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS INTEGER)
                            % {_PACK_SHARDS}
                   ELSE (ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - ascii('a') + 10)
                        % {_PACK_SHARDS}
               END AS shard
        FROM chunks
    ),
    packed AS (
        SELECT doc_id, chunk_id, shard, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id, chunk_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) // {_PACK_BUDGET} AS pack_id
        FROM toks
    )
    SELECT shard, pack_id,
           count(*) AS n_chunks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM packed
    GROUP BY shard, pack_id
    ORDER BY shard, pack_id
    """


@register(
    "pipeline_training_manifest",
    oracle=_manifest_oracle(),
    tags=("pipeline", "endtoend", "chunking", "packing", "scale"),
)
def pipeline_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data job composed end-to-end, ending in the
    batch manifest a trainer's data loader reads: exact-dedup keepers
    -> quality-weighted Bernoulli gate -> overlapping context-window
    chunking -> sharded sequential packing -> per-(shard, pack)
    chunk/doc/token counts.

    Every stage reuses the registered operator's own machinery
    (dedup fingerprint grouping, sampling's md5-vs-hex-threshold coin,
    chunked_docs, the per-shard prefix sum), and every stage is
    engine-independent, so ONE DuckDB oracle replays the entire
    pipeline — the demonstration that the operators compose without
    hidden driver-side glue.

    100 TB shape, stage by stage: one uniform shuffle on the content
    fingerprint; map-only gate; map-only chunk fan-out; per-shard
    window (parallelism = shard count); map-side-combinable final
    aggregate. Nothing quadratic, nothing single-reducer, no action
    inside the plan."""
    from rdbms_scala_spark.pipeline.sampling import _doc_hash, _hex_threshold
    from rdbms_scala_spark.pipeline.text import quality_weight_over

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    keepers = (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = docs.join(keepers, "doc_id", "left_semi")
    gated = (
        quality_weight_over(kept)
        .filter(F.substring(_doc_hash(), 1, 8) < _hex_threshold(F.col("w")))
        .select("doc_id", "text", "n_chars")
    )

    chunks = chunked_docs(gated).select(
        "doc_id",
        "chunk_id",
        F.ceil(F.length("chunk_text") / 4.0).cast("long").alias("n_tokens"),
    )
    hx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 1)
    sharded = chunks.withColumn(
        "shard", (F.conv(hx, 16, 10).cast("int") % _PACK_SHARDS)
    )
    wdw = (
        W.partitionBy("shard")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "pack_id",
        F.expr(
            f"CAST(coalesce(sum(n_tokens) OVER "
            f"(PARTITION BY shard ORDER BY doc_id, chunk_id "
            f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) "
            f"div {_PACK_BUDGET}"
        ),
    )
    return (
        packed.groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("shard", "pack_id")
    )


_PACK_CTX_LEVELS = (128, 256, 512, 1024)


@register(
    "pipeline_pack_efficiency_curve",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS VARCHAR) AS hx,
               len({tokens_sql('text')}) AS n_tokens
        FROM documents
    ),
    sharded AS (
        SELECT doc_id, n_tokens,
               CASE
                   WHEN hx BETWEEN '0' AND '9'
                       THEN CAST(hx AS INTEGER) % {_PACK_SHARDS}
                   ELSE (ascii(hx) - ascii('a') + 10) % {_PACK_SHARDS}
               END AS shard
        FROM toks
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               CAST(COALESCE(sum(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM sharded
    ),
    levels AS (SELECT unnest([{", ".join(map(str, _PACK_CTX_LEVELS))}]) AS ctx),
    straddle AS (
        SELECT l.ctx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (
                   WHERE n_tokens > 0
                     AND cum_before // l.ctx
                         <> (cum_before + n_tokens - 1) // l.ctx
               ) AS BIGINT) AS n_straddling
        FROM packed, levels l
        GROUP BY l.ctx
    ),
    shard_tot AS (
        SELECT shard, sum(n_tokens) AS total FROM sharded GROUP BY shard
    ),
    packs AS (
        SELECT l.ctx,
               CAST(sum((total + l.ctx - 1) // l.ctx) AS BIGINT) AS n_packs,
               CAST(sum(((total + l.ctx - 1) // l.ctx) * l.ctx - total)
                   AS BIGINT) AS pad_waste_tokens
        FROM shard_tot, levels l
        GROUP BY l.ctx
    )
    SELECT CAST(s.ctx AS BIGINT) AS ctx, s.n_docs, s.n_straddling,
           round(s.n_straddling * 1.0 / s.n_docs, 4) AS straddle_rate,
           p.n_packs, p.pad_waste_tokens
    FROM straddle s JOIN packs p ON s.ctx = p.ctx
    ORDER BY ctx
    """,
    tags=("pipeline", "packing", "scale"),
)
def pipeline_pack_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency curve across context lengths (128/256/512/
    1024): for each candidate training context size, how many
    documents straddle a pack boundary (attention-masking overhead),
    how many packs the corpus fills, and the padding waste in the
    final pack of each shard — the readout that picks a context
    length BEFORE committing a 100 TB repack.

    Costs one corpus-sized pass regardless of how many context sizes
    are evaluated: the per-shard prefix sum (`text_pack_sequences`'s
    window, per-reducer work |corpus|/shards) is computed once, then
    each ctx level is pure per-row arithmetic on (cum_before,
    n_tokens) — a 4x fan-out over already-tiny columns, not 4
    repacks."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hx = F.substring(F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")), 1, 1)
    sharded = docs.select(
        "doc_id",
        F.size(tokens()).alias("n_tokens"),
        (F.conv(hx, 16, 10).cast("int") % _PACK_SHARDS).alias("shard"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    packed = sharded.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    levels = spark.range(len(_PACK_CTX_LEVELS)).select(
        F.element_at(
            F.array(*[F.lit(c) for c in _PACK_CTX_LEVELS]),
            (F.col("id") + 1).cast("int"),
        ).alias("ctx")
    )
    straddles = (
        packed.crossJoin(F.broadcast(levels))
        .groupBy("ctx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("n_tokens") > 0)
                    & (
                        F.expr("cum_before div ctx")
                        != F.expr("(cum_before + n_tokens - 1) div ctx")
                    ),
                    1,
                ).otherwise(0)
            ).alias("n_straddling"),
        )
    )
    shard_tot = sharded.groupBy("shard").agg(F.sum("n_tokens").alias("total"))
    packs = (
        shard_tot.crossJoin(F.broadcast(levels))
        .groupBy("ctx")
        .agg(
            F.sum(F.expr("(total + ctx - 1) div ctx")).alias("n_packs"),
            F.sum(
                F.expr("((total + ctx - 1) div ctx) * ctx - total")
            ).alias("pad_waste_tokens"),
        )
    )
    return (
        straddles.join(packs, "ctx")
        .select(
            F.col("ctx").cast("long").alias("ctx"),
            "n_docs",
            "n_straddling",
            F.round(F.col("n_straddling") / F.col("n_docs"), 4).alias(
                "straddle_rate"
            ),
            "n_packs",
            "pad_waste_tokens",
        )
        .orderBy("ctx")
    )


# ---------------------------------------------------------------------------
# Round 13: the eval-hygiene report card — the pipeline_training_manifest
# pattern applied to DECONTAMINATION (r12 verdict #8). The three tiers it
# composes already exist and are individually certified: the benchmark
# n-gram contamination check (dedup_contamination_check), the
# content-keyed leakage-safe split (sample_leakage_safe_split), and the
# exact-substring removal stats (dedup_substring_removal_stats). This
# readout joins them into the one table a training run signs off on
# before touching the data: per split, how many docs are benchmark
# members, how many are contaminated against the benchmark slice, how
# much of the token volume the ExactSubstr cuts would remove, and the
# structural proof column that no duplicate cluster straddles splits.


def _decontamination_report_oracle() -> str:
    return f"""
    WITH {_substring_spans_cte()},
    {_contam_sh_chain()},
    bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0),
    contam AS (
        SELECT DISTINCT doc_id FROM (
            SELECT t.doc_id
            FROM tr t JOIN bench b ON t.shingle = b.shingle
            GROUP BY t.doc_id, b.doc_id
            HAVING count(*) >= 3
        )
    ),
    fp AS (
        SELECT doc_id,
               md5(lower(trim(text))) AS fingerprint,
               CASE WHEN substr(md5('split:' || md5(lower(trim(text)))), 1, 1)
                         IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                    THEN 'train'
                    WHEN substr(md5('split:' || md5(lower(trim(text)))), 1, 1)
                         IN ('c','d')
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    straddle AS (
        SELECT CAST(count(*) AS BIGINT) AS n_straddling
        FROM (
            SELECT fingerprint FROM fp
            GROUP BY fingerprint HAVING count(DISTINCT split) > 1
        )
    ),
    dup_per_doc AS (
        SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    ),
    ntok AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
    base AS (
        SELECT f.split,
               CASE WHEN f.doc_id % 29 = 0 THEN 1 ELSE 0 END AS is_bench,
               CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_contam,
               COALESCE(n.n_tokens, 0) AS n_tokens,
               COALESCE(d.dup_tokens, 0) AS dup_tokens
        FROM fp f
        LEFT JOIN contam c ON c.doc_id = f.doc_id
        LEFT JOIN ntok n ON n.doc_id = f.doc_id
        LEFT JOIN dup_per_doc d ON d.doc_id = f.doc_id
    )
    SELECT b.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(is_bench) AS BIGINT) AS n_bench,
           CAST(sum(is_contam) AS BIGINT) AS n_contaminated,
           round(sum(is_contam) * 1.0
                 / nullif(count(*) - sum(is_bench), 0), 4)
               AS contamination_rate,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(dup_tokens) AS BIGINT) AS dup_tokens,
           round(sum(dup_tokens) * 1.0 / nullif(sum(n_tokens), 0), 4)
               AS dup_token_fraction,
           s.n_straddling
    FROM base b CROSS JOIN straddle s
    GROUP BY b.split, s.n_straddling
    ORDER BY b.split
    """


@register(
    "pipeline_decontamination_report",
    oracle=_decontamination_report_oracle(),
    tags=("pipeline", "decontamination", "evaluation", "scale"),
)
def pipeline_decontamination_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-set hygiene report card, per content-keyed split: the one
    readout a training run signs off on before the data ships. For
    each of train/val/test (assigned by `sample_leakage_safe_split`'s
    fingerprint-keyed 12/2/2 coin, so exact duplicates can never
    straddle splits):

    - ``n_bench``: documents that ARE benchmark members (the
      deterministic doc_id % 29 == 0 slice standing in for the eval
      suites) — any benchmark member inside 'train' is eval text that
      must be excluded from the training stream;
    - ``n_contaminated`` / ``contamination_rate``: non-benchmark docs
      sharing >= 3 distinct trigrams with any benchmark doc
      (`dedup_contamination_check`'s flag), i.e. docs that leak eval
      content verbatim-ish even after the member exclusion;
    - ``dup_tokens`` / ``dup_token_fraction``: the token volume the
      Lee et al. ExactSubstr removal list would cut
      (`dedup_substring_removal_stats`' per-doc sums rolled up);
    - ``n_straddling``: the structural proof column — fingerprint
      clusters spanning >1 split, zero by construction.

    Scale shape: nothing new — every input relation is an existing
    certified tier riding its session-materialized form (the shingle
    relation via ``cached_doc_shingles``, the substring spans via the
    cached dup-hash counts), the benchmark side of the contamination
    join is broadcast (eval suites are megabytes against 100 TB), and
    the final rollup is a 3-key aggregate. The report is exactly the
    manifest pattern of `pipeline_training_manifest` pointed at
    hygiene instead of packing."""
    docs = load_table(spark, sf_dir, "documents")
    fpc = F.md5(F.lower(F.trim(F.col("text"))))
    first = F.substring(F.md5(F.concat(F.lit("split:"), fpc)), 1, 1)
    assigned = docs.select(
        "doc_id",
        fpc.alias("fingerprint"),
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
    sh = contamination_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    contam = (
        # doc-aligned (see dedup_contamination_check): the repartition
        # makes the overlap aggregate and the distinct exchange-free
        sh.filter(F.col("doc_id") % 29 != 0)
        .repartition("doc_id")
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
        .withColumn("is_contam", F.lit(1))
    )
    ntok = substring_doc_tokens(spark, sf_dir).select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    )
    dupd = (
        substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").cast("long").alias("dup_tokens"))
    )
    base = (
        # explicit broadcast: the repartition above hides contam's
        # (tiny) size from the static planner, which would otherwise
        # fall back to a sort-merge join; the flag relation is the
        # removal list — threshold-bounded output, ≪ corpus
        assigned.join(F.broadcast(contam), "doc_id", "left")
        .join(ntok, "doc_id", "left")
        .join(dupd, "doc_id", "left")
        .select(
            "split",
            F.when(F.col("doc_id") % 29 == 0, 1).otherwise(0).alias("is_bench"),
            F.coalesce("is_contam", F.lit(0)).alias("is_contam"),
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        )
    )
    return (
        base.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_bench").cast("long").alias("n_bench"),
            F.sum("is_contam").cast("long").alias("n_contaminated"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("dup_tokens").cast("long").alias("dup_tokens"),
        )
        .crossJoin(F.broadcast(straddle))
        .select(
            "split",
            "n_docs",
            "n_bench",
            "n_contaminated",
            F.round(
                F.col("n_contaminated")
                / F.expr("nullif(n_docs - n_bench, 0)"),
                4,
            ).alias("contamination_rate"),
            "n_tokens",
            "dup_tokens",
            F.round(
                F.col("dup_tokens") / F.expr("nullif(n_tokens, 0)"), 4
            ).alias("dup_token_fraction"),
            "n_straddling",
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Round 15 (r14 verdict #7c): INCREMENTAL decontamination — the report
# refreshed across two snapshot epochs by riding the CDC diff instead
# of re-scanning the corpus. This is the one composition the warehouse
# family had not exercised: snapshot_diff (pipeline/snapshot.py)
# produces the change feed, and the contamination flags are recomputed
# ONLY for the delta batch against the STANDING index (bench shingles
# + the pinned hot set), then merged arithmetically into the v0
# report. The flag is per-doc independent (a doc's flag depends only
# on its own text and the static index), so incremental == full by
# identity — and the driver gate PROVES it: the Spark side emits the
# incrementally-merged v1 numbers while the oracle recomputes v1 from
# scratch; any error in the merge arithmetic is a hash mismatch.


def _decontam_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change feed between corpus epoch v0 (``documents``) and the
    derived v1 (see ``pipeline_decontamination_incremental``), a
    session relation. Three consumers read it — the op counters, the
    delta scoring, and the flag-removal join — and an unmaterialized
    feed would re-run the full-outer CDC join per consumer (Spark
    does not share common subtrees across crossJoin/union branches;
    the first cut of this operator executed the join three times). In
    production the change feed IS a stored table; the checkpoint is
    its session analog, and it is batch-sized (changed rows only),
    never corpus-sized."""
    return session_relation(
        spark, "decontam_cdc", sf_dir, "documents", lambda: _decontam_cdc_build(spark, sf_dir)
    )


def _decontam_cdc_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rdbms_scala_spark.catalog import table_path
    from rdbms_scala_spark.pipeline.snapshot import snapshot_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # v1 derives from an independent scan (NOT load_table, which
    # memoizes the DataFrame per session+path and would hand back the
    # SAME plan object): snapshot_diff full-outer joins the two
    # epochs, and shared lineage makes every column ambiguous in the
    # join condition. In production the two snapshots ARE distinct
    # stored versions, so the fresh scan is the realistic shape.
    docs_v1_src = spark.read.parquet(
        table_path(sf_dir, "documents")
    ).select("doc_id", "text")
    mx = docs_v1_src.agg(F.max("doc_id").alias("mx"))
    is_bench = F.col("doc_id") % 29 == 0
    upd_pred = (~is_bench) & (F.col("doc_id") % 13 == 5)
    del_pred = (~is_bench) & (F.col("doc_id") % 97 == 7)
    half = F.expr("substring(text, 1, cast(length(text) div 2 as int))")
    v1 = (
        docs_v1_src.filter(~del_pred)
        .select(
            "doc_id",
            F.when(upd_pred, half).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs_v1_src.filter(
                (F.col("doc_id") % 41 == 3)
                | ((F.col("doc_id") % 29 == 0) & (F.col("doc_id") % 2 == 0))
            )
            .crossJoin(F.broadcast(mx))
            .select(
                (F.col("doc_id") + F.col("mx") + 1).alias("doc_id"), "text"
            )
        )
    )
    return snapshot_diff(docs, v1, keys=["doc_id"])


def _decontam_bench_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standing index's bench side: capped (bench_doc_id, shingle)
    for the static eval-suite slice — a filter over the family's
    session-cached shingle relation (cheap per call; the broadcast
    that consumes it is delta-sized work)."""
    return (
        contamination_shingles(spark, sf_dir)
        .filter(F.col("doc_id") % 29 == 0)
        .select(F.col("doc_id").alias("bench_doc_id"), "shingle")
    )


def _contam_flags(bench: DataFrame, train_sh: DataFrame) -> DataFrame:
    """Contamination flag ids: docs sharing >= 3 distinct capped
    trigrams with ANY single bench doc (the check's threshold), as a
    distinct doc_id relation. The bench side broadcasts (eval suites
    are megabytes against 100 TB); the train side is doc_id-aligned
    first so the overlap aggregate and the distinct run exchange-free
    (see dedup_contamination_check — for the v0 standing-flag caller
    this is the corpus-sized pass, for the delta caller it is
    batch-sized either way)."""
    return (
        train_sh.repartition("doc_id")
        .join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
        .select("doc_id")
        .distinct()
    )


def _v0_standing_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STANDING flag relation (flagged v0 train doc ids), a
    session relation. In production this is the stored output of the
    previous decontamination run — the thing the incremental readout
    merges FORWARD; recomputing it per call is a full corpus overlap
    join, which the first SCALE measurement showed dominating the
    x64 wall (17.8 s of which ~14 s was the standing report: the
    delta work is batch-sized, the standing report is not). It is
    also consumed twice per call (the f0 count and the flag-removal
    join), so materialization halves even the first call's cost."""
    def build() -> DataFrame:
        train0 = contamination_shingles(spark, sf_dir).filter(
            F.col("doc_id") % 29 != 0
        )
        return _contam_flags(_decontam_bench_shingles(spark, sf_dir), train0)

    return session_relation(spark, "v0_standing_flags", sf_dir, "documents", build)


def _decontam_incremental_oracle() -> str:
    # v1sh anti-joins the v0 ``hot`` set: the cap stays pinned at the
    # index epoch, as contamination_hot_shingles pins it on the Spark side
    return f"""
    WITH m AS (SELECT max(doc_id) AS mx FROM documents),
    upd AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 29 <> 0 AND doc_id % 13 = 5 AND doc_id % 97 <> 7
          AND substr(text, 1, length(text) // 2) <> text
    ),
    del AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 29 <> 0 AND doc_id % 97 = 7
    ),
    ins AS (
        SELECT d.doc_id + m.mx + 1 AS doc_id, d.text
        FROM documents d, m
        WHERE d.doc_id % 41 = 3
           OR (d.doc_id % 29 = 0 AND d.doc_id % 2 = 0)
    ),
    v1train AS (
        SELECT d.doc_id,
               CASE WHEN u.doc_id IS NOT NULL
                    THEN substr(d.text, 1, length(d.text) // 2)
                    ELSE d.text END AS text
        FROM documents d
        LEFT JOIN upd u ON u.doc_id = d.doc_id
        LEFT JOIN del x ON x.doc_id = d.doc_id
        WHERE d.doc_id % 29 <> 0 AND x.doc_id IS NULL
        UNION ALL
        SELECT doc_id, text FROM ins
    ),
    {TOKS_CTE},
    {_contam_sh_chain()},
    bench AS (
        SELECT doc_id AS bench_doc_id, shingle FROM sh WHERE doc_id % 29 = 0
    ),
    train0 AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0),
    flags0 AS (
        SELECT DISTINCT doc_id FROM (
            SELECT t.doc_id FROM train0 t JOIN bench b USING (shingle)
            GROUP BY t.doc_id, b.bench_doc_id HAVING count(*) >= 3) q
    ),
    v1toks AS (
        SELECT doc_id, {tokens_sql('text')} AS t
        FROM v1train
    ),
    v1sh_all AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               AS shingle
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM v1toks WHERE len(t) >= 3)
    ),
    v1sh AS (
        SELECT s.doc_id, s.shingle FROM v1sh_all s
        LEFT JOIN hot h ON s.shingle = h.shingle WHERE h.shingle IS NULL
    ),
    flags1 AS (
        SELECT DISTINCT doc_id FROM (
            SELECT t.doc_id FROM v1sh t JOIN bench b USING (shingle)
            GROUP BY t.doc_id, b.bench_doc_id HAVING count(*) >= 3) q
    )
    SELECT 'v0_full' AS view,
           CAST((SELECT count(*) FROM documents WHERE doc_id % 29 <> 0)
                AS BIGINT) AS n_train_docs,
           CAST((SELECT count(*) FROM flags0) AS BIGINT) AS n_contaminated,
           CAST(0 AS BIGINT) AS n_inserted,
           CAST(0 AS BIGINT) AS n_updated,
           CAST(0 AS BIGINT) AS n_deleted
    UNION ALL
    SELECT 'v1_incremental',
           CAST((SELECT count(*) FROM v1train) AS BIGINT),
           CAST((SELECT count(*) FROM flags1) AS BIGINT),
           CAST((SELECT count(*) FROM ins) AS BIGINT),
           CAST((SELECT count(*) FROM upd) AS BIGINT),
           CAST((SELECT count(*) FROM del) AS BIGINT)
    ORDER BY view
    """


@register(
    "pipeline_decontamination_incremental",
    oracle=_decontam_incremental_oracle(),
    tags=("pipeline", "contamination", "incremental", "cdc", "scale"),
)
def pipeline_decontamination_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Decontamination report refreshed INCREMENTALLY across two
    corpus snapshot epochs via the CDC diff — the composition a 100 TB
    pipeline actually runs nightly: re-scoring the whole corpus per
    ingest batch is unaffordable, so only the change feed is scored
    against the standing decontamination index and the standing
    report is merged forward.

    Epochs, derived deterministically from ``documents`` (bench docs
    — the ``doc_id % 29 == 0`` eval-suite slice — are never mutated,
    so the index's bench side is static between epochs, as real eval
    suites are): v1 UPDATES every non-bench ``doc_id % 13 == 5`` doc
    to the first half of its text (genuinely changing its trigram
    set), DELETES the non-bench ``% 97 == 7`` slice, and INSERTS
    re-keyed copies (``doc_id + max + 1``) of the ``% 41 == 3`` slice
    plus copies of every even-id bench doc — the latter are
    guaranteed leaks the delta scoring must catch (each shares its
    source's full capped trigram set), so the v1 contamination count
    must move, not just carry forward.

    The incremental path: ``snapshot_diff(v0, v1)`` (one key join)
    yields the change feed; only insert/update NEW texts are shingled
    and scored against the broadcast bench shingles, with the hot-set
    cap PINNED at the index epoch (``contamination_hot_shingles`` —
    recomputing the cap per batch would make incremental and full
    paths diverge by definition, see dedup.py); the v1 report is then
    v0's counts minus flags leaving (updated/deleted docs' old flags)
    plus flags entering (new texts). Because a doc's flag depends
    only on its own text and the static index, this merge is exact —
    and the gate proves it: the oracle recomputes the v1 numbers FROM
    SCRATCH (full corpus re-score under the same pinned hot set), so
    any arithmetic error in the merge is a value-hash mismatch.

    Scale shape: the CDC join shuffles both snapshots once on doc_id
    (zero times if snapshots share a bucketed layout) and is paid
    ONCE into the session-materialized feed (``_decontam_cdc`` — in
    production the change feed is a stored table); the STANDING flag
    relation is likewise materialized (``_v0_standing_flags`` — the
    stored output of the previous run; the first SCALE measurement
    caught it being recomputed per call as a full corpus overlap
    join, 17.8 s of x64 wall for what is semantically a table read);
    delta scoring shingles ONLY the batch against broadcast bench/hot
    relations; the merge is five 1-row aggregates cross-joined. The
    steady-state cost is therefore batch-proportional, never a corpus
    re-scan."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    is_bench = F.col("doc_id") % 29 == 0
    cdc = _decontam_cdc(spark, sf_dir)
    bench = _decontam_bench_shingles(spark, sf_dir)
    flags0 = _v0_standing_flags(spark, sf_dir)

    adds = cdc.filter(F.col("op").isin("insert", "update")).select(
        "doc_id", "text"
    )
    adds_sh = shingles_df(adds, n=3, distinct=True).join(
        F.broadcast(contamination_hot_shingles(spark, sf_dir)),
        "shingle",
        "left_anti",
    )
    leaving = cdc.filter(F.col("op").isin("update", "delete")).select(
        "doc_id"
    )

    one = F.lit(1)
    base = (
        docs.filter(~is_bench)
        .agg(F.count(one).cast("long").alias("n0"))
        .crossJoin(flags0.agg(F.count(one).cast("long").alias("f0")))
        .crossJoin(
            cdc.agg(
                F.coalesce(
                    F.sum(F.when(F.col("op") == "insert", 1)), F.lit(0)
                ).cast("long").alias("n_ins"),
                F.coalesce(
                    F.sum(F.when(F.col("op") == "update", 1)), F.lit(0)
                ).cast("long").alias("n_upd"),
                F.coalesce(
                    F.sum(F.when(F.col("op") == "delete", 1)), F.lit(0)
                ).cast("long").alias("n_del"),
            )
        )
        .crossJoin(
            _contam_flags(bench, adds_sh)
            .agg(F.count(one).cast("long").alias("f_add"))
        )
        .crossJoin(
            # standing-flag table keyed against the batch's churn
            # KEYS: the batch being corpus-dominated-small is the
            # operator's premise (that is what makes incremental
            # worth running), so the key list broadcasts — same
            # stance as the bench side of the contamination join
            flags0.join(F.broadcast(leaving), "doc_id")
            .agg(F.count(one).cast("long").alias("f_rem"))
        )
    )
    # Both report rows come off ONE evaluation of `base` via stack():
    # a unionByName of two selectExprs over the same 1-row relation
    # would REPLICATE the whole upstream DAG (Spark does not CSE
    # across union branches), running the CDC join and delta scoring
    # twice.
    return base.selectExpr(
        "stack(2,"
        " 'v0_full', n0, f0,"
        "   CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        " 'v1_incremental', n0 + n_ins - n_del, f0 - f_rem + f_add,"
        "   n_ins, n_upd, n_del"
        ") AS (view, n_train_docs, n_contaminated,"
        "      n_inserted, n_updated, n_deleted)"
    ).orderBy("view")
