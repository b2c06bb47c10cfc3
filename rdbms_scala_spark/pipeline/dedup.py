"""Deduplication operators for training-data pipelines (north-star
extension — nothing like this exists in the reference, whose data
model is 5 scalar types; SURVEY.md §7.3).

Four tiers, by cost/recall tradeoff at 100 TB:

- exact: hash-groupBy on a content fingerprint. One shuffle on the
  hash; at scale use it as the cheap first pass.
- n-gram Jaccard: exact pairwise similarity via a shingle inverted
  index (token-trigram explode -> self-join on shingle). Quadratic in
  the worst case but bounded by shared-shingle co-occurrence; the
  correctness anchor for the approximate tiers.
- MinHash + LSH banding: linear-ish scale path. Signatures are k
  independent min-hashes (seed-prefixed md5, string-min — identical
  hex in DuckDB, so the whole tier is oracle-checked), banded so that
  only same-band-hash docs are candidate pairs — the join is on
  (band, band_hash), never all-pairs.
- SimHash: 64-bit fingerprints whose Hamming distance tracks cosine
  similarity of token sets; candidates via 8-bit chunk banding
  (pigeonhole: hamming<=7 => some chunk of 8 equal), mass-dup buckets
  purged like the LSH band buckets.

All tokenization is lower(trim(text)) split on whitespace so the
DuckDB oracles can reproduce it exactly: ``tokens()`` writes it for
Spark and ``tokens_sql()`` for DuckDB, and every oracle in the package
embeds that one DuckDB text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import materialize, session_relation

# ---------------------------------------------------------------------------
# shared building blocks


def tokens():
    """Whitespace tokens of the lower-cased trimmed ``text`` column
    (matches DuckDB regexp_split_to_array(lower(trim(..)), '\\s+'),
    which every oracle embeds through ``tokens_sql``)."""
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def tokens_sql(col: str) -> str:
    """The DuckDB text of ``tokens()`` over the column ``col``."""
    return f"regexp_split_to_array(lower(trim({col})), '\\s+')"


# The oracles' ``toks(doc_id, t)`` CTE: each document's token array.
TOKS_CTE = f"""toks AS (
        SELECT doc_id, {tokens_sql('text')} AS t
        FROM documents
    )"""


# ``toks`` and ``idx(doc_id, t, i)``: one row per word trigram, starting
# at token ``i`` of ``t``.
TRIGRAM_IDX_CTES = f"""{TOKS_CTE},
    idx AS (
        SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
        FROM toks WHERE len(t) >= 3
    )"""


def trigram_ctes(sh: str) -> str:
    """The DuckDB text of ``shingles_df(docs, n=3)``: the
    ``TRIGRAM_IDX_CTES`` and ``{sh}(doc_id, shingle)``, each
    document's distinct word trigrams."""
    return f"""{TRIGRAM_IDX_CTES},
    {sh} AS MATERIALIZED (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM idx
    )"""


def shingles_df(docs: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """(doc_id, shingle) word n-grams per doc.

    ``distinct=False`` keeps every occurrence and skips the dedup
    shuffle; it serves corpus-wide counts (``text_ngram_topk``).
    Per-document consumers read the distinct relation, session-cached
    as ``cached_doc_shingles``."""
    t = docs.select("doc_id", tokens().alias("t")).filter(F.size("t") >= n)
    sh = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {n - 1}), "
                f"i -> concat_ws(' ', slice(t, i, {n})))"
            )
        ).alias("shingle"),
    )
    return sh.distinct() if distinct else sh


# Default document-frequency cap for the inverted-index join. A
# "stop-shingle" appearing in df documents contributes df^2/2 rows to
# the posting-list self-join — one boilerplate phrase shared by 1M docs
# is a 500-billion-row join. Dropping shingles with df above the cap
# bounds every posting list (worst-case join fan-out <= cap * n_shingles)
# and barely moves recall: a phrase shared by thousands of documents
# carries no near-dup signal. Testdata's max df is 25 at sf0.1, so the
# default never fires there (oracles stay exact); production tunes it
# to corpus size (e.g. 1e-4 of corpus count).
MAX_SHINGLE_DF = 5000


def cap_shingle_df(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``max_df``.

    The df aggregation is map-side combinable (one cheap shuffle on the
    shingle); the surviving hot-set complement is applied as a
    broadcast anti-join — the hot list is tiny by construction (only
    shingles in > max_df docs)."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def purge_oversized_buckets(df: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop every row of any bucket (group over ``keys``) larger than
    ``cap`` — the guard that keeps bucket-pairing joins from going
    quadratic on mass-duplicate clusters (used by the Levenshtein
    blocking passes; same idea as ``cap_shingle_df`` for posting
    lists. The MinHash band join and SimHash chunk join use the fused
    ``expand_bucket_pairs`` form instead, which applies the same cap
    inside their one aggregation exchange).

    Join shape mirrors ``cap_shingle_df``: the OVERSIZED key set (tiny
    by construction — only buckets past the cap) is broadcast for a
    left_anti join, so ``df`` itself is never shuffled; the only
    shuffle is the map-side-combined (keys, count) aggregation."""
    assert "__bn" not in df.columns, (
        "purge_oversized_buckets reserves column name '__bn' for the "
        "bucket-size count; rename the input column"
    )
    oversized = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__bn"))
        .filter(F.col("__bn") > cap)
        .select(*keys)
    )
    return df.join(F.broadcast(oversized), keys, "left_anti")


def expand_bucket_pairs(df, keys, payload, keep, attach=None):
    """Bucket-local i<j candidate-pair expansion with a TRULY bounded
    aggregation state, shared by the MinHash band join and the SimHash
    chunk join.

    Shape: window-count the bucket sizes over ``keys``, drop every row
    of any bucket failing ``keep(size)`` (a Column predicate; callers
    close over extra cap columns already attached to ``df``), THEN
    collect the surviving members and expand pairs bucket-locally.
    Filtering BEFORE the collect is the point — ``collect_list`` only
    ever sees buckets that passed the cap, so its per-group buffer is
    bounded by the cap (a first fused version filtered on size(ids)
    AFTER collecting, which re-opened the very mass-dup OOM the cap
    exists to prevent: a 10M-member bucket would buffer 10M ids in one
    aggregation buffer before being discarded). The window and the
    groupBy hash-partition on the same ``keys``, so Catalyst plans ONE
    exchange; WindowExec's sort buffer spills to disk where an
    aggregation buffer cannot.

    Members are collected as sorted structs of ``payload`` columns
    (sorted by the first payload field — callers put the id first, so
    ``a_<id> < b_<id>`` falls out of i<j), and each pair row carries
    ``a_<f>``/``b_<f>`` for every payload field ``f``.

    ``attach`` (optional): a ONE-ROW DataFrame of extra cap columns
    for ``keep`` to reference (e.g. an occupancy-relative cap derived
    from a corpus count). It is broadcast-joined AFTER the window —
    between the count and the filter — so the constant never widens
    the rows going through the shuffle, and the broadcast join
    preserves the window's hash partitioning for the groupBy."""
    assert "__bn" not in df.columns, (
        "expand_bucket_pairs reserves column name '__bn' for the "
        "bucket-size count; rename the input column"
    )
    w = W.partitionBy(*keys)
    sized = df.withColumn("__bn", F.count(F.lit(1)).over(w))
    if attach is not None:
        sized = sized.crossJoin(F.broadcast(attach))
    sized = sized.filter(keep(F.col("__bn")))
    members = sized.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct(*payload))).alias("ms")
    )
    a_fields = ", ".join(f"x.{f} AS a_{f}" for f in payload)
    b_fields = ", ".join(f"y.{f} AS b_{f}" for f in payload)
    return members.select(
        F.explode(
            F.expr(
                f"""
                flatten(transform(ms, (x, i) ->
                  transform(slice(ms, i + 2, size(ms) - i - 1),
                            y -> struct({a_fields}, {b_fields}))))
                """
            )
        ).alias("p")
    ).select("p.*")


def _shingle_overlap(sh: DataFrame, max_df: int) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb) for every doc_a < doc_b pair
    sharing >=1 shingle: the shared-shingle count from the
    inverted-index self-join (never a full cross product) and both
    docs' shingle counts. Shingles with document frequency >
    ``max_df`` are dropped from BOTH the index and the per-doc sizes,
    so every score over them stays consistent over the capped shingle
    space (see ``cap_shingle_df``)."""
    sh = cap_shingle_df(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def pairwise_jaccard(sh: DataFrame, max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """Exact Jaccard for every doc pair sharing >=1 shingle over the
    df-capped shingle space (see ``_shingle_overlap``)."""
    return _shingle_overlap(sh, max_df).select(
        "doc_a",
        "doc_b",
        (F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# 1. exact dedup


@register(
    "dedup_exact_docs",
    oracle="""
    SELECT md5(lower(trim(text))) AS fingerprint,
           min(doc_id)            AS keeper_doc_id,
           count(*)               AS n_copies
    FROM documents
    GROUP BY md5(lower(trim(text)))
    """,
    tags=("dedup", "exact", "scale"),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id.
    At 100 TB: one shuffle on the 128-bit fingerprint — the grouping
    key is uniform so no skew; this is the standard cheap first pass
    before any near-dup tier."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# 2. exact n-gram Jaccard near-dup (correctness anchor)

def _overlap_ctes(max_df: int) -> str:
    """The DuckDB text of :func:`_shingle_overlap`: trigram CTEs
    ending in ``sh`` (capped at ``max_df`` like the Spark side, dropped
    from both the inverted index and the per-doc sizes), ``sz(doc_id,
    n_sh)`` and ``inter(doc_a, doc_b, n_inter)``, so oracle and
    implementation stay equivalent by construction at ANY corpus
    scale, not just ones where the cap happens not to bind."""
    return f"""{trigram_ctes('sh0')},
    sdf AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle),
    sh AS MATERIALIZED (
        SELECT s.doc_id, s.shingle
        FROM sh0 s JOIN sdf d USING (shingle) WHERE d.df <= {max_df}
    ),
    sz AS MATERIALIZED (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


def _jaccard_pairs_sql(max_df: int) -> str:
    """Trigram-Jaccard >=0.7 pairs in DuckDB SQL, the oracle of
    :func:`pairwise_jaccard` under the 0.7 threshold."""
    return f"""
    WITH {_overlap_ctes(max_df)}
    SELECT doc_a, doc_b,
           round(n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter) >= 0.7
"""


_JACCARD_ORACLE = _jaccard_pairs_sql(MAX_SHINGLE_DF)


_CONTAINMENT_ORACLE = f"""
    WITH {_overlap_ctes(MAX_SHINGLE_DF)}
    SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
           round(n_inter * 1.0 / least(x.n_sh, y.n_sh), 4) AS containment,
           round(n_inter * 1.0 / (x.n_sh + y.n_sh - n_inter), 4) AS jaccard
    FROM inter
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE n_inter * 1.0 / least(x.n_sh, y.n_sh) >= 0.9
"""


@register(
    "dedup_shingle_containment",
    oracle=_CONTAINMENT_ORACLE,
    tags=("dedup", "neardup", "containment", "scale"),
)
def dedup_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup tier: shingle CONTAINMENT
    (n_inter / min(|A|, |B|)) at threshold 0.9 — catches
    excerpt/truncation duplication (a short doc fully contained in a
    long one) that symmetric Jaccard misses: a 100-shingle excerpt of
    a 10,000-shingle page has containment 1.0 but Jaccard ~0.01.
    Containment-vs-Jaccard is the standard pretraining pair
    (e.g. the suffix-array / CCNet dedup stacks); Jaccard rides along
    per pair so the two tiers can be thresholded jointly.

    Same inverted-index self-join, df cap, and per-doc size relation
    as `pairwise_jaccard` (``_shingle_overlap``): the candidate
    machinery is shared; only the scoring denominator changes. On this
    synthetic corpus the generator makes full-copy near-dups only, so
    the tier coincides with the Jaccard pairs; its value is the
    asymmetric case."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _shingle_overlap(shingles_df(docs, n=3), MAX_SHINGLE_DF)
    containment = F.col("n_inter") / F.least("na", "nb")
    jaccard = F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter"))
    return scored.filter(containment >= 0.9).select(
        "doc_a",
        "doc_b",
        "n_inter",
        F.round(containment, 4).alias("containment"),
        F.round(jaccard, 4).alias("jaccard"),
    )


@register("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("dedup", "neardup"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-Jaccard near-dup pairs at threshold 0.7 via the
    shingle inverted index. The exact tier: use on LSH candidates at
    scale, directly on modest corpora."""
    return cached_jaccard_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


def cached_jaccard_pairs(
    spark: SparkSession, sf_dir: str, max_df: int = MAX_SHINGLE_DF
) -> DataFrame:
    """The >=0.7 trigram-Jaccard pair relation, a session relation
    (see ``session.session_relation``) per df-cap, shared by every
    graph query built on it (`dedup_ngram_jaccard`,
    `dedup_connected_components`, `graph_pagerank`). The shingle
    inverted-index self-join dominates each of those queries' cost
    (SCALE.md's x64 pagerank row is ~all edge derivation), so a
    session running the graph suite pays it once per cap instead of
    once per query. At 100 TB the same role is played by a persisted
    pairs table refreshed with the corpus (every serious dedup
    pipeline materializes its candidate-pair relation; this cache is
    the single-session form of that discipline)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return pairwise_jaccard(shingles_df(docs, n=3), max_df=max_df).filter(
            F.col("jaccard") >= 0.7
        )

    return session_relation(spark, "jaccard_pairs", sf_dir, "documents", build, max_df)


def cached_doc_shingles(
    spark: SparkSession, sf_dir: str, n: int = 3
) -> DataFrame:
    """The distinct (doc_id, shingle) relation, a session relation per
    ``n``: a corpus job tokenizes and explodes its documents once. It
    feeds the MinHash tier (``cached_minhash_sig_cand`` builds its
    signatures from it), the calibration audit, the contamination
    family, and iterative consumers that scan it several times per
    call (``sample_coverage_greedy`` reads it ~2k times for k greedy
    rounds; without the checkpoint every round replays the tokenize +
    explode + distinct)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return shingles_df(docs, n=n, distinct=True)

    return session_relation(spark, "doc_shingles", sf_dir, "documents", build, n)


# ---------------------------------------------------------------------------
# 3. MinHash + LSH banding (the scale path)

_NUM_PERM = 32
_BANDS = 8
_ROWS_PER_BAND = _NUM_PERM // _BANDS
_BAND_BUCKET_CAP = 64  # max docs per (band, band_hash) in the pair join


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, sig array<string>): per-permutation min of seeded md5
    hex over the doc's shingles. One aggregation; signature size is
    fixed (_NUM_PERM values) regardless of doc length.

    Permutation hash i is the i%4-th 8-hex-char slice of
    ``md5('<i div 4>:' || shingle)``, compared as a *string*:
    lexicographic order over uniform hex IS a uniform random order of
    the shingle space, so the min-hash collision property (P[min_a =
    min_b] = Jaccard) holds unchanged, and disjoint slices of one
    digest are as independent as separate digests — each shingle pays
    _NUM_PERM/4 md5 calls instead of _NUM_PERM (the md5 is the dominant
    per-row cost of the signature pass; 32-bit slice mins also shrink
    the shuffled aggregate state 4x vs full digests, with collision
    probability ~n^2/2^33 per doc — negligible). md5 hex is
    byte-identical in DuckDB, which makes the whole pipeline (mins,
    band hashes, candidate set, estimates) cross-engine checkable,
    where the original xxhash64 form was Spark-only."""
    hashed = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle"))).alias(f"H{j}")
            for j in range((_NUM_PERM + 3) // 4)
        ],
    )
    mins = [
        F.min(F.substring(F.col(f"H{i // 4}"), (i % 4) * 8 + 1, 8)).alias(f"h{i}")
        for i in range(_NUM_PERM)
    ]
    agg = hashed.groupBy("doc_id").agg(*mins)
    return agg.select("doc_id", F.array(*[f"h{i}" for i in range(_NUM_PERM)]).alias("sig"))


def minhash_band_buckets(sig: DataFrame) -> DataFrame:
    """(doc_id, band, band_hash): each doc's LSH band keys — the
    banding used by dedup_minhash_lsh, named so tests exercise the
    production constants rather than re-implementing them."""
    r = _ROWS_PER_BAND
    return sig.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {_BANDS - 1}), "
                f"b -> struct(b AS band, md5(concat_ws(',', slice(sig, b * {r} + 1, {r}))) AS bh))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.bh").alias("band_hash"))


def cached_minhash_sig_cand(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The (sig, cand) relations of the MinHash tier, one session
    relation shared by every query built on them — the signature
    build (_NUM_PERM/4 md5 calls per distinct shingle), the banded
    exchange and the signature verify join dominate each of those
    queries, and the session pays them once per corpus. At 100 TB the
    persisted analog is the signature/candidate tables every
    production dedup job materializes next to the corpus.

    ``sig`` is (doc_id, sig array<string>), see
    ``minhash_signatures``. ``cand`` is (doc_a, doc_b, n_match): every
    distinct doc_a < doc_b pair that shares a (band, band_hash) bucket
    of 2.._BAND_BUCKET_CAP docs, and ``n_match``, the int count
    (0.._NUM_PERM) of signature positions on which the two docs agree;
    ``n_match / _NUM_PERM`` is the pair's estimated Jaccard."""

    def build() -> tuple[DataFrame, DataFrame]:
        # The signatures read the session's distinct shingle relation
        # (a min over distinct values equals the min over repeated
        # ones), so the job derives its shingles once. cand derives
        # from sig: without materializing sig first the signature pass
        # would run twice.
        sig = materialize(minhash_signatures(cached_doc_shingles(spark, sf_dir)))
        # The bucket cap purges mass duplicates before pair expansion:
        # a K-member duplicate cluster pairs QUADRATICALLY (K=10k ->
        # 50M pairs from one bucket); the absolute cap is sound because
        # band_hash is a 128-bit md5, so only genuine near-identical
        # clusters fill a bucket.
        pairs = (
            expand_bucket_pairs(
                minhash_band_buckets(sig),
                keys=["band", "band_hash"],
                payload=["doc_id"],
                keep=lambda bn: (bn >= 2) & (bn <= _BAND_BUCKET_CAP),
            )
            .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
            .distinct()
        )
        sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
        sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
        n_match = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
        cand = pairs.join(sa, "doc_a").join(sb, "doc_b").select(
            "doc_a", "doc_b", n_match.alias("n_match")
        )
        return sig, cand

    return session_relation(spark, "minhash_sig_cand", sf_dir, "documents", build)


def _minhash_sql(cand: bool = True) -> tuple[str, str]:
    """The DuckDB text of the MinHash tier, shared by its oracles:
    the CTE list ``toks, idx, sh, sig, bands_all`` (the UNCAPPED band
    keys) and, with ``cand``, ``bands`` (the capped buckets) and
    ``cand`` (doc_a < doc_b pairs); plus the matching-position count
    of the candidate's two signatures joined as ``x`` and ``y``. Same
    md5-slice permutation mins and band hashes as
    ``minhash_signatures`` and ``minhash_band_buckets``."""
    h = [
        f"min(substr(md5('{i // 4}:' || shingle), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(_NUM_PERM)
    ]
    bands = []
    for b in range(_BANDS):
        cols = " || ',' || ".join(
            f"h{i}" for i in range(b * _ROWS_PER_BAND, (b + 1) * _ROWS_PER_BAND)
        )
        bands.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS band_hash FROM sig")
    matches = " + ".join(
        f"(CASE WHEN x.h{i} = y.h{i} THEN 1 ELSE 0 END)" for i in range(_NUM_PERM)
    )
    ctes = f"""{trigram_ctes('sh')},
    sig AS MATERIALIZED (
        SELECT doc_id, {', '.join(h)}
        FROM sh GROUP BY doc_id
    ),
    bands_all AS MATERIALIZED (
        {' UNION ALL '.join(bands)}
    )"""
    if cand:
        ctes += f""",
    bands AS MATERIALIZED (
        SELECT doc_id, band, band_hash FROM (
            SELECT bands_all.*,
                   count(*) OVER (PARTITION BY band, band_hash) AS bn
            FROM bands_all
        ) WHERE bn <= {_BAND_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )"""
    return ctes, matches


def _minhash_oracle() -> str:
    """DuckDB mirror of dedup_minhash_lsh: same md5-slice permutation
    mins, same banded candidate join, same matching-position
    estimate."""
    ctes, matches = _minhash_sql()
    return f"""
    WITH {ctes}
    SELECT doc_a, doc_b, ({matches}) / {_NUM_PERM}.0 AS est_jaccard
    FROM cand
    JOIN sig x ON x.doc_id = doc_a
    JOIN sig y ON y.doc_id = doc_b
    WHERE ({matches}) / {_NUM_PERM}.0 >= 0.7
    """


@register(
    "dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("dedup", "neardup", "lsh", "scale"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates, verified on signatures.

    shingle -> 32-perm minhash signature -> 8 bands of 4 rows; docs
    colliding on any (band, band_hash) become candidates; estimated
    Jaccard = fraction of matching signature positions; emit pairs
    with est >= 0.7. At 100 TB nothing here is all-pairs: candidate
    generation is ONE exchange on (band, band_hash) whose aggregation
    state is bounded at ``_BAND_BUCKET_CAP`` doc ids per bucket (the
    window count filters oversized buckets BEFORE the collect — see
    ``expand_bucket_pairs``), and pairs are expanded bucket-locally
    from that bounded array."""
    _sig, cand = cached_minhash_sig_cand(spark, sf_dir)
    # No rounding: k/32 is exactly representable in binary on both
    # engines (power-of-two denominator), so the comparison needs no
    # tolerance at all. (Rounding would be *safe* here — both engines
    # round DOUBLEs half away from zero — but any round(x, d) with a
    # non-power-of-two 10^-d step reintroduces the real cross-engine
    # risk: one-ulp drift in the multiply-then-round path when the
    # input sits within an ulp of a step boundary. Exact binary
    # fractions sidestep that entirely.)
    est = (F.col("n_match") / F.lit(_NUM_PERM)).alias("est_jaccard")
    return cand.select("doc_a", "doc_b", est).filter(F.col("est_jaccard") >= 0.7)


# ---------------------------------------------------------------------------
# 4. SimHash


_HEX_HI = "('8','9','a','b','c','d','e','f')"  # hex chars w/ high nibble bit


def _simhash_cand_oracle() -> str:
    """DuckDB mirror of simhash_candidate_pairs (the FULL candidate
    relation, Hamming computed but NOT thresholded): the same
    md5-nibble bit votes, fingerprint halves, TWO-LEVEL chunk banding
    (8 single chunks under the fixed cap + 28 chunk pairs under the
    occupancy-relative cap). ``_simhash_oracle`` applies the
    acceptance threshold on top, exactly as the Spark side does."""
    from itertools import combinations

    votes = ", ".join(
        f"sum(CASE WHEN substr(h{b // 32}, {b % 32 + 1}, 1) IN {_HEX_HI} "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(64)
    )
    fp_lo = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)" for b in range(32)
    )
    fp_hi = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << (b - 32)}::BIGINT ELSE 0 END)"
        for b in range(32, 64)
    )

    def cv(i: int) -> str:
        half = "fp_lo" if i < 4 else "fp_hi"
        return f"(({half} >> {(i % 4) * 8}) & 255)"

    chunk_selects = " UNION ALL ".join(
        [
            f"SELECT doc_id, fp_lo, fp_hi, {c} AS pr, {cv(c)} AS cvk FROM fp"
            for c in range(8)
        ]
        + [
            f"SELECT doc_id, fp_lo, fp_hi, {8 + k} AS pr, "
            f"({cv(i)} * 256 + {cv(j)}) AS cvk FROM fp"
            for k, (i, j) in enumerate(combinations(range(8), 2))
        ]
    )
    return f"""
    WITH {trigram_ctes('sh')},
    hashes AS (
        SELECT doc_id, md5('0:' || shingle) AS h0, md5('1:' || shingle) AS h1
        FROM sh
    ),
    bits AS (SELECT doc_id, {votes} FROM hashes GROUP BY doc_id),
    fp AS MATERIALIZED (
        SELECT doc_id, ({fp_lo}) AS fp_lo, ({fp_hi}) AS fp_hi FROM bits
    ),
    chunks_all AS ({chunk_selects}),
    chunks AS (
        SELECT doc_id, fp_lo, fp_hi, pr, cvk FROM (
            SELECT chunks_all.*,
                   count(*) OVER (PARTITION BY pr, cvk) AS bn
            FROM chunks_all
        ) WHERE (pr < 8 AND bn <= {_BAND_BUCKET_CAP})
           OR (pr >= 8 AND bn <= greatest({_BAND_BUCKET_CAP},
                                (8 * (SELECT count(*) FROM fp)) // 65536))
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.fp_lo AS fla, a.fp_hi AS fha, b.fp_lo AS flb, b.fp_hi AS fhb
        FROM chunks a JOIN chunks b
          ON a.pr = b.pr AND a.cvk = b.cvk AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           bit_count(xor(fla, flb)) + bit_count(xor(fha, fhb)) AS hamming
    FROM cand
    """


def _simhash_oracle() -> str:
    """Accepted SimHash pair set: the full candidate relation under
    the Hamming acceptance threshold."""
    return f"""
    SELECT doc_a, doc_b, hamming
    FROM ({_simhash_cand_oracle()}) WHERE hamming <= 10
    """


def simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash candidate pair relation — every distinct pair
    the two-level banding ladder surfaces, with its exact Hamming
    distance computed but NOT thresholded. ``dedup_simhash`` is this
    under ``hamming <= 10``; ``dedup_simhash_candidate_histogram``
    profiles the whole relation (accepted and rejected bands) for
    threshold tuning. Shared so the production pair set and its
    tuning readouts can never drift apart — and a session relation, so
    the three simhash queries pay the fingerprint + banding derivation
    once per session.

    Per doc: 64-bit fingerprint = sign-aggregate of shingle-hash bits
    (trigram shingles, not bare tokens — the corpus vocabulary is
    small, so token-set fingerprints would collapse; shingles keep the
    feature space discriminative). The 64 per-shingle bits are the
    high bits of the 32 hex nibbles of md5('0:'||shingle) and
    md5('1:'||shingle) — byte-identical in DuckDB, so (unlike the
    earlier xxhash64 form) the full pipeline is oracle-checked. The
    fingerprint is carried as two 32-bit halves (fp_lo, fp_hi): DuckDB
    can't shift into bit 63, and two-halves keeps every literal
    positive in both engines. Candidate generation by TWO-LEVEL
    pigeonhole banding — eight 8-bit chunks (hamming <= 7 guarantees a
    match) under a fixed bucket cap, unioned with the 28 chunk pairs
    as 16-bit keys (hamming <= 6 guaranteed, 7-10 w.h.p.) under an
    occupancy-relative cap, so candidate generation stays collision-
    bounded as the corpus outgrows the single-chunk key space (see the
    banding comment below); exact Hamming check via bit_count(xor)
    summed over halves. Everything is built-in exprs — no Python in
    the hot path."""
    return session_relation(
        spark, "simhash_cand", sf_dir, "documents", lambda: _simhash_cand_build(spark, sf_dir)
    )


def _simhash_cand_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tok = shingles_df(docs, n=3, distinct=True).withColumnRenamed("shingle", "tok")
    tok = tok.withColumn("h0", F.md5(F.concat(F.lit("0:"), F.col("tok")))).withColumn(
        "h1", F.md5(F.concat(F.lit("1:"), F.col("tok")))
    )
    # bit votes: +1 if the bit's hex nibble has its high bit set else
    # -1, summed per position; bit b comes from char b%32 of h{b//32}
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.expr(
                    f"CASE WHEN substring(h{b // 32}, {b % 32 + 1}, 1) "
                    f"IN {_HEX_HI} THEN 1 ELSE -1 END"
                )
            ).alias(f"s{b}")
            for b in range(64)
        ]
    )
    fp = bit_sums.select(
        "doc_id",
        F.expr(
            " + ".join(
                f"(CASE WHEN s{b} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(32)
            )
        ).alias("fp_lo"),
        F.expr(
            " + ".join(
                f"(CASE WHEN s{b} > 0 THEN {1 << (b - 32)}L ELSE 0L END)"
                for b in range(32, 64)
            )
        ).alias("fp_hi"),
    ).cache()
    # TWO-LEVEL banding (the scale ladder). Level 1: the eight 8-bit
    # chunks (pigeonhole: hamming <= 7 guarantees a chunk match) with a
    # FIXED bucket cap — full recall while buckets are small, but the
    # key space is only 8*256 buckets, so ordinary random collisions
    # fill every bucket to ~n/256 as the corpus grows and the single-
    # chunk pair join would go QUADRATIC in n (measured: 26 s at the
    # x64 amplified corpus, 16x the x1 time, before this ladder
    # existed). Level 2: the 28 chunk PAIRS as 16-bit keys (hamming <=
    # 6 guarantees a pair match; 7-10 is found with p ~0.98..0.75 —
    # errors rarely corrupt 7+ of 8 chunks) under an occupancy-
    # relative cap. Where level 1's buckets overflow and are purged,
    # level 2's 65536-value keys keep expected occupancy 256x lower,
    # so the pair join stays collision-bounded; at ~10^9+ docs extend
    # the ladder to chunk TRIPLES (24-bit keys, hamming <= 5
    # guaranteed) — each rung multiplies the key space by 256 and
    # keeps expected bucket occupancy, and with it join fan-out,
    # constant. At gate scale no level-1 bucket reaches the cap and
    # every level-2 candidate already shares a single chunk, so the
    # result set is EXACTLY the single-level one.
    from itertools import combinations

    def cv(i: int) -> str:
        return (
            f"(shiftright(fp_lo, {i * 8}) & 255)"
            if i < 4
            else f"(shiftright(fp_hi, {(i - 4) * 8}) & 255)"
        )

    singles = [f"struct({c} AS pr, CAST({cv(c)} AS BIGINT) AS cvk)" for c in range(8)]
    pairs = [
        f"struct({8 + k} AS pr, CAST({cv(i)} * 256 + {cv(j)} AS BIGINT) AS cvk)"
        for k, (i, j) in enumerate(combinations(range(8), 2))
    ]
    rel = fp.select(
        "doc_id",
        "fp_lo",
        "fp_hi",
        F.explode(F.expr(f"array({', '.join(singles + pairs)})")).alias("e"),
    ).select("doc_id", "fp_lo", "fp_hi", F.col("e.pr").alias("pr"), F.col("e.cvk").alias("cvk"))
    # level-2 cap: 8x expected occupancy (n/65536 per pair relation),
    # floored at the fixed cap — normal buckets always survive, a
    # duplicate cluster >= 8x expected leaves the pairwise path (route
    # it through exact dedup / the components closure instead).
    cap2 = fp.agg(
        F.expr(
            f"greatest({_BAND_BUCKET_CAP}, (8 * count(1)) div 65536)"
        ).alias("__cap2")
    )
    # Fused purge + pair expansion, as in dedup_minhash_lsh: one
    # exchange on (pr, cvk), oversized buckets dropped by the window
    # count BEFORE the member collect (bounded aggregation state — see
    # expand_bucket_pairs), i<j pairs expanded bucket-locally from the
    # sorted member array. The level-2 cap joins in as a broadcast
    # 1-row column AFTER the window (attach=), so the 36-rows/doc
    # banding relation shuffles without the constant riding along.
    cand = (
        expand_bucket_pairs(
            rel,
            keys=["pr", "cvk"],
            payload=["doc_id", "fp_lo", "fp_hi"],
            keep=lambda bn: (bn >= 2)
            & (
                ((F.col("pr") < 8) & (bn <= _BAND_BUCKET_CAP))
                | ((F.col("pr") >= 8) & (bn <= F.col("__cap2")))
            ),
            attach=cap2,
        )
        .select(
            F.col("a_doc_id").alias("doc_a"),
            F.col("b_doc_id").alias("doc_b"),
            F.col("a_fp_lo").alias("fla"),
            F.col("a_fp_hi").alias("fha"),
            F.col("b_fp_lo").alias("flb"),
            F.col("b_fp_hi").alias("fhb"),
        )
        .distinct()
    )
    return cand.withColumn(
        "hamming",
        F.bit_count(F.expr("fla ^ flb")) + F.bit_count(F.expr("fha ^ fhb")),
    ).select("doc_a", "doc_b", "hamming")


@register(
    "dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("dedup", "neardup", "simhash", "scale"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 10 of 64 bits:
    the shared candidate relation (see ``simhash_candidate_pairs``
    for the fingerprint construction and the two-level banding
    ladder) under the acceptance threshold. Everything is built-in
    exprs — no Python in the hot path."""
    return (
        simhash_candidate_pairs(spark, sf_dir)
        .filter(F.col("hamming") <= 10)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# 5. embedding-cosine near-dup


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS dup_id,
           min(b.vec_id) AS keeper_id,
           round(max(list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[])), 3) AS max_cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND b.vec_id < a.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    GROUP BY a.vec_id
    ORDER BY dup_id
    """,
    tags=("dedup", "neardup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: each vector with a lower-id same-label
    neighbor above the cosine threshold is a dup; its keeper is the
    lowest such neighbor (one-hop canonicalization — the iterative
    connected-components closure is a separate driver loop at scale).

    Blocking on ``label`` stands in for the coarse partitioner (cluster
    id / LSH bucket) that keeps this from being all-pairs at 100 TB:
    the join is label-equi, so each block is a bounded local cross.
    Threshold 0.35 sits at the synthetic corpus's ~99.9th percentile
    (vectors are near-random; real near-dup corpora use ~0.95+).
    """
    from rdbms_scala_spark.pipeline.similarity import _as_double, cosine_pre, norm

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    a = emb.select(
        F.col("vec_id").alias("dup_id"), F.col("label").alias("la"), F.col("v").alias("va")
    ).withColumn("nva", norm("va"))
    b = emb.select(
        F.col("vec_id").alias("nb_id"), F.col("label").alias("lb"), F.col("v").alias("vb")
    ).withColumn("nvb", norm("vb"))
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("nb_id") < F.col("dup_id")))
        .withColumn("cos", cosine_pre("va", "vb", "nva", "nvb"))
        .filter(F.col("cos") >= 0.35)
        .groupBy("dup_id")
        .agg(
            F.min("nb_id").alias("keeper_id"),
            F.round(F.max("cos"), 3).alias("max_cosine"),
        )
        .orderBy("dup_id")
    )


# ---------------------------------------------------------------------------
# 6. connected-components closure (iterative)

def closure_ctes(name: str, pairs: str) -> str:
    """The DuckDB text of ``connected_components_edges`` up to its
    labels: ``WITH RECURSIVE`` over the (doc_a, doc_b) pair query
    ``pairs`` as ``{name}``, then ``edges(u, v)`` in both orientations
    and ``reach(u, v)``, every node ``u`` with each node it reaches.
    A component's label is ``least(u, min(v))`` over ``reach``."""
    return f"""WITH RECURSIVE {name} AS MATERIALIZED ({pairs}),
    edges AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM {name}
        UNION
        SELECT doc_b AS u, doc_a AS v FROM {name}
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )"""


_CC_ORACLE = f"""
    {closure_ctes('pairs', _JACCARD_ORACLE)}
    SELECT u AS doc_id, least(u, min(v)) AS component_id
    FROM reach
    GROUP BY u
    ORDER BY doc_id
"""


_CC_MAX_ROUNDS = 50


def connected_components_edges(pairs: DataFrame) -> tuple[DataFrame, int]:
    """Connected components over an undirected edge list via the
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public
    algorithm): each round rewires edges toward local minima
    (large-star hangs every larger neighbor under the neighborhood
    min, small-star re-points the smaller ones), roughly halving path
    lengths, so it converges in O(log n) rounds where plain min-label
    propagation needs O(component diameter) — the difference between
    ~6 and ~1000 shuffles on a chain-shaped duplicate cluster.

    Per round: two groupBy-min aggregations and two joins, all keyed
    on node ids (hash-partitioned, map-side combinable);
    ``localCheckpoint`` truncates lineage so round N doesn't replay
    rounds 1..N-1. Convergence probe is two scalars (edge count +
    order-insensitive xxhash64 sum) — the edge set is stable exactly
    at the star-forest fixpoint, where every edge is (node,
    component_min).

    Returns (labels DataFrame (doc_id, component_id), rounds used).
    ``pairs`` is any (doc_a, doc_b) near-dup pair set, either
    orientation."""
    E = (
        pairs.toDF("a", "b")
        .filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        # lazy: the probe's aggregate below is the materializing action
        # (an eager checkpoint here would double the per-round job
        # count: one job to checkpoint, one to probe the same rows)
        .localCheckpoint(eager=False)
    )

    def probe(df: DataFrame):
        # summands bounded to [0, 1e9) via pmod so the sum can't hit
        # long overflow under ANSI mode (raw xxhash64 sums would after
        # ~2 rows); count + order-insensitive hash-sum identify the set
        edge_hash = F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))
        return tuple(
            df.agg(
                F.count(F.lit(1)), F.coalesce(F.sum(edge_hash), F.lit(0))
            ).collect()[0]
        )

    prev = probe(E)
    rounds = 0
    for _ in range(_CC_MAX_ROUNDS):
        # large-star: for every node, hang each LARGER neighbor under
        # the minimum of its neighborhood (including itself)
        sym = E.union(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: re-point all smaller neighbors (and the node) at
        # the minimum of the smaller neighborhood
        canon = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins2 = canon.groupBy("u").agg(F.min("v").alias("m"))
        star = canon.join(mins2, "u")
        E = (
            star.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(star.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)  # probe(E) materializes it
        )
        rounds += 1
        cur = probe(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected-components did not converge in {_CC_MAX_ROUNDS} rounds"
        )
    # fixpoint is a star forest: every edge is (member, root); roots
    # label themselves
    labels = (
        E.select(F.col("u").alias("doc_id"), F.col("v").alias("component_id"))
        .union(E.select(F.col("v").alias("doc_id"), F.col("v").alias("component_id")))
        .distinct()
    )
    return labels, rounds


@register(
    "dedup_connected_components",
    oracle=_CC_ORACLE,
    tags=("dedup", "neardup", "iterative", "graph"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup closure: near-dup pairs (trigram Jaccard >=
    0.7) form a graph; every document in a connected component maps to
    the component's minimum doc_id — the canonical keeper for
    chain-duplicates (A~B, B~C, A!~C), which one-hop keeper rules get
    wrong. Driver-loop iterative algorithm (no single SQL statement
    expresses it; the oracle uses DuckDB's recursive CTE to agree on
    the fixpoint) — see ``connected_components_edges`` for the
    alternating-star algorithm and its scale properties."""
    pairs = cached_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components_edges(pairs)
    return labels.orderBy("doc_id")


@register(
    "dedup_minhash_clusters",
    oracle=f"""
    {closure_ctes('pairs', _minhash_oracle())},
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM comp
    ORDER BY doc_id
    """,
    tags=("dedup", "neardup", "lsh", "graph", "pipeline", "scale"),
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production dedup pipeline composed end-to-end at the
    SCALE tier: MinHash-LSH candidates (est_jaccard >= 0.7, banded
    join — never all-pairs) feed the alternating-star connected-
    components closure, and every clustered doc comes out with its
    canonical keeper (component-min doc_id) and cluster size — the
    exact artifact a 100 TB dedup job persists (keep rows where
    doc_id = cluster_id, or weight-sample survivors by cluster_size).
    Versus ``dedup_connected_components`` (which closes over the
    EXACT Jaccard pair set), this is the shape that runs at corpus
    scale: candidate generation is the LSH banded join, so the whole
    path — signatures, banding, components — is linear-ish in corpus
    size. Every stage is engine-independent (md5-sliced signatures),
    so the DuckDB oracle replays signatures -> bands -> candidates ->
    recursive-CTE closure and must agree exactly."""
    edges = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components_edges(edges)
    sizes = labels.groupBy("component_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "component_id")
        .select(
            "doc_id", F.col("component_id").alias("cluster_id"), "cluster_size"
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 7. edit-distance (Levenshtein) near-dup


_LEV_LEN_BUCKET = 64  # n_chars bucket width for the composite block key
_LEV_BLOCK_CAP = 64  # block-purging threshold (max rows per block, per pass)


def lev_blocked_pairs(docs: DataFrame, block_cap: int = _LEV_BLOCK_CAP) -> DataFrame:
    """(doc_a, doc_b, edit_distance) over a DISJUNCTIVE multi-pass
    blocked pair space. ``docs`` needs (doc_id, source, n_chars, text).

    Two blocking passes, candidates = their UNION:

    - pass 1: (source, chars 1-4 of the prefix, n_chars//64 bucket)
    - pass 2: (source, chars 17-20 — a mid-text band, and the length
      bucket OFFSET by half a width)

    Each conjunctive key bounds its block sizes (blocking on ``source``
    alone degenerates toward all-pairs when one source dominates), but
    a single conjunctive key silently drops exactly the pairs this
    tier exists to catch: an OCR/encoding error inside the first 4
    characters, or a small edit that nudges a doc across a 64-char
    bucket boundary, excludes the pair from pass 1 entirely. (The
    per-doc fan-out bound also makes the SCALE.md growth curve
    interpretable: on the amplified smoke corpus the pair space
    grows ~300 -> ~5.5M GENUINE prefix near-dups at x64 — copy
    markers differ by 1-2 edits inside the prefix band — and wall
    time grows only ~7x; see SCALE.md's preamble.) Pass 2's
    band sits past the pass-1 band (so damage can't hit both) and its
    half-width-shifted buckets split at different boundaries (two
    lengths within 32 chars always share at least one of the two
    buckets) — the standard disjunctive multi-pass shape from the
    entity-resolution blocking literature.

    Block PURGING bounds the worst case: within each pass, any block
    larger than ``block_cap`` is dropped from that pass (the other
    pass can still catch its pairs). A corpus-wide boilerplate region
    that lands in a band therefore costs recall in one pass, never a
    quadratic blow-up — per-doc fan-out is <= 2*(block_cap-1)
    regardless of corpus shape. On the real documents table blocks
    max out at ~6 rows, so the cap never fires outside degenerate
    data. Every key is a plain column expression and the purge a
    plain grouped count, so the DuckDB oracle reproduces the exact
    pair space.
    """
    text_norm = F.lower(F.trim(F.col("text")))
    keyed = docs.select(
        "doc_id",
        "source",
        F.substring(text_norm, 1, 32).alias("p"),
        F.substring(text_norm, 1, 4).alias("k1"),
        F.expr(f"n_chars div {_LEV_LEN_BUCKET}").alias("b1"),
        F.substring(text_norm, 17, 4).alias("k2"),
        F.expr(f"(n_chars + {_LEV_LEN_BUCKET // 2}) div {_LEV_LEN_BUCKET}").alias("b2"),
    )

    def blocking_pass(kcol: str, bcol: str) -> DataFrame:
        ok = purge_oversized_buckets(keyed, ["source", kcol, bcol], block_cap)
        a = ok.select(
            F.col("doc_id").alias("doc_a"),
            F.col("source").alias("sa"),
            F.col("p").alias("pa"),
            F.col(kcol).alias("ka"),
            F.col(bcol).alias("ba"),
        )
        b = ok.select(
            F.col("doc_id").alias("doc_b"),
            F.col("source").alias("sb"),
            F.col("p").alias("pb"),
            F.col(kcol).alias("kb"),
            F.col(bcol).alias("bb"),
        )
        return a.join(
            b,
            (F.col("sa") == F.col("sb"))
            & (F.col("ka") == F.col("kb"))
            & (F.col("ba") == F.col("bb"))
            & (F.col("doc_a") < F.col("doc_b")),
        ).select("doc_a", "doc_b", "pa", "pb")

    # distinct() collapses pairs caught by both passes; (pa, pb) are
    # functions of the ids, so the pair key drives the dedup.
    pairs = blocking_pass("k1", "b1").unionByName(blocking_pass("k2", "b2")).distinct()
    return pairs.withColumn("edit_distance", F.levenshtein("pa", "pb")).select(
        "doc_a", "doc_b", "edit_distance"
    )


@register(
    "dedup_levenshtein",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source,
               substr(lower(trim(text)), 1, 32) AS p,
               substr(lower(trim(text)), 1, 4) AS k1,
               n_chars // {_LEV_LEN_BUCKET} AS b1,
               substr(lower(trim(text)), 17, 4) AS k2,
               (n_chars + {_LEV_LEN_BUCKET // 2}) // {_LEV_LEN_BUCKET} AS b2
        FROM documents
    ),
    p1 AS (
        SELECT * FROM (
            SELECT keyed.*, count(*) OVER (PARTITION BY source, k1, b1) AS bn
            FROM keyed
        ) WHERE bn <= {_LEV_BLOCK_CAP}
    ),
    p2 AS (
        SELECT * FROM (
            SELECT keyed.*, count(*) OVER (PARTITION BY source, k2, b2) AS bn
            FROM keyed
        ) WHERE bn <= {_LEV_BLOCK_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.p AS pa, b.p AS pb
        FROM p1 a JOIN p1 b
          ON a.source = b.source AND a.k1 = b.k1 AND a.b1 = b.b1
         AND a.doc_id < b.doc_id
        UNION
        SELECT a.doc_id, b.doc_id, a.p, b.p
        FROM p2 a JOIN p2 b
          ON a.source = b.source AND a.k2 = b.k2 AND a.b2 = b.b2
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, levenshtein(pa, pb) AS edit_distance
    FROM pairs
    WHERE levenshtein(pa, pb) <= 12
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "neardup", "editdistance"),
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup tier: blocked doc pairs whose 32-char
    lowercase prefixes are within Levenshtein distance 12 — the
    fuzzy-match complement to token-level Jaccard (catches
    character-level noise: OCR errors, encoding damage, small edits
    that shred token trigrams).

    Scale shape: candidates come from ``lev_blocked_pairs`` — a
    disjunctive UNION of two conjunctive block passes (prefix band +
    length bucket, mid-text band + offset bucket), so block sizes stay
    bounded independent of source cardinality while front-of-text
    damage or a bucket-boundary crossing can't silently drop a pair; the
    distance runs on fixed-length prefixes so each comparison is
    O(32^2) regardless of document length, JVM-side via the built-in
    levenshtein expression."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        lev_blocked_pairs(docs.select("doc_id", "source", "n_chars", "text"))
        .filter(F.col("edit_distance") <= 12)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# 8. incremental dedup (new batch vs. existing corpus)


@register(
    "dedup_incremental",
    oracle="""
    WITH split AS (
        SELECT max(doc_id) // 2 AS split_at FROM documents
    ),
    existing AS (
        SELECT doc_id, md5(lower(trim(text))) AS fp
        FROM documents, split WHERE doc_id < split_at
    ),
    incoming AS (
        SELECT doc_id, md5(lower(trim(text))) AS fp
        FROM documents, split WHERE doc_id >= split_at
    )
    SELECT i.doc_id AS new_doc_id,
           min(e.doc_id) AS existing_dup_id,
           count(e.doc_id) AS n_existing_copies
    FROM incoming i LEFT JOIN existing e USING (fp)
    GROUP BY i.doc_id
    ORDER BY new_doc_id
    """,
    tags=("dedup", "incremental", "scale"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: fingerprint only the INCOMING batch
    and join it against the standing corpus fingerprint store — the
    ingest-time shape that makes dedup sustainable at 100 TB (the
    alternative, re-deduping the whole corpus per batch, rescans
    everything). Here the corpus is split at the median doc_id to
    stand in for existing-vs-new; in production the existing side is a
    persisted (bucketed-by-fp) fingerprint table, so this join is
    co-partitioned and the new batch is the only thing shuffled.
    Returns every incoming doc with its canonical existing keeper
    (NULL when the batch doc is novel) and existing-copy count.

    The pivot is ``max(doc_id) div 2`` — *integer* division on both
    engines (Spark ``div``, DuckDB ``//``), so the two splits are
    provably identical (a float ``/2`` + cast diverges: Spark's long
    cast truncates toward zero while DuckDB's rounds to nearest, so
    odd maxima land on different pivots). It rides into the
    plan as a broadcast 1-row cross join, not a driver-side
    ``collect()`` — the query function stays a pure plan builder with
    no eager action (real ingestion is handed the batch boundary)."""
    docs = load_table(spark, sf_dir, "documents")
    split = docs.agg(F.expr("max(doc_id) div 2").alias("split_at"))
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    keyed = docs.crossJoin(F.broadcast(split))
    existing = keyed.filter(F.col("doc_id") < F.col("split_at")).select(
        F.col("doc_id").alias("existing_id"), fp.alias("fp")
    )
    incoming = keyed.filter(F.col("doc_id") >= F.col("split_at")).select(
        F.col("doc_id").alias("new_doc_id"), fp.alias("fp")
    )
    # LEFT join: every incoming doc reports its dup status (keeper id
    # or NULL) — an inner join can legitimately return zero rows on a
    # dup-free batch, which would make the correctness gate vacuous.
    return (
        incoming.join(existing, "fp", "left")
        .groupBy("new_doc_id")
        .agg(
            F.min("existing_id").alias("existing_dup_id"),
            F.count("existing_id").alias("n_existing_copies"),
        )
        .orderBy("new_doc_id")
    )


# ---------------------------------------------------------------------------
# 9. benchmark decontamination


_CONTAM_MAX_DF = 1000


def _contam_sh_chain() -> str:
    """Oracle CTE chain for the contamination family (requires a
    ``toks(doc_id, t)`` CTE upstream): the distinct per-doc trigram
    set MINUS trigrams whose TRAIN-side document frequency exceeds
    ``_CONTAM_MAX_DF``. Shared verbatim by the check, the sweep and
    the decontamination reports so the capped semantics cannot drift
    between them."""
    return f"""sh_all AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
               AS shingle
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
    ),
    hot AS (
        SELECT shingle FROM sh_all WHERE doc_id % 29 <> 0
        GROUP BY shingle HAVING count(*) > {_CONTAM_MAX_DF}
    ),
    sh AS (
        SELECT s.doc_id, s.shingle FROM sh_all s
        LEFT JOIN hot h ON s.shingle = h.shingle WHERE h.shingle IS NULL
    )"""


def contamination_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination probe relation: the session-cached distinct
    (doc_id, shingle) set with ultra-common trigrams REMOVED — any
    trigram held by more than ``_CONTAM_MAX_DF`` training documents
    carries no contamination signal (it is corpus idiom/boilerplate,
    the "one phrase shared by 1M docs" case the Jaccard tier's
    MAX_SHINGLE_DF already names) and is exactly what makes the
    bench-side join fan-out quadratic-ish: the x64 SCALE tier measured
    a 1.06e9-row join fan-out dominated by trigrams with train-df in
    the thousands. Decontamination systems match on RARE n-grams by
    construction; the cap makes that explicit and bounds the fan-out
    at sum(df_t * df_b) <= _CONTAM_MAX_DF * |bench shingle instances|.
    The hot set is tiny by construction (<= instances / cap) and rides
    a broadcast anti-join. The cap does not bind at the driver's
    sf0.01 gate (145 training docs < 1000), so the capped and uncapped
    semantics coincide there; at scale they diverge by design, and the
    oracle chain (``_contam_sh_chain``) encodes the SAME cap."""
    sh = cached_doc_shingles(spark, sf_dir, n=3)
    return sh.join(
        F.broadcast(contamination_hot_shingles(spark, sf_dir)),
        "shingle",
        "left_anti",
    )


def contamination_hot_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contamination family's hot set: trigrams whose TRAIN-side
    document frequency exceeds ``_CONTAM_MAX_DF`` over the standing
    (v0) corpus. Exposed as its own relation because the
    incremental decontamination readout must subtract the SAME pinned
    hot set from delta-batch shingles that the standing index was
    built with — recomputing it per batch would make the incremental
    and full paths use different caps and break their identity."""
    sh = cached_doc_shingles(spark, sf_dir, n=3)
    return (
        sh.filter(F.col("doc_id") % 29 != 0)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > _CONTAM_MAX_DF)
        .select("shingle")
    )


def _contamination_check_oracle() -> str:
    """Oracle builder for the check — a function (not a baked string)
    so tests can rebuild it after monkeypatching ``_CONTAM_MAX_DF``
    and verify the capped semantics where the cap actually BINDS
    (it is non-binding at the sf0.01 driver gate by design)."""
    return f"""
    WITH {TOKS_CTE},
    {_contam_sh_chain()},
    bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 = 0),
    train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM train GROUP BY doc_id),
    overlap AS (
        SELECT t.doc_id, b.doc_id AS bench_doc_id, count(*) AS n_shared
        FROM train t JOIN bench b ON t.shingle = b.shingle
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, bench_doc_id, n_shared,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY n_shared DESC, bench_doc_id) AS rn
        FROM overlap
    )
    SELECT r.doc_id, r.bench_doc_id, r.n_shared,
           round(r.n_shared * 1.0 / s.n_sh, 4) AS contamination_ratio
    FROM ranked r JOIN sz s ON s.doc_id = r.doc_id
    WHERE r.rn = 1 AND r.n_shared >= 3
    ORDER BY r.doc_id
    """


@register(
    "dedup_contamination_check",
    oracle=_contamination_check_oracle(),
    tags=("dedup", "contamination", "scale"),
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing >= 3
    distinct token trigrams with any benchmark document, reporting the
    worst-overlapping benchmark doc and the contaminated fraction of
    the training doc's trigram set. (The held-out "benchmark" here is
    the deterministic doc_id % 29 == 0 slice — in production it's the
    actual eval suites.)

    Scale shape: the benchmark n-gram index is TINY relative to the
    corpus (eval suites are megabytes against 100 TB), so it rides a
    BROADCAST into the probe — the corpus side streams map-only through
    the broadcast-hash join, the per-(doc, bench) counts are map-side
    combinable, and the final per-doc argmax windows over the handful
    of matched benchmark docs, never the corpus. No all-pairs, no
    corpus-sized shuffle; the shingle relation is the session-cached,
    train-df-capped one (`contamination_shingles`). The df cap is
    part of the operator (contamination is sharing RARE n-grams), and
    it removes the join fan-out from ultra-common trigrams, which at
    x64 was a 1.06e9-row join."""
    sh = contamination_shingles(spark, sf_dir)
    is_bench = F.col("doc_id") % 29 == 0
    bench = sh.filter(is_bench).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    # Doc-aligned layout (the retrieval_eval_mrr lesson, measured
    # there at x64: 26.8 -> 9.4 s for the pair aggregate alone): one
    # explicit doc_id repartition of the train side makes every
    # downstream aggregate exchange-free — HashPartitioning(doc_id)
    # satisfies the clustered distribution of BOTH the (doc, bench)
    # overlap groupBy (fan-out partials otherwise shuffle with a poor
    # combine ratio: ~3.5 fan-out rows per pair) and the per-doc
    # argmax/size aggregates, and the final top⋈sizes join is
    # co-partitioned. The broadcast probe preserves the layout, so
    # the only exchange in the whole plan is this corpus-row
    # repartition (15.8M rows at x64, ~0.5 s).
    train = sh.filter(~is_bench).repartition("doc_id")
    sizes = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    overlap = (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    # Per-doc argmax as a COMBINABLE single-long max, not a
    # row_number window: pack (n_shared, bench_doc_id)
    # into one int64 — n_shared * 2^43 + (2^43 - 1 - bench_doc_id) —
    # whose max selects the highest overlap with ties to the SMALLEST
    # benchmark doc, exactly the window's (n_shared DESC,
    # bench_doc_id ASC) rank-1 row. A long max runs as a map-side
    # partial HashAggregate; both the window form (WindowGroupLimit
    # still sorts the full 52.5M-row overlap relation twice around
    # its exchange) and a struct-max form (struct buffers are not
    # hash-aggregable, so Catalyst silently falls back to
    # SortAggregate + the same two sorts) measured ~9x slower at the
    # x64 tier. Packing bounds: bench_doc_id < 2^43 (8.8e12 docs) and
    # n_shared < 2^20 (1M distinct shared trigrams needs a
    # >1M-trigram doc — cap upstream if documents that size ever
    # enter). The bounds are enforced by an explicit raise_error
    # branch INSIDE the packed expression (ADVICE r14): relying on
    # ANSI overflow checks made the guard conditional on
    # spark.sql.ansi.enabled — under non-ANSI sessions the multiply
    # would wrap silently and elect a WRONG top benchmark doc. The
    # when/otherwise keeps the guard un-prunable (it is the value
    # being aggregated) and costs one comparison per overlap row.
    # The oracle keeps the independent row_number formulation.
    _B = F.lit(1 << 43)
    _bounds_ok = (F.col("n_shared") < F.lit(1 << 20)) & (
        F.col("bench_doc_id") >= 0
    ) & (F.col("bench_doc_id") < _B)
    packed = F.max(
        F.when(
            _bounds_ok,
            F.col("n_shared") * _B + (_B - F.lit(1) - F.col("bench_doc_id")),
        ).otherwise(
            F.expr(
                "CAST(raise_error('dedup_contamination_check: packed-argmax"
                " bound exceeded (need n_shared < 2^20 and"
                " 0 <= bench_doc_id < 2^43)') AS BIGINT)"
            )
        )
    ).alias("packed")
    top = (
        overlap.groupBy("doc_id")
        .agg(packed)
        .select(
            "doc_id",
            # integer div, not `/`: double division loses exactness
            # past 2^53 and packed values live near 2^63
            F.expr(f"packed div {1 << 43}").alias("n_shared"),
            (_B - F.lit(1) - F.col("packed") % _B).alias("bench_doc_id"),
        )
        .filter(F.col("n_shared") >= 3)
    )
    return (
        top.join(sizes, "doc_id")
        .select(
            "doc_id",
            "bench_doc_id",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_sh"), 4).alias("contamination_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 9. PageRank over the near-dup graph (iterative, integer-exact oracle)

_PR_SCALE = 10**9
_PR_ITERS = 5

_PAGERANK_MAX_DF = 100

# Pair derivation mirrors graph_pagerank's TIGHT df cap (not the
# 5000 default), so oracle agreement no longer rests on the fixture
# invariant "max shingle df < 100" — they are equivalent by
# construction at any scale.
_PAGERANK_ORACLE = f"""
    WITH pairs AS ({_jaccard_pairs_sql(_PAGERANK_MAX_DF)}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, count(*) AS d FROM edges GROUP BY u),
    r0 AS (SELECT u AS doc_id, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg),
    r1 AS (
        SELECT e.v AS doc_id,
               {(15 * _PR_SCALE) // 100} + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
        FROM edges e JOIN r0 r ON r.doc_id = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    r2 AS (
        SELECT e.v AS doc_id,
               {(15 * _PR_SCALE) // 100} + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
        FROM edges e JOIN r1 r ON r.doc_id = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    r3 AS (
        SELECT e.v AS doc_id,
               {(15 * _PR_SCALE) // 100} + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
        FROM edges e JOIN r2 r ON r.doc_id = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    r4 AS (
        SELECT e.v AS doc_id,
               {(15 * _PR_SCALE) // 100} + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
        FROM edges e JOIN r3 r ON r.doc_id = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    ),
    r5 AS (
        SELECT e.v AS doc_id,
               {(15 * _PR_SCALE) // 100} + (85 * CAST(sum(r.r // d.d) AS BIGINT)) // 100 AS r
        FROM edges e JOIN r4 r ON r.doc_id = e.u JOIN deg d ON d.u = e.u
        GROUP BY e.v
    )
    SELECT doc_id, CAST(r AS BIGINT) AS rank_q9 FROM r5 ORDER BY doc_id
"""


def pagerank_edges(edges: DataFrame) -> DataFrame:
    """PageRank over a directed edge list (u, v), computed entirely in
    INTEGER arithmetic: ranks live at a fixed 1e9 scale, per-edge
    contributions are integer-divided by out-degree, and the damping
    step is (15*_PR_SCALE)//100 + (85*sum)//100 — every operation exact
    and order-independent, so a 5-iteration run is bit-identical
    across engines AND across shuffle orders (the float formulation
    re-associates sums differently every run; this one cannot).

    Scale shape per iteration: one shuffle join of ranks against the
    edge list on the source key and one aggregation on the target key
    — exactly a fact-fact equi-join plus a grouped sum, so everything
    said about those ops (AQE skew split for celebrity nodes,
    co-partitioned layouts to delete the join shuffle) applies. Deep
    iteration counts should cut lineage with localCheckpoint every
    few rounds exactly as connected_components_edges does; at 5
    rounds the plan stays shallow enough not to bother."""
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(F.col("u").alias("doc_id"), F.lit(_PR_SCALE).cast("long").alias("r"))
    base = (15 * _PR_SCALE) // 100
    for _ in range(_PR_ITERS):
        ranks = (
            edges.join(ranks, edges["u"] == ranks["doc_id"])
            .join(deg, "u")
            .select(F.col("v"), F.expr("r div d").alias("c"))
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.sum("c").alias("s"))
            .select("doc_id", (F.lit(base) + F.expr("(85 * s) div 100")).alias("r"))
        )
    return ranks.select("doc_id", F.col("r").alias("rank_q9"))


@register(
    "graph_pagerank",
    oracle=_PAGERANK_ORACLE,
    tags=("graph", "pagerank", "iterative", "scale"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank over the trigram-Jaccard near-dup graph
    (same edges as the connected-components closure) — centrality on
    the duplicate graph identifies template/boilerplate hubs: a doc
    near-dup-linked to many others is a copy nexus, and downweighting
    hubs is a standard corpus-curation signal. The companion iterative
    op to dedup_connected_components, with a stronger correctness
    story: 5 damped iterations replayed EXACTLY by the DuckDB oracle
    (chained CTEs) thanks to the integer-arithmetic formulation — an
    iterative algorithm with a full value-hash oracle, not a
    rows-only row."""
    # Edge derivation uses a TIGHT df cap (vs the 5000 default): a
    # shingle shared by >100 docs carries no >=0.7-Jaccard signal —
    # it only floods the inverted-index join with noise pairs
    # (sum(df^2) row explosion; the x64 smoke's marker artifact
    # produced per-copy shingles with df ~5000 and the uncapped join
    # OOM'd the JVM). The cap is now mirrored in the oracle's own
    # shingle index (see _jaccard_pairs_sql), so implementation and
    # oracle stay equivalent by construction even where it binds.
    # The pair relation comes from the session-wide materialized
    # cache (cached_jaccard_pairs) — already checkpointed, so the six
    # downstream references (degrees + five iterations) never replay
    # the shingle self-join.
    pairs = cached_jaccard_pairs(spark, sf_dir, max_df=_PAGERANK_MAX_DF)
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).unionByName(
        pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
    )
    return pagerank_edges(edges).orderBy("doc_id")


# ---------------------------------------------------------------------------
# 10. degree distribution of the near-dup graph


@register(
    "graph_degree_distribution",
    oracle=f"""
    WITH pairs AS ({_JACCARD_ORACLE}),
    edges AS (
        SELECT doc_a AS u FROM pairs
        UNION ALL
        SELECT doc_b AS u FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS degree FROM edges GROUP BY u)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    ORDER BY degree
    """,
    tags=("graph", "degree", "scale"),
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the trigram-Jaccard near-dup graph — the
    shape diagnostic read BEFORE running the iterative graph ops: a
    heavy tail here is what motivates `graph_pagerank`'s hub scores,
    predicts `dedup_connected_components`' giant-component risk, and
    calibrates `graph_triangle_count`'s degree orientation. Two
    count aggregates over the shared materialized pair relation
    (`cached_jaccard_pairs` — free if any other graph query ran this
    session); output is at most max-degree rows."""
    pairs = cached_jaccard_pairs(spark, sf_dir)
    nodes = pairs.select(F.col("doc_a").alias("u")).unionByName(
        pairs.select(F.col("doc_b").alias("u"))
    )
    deg = nodes.groupBy("u").agg(F.count(F.lit(1)).alias("degree"))
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


_MODULARITY_ORACLE = f"""
    WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
    e0 AS (
        SELECT DISTINCT least(doc_a, doc_b) AS u, greatest(doc_a, doc_b) AS v
        FROM pairs WHERE doc_a != doc_b
    ),
    sym AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    reach(u, v) AS (
        SELECT u, v FROM sym
        UNION
        SELECT r.u, e.v FROM reach r JOIN sym e ON r.v = e.u
    ),
    labels AS (
        SELECT u AS node, least(u, min(v)) AS component_id
        FROM reach GROUP BY u
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
    deg AS (SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY u),
    dc AS (
        SELECT l.component_id,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d.d) AS BIGINT) AS degree_sum
        FROM labels l JOIN deg d USING (node)
        GROUP BY 1
    ),
    ec AS (
        SELECT l.component_id, CAST(count(*) AS BIGINT) AS n_edges
        FROM e0 e JOIN labels l ON e.u = l.node
        GROUP BY 1
    )
    SELECT dc.component_id, dc.n_nodes, ec.n_edges, dc.degree_sum,
           round(CAST(ec.n_edges AS DOUBLE) / m
                 - (CAST(dc.degree_sum AS DOUBLE) / (2 * m))
                   * (CAST(dc.degree_sum AS DOUBLE) / (2 * m)), 6)
               AS modularity
    FROM dc JOIN ec USING (component_id) CROSS JOIN m
    ORDER BY component_id
"""


@register(
    "graph_modularity",
    oracle=_MODULARITY_ORACLE,
    tags=("graph", "community", "modularity", "scale"),
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity per connected component of the near-dup
    graph: Q_c = e_c/m − (d_c/2m)² — the community-quality readout
    that tells a dedup pipeline whether its transitive clusters are
    dense duplicate families (Q_c near e_c/m, tight) or chains strung
    together by borderline pairs (degree mass without internal edge
    mass) — the chain clusters are the ones where min-doc_id keeper
    rules destroy non-duplicate content. Composes the module's shared
    relations: `cached_jaccard_pairs` edges + the alternating-star
    components (`connected_components_edges`).

    Float discipline: e_c, d_c, m are exact int64; each component's Q
    is two divisions and one multiply of exact integers evaluated in
    token-identical order on both engines, rounded once at 6dp.

    Scale shape: degrees are one keyed aggregate over the symmetric
    edge list; per-component sums join the (node → component) labels
    — everything keyed by node or component id, the only iteration
    being the O(log n) star rounds already amortized behind the
    session-cached pair relation."""
    pairs = cached_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    e0 = (
        pairs.filter(F.col("doc_a") != F.col("doc_b"))
        .select(
            F.least("doc_a", "doc_b").alias("u"),
            F.greatest("doc_a", "doc_b").alias("v"),
        )
        .distinct()
    )
    sym = e0.union(e0.select(F.col("v").alias("u"), F.col("u").alias("v")))
    labels, _rounds = connected_components_edges(pairs)
    labels = labels.select(
        F.col("doc_id").alias("node"), "component_id"
    )
    m = e0.agg(F.count(F.lit(1)).alias("m"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    dc = (
        labels.join(deg, "node")
        .groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("d").alias("degree_sum"),
        )
    )
    ec = (
        e0.join(labels, e0.u == labels.node)
        .groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )
    half = F.col("degree_sum").cast("double") / (F.lit(2) * F.col("m"))
    return (
        dc.join(ec, "component_id")
        .crossJoin(F.broadcast(m))
        .select(
            "component_id",
            "n_nodes",
            "n_edges",
            "degree_sum",
            F.round(
                F.col("n_edges").cast("double") / F.col("m") - half * half, 6
            ).alias("modularity"),
        )
        .orderBy("component_id")
    )


def _minhash_calibration_oracle() -> str:
    """Candidate replay of `_minhash_oracle` (same signatures, bands,
    cap, pair set — WITHOUT the 0.7 acceptance threshold) joined to
    the exact per-pair trigram Jaccard."""
    ctes, matches = _minhash_sql()
    return f"""
    WITH {ctes},
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           ({matches}) / {_NUM_PERM}.0 AS est_jaccard,
           coalesce(i.n_inter, 0) AS n_inter,
           za.n_sh + zb.n_sh - coalesce(i.n_inter, 0) AS n_union,
           round(coalesce(i.n_inter, 0) * 1.0
                 / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 4)
               AS exact_jaccard,
           round(abs(({matches}) / {_NUM_PERM}.0
                     - coalesce(i.n_inter, 0) * 1.0
                       / (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0))), 4)
               AS abs_err
    FROM cand c
    JOIN sig x ON x.doc_id = c.doc_a
    JOIN sig y ON y.doc_id = c.doc_b
    JOIN sz za ON za.doc_id = c.doc_a
    JOIN sz zb ON zb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    ORDER BY c.doc_a, c.doc_b
"""


@register(
    "dedup_minhash_calibration",
    oracle=_minhash_calibration_oracle(),
    tags=("dedup", "minhash", "evaluation", "calibration"),
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration audit for the MinHash pipeline: every LSH
    candidate pair's signature-estimated Jaccard next to its EXACT
    trigram Jaccard and the absolute error — the readout that
    justifies (or re-tunes) the 0.7 acceptance threshold
    `dedup_minhash_lsh` applies, exactly as `similarity_ivf_recall`
    justifies the IVF probe budget. E[est] = J with sd
    sqrt(J(1-J)/32) ~ 0.08: pairs outside ~2 sd are the ones a
    threshold bump would misclassify.

    The exact side needs NO shingle-df cap and NO inverted-index
    self-join: candidates are already bucket-cap-bounded, so the true
    intersection is a per-pair keyed join of each candidate's shingle
    set (cost ~ pairs x doc length — linear in the candidate set,
    which is the whole point of LSH). est = k/32 is an exact binary
    fraction on both engines; the error column subtracts the same
    two division results in the same order before the single 4dp
    round."""
    sh = cached_doc_shingles(spark, sf_dir)
    _sig, cand = cached_minhash_sig_cand(spark, sf_dir)
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(
            sh.select(
                F.col("doc_id").alias("db"), F.col("shingle").alias("shingle_b")
            ),
            (F.col("doc_b") == F.col("db"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    est = F.col("n_match") / F.lit(_NUM_PERM)
    jac = F.col("n_inter") / F.col("n_union")
    return (
        cand.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .join(inter, ["doc_a", "doc_b"], "left")
        .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_inter"))
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            "n_inter",
            "n_union",
            F.round(jac, 4).alias("exact_jaccard"),
            F.round(F.abs(est - jac), 4).alias("abs_err"),
        )
        .orderBy("doc_a", "doc_b")
    )


def _threshold_sweep_oracle() -> str:
    """Candidate replay (same as the calibration oracle's candidate
    set) bucketed by estimated-Jaccard at 0.05 steps with a
    descending cumulative count."""
    ctes, matches = _minhash_sql()
    return f"""
    WITH {ctes},
    est AS (
        SELECT CAST(({matches}) * 20 // {_NUM_PERM} AS BIGINT) AS bucket
        FROM cand c
        JOIN sig x ON x.doc_id = c.doc_a
        JOIN sig y ON y.doc_id = c.doc_b
    ),
    hist AS (
        SELECT bucket * 5 AS threshold_pct, CAST(count(*) AS BIGINT) AS n_pairs
        FROM est GROUP BY bucket
    )
    SELECT threshold_pct, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY threshold_pct DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_pairs_at_or_above
    FROM hist
    ORDER BY threshold_pct
"""


@register(
    "dedup_threshold_sweep",
    oracle=_threshold_sweep_oracle(),
    tags=("dedup", "minhash", "tuning", "evaluation"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acceptance-threshold tuning curve for the MinHash tier: LSH
    candidate pairs bucketed by estimated Jaccard (0.05 steps) with
    the descending cumulative count — "how many pairs would a 0.6
    threshold accept vs 0.7?" answered in one relation, the sweep a
    pipeline owner reads next to `dedup_minhash_calibration`'s error
    audit before moving the production threshold. The knee of this
    curve (pair volume exploding as the threshold drops toward the
    random-agreement floor of ~0.5) is the tuning signal.

    Scale shape: reads the session-cached candidate relation's
    ``n_match`` (`cached_minhash_sig_cand`); the histogram is a
    21-bucket aggregate and the cumulative window runs on that
    DOMAIN-bounded relation, never the pair set. est buckets are
    exact integers (matches x 20 // 32) — no float anywhere."""
    _sig, cand = cached_minhash_sig_cand(spark, sf_dir)
    hist = (
        cand.select(
            F.floor(F.col("n_match") * 20 / _NUM_PERM).cast("long").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select((F.col("bucket") * 5).alias("threshold_pct"), "n_pairs")
    )
    w = W.orderBy(F.col("threshold_pct").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        hist.withColumn(
            "n_pairs_at_or_above", F.sum("n_pairs").over(w).cast("long")
        )
        .orderBy("threshold_pct")
    )


@register(
    "dedup_survivors_weighted",
    oracle=f"""
    {closure_ctes('pairs', _minhash_oracle())},
    comp AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    ),
    sizes AS (
        SELECT cluster_id, CAST(count(*) AS BIGINT) AS weight
        FROM comp GROUP BY cluster_id
    )
    SELECT d.doc_id, d.source,
           coalesce(s.weight, 1) AS weight,
           CAST(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS was_clustered
    FROM documents d
    LEFT JOIN comp c ON c.doc_id = d.doc_id
    LEFT JOIN sizes s ON s.cluster_id = d.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = d.doc_id
    ORDER BY d.doc_id
    """,
    tags=("dedup", "sampling", "pipeline", "scale"),
)
def dedup_survivors_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The post-dedup training corpus WITH distribution-preserving
    weights: every cluster's keeper (component-min doc_id) carries
    weight = cluster_size, unclustered docs carry weight 1 — so
    token-level statistics (domain mixture, quality histograms,
    loss weighting) computed over survivors x weight match the
    pre-dedup corpus instead of silently down-weighting whatever
    content duplicates most. This is the artifact a dedup job
    actually HANDS to training (`dedup_minhash_clusters` diagnoses
    the clusters; this emits the corpus), closing the dedup family:
    detect -> cluster -> keep+reweight.

    Scale shape: rides the session-cached candidate relation through
    `dedup_minhash_lsh` -> alternating-star components; keeper
    selection and weights are two keyed aggregates over the
    (doc -> cluster) labels; the final LEFT joins are on doc_id (the
    corpus's natural key). Weights are exact int64 counts."""
    docs = load_table(spark, sf_dir, "documents")
    edges = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    labels, _rounds = connected_components_edges(edges)
    sizes = labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("weight")
    )
    lab = labels.select("doc_id", "component_id")
    return (
        docs.select("doc_id", "source")
        .join(lab, "doc_id", "left")
        .filter(
            F.col("component_id").isNull()
            | (F.col("component_id") == F.col("doc_id"))
        )
        .join(
            sizes.select(F.col("component_id").alias("sz_id"), "weight"),
            F.col("sz_id") == F.col("doc_id"),
            "left",
        )
        .select(
            "doc_id",
            "source",
            F.coalesce("weight", F.lit(1)).cast("long").alias("weight"),
            F.col("component_id").isNotNull().cast("long").alias("was_clustered"),
        )
        .orderBy("doc_id")
    )


# Span length (tokens) for sub-document exact dedup. Non-overlapping
# full spans only: ragged tails are dropped, so every emitted span is
# exactly _SPAN_TOKENS tokens — a shorter tail span would hash-match
# across docs far more easily and pollute the duplication signal.
_SPAN_TOKENS = 10


@register(
    "dedup_span_exact",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql('text')} AS l
        FROM documents
        WHERE len({tokens_sql('text')})
              >= {_SPAN_TOKENS}
    ),
    chunks AS (
        SELECT doc_id,
               array_to_string(
                   l[j*{_SPAN_TOKENS}+1 : j*{_SPAN_TOKENS}+{_SPAN_TOKENS}],
                   ' ') AS span
        FROM (SELECT doc_id, l,
                     unnest(range(len(l)//{_SPAN_TOKENS})) AS j
              FROM toks)
    )
    SELECT span,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences
    FROM chunks
    GROUP BY span
    HAVING count(DISTINCT doc_id) >= 2
    """,
    tags=("dedup", "span", "scale"),
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: find fixed-length token SPANS
    (non-overlapping 10-token windows, ``_SPAN_TOKENS``) repeated
    across distinct documents — the line/paragraph-level pass of production corpus
    dedup (boilerplate headers, license blocks, templated passages
    survive document-level dedup because the documents AROUND them
    differ; span-level catches them).

    Scale shape: tokenization and span assembly are map-only
    (``slice`` over the token array — no posexplode/regroup, which
    would shuffle token rows only to reassemble them), then ONE
    groupBy on the span string with map-side-combinable counts. At
    100 TB the span string is replaced by its xxhash64 as the group
    key (8 bytes shuffled per span instead of ~60) and spans with
    n_docs over a df-cap are routed to a removal list — same plan,
    smaller payload. Emitted here as the plain string so the DuckDB
    oracle replays the whole chain byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens().alias("t")).filter(
        F.size("t") >= _SPAN_TOKENS
    )
    spans = t.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(size(t)/{_SPAN_TOKENS} AS INT) - 1), "
                f"j -> concat_ws(' ', slice(t, j*{_SPAN_TOKENS}+1, {_SPAN_TOKENS})))"
            )
        ).alias("span"),
    )
    return (
        spans.groupBy("span")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# 13b. exact-substring dedup (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better" — the ExactSubstr tier).
# The paper builds a corpus suffix array and removes every substring
# of >= 50 tokens that appears more than once. The Spark-native
# equivalent of the suffix-array scan is k-token ANCHOR RUNS: any
# repeated substring of length >= k contains only repeated k-runs, and
# maximal stretches of consecutive repeated k-run offsets ARE the
# maximal repeated substrings (to k-token resolution at the edges).
# That turns "suffix array + LCP scan" into tokenize -> positioned
# k-grams -> corpus-wide occurrence count -> per-doc gaps-and-islands
# merge: every step a built-in map/agg/window, no pairwise join at
# all (the repeat test is a combinable count per run hash, not a
# self-join), which is exactly what survives 100 TB.

_SUBSTR_K = 8  # anchor run length = minimum duplicated-substring length
# The df-cap valve: run
# hashes whose corpus-wide occurrence count reaches the cap are
# "ultra-hot" (mega-repeated boilerplate/license blocks). They are
# collected to the driver (bounded at _SUBSTR_HOT_MAX 16-byte hashes
# — model-sized state, the k-means-centers pattern), broadcast, and
# their offsets routed to the hits relation MAP-SIDE — so the
# hash-keyed semi-join shuffle never sees the skewed keys (a 10^6-
# repeated block would otherwise land 10^6 rows on one reducer).
# Routing is result-invariant: a hot hash has n >= cap >= 2, so its
# offsets are in the repeated set by definition — the DuckDB oracle
# replays unchanged. If more than _SUBSTR_HOT_MAX hashes are hot, the
# hottest are routed and the tail falls back to the (now far less
# skewed) semi-join — the broadcast stays bounded no matter what.
_SUBSTR_DF_CAP = 1024
_SUBSTR_HOT_MAX = 65536


def _substring_spans_cte() -> str:
    """The WITH-body (toks -> runs -> dup -> hits -> spans) shared by
    the substring-tier oracles — kept in one place so the pair
    listing and the removal-stats readout can never diverge from the
    same span derivation (the simhash_candidate_pairs discipline)."""
    k = _SUBSTR_K
    return f"""{TOKS_CTE},
    runs AS (
        SELECT doc_id, i,
               md5(array_to_string(t[i : i + {k - 1}], ' ')) AS h
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - {k - 1})) AS i
        )
        WHERE len(t) >= {k}
    ),
    dup AS (SELECT h FROM runs GROUP BY h HAVING count(*) >= 2),
    hits AS (
        SELECT r.doc_id, r.i,
               r.i - row_number() OVER (
                   PARTITION BY r.doc_id ORDER BY r.i) AS grp
        FROM runs r WHERE r.h IN (SELECT h FROM dup)
    ),
    spans AS (
        SELECT doc_id,
               CAST(min(i) AS BIGINT) AS span_start,
               CAST(max(i) - min(i) + {k} AS BIGINT) AS span_tokens
        FROM hits GROUP BY doc_id, grp
    )"""


def _substring_oracle() -> str:
    return f"""
    WITH {_substring_spans_cte()}
    SELECT s.doc_id, s.span_start, s.span_tokens,
           array_to_string(
               tk.t[s.span_start : s.span_start + s.span_tokens - 1],
               ' ') AS span_text
    FROM spans s JOIN toks tk USING (doc_id)
    ORDER BY s.doc_id, s.span_start
    """


def substring_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, t): every document's token array, unfiltered — the
    relation the span listing slices text out of and the removal
    stats left-join against (docs with no spans must still report)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", tokens().alias("t"))


def _substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, i, h): every document's positioned k-token anchor-run
    hashes — one md5 per offset via a map-only ``transform`` (no
    token explode/regroup)."""
    k = _SUBSTR_K
    toks = substring_doc_tokens(spark, sf_dir).filter(F.size("t") >= k)
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {k - 1}), i -> "
                f"struct(i AS i, md5(array_join(slice(t, i, {k}), ' ')) AS h))"
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.i").alias("i"), F.col("e.h").alias("h"))


def _substring_dup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h, n): the repeated anchor-hash relation (corpus-wide
    occurrence count >= 2) — the dup-hash table of the
    exact-substring tier, a session relation because THREE readers
    ride it: the df-cap hot probe, the span semi-join, and the
    removal-stats call's second spans derivation. Without the cache
    each reader re-pays the full tokenize+md5 pass over the corpus
    (the dominant map cost); with it the tier pays one derivation per
    session — exactly what a production pipeline does by persisting
    the dup-hash table (it is the removal list's index). Size is
    distinct-REPEATED-hashes only (far below token volume); at 100 TB
    this is the relation you would scratch-parquet instead."""

    def build() -> DataFrame:
        return (
            _substring_runs(spark, sf_dir)
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= 2)
        )

    return session_relation(spark, "substring_dup_counts", sf_dir, "documents", build)


def substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, span_start, span_tokens): the maximal repeated-span
    relation of the exact-substring tier — shared by the span listing
    (`dedup_substring_exact`) and the removal-stats readout so both
    always report the same spans. See `dedup_substring_exact` for the
    anchor-run formulation and the scale argument."""
    k = _SUBSTR_K
    runs = _substring_runs(spark, sf_dir)
    counts = _substring_dup_counts(spark, sf_dir)
    # df-cap valve: pull the ultra-hot hashes (bounded driver-side
    # model state — see _SUBSTR_DF_CAP above) and route their offsets
    # to hits map-side, bypassing the skewed shuffle keys. When no
    # hash reaches the cap (the common healthy-corpus case) the plan
    # is EXACTLY the original count + semi-join; the probe itself is
    # a filter over the session-cached counts relation, not a second
    # corpus pass.
    hot_rows = (
        counts.filter(F.col("n") >= _SUBSTR_DF_CAP)
        .orderBy(F.desc("n"), "h")
        .limit(_SUBSTR_HOT_MAX)
        .select("h")
        .collect()
    )
    if hot_rows:
        hot = spark.createDataFrame([(r["h"],) for r in hot_rows], "h string")
        hot_hits = runs.join(F.broadcast(hot), "h", "inner")
        # the anti side has no hot keys left, so the semi-join against
        # the full repeated set (hot rows included — harmless, they
        # can't match) shuffles without the skewed keys
        rest_hits = runs.join(F.broadcast(hot), "h", "left_anti").join(
            counts.select("h"), "h", "left_semi"
        )
        hits0 = hot_hits.select("doc_id", "i").unionByName(
            rest_hits.select("doc_id", "i")
        )
    else:
        hits0 = runs.join(counts.select("h"), "h", "left_semi").select(
            "doc_id", "i"
        )
    w = W.partitionBy("doc_id").orderBy("i")
    hits = hits0.withColumn("grp", F.col("i") - F.row_number().over(w))
    return hits.groupBy("doc_id", "grp").agg(
        F.min("i").cast("long").alias("span_start"),
        (F.max("i") - F.min("i") + k).cast("long").alias("span_tokens"),
    ).drop("grp")


@register(
    "dedup_substring_exact",
    oracle=_substring_oracle(),
    tags=("dedup", "substring", "suffix", "scale"),
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the Lee et al. 2022 ExactSubstr tier:
    every MAXIMAL token span of length >= ``_SUBSTR_K`` that occurs
    more than once in the corpus (cross-doc or within-doc), reported
    per document as (span_start, span_tokens, span_text) — the
    removal list a training-data pipeline cuts before tokenization.
    Differs from ``dedup_span_exact`` (fixed non-overlapping 10-token
    windows) in finding ARBITRARY-length repeats at ARBITRARY
    offsets: a 93-token boilerplate block shifted by one token still
    matches here, where fixed windows would miss it.

    Suffix-array-free formulation: positioned k-token anchor runs at
    every offset (one md5 per offset, map-only ``transform`` over the
    token array — no token explode/regroup); a run hash is 'repeated'
    iff its corpus-wide occurrence count >= 2 — ONE combinable
    groupBy, no self-join, so a million-fold-repeated license block
    costs a count of 1e6, not 1e12 pairs; repeated offsets semi-join
    back (shuffle on the 16-byte hash) and merge into maximal spans
    by gaps-and-islands (window partitioned per doc, never global).
    Span edges are exact to k-token resolution: a duplicated region
    of d >= k tokens yields d - k + 1 consecutive repeated offsets
    which merge back to exactly d tokens.

    Scale shape: runs are linear in corpus tokens; at 100 TB swap the
    md5 string for xxhash64 (8 bytes shuffled per offset). The df-cap
    skew valve is IN the shared `substring_spans` derivation (round
    12): hashes with occurrence count >= ``_SUBSTR_DF_CAP`` are
    collected (bounded at ``_SUBSTR_HOT_MAX`` — driver state is
    model-sized), broadcast, and their offsets routed to the hits
    relation map-side, so the semi-join shuffle never carries the
    mega-repeated keys; the probe reads the session-materialized
    dup-hash counts relation (`_substring_dup_counts`), not a second
    corpus pass. Routing is result-invariant (hot implies
    repeated), so the DuckDB oracle replays the chain byte-for-byte
    (md5 kept here for that)."""
    toks = substring_doc_tokens(spark, sf_dir)
    spans = substring_spans(spark, sf_dir)
    return (
        spans.join(toks, "doc_id")
        .select(
            "doc_id",
            "span_start",
            "span_tokens",
            F.expr(
                "array_join(slice(t, CAST(span_start AS INT), "
                "CAST(span_tokens AS INT)), ' ')"
            ).alias("span_text"),
        )
        .orderBy("doc_id", "span_start")
    )


@register(
    "dedup_substring_removal_stats",
    oracle=f"""
    WITH {_substring_spans_cte()},
    per_doc AS (
        SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS dup_tokens
        FROM spans GROUP BY doc_id
    )
    SELECT tk.doc_id,
           CAST(len(tk.t) AS BIGINT) AS n_tokens,
           COALESCE(p.dup_tokens, 0) AS dup_tokens,
           round(COALESCE(p.dup_tokens, 0) * 1.0 / len(tk.t), 4)
               AS dup_fraction
    FROM toks tk LEFT JOIN per_doc p USING (doc_id)
    ORDER BY tk.doc_id
    """,
    tags=("dedup", "substring", "evaluation", "scale"),
)
def dedup_substring_removal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What the exact-substring removal list would CUT, per document:
    duplicated tokens (the islands are disjoint by construction, so
    their lengths sum exactly), total tokens, and the duplicated
    fraction — zero-rows included via the left join, so the readout
    is the corpus-wide removal-burden distribution a pipeline checks
    BEFORE applying Lee et al. cuts (a heavy-tailed dup_fraction
    means boilerplate concentrated in few docs — cut spans; a uniform
    one means systemic duplication — fix the source instead).

    Built on the shared `substring_spans` relation the span listing
    filters, so the stats can never drift from the spans actually
    reported. Scale shape: the span derivation (see
    `dedup_substring_exact`) plus one per-doc combinable sum and a
    doc-key left join — nothing new at 100 TB."""
    toks = substring_doc_tokens(spark, sf_dir)
    per_doc = (
        substring_spans(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.sum("span_tokens").alias("dup_tokens"))
    )
    return (
        toks.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("t").cast("long").alias("n_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)) / F.size("t"), 4
            ).alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# 14. label-propagation communities + k-hop reach over the
# near-dup graph — the two remaining classics of the iterative-graph
# toolkit (CC gives connectivity, PageRank centrality; LPA gives
# COMMUNITIES inside a component, BFS gives blast-radius). Both reuse
# the session-materialized pair relation and both replay EXACTLY in
# DuckDB via chained CTEs (deterministic integer/tie-break updates —
# the pagerank_edges discipline, no float state anywhere).

_LPA_ITERS = 3


def _lpa_round_sql(prev: str, out: str) -> str:
    """One synchronous label-propagation round in DuckDB SQL: each
    node adopts the most frequent label among its neighbors, ties
    broken by MIN label — fully deterministic, so N chained rounds
    replay the Spark loop bit-for-bit."""
    return f"""
    {out} AS (
        SELECT doc_id, label FROM (
            SELECT e.v AS doc_id, l.label, count(*) AS c,
                   row_number() OVER (
                       PARTITION BY e.v
                       ORDER BY count(*) DESC, l.label
                   ) AS rn
            FROM edges e JOIN {prev} l ON l.doc_id = e.u
            GROUP BY e.v, l.label
        ) WHERE rn = 1
    )"""


_LPA_ORACLE = f"""
    WITH pairs AS ({_jaccard_pairs_sql(_PAGERANK_MAX_DF)}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    l0 AS (SELECT DISTINCT u AS doc_id, u AS label FROM edges),
    {','.join(_lpa_round_sql(f'l{i}', f'l{i + 1}') for i in range(_LPA_ITERS))}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
    FROM l{_LPA_ITERS}
    GROUP BY label
    ORDER BY community
"""


@register(
    "graph_label_propagation",
    oracle=_LPA_ORACLE,
    tags=("graph", "community", "iterative", "scale"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (3 rounds) over the trigram-
    Jaccard near-dup graph: every node starts as its own label and
    repeatedly adopts its neighbors' most frequent label (ties to the
    MIN label). Where connected components answers "what is
    transitively linked", LPA's majority dynamics split a component
    into densely-linked template FAMILIES — the readout used to pick
    one canonical doc per boilerplate cluster rather than per
    reachability island. Deterministic by construction (count + min
    tie-break, no randomized visit order), so the DuckDB oracle
    replays all 3 rounds exactly via chained CTEs — an iterative
    algorithm with a full value-hash oracle, like graph_pagerank.

    Scale shape per round: one shuffle join of labels against the
    edge list on the source key, one (node,label) count aggregate
    (map-side combinable), one per-node WindowGroupLimit-style argmax
    (partitioned window, never global). Deep iteration counts would
    localCheckpoint every few rounds as connected_components_edges
    does; at 3 rounds the lineage stays shallow. Edges come from the
    session-materialized `cached_jaccard_pairs` at graph_pagerank's
    TIGHT df cap (100, not the 5000 dedup default): a shingle shared
    by >100 docs carries no >=0.7-Jaccard signal, and the uncapped
    inverted-index join's sum(df^2) blow-up fills the disk at x64
    scale, for this query as for pagerank. One cap, one shared cache entry
    for the whole iterative-graph family."""
    pairs = cached_jaccard_pairs(spark, sf_dir, max_df=_PAGERANK_MAX_DF)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    labels = edges.select(F.col("u").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("label")
    )
    for _ in range(_LPA_ITERS):
        gathered = (
            edges.join(labels, edges["u"] == labels["doc_id"])
            .groupBy(F.col("v"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = W.partitionBy("v").orderBy(F.col("c").desc(), F.col("label"))
        labels = (
            gathered.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("doc_id"), "label")
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("community")
    )


_KHOP_SEED_MOD = 17
_KHOP_HOPS = 3


def _khop_oracle() -> str:
    rounds = []
    for i in range(1, _KHOP_HOPS + 1):
        rounds.append(f"""
    f{i} AS MATERIALIZED (
        SELECT DISTINCT e.v AS doc_id
        FROM edges e JOIN f{i - 1} f ON f.doc_id = e.u
        WHERE e.v NOT IN (SELECT doc_id FROM r{i - 1})
    ),
    r{i} AS MATERIALIZED (
        SELECT doc_id FROM r{i - 1} UNION SELECT doc_id FROM f{i}
    )""")
    per_hop = "\nUNION ALL\n".join(
        f"SELECT {i} AS hop, (SELECT count(*) FROM f{i}) AS frontier_size,"
        f" (SELECT count(*) FROM r{i}) AS reached"
        for i in range(_KHOP_HOPS + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED ({_jaccard_pairs_sql(_PAGERANK_MAX_DF)}),
    edges AS MATERIALIZED (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    f0 AS MATERIALIZED (
        SELECT DISTINCT u AS doc_id FROM edges WHERE u % {_KHOP_SEED_MOD} = 0
    ),
    r0 AS MATERIALIZED (SELECT doc_id FROM f0),
    {','.join(rounds)}
    SELECT CAST(hop AS BIGINT) AS hop,
           CAST(frontier_size AS BIGINT) AS frontier_size,
           CAST(reached AS BIGINT) AS reached
    FROM ({per_hop})
    ORDER BY hop
"""


@register(
    "graph_khop_reach",
    oracle=_khop_oracle(),
    tags=("graph", "bfs", "iterative", "scale"),
)
def graph_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first k-hop reach from a deterministic seed set
    (doc_id % 17 == 0): per hop, the NEW frontier size and the
    cumulative reached count — the blast-radius readout for
    contamination spread ("if these benchmark-tainted docs leak, how
    much of the near-dup graph is within 3 links?") and the expansion
    profile that decides whether a graph is BFS-friendly (frontier
    growth rate) before running anything deeper.

    Frontier discipline (the scale property of distributed BFS): each
    hop joins only the CURRENT frontier against the edge list and
    anti-joins the visited set, so per-hop work is O(frontier
    out-edges), never O(V) — the standard Pregel/GraphX iteration
    shape expressed as two relational ops. Counts are integers;
    the DuckDB oracle replays the exact same 3 rounds via chained
    CTEs (full value-hash parity, no fixpoint ambiguity at a fixed
    hop budget). Edges use the iterative-graph family's tight df cap
    (see graph_label_propagation)."""
    pairs = cached_jaccard_pairs(spark, sf_dir, max_df=_PAGERANK_MAX_DF)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    frontier = (
        edges.select(F.col("u").alias("doc_id"))
        .filter(F.col("doc_id") % _KHOP_SEED_MOD == 0)
        .distinct()
    )
    reached = frontier
    out = [
        frontier.agg(F.count(F.lit(1)).alias("frontier_size")).select(
            F.lit(0).cast("long").alias("hop"),
            "frontier_size",
            F.col("frontier_size").alias("reached"),
        )
    ]
    for hop in range(1, _KHOP_HOPS + 1):
        frontier = (
            edges.join(frontier, edges["u"] == frontier["doc_id"])
            .select(F.col("v").alias("doc_id"))
            .distinct()
            .join(reached, "doc_id", "left_anti")
        )
        reached = reached.unionByName(frontier).distinct()
        out.append(
            frontier.agg(F.count(F.lit(1)).alias("frontier_size")).crossJoin(
                reached.agg(F.count(F.lit(1)).alias("reached"))
            ).select(
                F.lit(hop).cast("long").alias("hop"),
                "frontier_size",
                "reached",
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res.orderBy("hop")


# ---------------------------------------------------------------------------
# 15. winnowing fingerprints (the MOSS selection rule) — a
# POSITION-AWARE near-dup tier: unlike MinHash (whole-set similarity)
# or containment (set inclusion), winnowing guarantees that any
# shared run of >= w+k-1 tokens leaves at least one shared selected
# fingerprint, so it catches LOCAL plagiarism-style overlap between
# otherwise-different documents.

_WIN_GRAM = 4     # tokens per k-gram
_WIN_WINDOW = 4   # winnowing window (positions per selection window)
_WIN_MAX_DF = 64  # fingerprint df cap in the pair join
_WIN_MIN_SHARED = 5

# The per-window-min selection as a reusable oracle CTE chain
# (toks -> grams -> sel -> fp0): shared by the pair query, the tier
# report, and the incremental probe so every consumer replays the
# EXACT same selection the Spark side (winnow_fingerprints) runs.
_WINNOW_FP_CTES = f"""
    {TOKS_CTE},
    grams AS (
        SELECT doc_id, i,
               substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]),
                      1, 8) AS h
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_WIN_GRAM - 2})) AS i
              FROM toks WHERE len(t) >= {_WIN_GRAM})
    ),
    sel AS (
        SELECT doc_id, i,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_WINDOW - 1} FOLLOWING) AS wmin,
               count(*) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN CURRENT ROW
                              AND {_WIN_WINDOW - 1} FOLLOWING) AS wcnt
        FROM grams
    ),
    fp0 AS (
        SELECT DISTINCT doc_id, wmin AS h FROM sel
        WHERE wcnt = {_WIN_WINDOW} OR i = 1
    )"""

_WINNOW_ORACLE = f"""
    WITH {_WINNOW_FP_CTES},
    fdf AS (SELECT h, count(*) AS df FROM fp0 GROUP BY h),
    fp AS (
        SELECT f.doc_id, f.h FROM fp0 f JOIN fdf d USING (h)
        WHERE d.df <= {_WIN_MAX_DF}
    ),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared,
           round(n_shared * 1.0 / least(x.n_fp, y.n_fp), 4) AS overlap
    FROM shared
    JOIN sz x ON x.doc_id = doc_a
    JOIN sz y ON y.doc_id = doc_b
    WHERE n_shared >= {_WIN_MIN_SHARED}
    ORDER BY doc_a, doc_b
"""


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """The winnowing SELECTION (Schleimer/Wilkerson/Aiken): hash every
    k-token gram, then for EVERY window of w consecutive gram
    positions keep that window's minimum hash; the fingerprint set is
    the distinct selected hash values per document. Implemented as a
    leading window frame per window START (ROWS CURRENT..w-1
    FOLLOWING) so each full window contributes its min — NOT the
    trailing-frame ``h == wmin`` rule, which is a strict subset that
    drops a window entirely whenever a smaller hash sits just left of
    it and therefore breaks the guarantee (see
    test_winnowing_shared_run_guarantee).

    Guarantee: a shared token run of length >= w + k - 1 contains
    >= w consecutive identical grams, so the window starting at the
    first shared gram is full (wcnt = w) and lies inside the run in
    BOTH documents; both select the same min hash => >= 1 shared
    fingerprint, whatever the surrounding text hashes to. Short
    documents (< w grams) keep their first (shrunken) window so every
    tokenizable doc fingerprints; tail positions with partial windows
    select nothing, exactly as in the paper (windows are starts
    i <= n - w + 1).

    Input: (doc_id, text). Output: distinct (doc_id, h). Used by the
    production cache below AND directly by the property test, so the
    tested rule IS the shipped rule."""
    toks = docs.select("doc_id", tokens().alias("t")).filter(
        F.size("t") >= _WIN_GRAM
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_WIN_GRAM - 1}), "
                f"i -> struct(i AS i, substring(md5(concat_ws(' ', "
                f"t[i-1], t[i], t[i+1], t[i+2])), 1, 8) AS h))"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.i").alias("i"), F.col("g.h").alias("h"))
    w = (
        W.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(W.currentRow, _WIN_WINDOW - 1)
    )
    return (
        grams.withColumn("wmin", F.min("h").over(w))
        .withColumn("wcnt", F.count(F.lit(1)).over(w))
        .filter((F.col("wcnt") == _WIN_WINDOW) | (F.col("i") == 1))
        .select("doc_id", F.col("wmin").alias("h"))
        .distinct()
    )


def cached_winnow_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCAPPED winnowing fingerprint relation (doc_id, h), a
    session relation — the session stand-in for the PERSISTED
    fingerprint store a production corpus keeps next to the data:
    gram hashing + the per-window min dominate the tier's cost, and
    every consumer (pair join, tier report, incremental probe)
    derives from this one relation with its own df-cap stance."""
    return session_relation(
        spark,
        "winnow_raw",
        sf_dir,
        "documents",
        lambda: winnow_fingerprints(load_table(spark, sf_dir, "documents")),
    )


def cached_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped winnowing fingerprint relation (doc_id, h),
    derived from the raw store (cached_winnow_raw pays the expensive
    gram + window-min stages) and itself a session relation: the
    cap groupBy + join is cheap but dedup_winnowing_pairs and
    dedup_tier_report both sit on the capped relation in their timed
    hot path, so it is materialized once rather than re-derived per
    call (measured 1.7 s -> 5.4 s at the x64 smoke tier without this
    second checkpoint)."""

    def capped() -> DataFrame:
        fp0 = cached_winnow_raw(spark, sf_dir)
        fdf = fp0.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        return fp0.join(fdf.filter(F.col("df") <= _WIN_MAX_DF).select("h"), "h")

    return session_relation(spark, "winnow_capped", sf_dir, "documents", capped)


@register(
    "dedup_winnowing_pairs",
    oracle=_WINNOW_ORACLE,
    tags=("dedup", "neardup", "winnowing", "scale"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup pairs (Schleimer/Wilkerson/
    Aiken's MOSS selection rule): hash every 4-token gram, and for
    EVERY window of 4 consecutive gram positions select that window's
    minimum hash (winnow_fingerprints) — the guarantee is that any
    shared token run of length >= w + k - 1 (= 7 tokens) leaves at
    least one shared selected fingerprint, while only ~2/(w+1) of all
    grams are kept (adjacent windows usually share their min). Pairs
    sharing >= 5 surviving fingerprints are reported with their
    overlap ratio (n_shared / min fingerprint count) — the
    position-aware, local-overlap sibling of the MinHash
    whole-document tier.

    Hashes are md5-hex prefixes compared as strings (byte-identical
    in DuckDB, same discipline as minhash_signatures); the leading
    window frame, the full-window filter (wcnt = w OR i = 1) and the
    DISTINCT are replayed identically in both engines, so selection
    matches exactly and the oracle is a full value-hash row, not
    rows-only.

    Scale shape: gram hashing + window-min are one partitioned window
    over (doc, position) — no global state; selection keeps ~25% of
    grams, the df cap (<= 64 docs per fingerprint) bounds the
    inverted-index pair join exactly as MAX_SHINGLE_DF bounds the
    Jaccard tier; everything downstream is count aggregates. At
    100 TB the fingerprint relation persists next to the corpus and
    new docs probe it incrementally (the dedup_incremental pattern).
    The fingerprint relation is session-materialized
    (cached_winnow_fingerprints) and shared with dedup_tier_report —
    the cached_jaccard_pairs discipline."""
    fp = cached_winnow_fingerprints(spark, sf_dir)
    sz = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = fp.alias("a"), fp.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    sx = sz.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("nx"))
    sy = sz.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("ny"))
    return (
        shared.join(sx, "doc_a")
        .join(sy, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("n_shared") / F.least("nx", "ny"), 4
            ).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "dedup_winnowing_incremental",
    oracle=f"""
    WITH {_WINNOW_FP_CTES},
    split AS (SELECT max(doc_id) // 2 AS split_at FROM documents),
    existing0 AS (
        SELECT doc_id AS existing_id, h FROM fp0, split
        WHERE doc_id < split_at
    ),
    fdf AS (SELECT h, count(*) AS df FROM existing0 GROUP BY h),
    existing AS (
        SELECT existing_id, h FROM existing0 JOIN fdf USING (h)
        WHERE df <= {_WIN_MAX_DF}
    ),
    incoming AS (
        SELECT doc_id AS new_doc_id, h FROM fp0, split
        WHERE doc_id >= split_at
    ),
    nfp AS (
        SELECT new_doc_id, CAST(count(*) AS BIGINT) AS n_fp
        FROM incoming GROUP BY new_doc_id
    ),
    matches AS (
        SELECT i.new_doc_id, e.existing_id,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM incoming i JOIN existing e USING (h)
        GROUP BY 1, 2
    ),
    best AS (
        SELECT new_doc_id, existing_id, n_shared,
               row_number() OVER (PARTITION BY new_doc_id
                                  ORDER BY n_shared DESC, existing_id)
                   AS rn
        FROM matches
    )
    SELECT n.new_doc_id, n.n_fp,
           b.existing_id AS best_match_id,
           CAST(coalesce(b.n_shared, 0) AS BIGINT) AS n_shared
    FROM nfp n
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (new_doc_id)
    ORDER BY new_doc_id
    """,
    tags=("dedup", "incremental", "winnowing", "scale"),
)
def dedup_winnowing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental winnowing probe: fingerprint only the INCOMING
    batch (winnow_fingerprints on its docs) and join it against the
    standing corpus's persisted, df-capped fingerprint store — the
    ingest-time shape dedup_winnowing_pairs' docstring promises
    (the dedup_incremental pattern applied to the position-aware
    tier). Each incoming doc reports its fingerprint count, its best
    existing match (most shared fingerprints, min-id tie-break; NULL
    when the batch doc has no local overlap with the corpus) and the
    shared count — so batch-level contamination/plagiarism triage
    never re-fingerprints the standing corpus.

    The corpus is split at ``max(doc_id) div 2`` (integer division on
    both engines, the dedup_incremental pivot discipline) to stand in
    for existing-vs-new. The df cap is computed over the EXISTING
    store only — in production the persisted relation is capped when
    written, and a batch doc probing a boilerplate fingerprint that
    was capped out simply finds no match, identical semantics.

    Scale shape: in production the incoming batch is the only thing
    fingerprinted (the standing side IS the persisted store); here
    both splits come from the session-materialized raw store
    (cached_winnow_raw — the store stand-in, paid once per session),
    so the steady-state cost this query measures is the probe itself:
    the split filters, the existing-side df cap, one equi-join on h
    bounded by that cap, and a per-new-doc argmax window over
    <= 64 * n_fp candidate rows. Every incoming doc appears in the
    output (left join), so a dup-free batch cannot make the gate
    vacuous."""
    docs = load_table(spark, sf_dir, "documents")
    fp0 = cached_winnow_raw(spark, sf_dir)
    split = docs.agg(F.expr("max(doc_id) div 2").alias("split_at"))
    keyed = fp0.crossJoin(F.broadcast(split))
    existing0 = keyed.filter(F.col("doc_id") < F.col("split_at")).select(
        F.col("doc_id").alias("existing_id"), "h"
    )
    fdf = existing0.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    existing = existing0.join(
        fdf.filter(F.col("df") <= _WIN_MAX_DF).select("h"), "h"
    )
    incoming = keyed.filter(F.col("doc_id") >= F.col("split_at")).select(
        F.col("doc_id").alias("new_doc_id"), "h"
    )
    nfp = incoming.groupBy("new_doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    matches = (
        incoming.join(existing, "h")
        .groupBy("new_doc_id", "existing_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    w = W.partitionBy("new_doc_id").orderBy(
        F.col("n_shared").desc(), F.col("existing_id")
    )
    best = (
        matches.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        nfp.join(best, "new_doc_id", "left")
        .select(
            "new_doc_id",
            "n_fp",
            F.col("existing_id").alias("best_match_id"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias(
                "n_shared"
            ),
        )
        .orderBy("new_doc_id")
    )


@register(
    "graph_assortativity",
    oracle=f"""
    WITH pairs AS ({_jaccard_pairs_sql(_PAGERANK_MAX_DF)}),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY u),
    stubs AS (
        SELECT du.d AS x, dv.d AS y
        FROM edges e JOIN deg du ON du.u = e.u JOIN deg dv ON dv.u = e.v
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM stubs
    )
    SELECT n AS n_directed_edges,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 4)
               AS assortativity
    FROM mom
    """,
    tags=("graph", "assortativity", "scale"),
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the near-dup graph (Newman's r): the
    Pearson correlation of endpoint degrees over all directed edge
    stubs. r > 0 means hubs link to hubs (one template family
    cross-linking — a single canonical keeper suffices); r < 0 means
    hub-and-spoke (one boilerplate master linked to many one-off
    copies — keeper selection must fan out). Read together with
    graph_degree_distribution before choosing a dedup keeper rule.

    Integer-exact like events_autocorr_weekly / graph_pagerank:
    degrees are BIGINTs, the five moment sums are exact in both
    engines, and the only float ops are one sqrt and one rounded
    division — no accumulating float corr aggregate.

    Scale shape: two joins of the edge list against the (node,degree)
    relation (each a fact-dimension join — degree relation is ~nodes,
    broadcastable for any graph whose NODE set fits the broadcast
    budget, else a shuffle join AQE handles), then a single global
    moment reduction (map-side combinable). Edges come from the
    session-materialized cached_jaccard_pairs at the iterative-graph
    family's tight df cap (see graph_label_propagation)."""
    pairs = cached_jaccard_pairs(spark, sf_dir, max_df=_PAGERANK_MAX_DF)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionByName(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    du = deg.select(F.col("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("y"))
    stubs = edges.join(du, "u").join(dv, "v").select("x", "y")
    mom = stubs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return mom.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / den, 4).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# 16. cross-tier dedup report — the one-page readout that
# composes the tiers above. A pipeline does not read 5 pair tables;
# it reads "how much duplication does each tier see" and then drills
# into whichever tier is surprising.


@register(
    "dedup_tier_report",
    oracle=f"""
    WITH exact AS (
        SELECT count(*) AS n_groups,
               CAST(coalesce(sum(n - 1), 0) AS BIGINT) AS n_redundant
        FROM (SELECT count(*) AS n FROM documents
              GROUP BY md5(lower(trim(text))) HAVING count(*) > 1)
    ),
    jac AS (
        SELECT count(*) AS n_pairs FROM ({_JACCARD_ORACLE})
    ),
    win AS (
        SELECT count(*) AS n_pairs FROM ({_WINNOW_ORACLE})
    ),
    total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
    SELECT tier, n_findings,
           round(n_findings * 1.0 / (SELECT n_docs FROM total), 4)
               AS per_doc_rate
    FROM (
        SELECT 'exact_groups' AS tier,
               CAST((SELECT n_groups FROM exact) AS BIGINT) AS n_findings
        UNION ALL
        SELECT 'exact_redundant_docs',
               CAST((SELECT n_redundant FROM exact) AS BIGINT)
        UNION ALL
        SELECT 'jaccard_pairs', CAST((SELECT n_pairs FROM jac) AS BIGINT)
        UNION ALL
        SELECT 'winnowing_pairs', CAST((SELECT n_pairs FROM win) AS BIGINT)
    )
    ORDER BY tier
    """,
    tags=("dedup", "report", "scale"),
)
def dedup_tier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tier duplication summary: exact duplicate groups and
    redundant-copy counts, trigram-Jaccard near-dup pairs, and
    winnowing local-overlap pairs, each normalized per corpus doc —
    the single table a curation run reads FIRST (is duplication
    exact-dominated, near-dup-dominated, or local-overlap-dominated?)
    before drilling into the per-pair tiers. Composes the session-
    materialized pair relation (free if any graph/dedup query already
    ran) with the winnowing tier's capped pair join.

    Scale shape: each tier is the already-bounded derivation its
    standalone query uses (hash groupBy; df-capped inverted indexes);
    the report itself reduces every tier to ONE row, so the union is
    driver-trivial. The per-doc rate uses one broadcast corpus
    count."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n_docs")))
    exact_groups = (
        docs.groupBy(F.md5(F.lower(F.trim(F.col("text")))).alias("fp"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.sum(F.col("n") - 1).alias("n_redundant"),
        )
    )
    jac = cached_jaccard_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    win = dedup_winnowing_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    rows = (
        exact_groups.select(
            F.lit("exact_groups").alias("tier"),
            F.col("n_groups").cast("long").alias("n_findings"),
        )
        .unionByName(
            exact_groups.select(
                F.lit("exact_redundant_docs").alias("tier"),
                F.coalesce(F.col("n_redundant"), F.lit(0))
                .cast("long")
                .alias("n_findings"),
            )
        )
        .unionByName(
            jac.select(
                F.lit("jaccard_pairs").alias("tier"),
                F.col("n_pairs").cast("long").alias("n_findings"),
            )
        )
        .unionByName(
            win.select(
                F.lit("winnowing_pairs").alias("tier"),
                F.col("n_pairs").cast("long").alias("n_findings"),
            )
        )
    )
    return (
        rows.crossJoin(n_docs)
        .select(
            "tier",
            "n_findings",
            F.round(F.col("n_findings") / F.col("n_docs"), 4).alias(
                "per_doc_rate"
            ),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# 17. LSH bucket-occupancy stats + global clustering
# coefficient — the two operational readouts the tiers above are
# TUNED by: bucket occupancy is what _BAND_BUCKET_CAP was set from
# (the x64 generator artifact that motivated the purge showed up as
# exactly this histogram exploding), and the clustering coefficient
# is the one-number graph-shape summary behind the triangle tiers.


@register(
    "dedup_lsh_bucket_stats",
    oracle=f"""
    WITH \n    {_minhash_sql(cand=False)[0]},
    sizes AS (
        SELECT band, band_hash, CAST(count(*) AS BIGINT) AS n
        FROM bands_all GROUP BY band, band_hash
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singletons,
           CAST(max(n) AS BIGINT) AS max_bucket,
           CAST(sum(CASE WHEN n > {_BAND_BUCKET_CAP} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purged,
           CAST(sum(CASE WHEN n <= {_BAND_BUCKET_CAP}
                         THEN n * (n - 1) // 2 ELSE 0 END) AS BIGINT)
               AS kept_pairs
    FROM sizes
    GROUP BY band
    ORDER BY band
    """,
    tags=("dedup", "lsh", "diagnostics", "scale"),
)
def dedup_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-occupancy statistics over the UNCAPPED
    band keys: bucket count, singleton count, the largest bucket, how
    many buckets the _BAND_BUCKET_CAP purge would drop, and the
    candidate-pair volume the kept buckets generate (sum n*(n-1)/2) —
    the exact table `_BAND_BUCKET_CAP` was tuned from. This is the
    dial a 100 TB dedup run reads BEFORE the pair join: kept_pairs is
    the join's output size to within dedup, max_bucket is the skew,
    and a purge count that suddenly jumps means the corpus grew a
    degenerate key (the x64 generator-marker incident, caught by
    exactly this readout).

    All columns are exact integers (counts and an integer triangular
    number); determinism is inherited from the md5-derived band keys
    shared with dedup_minhash_lsh's certified pipeline.

    Scale shape: one exchange on (band, band_hash) — the same
    aggregation skeleton as candidate generation itself — then a
    7-row per-band reduction. Signatures ride the session-cached
    MinHash relation (``cached_minhash_sig_cand``)."""
    sig, _cand = cached_minhash_sig_cand(spark, sf_dir)
    bands0 = minhash_band_buckets(sig)
    sizes = bands0.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        sizes.groupBy(F.col("band").cast("long").alias("band"))
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias(
                "n_singletons"
            ),
            F.max("n").alias("max_bucket"),
            F.sum(
                F.when(F.col("n") > _BAND_BUCKET_CAP, 1).otherwise(0)
            ).alias("n_purged"),
            F.sum(
                F.when(
                    F.col("n") <= _BAND_BUCKET_CAP,
                    (F.col("n") * (F.col("n") - 1) / 2).cast("long"),
                ).otherwise(0)
            ).alias("kept_pairs"),
        )
        .orderBy("band")
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH p AS (
        SELECT doc_a, doc_b FROM ({_jaccard_pairs_sql(_PAGERANK_MAX_DF)})
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM p e1
        JOIN p e2 ON e2.doc_a = e1.doc_b
        JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
    ),
    deg AS (
        SELECT u, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT doc_a AS u FROM p UNION ALL SELECT doc_b AS u FROM p)
        GROUP BY u
    ),
    wed AS (
        SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
               CAST(count(*) AS BIGINT) AS n_nodes,
               CAST(sum(d) // 2 AS BIGINT) AS n_edges
        FROM deg
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           round(3.0 * n_triangles / n_wedges, 4) AS global_clustering
    FROM wed CROSS JOIN tri
    """,
    tags=("graph", "clustering", "scale"),
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the near-dup graph:
    3 * triangles / wedges — the one-number transitivity summary
    behind the triangle tiers (a near-1 coefficient says near-dup
    links are CLIQUE-like template families, so connected components
    over-merge little; a low one says chains, where transitive
    closure is doing real work — read before trusting
    dedup_connected_components keepers).

    Triangles count ordered doc_a < doc_b pairs closed over two joins
    of the pair relation against itself (x<y<z with all three edges
    present — each triangle counted exactly once); wedges are the
    exact integer sum d*(d-1)/2 over degrees. Everything before the
    final rounded ratio is BIGINT.

    Scale shape: two equi-joins on the capped pair relation (the
    session-materialized cache, tight df cap — see
    graph_label_propagation) and one degree aggregate; at 100 TB the
    same statistic runs over the persisted pairs table, and the
    LSH-candidate edge tier (graph_triangle_count_lsh) substitutes
    when even the capped pair relation is too hot."""
    pairs = cached_jaccard_pairs(spark, sf_dir, max_df=_PAGERANK_MAX_DF).select(
        "doc_a", "doc_b"
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("u"))
        .unionByName(pairs.select(F.col("doc_b").alias("u")))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wed = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.expr("CAST(sum(d) div 2 AS BIGINT)").alias("n_edges"),
        F.sum(F.expr("CAST(d * (d - 1) div 2 AS BIGINT)")).alias("n_wedges"),
    )
    return wed.crossJoin(F.broadcast(tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"), 4
        ).alias("global_clustering"),
    )


# ---------------------------------------------------------------------------
# b-bit minwise hashing (Li & Koenig, WWW 2010) — the
# storage-compression variant of the MinHash family: keep only the
# lowest b bits of each permutation minimum and correct the collision
# inflation analytically.

_BBIT_C = 1.0 / 16.0  # P[collision | disjoint] for b = 4 bits


def _minhash_bbit_oracle() -> str:
    """Candidate replay of `_minhash_oracle` (same signatures, bands,
    cap, pair set, no threshold) emitting the full-signature estimate
    next to the b = 4 bit corrected estimator (the last hex char of
    each 8-hex permutation min IS the low 4 bits)."""
    ctes, matches = _minhash_sql()
    bmatches = " + ".join(
        f"(CASE WHEN substr(x.h{i}, 8, 1) = substr(y.h{i}, 8, 1) "
        f"THEN 1 ELSE 0 END)"
        for i in range(_NUM_PERM)
    )
    return f"""
    WITH {ctes},
    est AS (
        SELECT doc_a, doc_b,
               ({matches}) / {_NUM_PERM}.0 AS e_full,
               ({bmatches}) / {_NUM_PERM}.0 AS e_raw
        FROM cand
        JOIN sig x ON x.doc_id = doc_a
        JOIN sig y ON y.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           round(e_full, 4) AS est_full,
           round((e_raw - {_BBIT_C}) / (1.0 - {_BBIT_C}), 4) + 0.0 AS est_bbit,
           round(abs(e_full - (e_raw - {_BBIT_C}) / (1.0 - {_BBIT_C})), 4)
               AS abs_gap
    FROM est
    ORDER BY doc_a, doc_b
    """


@register(
    "dedup_minhash_bbit",
    oracle=_minhash_bbit_oracle(),
    tags=("dedup", "minhash", "sketch", "evaluation", "scale"),
)
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing readout (Li & Koenig 2010): store only
    the LOW 4 BITS of each of the 32 permutation minima (the last hex
    char — an 8x signature-storage cut vs the 8-hex values) and
    correct the disjoint-set collision inflation with the paper's
    unbiased estimator J = (E - C) / (1 - C), C = 2^-b. Emitted per
    LSH candidate pair next to the full-signature estimate and the
    absolute gap — the compression-accuracy table that says whether
    the 8x smaller sketch can replace the full one at a given
    threshold (at J ~ 0.7 and b = 4 the extra variance is small; the
    gap column shows it on real candidates). Complements
    `dedup_minhash_calibration`, which compares the FULL signature
    against exact Jaccard.

    Cross-engine floats: both estimates are exact binary fractions
    k/32; C = 1/16 and 1 - C = 15/16 are exact binary, so the
    corrected estimator is one IEEE division performed identically —
    rounded 4dp with the `+ 0.0` negative-zero normalization (a
    disjoint-ish pair can land E < C, a small negative estimate kept
    as-is: clamping would bias the table's gap column).

    Scale shape: reuses the session-cached (signatures, candidates)
    relation (`cached_minhash_sig_cand` — bucket-cap-bounded pair
    set, full-signature matches precomputed as ``n_match``), then a
    per-pair low-bit zip_with count in codegen: no new shuffle, no
    Python, cost linear in candidates."""
    sig, cand = cached_minhash_sig_cand(spark, sf_dir)
    e_full = F.col("n_match") / F.lit(_NUM_PERM)
    e_raw = F.expr(
        "size(filter(zip_with(sig_a, sig_b, "
        "(x, y) -> substring(x, 8, 1) = substring(y, 8, 1)), v -> v))"
    ) / F.lit(_NUM_PERM)
    corrected = (e_raw - F.lit(_BBIT_C)) / (F.lit(1.0) - F.lit(_BBIT_C))
    return (
        cand.join(
            sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.round(e_full, 4).alias("est_full"),
            (F.round(corrected, 4) + F.lit(0.0)).alias("est_bbit"),
            F.round(F.abs(e_full - corrected), 4).alias("abs_gap"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# SimHash acceptance-band distance profile — the tuning readout for
# SimHash's only knob, the Hamming threshold: where the pair mass
# sits against it.


def _simhash_hist_oracle() -> str:
    """The production simhash oracle wrapped verbatim as a subquery,
    histogrammed by Hamming distance with cumulative counts/shares."""
    return f"""
    WITH hist AS (
        SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
        FROM ({_simhash_oracle()}) GROUP BY hamming
    ),
    tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM hist)
    SELECT h.hamming, h.n_pairs,
           CAST(sum(h.n_pairs) OVER (ORDER BY h.hamming) AS BIGINT)
               AS cum_pairs,
           round(CAST(sum(h.n_pairs) OVER (ORDER BY h.hamming) AS BIGINT)
                 * 1.0 / t.total, 4) AS cum_share
    FROM hist h CROSS JOIN tot t
    ORDER BY h.hamming
    """


@register(
    "dedup_simhash_hamming_histogram",
    oracle=_simhash_hist_oracle(),
    tags=("dedup", "simhash", "evaluation", "calibration"),
)
def dedup_simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram of the accepted SimHash pair set
    (distance <= 10 of 64 bits) with cumulative counts and shares —
    the threshold-sensitivity curve: mass piled AT the threshold
    means tightening to <= 8 would drop real near-dups (and the
    threshold is doing work); an empty tail means the corpus would
    tolerate a stricter gate for free. Sibling of
    `dedup_threshold_sweep` (MinHash) and `dedup_lsh_bucket_stats`.

    Built ON the production pair relation — it consumes
    `dedup_simhash`'s own DataFrame (same fingerprints, same
    two-level banding ladder, same caps), so this readout can never
    drift from what the dedup tier actually accepts; the oracle wraps
    the simhash oracle verbatim as a CTE for the same reason.

    Scale shape: the histogram adds one combinable 11-key aggregate
    and an 11-row cumulative window on top of the pair derivation —
    cost is the derivation itself (see the dedup_simhash SCALE row);
    the share divides two exact integers once per output row."""
    base = dedup_simhash(spark, sf_dir)
    hist = base.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
    tot = F.broadcast(hist.agg(F.sum("n_pairs").alias("total")))
    w = W.orderBy("hamming").rowsBetween(W.unboundedPreceding, 0)
    return (
        hist.crossJoin(tot)
        .select(
            "hamming",
            "n_pairs",
            F.sum("n_pairs").over(w).alias("cum_pairs"),
            F.round(
                F.sum("n_pairs").over(w) * F.lit(1.0) / F.col("total"), 4
            ).alias("cum_share"),
        )
        .orderBy("hamming")
    )


def _simhash_cand_hist_oracle() -> str:
    """The full candidate relation (accepted AND rejected bands)
    histogrammed by Hamming distance, with the acceptance flag and
    the cumulative share of ALL candidates."""
    return f"""
    WITH hist AS (
        SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
        FROM ({_simhash_cand_oracle()}) GROUP BY hamming
    ),
    tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM hist)
    SELECT h.hamming, h.n_pairs,
           h.hamming <= 10 AS accepted,
           CAST(sum(h.n_pairs) OVER (ORDER BY h.hamming) AS BIGINT)
               AS cum_pairs,
           round(CAST(sum(h.n_pairs) OVER (ORDER BY h.hamming) AS BIGINT)
                 * 1.0 / t.total, 4) AS cum_share
    FROM hist h CROSS JOIN tot t
    ORDER BY h.hamming
    """


@register(
    "dedup_simhash_candidate_histogram",
    oracle=_simhash_cand_hist_oracle(),
    tags=("dedup", "simhash", "evaluation", "calibration"),
)
def dedup_simhash_candidate_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance histogram of the FULL SimHash candidate set —
    the rejected band included — the readout the accepted-band
    histogram (`dedup_simhash_hamming_histogram`) cannot give:
    threshold tuning needs to see the pair mass sitting just ABOVE
    the acceptance threshold (how much would loosening to <= 12
    admit, and is there a gap between the near-dup mode and the
    random-collision mode?), which only exists in the candidates the
    threshold rejected. Built on the same shared
    `simhash_candidate_pairs` relation the production pair set
    filters, so the profile is exactly what the banding ladder
    surfaces — candidate generation recall is NOT re-estimated here
    (pairs the banding never surfaced are invisible to both).

    Scale shape: one combinable <= 65-key aggregate and a <= 65-row
    cumulative window (global window allowlisted — the frame is the
    histogram, bounded by the 64-bit fingerprint width, not the
    corpus) on top of the candidate derivation; cost is the
    derivation itself (the dedup_simhash SCALE row)."""
    base = simhash_candidate_pairs(spark, sf_dir)
    hist = base.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))
    tot = F.broadcast(hist.agg(F.sum("n_pairs").alias("total")))
    w = W.orderBy("hamming").rowsBetween(W.unboundedPreceding, 0)
    return (
        hist.crossJoin(tot)
        .select(
            "hamming",
            "n_pairs",
            (F.col("hamming") <= 10).alias("accepted"),
            F.sum("n_pairs").over(w).alias("cum_pairs"),
            F.round(
                F.sum("n_pairs").over(w) * F.lit(1.0) / F.col("total"), 4
            ).alias("cum_share"),
        )
        .orderBy("hamming")
    )



@register(
    "dedup_contamination_sweep",
    oracle=f"""
    WITH {TOKS_CTE},
    {_contam_sh_chain()},
    bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0),
    per_pair AS (
        SELECT t.doc_id, b.doc_id AS bench_doc_id,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM tr t JOIN bench b ON t.shingle = b.shingle
        GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id, CAST(max(n_shared) AS BIGINT) AS max_shared
        FROM per_pair GROUP BY doc_id
    ),
    total AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train
        FROM sh WHERE doc_id % 29 <> 0
    )
    SELECT g.threshold,
           CAST(count(CASE WHEN p.max_shared >= g.threshold THEN 1 END)
                AS BIGINT) AS n_flagged,
           round(count(CASE WHEN p.max_shared >= g.threshold THEN 1 END)
                 * 1.0 / t.n_train, 4) AS flagged_fraction
    FROM (SELECT unnest(range(1, 11)) AS threshold) g
    CROSS JOIN total t
    LEFT JOIN per_doc p ON TRUE
    GROUP BY g.threshold, t.n_train
    ORDER BY g.threshold
    """,
    tags=("dedup", "contamination", "tuning", "evaluation", "scale"),
)
def dedup_contamination_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-tuning sweep for the benchmark-contamination check —
    the `dedup_threshold_sweep` discipline applied to decontamination:
    for every candidate cutoff t in 1..10, how many training docs
    share >= t distinct trigrams with some benchmark doc, and what
    corpus fraction that flags. `dedup_contamination_check` and
    `pipeline_decontamination_report` hardcode t=3; this is the table
    that choice is read off (too low floods the removal list with docs
    sharing a common idiom, too high misses paraphrased leaks — the
    knee of flagged_fraction is the operating point).

    Scale shape: the per-(train doc, bench doc) overlap counts are
    the SAME broadcast-join aggregate the contamination check pays
    (bench side rides a broadcast — eval suites are megabytes against
    100 TB), collapsed to a per-doc max; the sweep itself is a 10-row
    threshold spine cross-joined against the doc-sized max relation
    and rolled up — 10x fan-out of doc-count rows, no window, no
    corpus sort. The shingle relation is the session-cached one with
    the family's train-df cap applied (`contamination_shingles`)."""
    sh = contamination_shingles(spark, sf_dir)
    bench = sh.filter(F.col("doc_id") % 29 == 0).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    # Doc-aligned train side (see dedup_contamination_check): the one
    # repartition makes the (doc, bench) overlap aggregate, the
    # per-doc max, and the distinct-doc total all exchange-free.
    tr = sh.filter(F.col("doc_id") % 29 != 0).repartition("doc_id")
    per_doc = (
        tr.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .groupBy("doc_id")
        .agg(F.max("n_shared").cast("long").alias("max_shared"))
    )
    total = tr.agg(F.count_distinct("doc_id").cast("long").alias("n_train"))
    thresholds = spark.range(1, 11).select(F.col("id").alias("threshold"))
    return (
        thresholds.crossJoin(F.broadcast(total))
        .join(per_doc, F.lit(True), "left")
        .groupBy("threshold", "n_train")
        .agg(
            F.count(
                F.when(F.col("max_shared") >= F.col("threshold"), 1)
            )
            .cast("long")
            .alias("n_flagged")
        )
        .select(
            "threshold",
            "n_flagged",
            F.round(F.col("n_flagged") / F.col("n_train"), 4).alias(
                "flagged_fraction"
            ),
        )
        .orderBy("threshold")
    )
