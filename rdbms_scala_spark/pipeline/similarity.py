"""Similarity search over embedding columns (north-star extension).

The `embeddings` table carries ``array<float>`` vectors (64-dim).
Two tiers:

- brute-force cosine top-k: the exact baseline. All arithmetic is
  JVM-side (zip_with + aggregate over doubles) — no Python UDF. Cost
  is |Q| x |N|; at 100 TB this is only for small query sets, with the
  corpus-side scan parallelized per partition.
- LSH-bucketed ANN: banded random-hyperplane sign-bit buckets (md5-
  derived constant planes, reproducible in any engine); only
  same-bucket pairs are scored. The join is on the bucket key
  (collision-bounded), never all-pairs — the shape that survives a
  1000-executor corpus.

Cosines are computed in double on both engines (the DuckDB oracle
casts ``embedding::DOUBLE[]``) and rounded to 3 decimals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.registry import register
from rdbms_scala_spark.session import session_relation

_N_QUERIES = 5  # first N vec_ids serve as the query set
_TOP_K = 10


def _as_double(col: str):
    return F.expr(f"transform({col}, x -> CAST(x AS DOUBLE))")


def norm(col: str):
    """L2 norm of an array<double> column — same expression the
    inline cosine used, so precomputed norms are bit-identical."""
    return F.sqrt(F.expr(f"aggregate({col}, CAST(0 AS DOUBLE), (acc, v) -> acc + v * v)"))


def dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def cosine(a: str, b: str):
    """Cosine similarity between two array<double> columns, built-ins
    only: elementwise product via zip_with, sums via aggregate."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_pre(a: str, b: str, na: str, nb: str):
    """Cosine with PRE-COMPUTED norm columns: in pairwise joins the
    inline form recomputes each side's norm once per *pair* (16x per
    corpus vector in IVF assignment, |block| times in blocked joins);
    hoisting the norms into per-row columns removes ~2/3 of the
    per-pair arithmetic and — because ``norm`` is the identical
    expression over the identical data — produces the exact same
    doubles, keeping the cross-engine oracles stable."""
    return dot(a, b) / (F.col(na) * F.col(nb))


_BRUTE_ORACLE = f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               list_cosine_similarity(qv, embedding::DOUBLE[]) AS cos
        FROM q, embeddings
        WHERE vec_id != query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id,
               round(cos, 3) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
"""


@register("similarity_topk_bruteforce", oracle=_BRUTE_ORACLE, tags=("similarity", "ann"))
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via TWO-LEVEL selection: broadcast the query
    set against the corpus (scoring is map-side, embarrassingly
    parallel), then a rank-filtered window that Spark's
    InferWindowGroupLimit rule executes as ``WindowGroupLimit
    Partial`` BEFORE the shuffle — each scan partition keeps only its
    local top-k per query (exact: the global top-k under (cos DESC,
    neighbor_id ASC) is a subset of every partition's top-k under the
    same order) — plus ``WindowGroupLimit Final`` after it. The
    per-query reducer therefore sorts k x P rows (k=10, P = scan
    partitions), NOT the corpus: at 100x data the per-reducer work
    stays constant while the corpus-sized scoring remains map-only.
    Pinned by tests/test_plans.py (Partial group-limit below the
    query_id exchange). An explicit Arrow-batched ``mapInPandas``
    local top-k was measured ~35% slower end-to-end — it duplicates
    exactly what the JVM rule already does, plus serialization."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("nv")
    ).withColumn("nn", norm("nv"))
    queries = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), _as_double("embedding").alias("qv"))
        .withColumn("qn", norm("qv"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cosine_pre("qv", "nv", "qn", "nn").alias("cos"))
    )

    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 3).alias("cosine"), "rank")
    )


_LSH_BANDS = 8
# Planes per band; band bucket = packed sign bits. Tuned on the
# collision curve P[band hit] = s^rows with s = 1 - angle/pi: this
# corpus's true nearest neighbors sit at cos ~0.37 (s ~0.62) over
# near-random vectors (s ~0.5), so rows=5 passes ~22% of the corpus
# per query as candidates (vs 65% at rows=3 — barely a filter).
# OR-of-8-bands top-k recall at this setting is ~0.5 exact-bucket-only;
# the min-margin multi-probe (see _band_buckets_udf) lifts it to ~0.93
# top-3 / ~0.86 top-10 on this worst-case near-random corpus for 1.83x
# candidates; real clustered corpora (s -> 0.8+) sit higher still.
_LSH_ROWS = 5
_LSH_DIM = 64  # embedding dimensionality (TESTDATA.md)


_LSH_QUANT = 4096  # 2^12 — power-of-two scaling is EXACT on doubles


def _plane_weights(band: int, row: int) -> list[int]:
    """Integer hyperplane weights in [-1000, 1000] for (band, row), one
    per embedding dimension j, derived from hashlib.md5 of
    "band:row:j" — deterministic with no RNG state, and (being plain
    literals) reproducible by ANY engine."""
    import hashlib

    return [
        int(hashlib.md5(f"{band}:{row}:{j}".encode()).hexdigest()[:8], 16) % 2001 - 1000
        for j in range(_LSH_DIM)
    ]


def _plane_matrix():
    """dim x (bands*rows) int64 plane matrix, columns band-major."""
    import numpy as np

    cols = [
        _plane_weights(b, r) for b in range(_LSH_BANDS) for r in range(_LSH_ROWS)
    ]
    return np.array(cols, dtype=np.int64).T  # (dim, bands*rows)


def _band_buckets_udf():
    """Arrow-batched bucket assignment: one int64 matmul per batch.

    Returns, per vector, an array of 2*bands longs: elements
    [0, bands) are the exact band buckets (packed sign bits), elements
    [bands, 2*bands) are each band's MULTI-PROBE bucket — the exact
    bucket with its minimum-|margin| bit flipped (the plane whose dot
    product is closest to zero, i.e. the sign most likely to differ
    for a true near neighbor; Lv et al.'s multi-probe LSH insight).
    The corpus side indexes under the exact buckets only; the query
    side probes both, so recall rises like a second hash family at
    roughly 2x (not 2^rows x) the candidates and ZERO extra index
    size.

    The plane dot is computed over the QUANTIZED vector floor(x*4096)
    with integer weights, so every product and partial sum is an
    integer < 2^53 — exactly representable in double and therefore
    identical under ANY summation order in ANY engine (numpy here, a
    fold expression in Spark SQL, list_dot_product in DuckDB). That
    removes — provably, not probabilistically — the cross-engine flake
    where a float plane-dot within one ulp of zero flips a sign bit
    and desyncs the candidate sets; it also makes the argmin-margin
    probe choice exactly reproducible (ties broken by first index in
    BOTH numpy's argmin and the oracle's CASE cascade). floor(x*4096)
    itself is exact: scaling by a power of two only shifts the
    exponent, and floor of a double is a double integer.

    Perf: the interpreted-lambda alternative (40 aggregate/zip_with
    expressions per vector — Catalyst evaluates higher-order functions
    outside codegen, per element, with boxing) measured ~1.3 s of the
    LSH query's 1.86 s at sf0.1; this matmul runs the same arithmetic
    in one vectorized int64 GEMM per Arrow batch. At 100 TB the plane
    matrix is a constant baked into the UDF closure (ships once per
    executor) and assignment stays map-only."""
    import numpy as np
    import pandas as pd

    planes = _plane_matrix()  # (dim, bands*rows)
    powers = (1 << np.arange(_LSH_ROWS, dtype=np.int64))

    def bucket_bits(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        xi = np.floor(x * _LSH_QUANT).astype(np.int64)
        dots = (xi @ planes).reshape(-1, _LSH_BANDS, _LSH_ROWS)
        buckets = ((dots > 0) * powers).sum(axis=2)  # (n, bands)
        flip = np.abs(dots).argmin(axis=2)  # (n, bands): min-margin plane
        probes = buckets ^ (1 << flip.astype(np.int64))
        return pd.Series(list(np.concatenate([buckets, probes], axis=1)))

    # hint-free form: `from __future__ import annotations` stringifies
    # closure type hints, which pyspark's hint parser rejects
    return F.pandas_udf(bucket_bits, "array<long>")


def _lsh_oracle() -> str:
    """DuckDB oracle mirroring similarity_lsh_ann exactly: the same
    literal plane weights dotted against the same floor(x*4096)
    QUANTIZED vector (all-integer values — exact in double under any
    summation order, so list_dot_product's fold order is irrelevant),
    the same sign-bit buckets, the same min-|margin| multi-probe
    bucket on the query side (the CASE cascade picks the FIRST index
    achieving the minimum |dot|, numpy argmin's tie rule — exact
    because the dots are integers), candidate join and per-query
    top-k."""
    band_selects = []
    for b in range(_LSH_BANDS):
        dots = ", ".join(
            f"list_dot_product(vq, ["
            + ", ".join(f"{float(w)}" for w in _plane_weights(b, r))
            + f"]) AS d{r}"
            for r in range(_LSH_ROWS)
        )
        bucket = " + ".join(
            f"(CASE WHEN d{r} > 0 THEN {1 << r} ELSE 0 END)" for r in range(_LSH_ROWS)
        )
        argmin_cases = []
        for r in range(_LSH_ROWS - 1):
            conds = " AND ".join(
                f"abs(d{r}) <= abs(d{j})" for j in range(r + 1, _LSH_ROWS)
            )
            argmin_cases.append(f"WHEN {conds} THEN {1 << r}")
        argmin = f"CASE {' '.join(argmin_cases)} ELSE {1 << (_LSH_ROWS - 1)} END"
        band_selects.append(
            f"SELECT vec_id, {b} AS band, ({bucket}) AS bucket, "
            f"xor(({bucket}), {argmin}) AS probe "
            f"FROM (SELECT vec_id, {dots} FROM vecs)"
        )
    buckets = "\n        UNION ALL ".join(band_selects)
    return f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * {_LSH_QUANT})) AS vq
        FROM embeddings
    ),
    buckets AS (
        {buckets}
    ),
    qprobes AS (
        SELECT vec_id, band, unnest([bucket, probe]) AS bucket
        FROM buckets WHERE vec_id < {_N_QUERIES}
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM qprobes q JOIN buckets c ON q.band = c.band AND q.bucket = c.bucket
        WHERE c.vec_id <> q.vec_id
    ),
    scored AS (
        SELECT cand.query_id, cand.neighbor_id,
               list_cosine_similarity(qv.v, nv.v) AS cos
        FROM cand
        JOIN vecs qv ON qv.vec_id = cand.query_id
        JOIN vecs nv ON nv.vec_id = cand.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, round(cos, 3) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
    """


@register(
    "similarity_lsh_ann",
    # Cross-engine oracle: the hyperplanes are md5-derived integer
    # literals embedded in BOTH engines' expressions, so the candidate
    # set (not just the scores) is engine-independent.
    oracle=_lsh_oracle(),
    tags=("similarity", "ann", "lsh", "scale"),
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via banded random-hyperplane LSH with min-margin
    multi-probe: the corpus is indexed under each band's exact bucket;
    each QUERY additionally probes the bucket with its least-confident
    sign bit flipped (see ``_band_buckets_udf``), so a true neighbor
    that disagrees only on the boundary-hugging plane is still found.
    Measured on the gate corpus (sf0.01): top-3 recall 0.53 -> 0.93
    for 1.83x candidates. At 100 TB: bucket assignment is a map-only pass;
    probing multiplies only the QUERY side of the candidate join
    (queries << corpus), never the index; the candidate join shuffles
    on (band, bucket); skewed buckets are split by AQE; amplification
    (more bands / longer codes / more probes) trades recall vs.
    candidate count without changing the plan shape."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    buckets_of = _band_buckets_udf()
    # assignment array: [0, bands) exact buckets, [bands, 2*bands) probes
    assigned = emb.select("vec_id", buckets_of("v").alias("bk"))
    corpus = assigned.select(
        "vec_id", F.posexplode(F.slice("bk", 1, _LSH_BANDS)).alias("band", "bucket")
    )
    qprobes = (
        assigned.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode(F.slice("bk", 1, _LSH_BANDS)).alias("band", "bucket"),
            F.col("bk"),
        )
        .select(
            "query_id",
            "band",
            F.explode(
                F.array(
                    F.col("bucket"),
                    F.element_at("bk", F.col("band") + _LSH_BANDS + 1),
                )
            ).alias("bucket"),
        )
    )
    # dedup multi-band collisions on the two ids ONLY (a ~16-byte
    # shuffle key), then re-attach vectors: shipping the 64-dim arrays
    # through the distinct() exchange would move ~1KB per duplicate
    cand_ids = (
        corpus.join(qprobes, ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    qvecs = (
        emb.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
        .withColumn("qn", norm("qv"))
    )
    nvecs = emb.select(F.col("vec_id").alias("neighbor_id"), "v").withColumn(
        "vn", norm("v")
    )
    cand = (
        cand_ids.join(F.broadcast(qvecs), "query_id")
        .join(nvecs, "neighbor_id")
        .select("query_id", "neighbor_id", cosine_pre("qv", "v", "qn", "vn").alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 3).alias("cosine"), "rank")
    )


# Cosine threshold 0.3: the synthetic embeddings are near-random, so
# no same-label pair reaches 0.8 at sf0.01 and the query would match
# the oracle on zero rows (vacuous). At 0.3 the sf0.01 result has ~100
# rows; the nearest pair cosine is ~2e-4 from the threshold and ~7e-6
# from a 3-decimal rounding boundary, so the cross-engine hash is
# float-safe.
_PAIR_GATE_THRESHOLD = 0.3


@register(
    "similarity_pairs_above_threshold",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 3) AS cosine
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND a.label = b.label
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {_PAIR_GATE_THRESHOLD}
    """,
    tags=("similarity", "join"),
)
def similarity_pairs_above_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-label vector pairs with cosine >= ``_PAIR_GATE_THRESHOLD``
    — blocked (label-partitioned) exact similarity join: the equi-key
    on label keeps it from being all-pairs, the pattern for
    attribute-blocked entity resolution."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("la"), F.col("v").alias("va")
    ).withColumn("na", norm("va"))
    b = emb.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"), F.col("v").alias("vb")
    ).withColumn("nb", norm("vb"))
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_a") < F.col("vec_b")))
        .withColumn("cos", cosine_pre("va", "vb", "na", "nb"))
        .filter(F.col("cos") >= _PAIR_GATE_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 3).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN

_IVF_K = 16  # coarse centroids = vectors with vec_id < _IVF_K
_IVF_NPROBE = 4

_IVF_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
        FROM embeddings WHERE vec_id < {_IVF_K}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
        SELECT vec_id, v, cent_id FROM (
            SELECT c.vec_id, c.v, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus c CROSS JOIN cent ct
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, qv, cent_id FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus q CROSS JOIN cent ct WHERE q.vec_id < {_N_QUERIES}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cos
        FROM probe p JOIN assign a USING (cent_id)
        WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, round(cos, 3) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
"""


def _ivf_topk(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """Shared IVF machinery over any centroid set: assign every corpus
    vector to its nearest centroid (cosine argmax as one max_by hash
    aggregate), probe each query's ``_IVF_NPROBE`` nearest centroid lists,
    score exactly within them, and return per-query top-k.

    100 TB shape: assignment is a map-only pass against broadcast
    centroids (one row out per vector); the candidate join shuffles on
    cent_id — |corpus|/K rows per list, _IVF_NPROBE lists per query — so
    cost scales with probed-list size, not corpus size. AQE splits any
    hot centroid list. Norms are hoisted into per-row columns once
    (``cosine_pre``) instead of being recomputed per centroid pair."""
    emb_n = emb.withColumn("vn", norm("v"))
    cent_n = cent.withColumn("cn", norm("cv"))

    def nearest_centroids(
        points: DataFrame, id_col: str, vec_col: str, norm_col: str, n: int
    ) -> DataFrame:
        scored = points.crossJoin(F.broadcast(cent_n)).select(
            id_col,
            vec_col,
            norm_col,
            "cent_id",
            cosine_pre(vec_col, "cv", norm_col, "cn").alias("ccos"),
        )
        if n == 1:
            # argmax as a single hash aggregate (max_by on (cos, -id)
            # = highest cosine, lowest cent_id on ties) — one shuffle
            # with map-side partials, vs. a full per-key sort for the
            # window form. This is the corpus-sized path.
            return scored.groupBy(id_col).agg(
                F.max_by("cent_id", F.struct(F.col("ccos"), -F.col("cent_id"))).alias("cent_id"),
                F.first(vec_col).alias(vec_col),
                F.first(norm_col).alias(norm_col),
            )
        w = W.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cent_id"))
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .drop("rn", "ccos")
        )

    assign = nearest_centroids(emb_n, "vec_id", "v", "vn", 1)
    # probes: |queries| x _IVF_NPROBE rows — tiny; the window form is fine
    probe = nearest_centroids(
        emb_n.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("vn").alias("qn"),
        ),
        "query_id",
        "qv",
        "qn",
        _IVF_NPROBE,
    )
    scored = (
        probe.join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_pre("qv", "v", "qn", "vn").alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 3).alias("cosine"), "rank")
    )


def _load_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )


@register("similarity_ivf", oracle=_IVF_ORACLE, tags=("similarity", "ann", "ivf", "scale"))
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic coarse centroids (the first K corpus
    vectors) so the DuckDB oracle can mirror the assignment exactly —
    the cross-engine correctness anchor for the IVF machinery. The
    recall-bearing variant with real clustering is
    ``similarity_ivf_kmeans``; both share ``_ivf_topk``."""
    emb = _load_vectors(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv")
    )
    return _ivf_topk(emb, cent)


_LLOYD_ITERS = 5
_LLOYD_Q = "1e4"  # q4 component quantization, the PQ-oracle scale


def lloyd_centroids(emb: DataFrame) -> DataFrame:
    """Coarse centroids from a deterministic distributed k-means: the
    first ``_IVF_K`` corpus vectors seed Lloyd's algorithm for a fixed
    ``_LLOYD_ITERS`` rounds, entirely in integer-quantized space (components
    to round(x * 1e4) as BIGINT) so every step — squared-L2 argmin
    assignment (ties to the lowest cent_id) and the floor-of-mean
    centroid update — is exact, order-independent integer arithmetic
    that DuckDB replays verbatim in chained CTEs (the
    ``graph_pagerank`` playbook applied to clustering; MLlib's KMeans
    gives the same Lloyd structure but an SQL-irreproducible k-means||
    init, which is what kept this query rows-only until round 7 —
    round 10's `similarity_kmeans_parallel_init` closes that gap with
    a deterministic md5-coin k-means|| whose draws the oracle replays).

    Scale shape per iteration: assignment is a map-only pass against
    the broadcast k x dim centroid table collapsed by one ``min_by``
    hash aggregate; the update is a (cent_id, dim)-keyed sum — map-side
    combine caps the exchange at tasks x k x dim rows — whose k x dim
    result returns to the driver as the next model state, exactly the
    aggregated-model round-trip MLlib itself performs. At 100 TB, fit
    on a deterministic md5 sample (Lloyd cost is linear in rows) and
    keep the downstream structure unchanged. Empty clusters keep their
    previous centroid on both engines."""
    import math

    spark = emb.sparkSession
    qcorpus = emb.select(
        "vec_id",
        F.expr(
            f"transform(v, x -> CAST(round(x * {_LLOYD_Q}, 0) AS BIGINT))"
        ).alias("qv"),
    )
    cents = [
        (int(r.vec_id), [int(q) for q in r.qv])
        for r in qcorpus.filter(F.col("vec_id") < _IVF_K).collect()
    ]
    d2 = F.expr(
        "aggregate(zip_with(qv, qc, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )
    for _ in range(_LLOYD_ITERS):
        cent_df = spark.createDataFrame(cents, "cent_id long, qc array<bigint>")
        assign = (
            qcorpus.crossJoin(F.broadcast(cent_df))
            .select("vec_id", "qv", "cent_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(
                F.min_by("cent_id", F.struct("d2", "cent_id")).alias("cent_id"),
                F.first("qv").alias("qv"),
            )
        )
        sums = (
            assign.select("cent_id", F.posexplode("qv").alias("dim", "x"))
            .groupBy("cent_id", "dim")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        upd: dict[int, dict[int, int]] = {}
        for r in sums:
            upd.setdefault(int(r.cent_id), {})[int(r.dim)] = math.floor(r.s / r.n)
        cents = [
            (cid, [upd[cid][d] for d in range(len(qc))]) if cid in upd else (cid, qc)
            for cid, qc in cents
        ]
    return spark.createDataFrame(cents, "cent_id long, qc array<bigint>").select(
        "cent_id", F.expr(f"transform(qc, q -> q / {_LLOYD_Q})").alias("cv")
    )


def _lloyd_oracle() -> str:
    """DuckDB replay of :func:`lloyd_centroids` + :func:`_ivf_topk`:
    ``iters`` chained (assign, centroid-update) CTE pairs in the same
    integer-quantized space, then the ``_IVF_ORACLE`` probe/score/rank
    body over the resulting centroids."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(p.qv, c.qc), "
        "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    steps = []
    for i in range(_LLOYD_ITERS):
        steps.append(f"""
    assign{i} AS (
        SELECT vec_id, qv, cent_id FROM (
            SELECT p.vec_id, p.qv, c.cent_id,
                   row_number() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY {dist}, c.cent_id
                   ) AS rn
            FROM qcorpus p CROSS JOIN cent{i} c
        ) WHERE rn = 1
    ),
    cent{i + 1} AS MATERIALIZED (
        SELECT c.cent_id, coalesce(u.qc, c.qc) AS qc
        FROM cent{i} c LEFT JOIN (
            SELECT cent_id, list(q ORDER BY dim) AS qc FROM (
                SELECT cent_id, dim,
                       CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS q
                FROM (
                    SELECT cent_id, generate_subscripts(qv, 1) AS dim,
                           unnest(qv) AS x
                    FROM assign{i}
                )
                GROUP BY cent_id, dim
            ) GROUP BY cent_id
        ) u ON c.cent_id = u.cent_id
    )""")
    iteration_ctes = ",".join(steps)
    return f"""
    WITH qcorpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * {_LLOYD_Q}, 0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cent0 AS MATERIALIZED (
        SELECT vec_id AS cent_id, qv AS qc FROM qcorpus WHERE vec_id < {_IVF_K}
    ),{iteration_ctes},
    cent AS (
        SELECT cent_id, list_transform(qc, q -> q / {_LLOYD_Q}) AS cv
        FROM cent{_LLOYD_ITERS}
    ),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
        SELECT vec_id, v, cent_id FROM (
            SELECT c.vec_id, c.v, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus c CROSS JOIN cent ct
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, qv, cent_id FROM (
            SELECT q.vec_id AS query_id, q.v AS qv, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus q CROSS JOIN cent ct WHERE q.vec_id < {_N_QUERIES}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               list_cosine_similarity(p.qv, a.v) AS cos
        FROM probe p JOIN assign a USING (cent_id)
        WHERE a.vec_id <> p.query_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, round(cos, 3) AS cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {_TOP_K}
"""


@register(
    "similarity_ivf_kmeans",
    oracle=_lloyd_oracle(),
    tags=("similarity", "ann", "ivf", "kmeans", "scale"),
)
def similarity_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over k-means coarse centroids — the production variant:
    real clustering concentrates each query's true neighbors into few
    lists, so ``nprobe`` of K lists retains high recall at a
    ~nprobe/K fraction of brute-force cost. Centroids come from the
    deterministic integer-space Lloyd fit (:func:`lloyd_centroids`),
    so the full pipeline — clustering included — is oracle-checked
    against DuckDB; recall on a planted clustered corpus is gated in
    tests/test_pipeline.py."""
    emb = _load_vectors(spark, sf_dir)
    return _ivf_topk(emb, lloyd_centroids(emb))


# ---------------------------------------------------------------------------
# embedding-corpus analytics: per-label centroids (fully oracle-checked)


@register(
    "embeddings_label_centroids",
    oracle="""
    SELECT label, dim, count(*) AS n_vecs,
           CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
                AS BIGINT) AS sum_q6,
           CAST(round(CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
                           AS BIGINT) / count(*), 0) AS BIGINT) AS centroid_q6
    FROM (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS x
        FROM embeddings
    )
    GROUP BY label, dim
    ORDER BY label, dim
    """,
    tags=("embeddings", "analytics", "scale"),
)
def embeddings_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding corpus, one row per
    (label, dimension) — the corpus-statistics pass every embedding
    pipeline runs before clustering / IVF training / drift monitoring
    (the centroids here are exactly what seeds ``kmeans_centroids``,
    and dimension-wise means over sliding snapshots are the standard
    embedding-drift detector).

    Scale shape: ``posexplode`` is a map-side explode (rows x dims,
    no shuffle), and the one aggregation exchange carries only
    (label, dim) partial sums — map-side combine collapses each task
    to |labels| x |dims| rows regardless of corpus size, so the
    shuffle is O(tasks x labels x dims), independent of row count.
    At 100 TB this is the textbook "wide data, tiny aggregate" plan.

    Cross-engine determinism: float sums re-associate under
    parallelism, so the centroid is computed over integer-quantized
    components (round(x * 1e6) as BIGINT, the same trick the LSH
    probe ordering uses) — integer sums are exact and
    order-independent in both engines, and the final division is a
    single deterministic IEEE op."""
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(_as_double("embedding")).alias("dim", "x")
    )
    quantized = exploded.withColumn(
        "q", F.round(F.col("x") * F.lit(1000000.0), 0).cast("long")
    )
    return (
        quantized.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("q").alias("sum_q6"),
        )
        .withColumn(
            "centroid_q6",
            F.round(F.col("sum_q6") / F.col("n_vecs"), 0).cast("long"),
        )
        .orderBy("label", "dim")
    )


# ---------------------------------------------------------------------------
# product quantization (PQ) — compressed-domain ANN, fully oracle-checked

_PQ_M = 8  # subspaces
_PQ_DSUB = 8  # dims per subspace (8 x 8 = the 64-dim corpus)
_PQ_K = 16  # codes per subspace; codebook = subvectors of vec_id < 16

_PQ_ORACLE = f"""
    WITH corpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> CAST(round(x * 10000, 0) AS BIGINT)) AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS vm
        FROM corpus, generate_series(0, {_PQ_M - 1}) t(m)
    ),
    cb AS (SELECT vec_id AS cent_id, m, vm AS cm FROM sub WHERE vec_id < {_PQ_K}),
    dist AS (
        SELECT s.vec_id, s.m, c.cent_id,
               CAST(list_sum(list_transform(list_zip(s.vm, c.cm),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
        FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
        SELECT vec_id, m, cent_id AS code FROM (
            SELECT vec_id, m, cent_id,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cent_id) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT s.vec_id AS query_id, c.m, c.cent_id,
               CAST(list_sum(list_transform(list_zip(s.vm, c.cm),
                    p -> p[1] * p[2])) AS BIGINT) AS dot_q8
        FROM sub s JOIN cb c USING (m) WHERE s.vec_id < {_N_QUERIES}
    ),
    scored AS (
        SELECT l.query_id, cd.vec_id AS neighbor_id,
               CAST(sum(l.dot_q8) AS BIGINT) AS adot_q8
        FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.cent_id
        WHERE cd.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adot_q8, rank FROM (
        SELECT query_id, neighbor_id, adot_q8,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adot_q8 DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {_TOP_K}
    ORDER BY query_id, rank
"""


def pq_encode(spark: SparkSession, sf_dir: str):
    """PQ building blocks over the embeddings table, all in INTEGER
    space (components quantized to round(x * 1e4) as BIGINT before any
    arithmetic): integer sums are exact and order-independent, so
    codes, LUTs and scores are bit-identical across engines AND across
    shuffle orders — the property that makes the whole ANN tier
    oracle-checkable where float PQ implementations are not.

    Returns (codes, lut): ``codes`` is the compressed index — M codes
    per vector, here M=8 one-byte-range ints per 64-dim vector, a 32x
    compression over float32 — built by one explode (x M) and one
    argmin aggregate against the broadcast codebook. ``lut`` is each
    query's per-(subspace, code) dot-product table (Q x M x K rows).

    The codes ARE the persistent index: a session relation keyed on
    the embeddings table (at scale: written to parquet next to the
    corpus, like the bucketed/z-order layouts); each query then pays
    only its own LUT build plus the compressed scan — the read/write
    asymmetry every ANN index exists to buy."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"
        ).alias("v"),
    )
    sub = emb.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(_PQ_M - 1))).alias("m"), "v"
    ).select("vec_id", "m", F.expr(f"slice(v, m * {_PQ_DSUB} + 1, {_PQ_DSUB})").alias("vm"))
    cb = sub.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cent_id"), F.col("m").alias("cm_m"), F.col("vm").alias("cm")
    )
    d2 = F.expr(
        "aggregate(zip_with(vm, cm, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    )

    def encode() -> DataFrame:
        return (
            sub.join(F.broadcast(cb), F.col("m") == F.col("cm_m"))
            .select("vec_id", "m", "cent_id", d2.alias("d2"))
            .groupBy("vec_id", "m")
            .agg(F.min_by("cent_id", F.struct("d2", "cent_id")).alias("code"))
        )

    codes = session_relation(spark, "pq_codes", sf_dir, "embeddings", encode)
    dot = F.expr(
        "aggregate(zip_with(vm, cm, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, e) -> acc + e)"
    )
    lut = (
        sub.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "m", "vm")
        .join(F.broadcast(cb), F.col("m") == F.col("cm_m"))
        .select("query_id", "m", "cent_id", dot.alias("dot_q8"))
    )
    return codes, lut


@register(
    "similarity_pq",
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "pq", "scale"),
)
def similarity_pq(spark: SparkSession, sf_dir: str, top_k: int = _TOP_K) -> DataFrame:
    """Product-quantization ANN (asymmetric distance computation): the
    memory-compression tier of the ANN family — corpus vectors live
    as M=8 small integer codes (32x smaller than float32), queries
    stay exact, and each query scores every vector by summing M
    table-lookups instead of a 64-dim dot product.

    Completes the ANN ladder: brute force (exact) -> LSH / IVF
    (candidate pruning) -> PQ (compressed-domain scan); at 100 TB
    the production composition is IVF-PQ — IVF lists bound WHICH
    codes a query scans, PQ bounds the BYTES per scanned vector (a
    billion 64-dim vectors = 8 GB of codes vs 256 GB of floats, the
    difference between in-memory and not). Scale shape: encoding is
    one explode + argmin aggregate against the broadcast codebook
    (map-side; shuffle carries (vec, m) argmin partials only); the
    scan is a broadcast join of the tiny LUT (Q x 8 x 16 rows)
    against the codes table followed by an INTEGER partial-sum
    aggregation — map-side combined, order-independent, and exactly
    reproduced by the DuckDB oracle (see pq_encode's quantization
    note; deterministic codebook = subvectors of the first K vectors,
    the same convention as similarity_ivf's centroids; seeded-KMeans
    codebooks would drop in via kmeans_centroids exactly as
    similarity_ivf_kmeans does).

    PQ quantization intentionally collapses fine distinctions (K=16
    codes per subspace cannot separate same-cluster members), so the
    production read path is scan-then-rerank: take PQ's top-C
    candidates (``top_k=C``), re-score just those C exactly, keep
    top-k — tests/test_pipeline.py pins that composition at
    recall ~1 where the raw PQ ranking alone sits far lower."""
    codes, lut = pq_encode(spark, sf_dir)
    scored = (
        codes.join(
            F.broadcast(lut),
            (codes["m"] == lut["m"]) & (codes["code"] == lut["cent_id"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dot_q8").alias("adot_q8"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adot_q8").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "neighbor_id", "adot_q8", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the production ANN composition, fully oracle-checked

_IVF_PQ_ORACLE = f"""
    WITH fcorpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS fv FROM embeddings
    ),
    fcent AS (SELECT vec_id AS cent_id, fv AS cfv FROM fcorpus WHERE vec_id < {_IVF_K}),
    assign AS (
        SELECT vec_id, cent_id FROM (
            SELECT c.vec_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.fv, ct.cfv) DESC, ct.cent_id
                   ) AS rn
            FROM fcorpus c CROSS JOIN fcent ct
        ) WHERE rn = 1
    ),
    probe AS (
        SELECT query_id, cent_id FROM (
            SELECT q.vec_id AS query_id, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.fv, ct.cfv) DESC, ct.cent_id
                   ) AS rn
            FROM fcorpus q CROSS JOIN fcent ct WHERE q.vec_id < {_N_QUERIES}
        ) WHERE rn <= {_IVF_NPROBE}
    ),
    qcorpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[], x -> CAST(round(x * 10000, 0) AS BIGINT)) AS v
        FROM embeddings
    ),
    sub AS (
        SELECT vec_id, m, list_slice(v, m * {_PQ_DSUB} + 1, m * {_PQ_DSUB} + {_PQ_DSUB}) AS vm
        FROM qcorpus, generate_series(0, {_PQ_M - 1}) t(m)
    ),
    cb AS (SELECT vec_id AS code_id, m, vm AS cm FROM sub WHERE vec_id < {_PQ_K}),
    dist AS (
        SELECT s.vec_id, s.m, c.code_id,
               CAST(list_sum(list_transform(list_zip(s.vm, c.cm),
                    p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
        FROM sub s JOIN cb c USING (m)
    ),
    codes AS (
        SELECT vec_id, m, code_id AS code FROM (
            SELECT vec_id, m, code_id,
                   row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, code_id) AS rn
            FROM dist
        ) WHERE rn = 1
    ),
    lut AS (
        SELECT s.vec_id AS query_id, c.m, c.code_id,
               CAST(list_sum(list_transform(list_zip(s.vm, c.cm),
                    p -> p[1] * p[2])) AS BIGINT) AS dot_q8
        FROM sub s JOIN cb c USING (m) WHERE s.vec_id < {_N_QUERIES}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign a USING (cent_id)
        WHERE a.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id, CAST(sum(l.dot_q8) AS BIGINT) AS adot_q8
        FROM cand c
        JOIN codes cd ON cd.vec_id = c.neighbor_id
        JOIN lut l ON l.query_id = c.query_id AND l.m = cd.m AND l.code_id = cd.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adot_q8, rank FROM (
        SELECT query_id, neighbor_id, adot_q8,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adot_q8 DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {_TOP_K}
    ORDER BY query_id, rank
"""


@register(
    "similarity_ivf_pq",
    oracle=_IVF_PQ_ORACLE,
    tags=("similarity", "ann", "ivf", "pq", "scale"),
)
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production composition of the two ANN levers (and
    the layout behind every billion-scale vector index): IVF bounds
    WHICH vectors a query scans (nprobe of K inverted lists), PQ
    bounds the BYTES per scanned vector (8 codes instead of 64
    floats). Cost per query drops from |N| x 256 B (brute force) to
    ~(nprobe/K) x |N| x 8 B — the two factors multiply.

    Scale shape: coarse assignment is one map-only broadcast-centroid
    argmax (a max_by hash aggregate, the same corpus-sized path as
    similarity_ivf); candidate selection shuffles on cent_id like IVF;
    the PQ scoring join then touches codes ONLY for candidates, with
    the LUT broadcast and the score an integer partial-sum aggregate.
    Both constituent tiers are individually oracle-checked
    (similarity_ivf, similarity_pq); this query's oracle replays the
    full composition, so the splice — candidate pruning feeding the
    compressed scorer — is certified too, not just the parts. As with
    raw PQ, the production read path re-ranks the top-C exactly
    (tests/test_pipeline.py pins that composition for PQ)."""
    emb = _load_vectors(spark, sf_dir)
    emb_n = emb.withColumn("vn", norm("v"))
    cent = emb_n.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"), F.col("vn").alias("cn")
    )
    ascored = emb_n.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cent_id", cosine_pre("v", "cv", "vn", "cn").alias("ccos")
    )
    assign = ascored.groupBy("vec_id").agg(
        F.max_by("cent_id", F.struct(F.col("ccos"), -F.col("cent_id"))).alias("cent_id")
    )
    wprobe = W.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cent_id"))
    probe = (
        emb_n.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("vn").alias("qn"))
        .crossJoin(F.broadcast(cent))
        .select("query_id", "cent_id", cosine_pre("qv", "cv", "qn", "cn").alias("ccos"))
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= _IVF_NPROBE)
        .select("query_id", "cent_id")
    )
    cand = (
        probe.join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    codes, lut = pq_encode(spark, sf_dir)
    codes = codes.select(F.col("vec_id").alias("cvec"), F.col("m").alias("cm_m"), "code")
    lut = lut.select(
        F.col("query_id").alias("lq"), F.col("m").alias("lm"), F.col("cent_id").alias("lcent"), "dot_q8"
    )
    scored = (
        cand.join(codes, F.col("cvec") == F.col("neighbor_id"))
        .join(
            F.broadcast(lut),
            (F.col("lq") == F.col("query_id"))
            & (F.col("lm") == F.col("cm_m"))
            & (F.col("lcent") == F.col("code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dot_q8").alias("adot_q8"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("adot_q8").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "neighbor_id", "adot_q8", "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Gram matrix (X^T X) — the covariance/PCA input, computed as per-batch
# integer GEMM partials (fully oracle-checked)

_GRAM_DIM = 64

_GRAM_ORACLE = f"""
    WITH q AS (
        SELECT list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 10000, 0) AS BIGINT)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT i.i AS i, j.j AS j, v[i.i + 1] * v[j.j + 1] AS prod
        FROM q,
             generate_series(0, {_GRAM_DIM - 1}) i(i),
             generate_series(0, {_GRAM_DIM - 1}) j(j)
        WHERE j.j >= i.i
    )
    SELECT i, j, CAST(sum(prod) AS BIGINT) AS gram_q
    FROM cells
    GROUP BY i, j
    ORDER BY i, j
"""


@register(
    "embeddings_gram_matrix",
    oracle=_GRAM_ORACLE,
    tags=("embeddings", "analytics", "pca", "scale"),
)
def embeddings_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X^T X of the embedding corpus (upper
    triangle, one row per (i, j) dim pair) — the d x d input to
    PCA / whitening / covariance-based drift detection; MLlib's
    ``computeGramianMatrix`` computes exactly this shape.

    Scale shape: each Arrow batch contributes ONE d x d partial via
    an in-batch integer GEMM (``mapInPandas``; O(d^2) output per
    batch regardless of batch row count), and the only shuffle
    carries those d(d+1)/2-row partials — O(tasks x d^2), independent
    of corpus size. The naive relational alternative (posexplode x
    posexplode self-pairing) ships rows x d^2 values through the
    exchange — 4096x more at d=64 — which is why the Python-side GEMM
    is the right trade here even under the "builtins first" policy
    (the DuckDB oracle IS that relational form, so the gate proves
    the two agree).

    Cross-engine determinism: components quantize to BIGINT at 1e-4
    (PQ's scale; products ~1e8, corpus sums < 2^63 up to ~1e10 rows),
    all sums exact integer adds; the numpy rounding is
    sign*floor(abs+0.5) = round-half-away — matching Spark/DuckDB
    ``round`` — NOT np.round's banker's rounding."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    dim = _GRAM_DIM

    def gram_partials(batches):
        import numpy as np

        iu, ju = np.triu_indices(dim)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * 1e4
            q = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
            g = q.T @ q  # int64 GEMM, exact
            yield pd.DataFrame(
                {"i": iu, "j": ju, "partial": g[iu, ju]}
            )

    partials = emb.select("embedding").mapInPandas(
        gram_partials, schema="i int, j int, partial long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("partial").alias("gram_q"))
        .orderBy("i", "j")
    )


# ---------------------------------------------------------------------------
# triangle counting on the similarity graph (fully oracle-checked)

# 0.2, not the pairs gate's 0.3: triangles need a denser graph (at
# 0.3 the label-blocked graph has 2 triangles — vacuous); at 0.2 it
# has ~90 over ~170 nodes, and the nearest edge cosine sits 1.9e-5
# from the threshold, far beyond cross-engine double noise.
_TRI_THRESHOLD = 0.2


def triangle_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle counts (``vec_id, n_triangles``) over an
    undirected edge relation ``e(x, y)`` with ``x < y``, shared by the
    exact-edge and LSH-edge triangle queries — the edge DERIVATION is
    what differs between tiers; counting is tier-independent.

    DEGREE-oriented: each undirected edge points from its (degree,
    id)-smaller endpoint to the larger before the wedge self-join.
    Under degree orientation every node's out-degree is O(sqrt(m))
    regardless of its true degree, so wedge fan-out is bounded even on
    skewed graphs (a degree-D hub contributes D^2 wedges under id
    orientation but only ~m wedges total under degree orientation —
    the standard compact-forward refinement); the closing check is one
    hash join of wedges against oriented edges. The triangle SET is
    orientation-independent (any total order yields exactly one
    enumeration per triangle from its minimum corner), so per-node
    counts — and the id-oriented DuckDB oracles — are unchanged.

    ``e`` must be materialized (localCheckpoint) by the caller: it is
    referenced three times (degree count twice via the union, plus the
    closing join) and an unmaterialized lineage would re-run the edge
    derivation each time — the merge_upsert multi-scan trap."""
    deg = (
        e.select(F.col("x").alias("n"))
        .unionByName(e.select(F.col("y").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("x"), F.col("d").alias("dx")), "x"
    ).join(deg.select(F.col("n").alias("y"), F.col("d").alias("dy")), "y")
    x_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    # (r16 note: a lazy checkpoint was tried here — eager=False, the
    # r15 loop-checkpoint pattern — and measured WORSE and erratic
    # (x16 min 6.3 s with 12-13 s passes vs 5.2 s stable eager): the
    # wedge and closing subtrees race to compute the same uncached
    # partitions in parallel stages, so the relation is recomputed up
    # to three times. Loops probe sequentially; this DAG fans out —
    # eager is the measured winner.)
    oriented = ed.select(
        F.when(x_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(x_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(x_first, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("dv1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("dv2"))
    # wedge (v1, v2) ordered by the same (degree, id) total order =
    # exactly the orientation of the closing edge if it exists
    wedges = o1.join(o2, "u").filter(
        (F.col("dv1") < F.col("dv2"))
        | ((F.col("dv1") == F.col("dv2")) & (F.col("v1") < F.col("v2")))
    )
    close = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(close, ["v1", "v2"]).select(
        F.col("u").alias("a"), F.col("v1").alias("b"), F.col("v2").alias("c")
    )
    corners = (
        tri.select(F.col("a").alias("vec_id"))
        .unionByName(tri.select(F.col("b").alias("vec_id")))
        .unionByName(tri.select(F.col("c").alias("vec_id")))
    )
    return (
        corners.groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy("vec_id")
    )


_TRIANGLE_ORACLE = f"""
    WITH e AS (
        SELECT a.vec_id AS x, b.vec_id AS y
        FROM embeddings a JOIN embeddings b
          ON a.vec_id < b.vec_id AND a.label = b.label
        WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                     b.embedding::DOUBLE[]) >= {_TRI_THRESHOLD}
    ),
    tri AS (
        SELECT e1.x AS a, e1.y AS b, e2.y AS c
        FROM e e1
        JOIN e e2 ON e2.x = e1.y
        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    corners AS (
        SELECT a AS vec_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners
    GROUP BY vec_id
    ORDER BY vec_id
"""


@register(
    "graph_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    tags=("graph", "triangle", "similarity", "scale"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the similarity graph — the local
    clustering signal that separates tight duplicate/template
    CLUSTERS (triangle-rich) from chains of borderline matches
    (triangle-free), and the standard feature for community detection
    over the near-dup graph (complements `graph_pagerank`'s
    centrality and `dedup_connected_components`' reachability).

    Scale shape: edges are the label-blocked threshold pairs (the
    `similarity_pairs_above_threshold` discipline — an equi-key join on label,
    never all-pairs ACROSS labels; within a label it is the exact
    scoring tier, O((n/L)^2) by design — `graph_triangle_count_lsh`
    is the 100 TB variant whose edge relation comes from the adaptive
    LSH candidate tier instead, with the counting stage shared), then
    counted degree-oriented via :func:`triangle_counts` (orientation
    rationale there)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("v")
    )
    a = emb.select(
        F.col("vec_id").alias("x"), F.col("label").alias("la"), F.col("v").alias("va")
    ).withColumn("na", norm("va"))
    b = emb.select(
        F.col("vec_id").alias("y"), F.col("label").alias("lb"), F.col("v").alias("vb")
    ).withColumn("nb", norm("vb"))
    e = (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("x") < F.col("y")))
        .filter(cosine_pre("va", "vb", "na", "nb") >= F.lit(_TRI_THRESHOLD))
        .select("x", "y")
        .localCheckpoint(eager=True)
    )
    return triangle_counts(e)


# ---------------------------------------------------------------------------
# round 8: LSH-candidate edge tier for triangle counting — the 100 TB
# variant the exact tier's docstring names. Edges come from an
# OCCUPANCY-ADAPTIVE banded hyperplane LSH (prefix sign-bit codes that
# extend one plane at a time until the bucket fits a fixed cap), so the
# pairwise stage is O(n * cap) per band at ANY corpus size — never
# O((n/L)^2) — and the only full-relation exchanges are the bucket
# aggregation and the bounded pair expansion.

# Target bucket occupancy AFTER refinement. 16 binds at sf0.01 (mean
# level-0 occupancy = 500/32 ≈ 16, so ~half the buckets refine to
# level 1+), which is deliberate: the driver gate certifies the
# refinement path, not just the trivial level-0 case.
_TRI_LSH_CAP = 16
# Max extra sign bits per band beyond the base _LSH_ROWS=5 (code
# length 5..13, bucket space 32..8192 per band). Occupancy at depth L
# is ~n / (8192 * 8 bands * parallel hash spread); buckets still over
# the cap at max depth are PURGED (only near-identical sign-profile
# clusters get there — the minhash _BAND_BUCKET_CAP discipline).
_TRI_LSH_LEVELS = 8


def _adaptive_code_udf():
    """Arrow-batched full-depth band codes: per vector, an array of
    ``_LSH_BANDS`` longs, each the 13-bit packed sign code over planes
    0..12 of that band (same md5-derived integer plane family, same
    floor(x*4096) quantization as ``_band_buckets_udf`` — every dot is
    an integer < 2^53, so the codes are exactly reproducible in any
    engine; see that docstring for the exactness argument). One int64
    GEMM per batch; the deeper 8 rows cost nothing extra at assignment
    time and buy 256x finer buckets when occupancy demands it."""
    import numpy as np
    import pandas as pd

    nrows = _LSH_ROWS + _TRI_LSH_LEVELS
    cols = [
        _plane_weights(b, r) for b in range(_LSH_BANDS) for r in range(nrows)
    ]
    planes = np.array(cols, dtype=np.int64).T  # (dim, bands*nrows)
    powers = (1 << np.arange(nrows, dtype=np.int64))

    def codes(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        xi = np.floor(x * _LSH_QUANT).astype(np.int64)
        dots = (xi @ planes).reshape(-1, _LSH_BANDS, nrows)
        c = ((dots > 0) * powers).sum(axis=2)  # (n, bands)
        return pd.Series(list(c))

    return F.pandas_udf(codes, "array<long>")


def adaptive_lsh_buckets(emb: DataFrame) -> DataFrame:
    """(vec_id, band, lvl, bucket): each vector's FINAL bucket per
    band under occupancy-adaptive prefix codes — the shortest prefix
    of its sign-bit code whose bucket holds <= ``_TRI_LSH_CAP``
    members (prefix codes nest, so bucket sizes are non-increasing in
    depth and every member of a bucket agrees on its final level);
    vectors whose bucket is still oversized at max depth are dropped.

    Shuffle shape (r15, guide §1.2/§2.4): the codes relation (8 rows
    per vector, one long each) is localCheckpointed, then aggregated
    ONCE at the deepest prefix into the (band, deep-prefix) -> count
    relation — bounded by the code space (8 bands x 2^13 = 65,536
    rows at the deepest level) REGARDLESS of corpus size, i.e. model
    state. Coarser levels' counts nest (a level-lv bucket is the sum
    of its deeper refinements), so the whole first-fitting-level
    decision is a pure function of (band, deep prefix): it is rolled
    up driver-side over the bounded relation and broadcast back as a
    single (band, deep-prefix, lvl) map joined once to the codes —
    replacing the round-8 form's 9 per-level corpus aggregations and
    9 broadcast joins with 1 aggregation + 1 bounded collect + 1
    broadcast join (identical assignments: same counts, same
    first-fitting rule). The rollup itself is vectorized (r16): the
    r15 dict-of-dicts Python loop over cnt_rows x 9 levels measured
    0.6 s at sf0.1 and 3.1 s at x16 — the single largest stage of the
    whole query — where the equivalent numpy prefix-key
    unique/add.at pass is ~10 ms; the bounded relation also comes
    back as ONE Arrow batch (toPandas) instead of 58k Row objects,
    and the codes checkpoint is lazy (its materializing action is the
    count aggregation, the r15 loop-checkpoint pattern — one job
    saved). ``emb`` must carry ``vec_id`` and an array<double>
    column ``v``."""
    import numpy as np

    codes = emb.select(
        "vec_id", F.posexplode(_adaptive_code_udf()("v")).alias("band", "code")
    ).localCheckpoint(eager=False)
    deep_mask = (1 << (_LSH_ROWS + _TRI_LSH_LEVELS)) - 1
    cnt_pdf = (
        codes.groupBy(
            "band", F.col("code").bitwiseAND(F.lit(deep_mask)).alias("ck")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .toPandas()
    )
    band = cnt_pdf["band"].to_numpy(dtype=np.int64)
    ck = cnt_pdf["ck"].to_numpy(dtype=np.int64)
    n = cnt_pdf["n"].to_numpy(dtype=np.int64)
    # First-fitting level per deep prefix: for each level, sum the
    # deep counts within that level's prefix (counts nest) and take
    # the shallowest level whose bucket holds <= cap. Exactly the
    # defaultdict rollup's arithmetic, batched.
    lvl = np.full(len(ck), -1, dtype=np.int64)
    for lv in range(_TRI_LSH_LEVELS + 1):
        key = band * (deep_mask + 1) + (ck & ((1 << (_LSH_ROWS + lv)) - 1))
        uniq, inv = np.unique(key, return_inverse=True)
        tot = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(tot, inv, n)
        ok = (lvl < 0) & (tot[inv] <= _TRI_LSH_CAP)
        lvl[ok] = lv
    # rows with lvl == -1 (oversized at every depth) are simply absent
    # from the map and their vectors drop out of the (inner) join
    # below, replaying the round-8 form's lvl-IS-NULL filter
    keep = lvl >= 0
    assign = list(
        zip(
            (b.item() for b in band[keep]),
            (c.item() for c in ck[keep]),
            (v.item() for v in lvl[keep]),
        )
    )
    lvl_df = emb.sparkSession.createDataFrame(
        assign, "lband int, lck long, lvl int"
    )
    return (
        codes.join(
            F.broadcast(lvl_df),
            (F.col("band") == F.col("lband"))
            & (F.col("code").bitwiseAND(F.lit(deep_mask)) == F.col("lck")),
        )
        .select(
            "vec_id",
            "band",
            "lvl",
            F.expr(
                f"code & (shiftleft(CAST(1 AS BIGINT), lvl + {_LSH_ROWS}) - 1)"
            ).alias("bucket"),
        )
    )


def lsh_candidate_pairs(emb: DataFrame) -> DataFrame:
    """Distinct (x, y) vec_id candidate pairs, x < y: bucket-local
    expansion over the adaptive buckets. Aggregation state is bounded
    at ``_TRI_LSH_CAP`` ids per (band, lvl, bucket) by construction —
    the cap is enforced BEFORE this join by the adaptive refinement,
    so ``keep`` only has to drop singletons."""
    from rdbms_scala_spark.pipeline.dedup import expand_bucket_pairs

    buckets = adaptive_lsh_buckets(emb)
    return (
        expand_bucket_pairs(
            buckets,
            keys=["band", "lvl", "bucket"],
            payload=["vec_id"],
            keep=lambda bn: bn >= 2,
        )
        .select(F.col("a_vec_id").alias("x"), F.col("b_vec_id").alias("y"))
        .distinct()
    )


def _pair_cosine_udf():
    """Arrow-batched pairwise cosine over two array<double> columns —
    the candidate-verify hot path. The expression form (zip_with +
    aggregate) is evaluated per element outside codegen; at the x64
    smoke tier the candidate set is ~10^6 pairs x 64 dims, where the
    vectorized einsum is the difference between seconds and minutes.
    Double-sum order differs from DuckDB's list_cosine_similarity
    fold, but the nearest candidate cosine sits 1.2e-5 from the
    threshold at the gate scale (measured) — nine orders beyond
    one-ulp drift on a 64-term dot."""
    import numpy as np
    import pandas as pd

    def cos(a, b):
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        x = np.stack([np.asarray(v, dtype=np.float64) for v in a])
        y = np.stack([np.asarray(v, dtype=np.float64) for v in b])
        num = np.einsum("ij,ij->i", x, y)
        den = np.sqrt(np.einsum("ij,ij->i", x, x)) * np.sqrt(
            np.einsum("ij,ij->i", y, y)
        )
        return pd.Series(num / den)

    return F.pandas_udf(cos, "double")


def _tri_lsh_oracle() -> str:
    """DuckDB mirror of graph_triangle_count_lsh: the same literal
    integer planes dotted against the same floor(x*4096) quantized
    vectors (integer-exact, any fold order), the same per-level prefix
    bucket counts and first-fitting-level selection, the same
    candidate join, cosine verify, and id-oriented triangle closure
    (the triangle set is orientation-independent — see
    :func:`triangle_counts`)."""
    nrows = _LSH_ROWS + _TRI_LSH_LEVELS
    band_selects = []
    for b in range(_LSH_BANDS):
        dots = ", ".join(
            "list_dot_product(vq, ["
            + ", ".join(f"{float(w)}" for w in _plane_weights(b, r))
            + f"]) AS d{r}"
            for r in range(nrows)
        )
        bits = " + ".join(
            f"(CASE WHEN d{r} > 0 THEN {1 << r} ELSE 0 END)" for r in range(nrows)
        )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, ({bits}) AS code "
            f"FROM (SELECT vec_id, {dots} FROM vecs)"
        )
    lvl_counts = ",\n    ".join(
        f"c{lv} AS MATERIALIZED (SELECT band, code & {(1 << (_LSH_ROWS + lv)) - 1} AS b{lv}, "
        f"count(*) AS n{lv} FROM codes GROUP BY 1, 2)"
        for lv in range(_TRI_LSH_LEVELS + 1)
    )
    joins = "\n        ".join(
        f"JOIN c{lv} ON c{lv}.band = codes.band "
        f"AND c{lv}.b{lv} = (codes.code & {(1 << (_LSH_ROWS + lv)) - 1})"
        for lv in range(_TRI_LSH_LEVELS + 1)
    )
    final_case = " ".join(
        f"WHEN n{lv} <= {_TRI_LSH_CAP} THEN {lv}"
        for lv in range(_TRI_LSH_LEVELS + 1)
    )
    return f"""
    WITH vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_transform(embedding::DOUBLE[],
                              x -> floor(x * {_LSH_QUANT})) AS vq
        FROM embeddings
    ),
    codes AS MATERIALIZED (
        {' UNION ALL '.join(band_selects)}
    ),
    {lvl_counts},
    finals AS (
        SELECT codes.vec_id, codes.band,
               CASE {final_case} END AS lvl,
               codes.code AS code
        FROM codes
        {joins}
    ),
    buckets AS MATERIALIZED (
        SELECT vec_id, band, lvl,
               code & ((1 << ({_LSH_ROWS} + lvl)) - 1) AS bucket
        FROM finals WHERE lvl IS NOT NULL
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS x, b.vec_id AS y
        FROM buckets a JOIN buckets b
          ON a.band = b.band AND a.lvl = b.lvl AND a.bucket = b.bucket
         AND a.vec_id < b.vec_id
    ),
    e AS (
        SELECT x, y FROM cand
        JOIN vecs va ON va.vec_id = x JOIN vecs vb ON vb.vec_id = y
        WHERE list_cosine_similarity(va.v, vb.v) >= {_TRI_THRESHOLD}
    ),
    tri AS (
        SELECT e1.x AS a, e1.y AS b, e2.y AS c
        FROM e e1 JOIN e e2 ON e2.x = e1.y
        JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y
    ),
    corners AS (
        SELECT a AS vec_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY vec_id ORDER BY vec_id
    """


@register(
    "graph_triangle_count_lsh",
    oracle=_tri_lsh_oracle(),
    tags=("graph", "triangle", "lsh", "similarity", "scale"),
)
def graph_triangle_count_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts with the edge relation fed from the
    occupancy-adaptive LSH candidate tier — the scale path the exact
    tier (`graph_triangle_count`) names: candidate generation is
    bucket-bounded (O(n * cap) pairs per band at any corpus size, the
    cap enforced by code refinement rather than by purging whole
    buckets), the cosine verify touches candidates only, and the
    degree-oriented counting stage is shared verbatim via
    :func:`triangle_counts`.

    Recall/selectivity note: this synthetic corpus is near-random, so
    at the demo threshold 0.2 the per-plane agreement probability for
    a true edge (s ≈ 0.56) barely exceeds a random pair's 0.5 and the
    OR-of-8-bands tier passes a large candidate fraction — data-
    intrinsic, not a plan property; at a production near-dup threshold
    (cos >= 0.8, s ≈ 0.8) the same banding passes ~6% of random pairs
    at ~94% edge recall. The adaptive cap keeps the pairwise stage
    bounded either way. Unlike the exact tier this variant does NOT
    label-block, so cross-label edges above the threshold appear —
    the oracle replays the identical candidate set, so the comparison
    is exact, not recall-gated."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    cand = lsh_candidate_pairs(emb)
    va = emb.select(F.col("vec_id").alias("x"), F.col("v").alias("va"))
    vb = emb.select(F.col("vec_id").alias("y"), F.col("v").alias("vb"))
    pcos = _pair_cosine_udf()
    e = (
        cand.join(va, "x")
        .join(vb, "y")
        .filter(pcos(F.col("va"), F.col("vb")) >= F.lit(_TRI_THRESHOLD))
        .select("x", "y")
        .localCheckpoint(eager=True)
    )
    return triangle_counts(e)


# ---------------------------------------------------------------------------
# round 7: range search + spectral power iteration

_RANGE_THRESHOLD = 0.15


@register(
    "similarity_range_search",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 3) AS cosine
    FROM embeddings q JOIN embeddings c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {{n_queries}}
      AND list_cosine_similarity(q.embedding::DOUBLE[],
                                 c.embedding::DOUBLE[]) >= {{threshold}}
    ORDER BY query_id, neighbor_id
    """.format(n_queries=_N_QUERIES, threshold=_RANGE_THRESHOLD),
    tags=("similarity", "range-search", "scale"),
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (epsilon-ball) search: ALL corpus neighbors within a
    cosine radius of each query — the other half of the ANN API
    surface next to top-k (`similarity_topk_bruteforce`): radius
    queries back recall-safe dedup candidates and RAG retrieval
    floors, where top-k silently truncates dense neighborhoods and
    pads sparse ones.

    Scale shape: the query set broadcasts (map-only scoring pass over
    the corpus, one row out per within-radius hit — no shuffle at
    all until the output ordering); norms are hoisted per side. For
    corpus-x-corpus radius joins, swap the broadcast for the
    LSH-bucketed candidate path (`similarity_lsh_ann`) — identical
    downstream filter."""
    emb = _load_vectors(spark, sf_dir).withColumn("vn", norm("v"))
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    cos = cosine_pre("qv", "v", "qn", "vn")
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(cos >= F.lit(_RANGE_THRESHOLD))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(cos, 3).alias("cosine"),
        )
        .orderBy("query_id", "neighbor_id")
    )


_POWER_ITERS = 3
_POWER_SCALE = 100000  # |x| bound per iteration: 64 * |G|max * 1e5 < 2^63


def _power_cte_chain() -> str:
    """The shared CTE chain replaying power iteration in DuckDB: the
    relational Gram CTE (as in ``_GRAM_ORACLE``) symmetrized, then
    ``_POWER_ITERS`` chained matvec+rescale iteration pairs in the
    same integer arithmetic. Ends at ``x{_POWER_ITERS}``, the
    converged quantized eigenvector — consumers append their own
    final SELECT (the eigenvector itself, or a projection through
    it)."""
    steps = []
    for t in range(_POWER_ITERS):
        steps.append(f"""
    y{t} AS (
        SELECT g.i AS i, CAST(sum(g.g * x.v) AS BIGINT) AS y
        FROM gsym g JOIN x{t} x ON g.j = x.i
        GROUP BY g.i
    ),
    m{t} AS (
        SELECT CAST(max(abs(y)) AS BIGINT) // {_POWER_SCALE} + 1 AS d FROM y{t}
    ),
    x{t + 1} AS (
        SELECT y.i, CAST(floor(CAST(y.y AS DOUBLE) / m.d) AS BIGINT) AS v
        FROM y{t} y CROSS JOIN m{t} m
    )""")
    iteration_ctes = ",".join(steps)
    return f"""q AS (
        SELECT list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 10000, 0) AS BIGINT)) AS v
        FROM embeddings
    ),
    cells AS (
        SELECT i.i AS i, j.j AS j, v[i.i + 1] * v[j.j + 1] AS prod
        FROM q,
             generate_series(0, {_GRAM_DIM - 1}) i(i),
             generate_series(0, {_GRAM_DIM - 1}) j(j)
        WHERE j.j >= i.i
    ),
    gup AS (
        SELECT i, j, CAST(sum(prod) AS BIGINT) AS g
        FROM cells GROUP BY i, j
    ),
    gsym AS (
        SELECT i, j, g FROM gup
        UNION ALL
        SELECT j AS i, i AS j, g FROM gup WHERE i <> j
    ),
    x0 AS (
        SELECT i AS i, CAST({_POWER_SCALE} AS BIGINT) AS v
        FROM generate_series(0, {_GRAM_DIM - 1}) t(i)
    ),{iteration_ctes}"""


def _power_iteration_oracle() -> str:
    return f"""
    WITH {_power_cte_chain()}
    SELECT CAST(i AS BIGINT) AS dim, v AS component_q
    FROM x{_POWER_ITERS}
    ORDER BY dim
"""


@register(
    "embeddings_power_iteration",
    oracle=_power_iteration_oracle(),
    tags=("embeddings", "pca", "spectral", "iterative", "scale"),
)
def embeddings_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-eigenvector estimate of the embedding Gram matrix via
    fixed-count power iteration — the first principal direction that
    seeds PCA whitening, spectral drift monitors, and low-rank
    compression of embedding stores. The third member of the repo's
    iterative-with-exact-oracle family (`graph_pagerank` = damped
    walks, `lloyd_centroids` = clustering, this = spectral): every
    iteration is an integer matvec (exact, order-independent sums)
    followed by a rescale whose divisor derives from ONE max
    aggregate, so DuckDB replays all of it in chained CTEs.

    Scale shape: G comes from `embeddings_gram_matrix`'s mapInPandas
    GEMM (shuffle O(tasks x d^2), corpus-size-free — the only
    corpus-sized pass), then its d x d upper triangle is collected
    ONCE as bounded model state and the three matvec+rescale
    iterations run driver-side in exact big-int arithmetic — the
    local-eigenwork-over-collected-Gram shape MLlib's RowMatrix PCA
    uses (r15: replaces three distributed 4096-row matvec jobs whose
    cost was pure scheduling overhead). Overflow headroom: |y| <=
    d * |G|max * 1e5; int64 holds through the x64 smoke corpus, and
    beyond that the rescale constant drops a digit (documented, not
    silent)."""
    import math

    # The Gram matrix is d x d = bounded MODEL STATE (64 x 64 here,
    # corpus-size-free by construction): collect its upper triangle
    # ONCE and run the three integer matvec+rescale iterations
    # driver-side (r15 optimization, guide §1.2) — exactly the
    # local-eigenwork-over-collected-Gram pattern MLlib's RowMatrix
    # PCA uses. The round-7 form kept each matvec distributed: per
    # iteration a createDataFrame round-trip + broadcast join +
    # aggregate + collect over a 4096-row relation — three jobs of
    # pure scheduling overhead moving model-sized data. Integer sums
    # are order-independent, so the Python big-int matvec is
    # bit-identical to the oracle's CAST(sum(g*v) AS BIGINT); the
    # rescale below replays the oracle's double-rounded floor
    # division unchanged.
    gup_rows = embeddings_gram_matrix(spark, sf_dir).collect()
    if not gup_rows:
        # Empty corpus: the oracle's gsym/y/x CTE chain is empty and
        # its final SELECT yields zero rows — match the declared
        # schema (the round-7 distributed form raised here).
        return spark.createDataFrame([], "dim long, component_q long")
    g: dict[int, list[tuple[int, int]]] = {i: [] for i in range(_GRAM_DIM)}
    for r in gup_rows:
        i, j, v = int(r.i), int(r.j), int(r.gram_q)
        g[i].append((j, v))
        if i != j:
            g[j].append((i, v))
    x = {i: _POWER_SCALE for i in range(_GRAM_DIM)}
    for _ in range(_POWER_ITERS):
        y = {
            i: sum(gv * x[j] for j, gv in cells)
            for i, cells in g.items()
        }
        d = max(abs(v) for v in y.values()) // _POWER_SCALE + 1
        # float(v) FIRST, then divide: the oracle computes
        # floor(CAST(y AS DOUBLE) / d), and once |y| > 2^53 Python's
        # exact big-int true division can floor differently from that
        # double-rounded path when the quotient sits within ~1e-11 of
        # an integer. Casting first replays the oracle's rounding
        # order exactly at any magnitude.
        x = {i: math.floor(float(v) / d) for i, v in y.items()}
    return spark.createDataFrame(
        sorted(x.items()), "dim long, component_q long"
    ).orderBy("dim")


def _pc1_projection_oracle() -> str:
    """Power-iteration CTE chain + one more matvec: every quantized
    vector dotted with the converged eigenvector."""
    return f"""
    WITH {_power_cte_chain()},
    vecs AS (
        SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * 10000, 0) AS BIGINT)) AS vq
        FROM embeddings
    )
    SELECT v.vec_id, v.label,
           CAST(sum(v.vq[x.i + 1] * x.v) AS BIGINT) AS projection_q
    FROM vecs v, x{_POWER_ITERS} x
    GROUP BY v.vec_id, v.label
    ORDER BY v.vec_id
"""


@register(
    "embeddings_pc1_projection",
    oracle=_pc1_projection_oracle(),
    tags=("embeddings", "pca", "projection", "scale"),
)
def embeddings_pc1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every embedding projected onto the corpus's first principal
    direction — the 1-D summary that feeds drift dashboards, outlier
    triage, and low-rank compression error estimates (score = x . u1
    with u1 from `embeddings_power_iteration`). Fourth member of the
    iterative-with-exact-oracle family: the eigenvector is k x 1
    model state (the established MLlib-style driver round-trip), and
    the projection itself is a per-row integer dot evaluated entirely
    in codegen — transform/zip_with/aggregate over the quantized
    array against the 64-term broadcast literal, NO shuffle, no
    Python. |score| <= 64 * 1e4 * ~1e5 ~ 6e10: int64-safe.

    The oracle replays the whole chain (Gram -> 3 matvec+rescale
    iterations -> final matvec) in chained CTEs, so the projection is
    certified end-to-end, not just against a claimed eigenvector."""
    comp_rows = (
        embeddings_power_iteration(spark, sf_dir).orderBy("dim").collect()
    )
    comp = F.array(
        *[F.lit(int(r.component_q)).cast("long") for r in comp_rows]
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT))"
    )
    score = F.aggregate(
        F.zip_with(vq, comp, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id", "label", score.alias("projection_q")
    ).orderBy("vec_id")


# --- kNN label vote ---------------------------------------------------

_KNN_QUERIES = 100  # vectors classified (vec_id < this)
_KNN_K = 10


def _knn_vote_oracle() -> str:
    return f"""
    WITH q AS (
        SELECT vec_id AS query_id, label AS true_label,
               embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < {_KNN_QUERIES}
    ),
    scored AS (
        SELECT query_id, true_label, e.label AS nlabel,
               list_cosine_similarity(qv, e.embedding::DOUBLE[]) AS cos,
               e.vec_id AS neighbor_id
        FROM q, embeddings e
        WHERE e.vec_id != query_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    ),
    votes AS (
        SELECT query_id, true_label, CAST(nlabel AS BIGINT) AS predicted_label,
               CAST(count(*) AS BIGINT) AS votes
        FROM ranked WHERE rank <= {_KNN_K}
        GROUP BY 1, 2, 3
    ),
    winner AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY votes DESC, predicted_label) AS vr
        FROM votes
    )
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           predicted_label, votes,
           CAST(CASE WHEN predicted_label = true_label THEN 1 ELSE 0 END
                AS BIGINT) AS correct
    FROM winner WHERE vr = 1
    ORDER BY query_id
"""


@register(
    "embeddings_knn_vote",
    oracle=_knn_vote_oracle(),
    tags=("embeddings", "knn", "classification", "scale"),
)
def embeddings_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification: each of the first
    100 (_KNN_QUERIES) vectors takes the modal label among its
    {_KNN_K} exact-cosine nearest neighbors (self excluded) — the
    label-propagation / auto-labeling readout a training-data
    pipeline runs to impute labels and audit annotation quality
    (correct=0 rows are the label-noise candidates).

    Composition over `similarity_topk_bruteforce`'s certified scale
    shape: broadcast query block, map-only scoring, WindowGroupLimit
    Partial keeps k x partitions rows per query before the exchange.
    The vote itself is a k-row-per-query aggregate + a second
    rank-1 window over <= k rows per query — noise next to the scan.
    Tie discipline: neighbors (cos DESC, neighbor_id ASC), votes
    (votes DESC, predicted_label ASC) — fully deterministic. At
    scale, swap the exact scorer for the LSH/IVF candidate tiers
    (`similarity_lsh_ann` / `similarity_ivf`); the vote is unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        _as_double("embedding").alias("nv"),
    ).withColumn("nn", norm("nv"))
    queries = (
        emb.filter(F.col("vec_id") < _KNN_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            _as_double("embedding").alias("qv"),
        )
        .withColumn("qn", norm("qv"))
    )
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "true_label", "nlabel", "neighbor_id",
            cosine_pre("qv", "nv", "qn", "nn").alias("cos"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    votes = (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= _KNN_K)
        .groupBy(
            "query_id",
            F.col("true_label").cast("long").alias("true_label"),
            F.col("nlabel").cast("long").alias("predicted_label"),
        )
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    wv = W.partitionBy("query_id").orderBy(
        F.col("votes").desc(), "predicted_label"
    )
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id", "true_label", "predicted_label", "votes",
            (F.col("predicted_label") == F.col("true_label"))
            .cast("long")
            .alias("correct"),
        )
        .orderBy("query_id")
    )


# --- int8 scalar quantization -----------------------------------------


def _int8_quantize_oracle() -> str:
    return """
    WITH comps AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding::DOUBLE[]) AS x
        FROM embeddings
    ),
    stats AS (
        SELECT dim, min(x) AS mn, max(x) AS mx FROM comps GROUP BY dim
    ),
    coded AS (
        SELECT c.vec_id, c.label, c.x, s.mn, s.mx,
               CASE WHEN s.mx = s.mn THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(((c.x - s.mn) * 254.0) / (s.mx - s.mn), 0)
                              AS BIGINT) - 127 END AS code
        FROM comps c JOIN stats s USING (dim)
    ),
    err AS (
        SELECT vec_id, label, code,
               CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
                    ELSE CAST(round(abs(x - (mn + (CAST(code + 127 AS DOUBLE)
                                              * (mx - mn)) / 254.0)) * 1e6, 0)
                              AS BIGINT) END AS err_q
        FROM coded
    )
    SELECT vec_id, CAST(label AS BIGINT) AS label,
           CAST(sum(code) AS BIGINT)  AS code_sum,
           min(code)                  AS code_min,
           max(code)                  AS code_max,
           CAST(sum(err_q) AS BIGINT) AS l1_err_q
    FROM err
    GROUP BY vec_id, label
    ORDER BY vec_id
"""


@register(
    "embeddings_int8_quantize",
    oracle=_int8_quantize_oracle(),
    tags=("embeddings", "quantization", "compression", "scale"),
)
def embeddings_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding corpus
    — the 4x vector-compression pass (float32 -> int8) an ANN index
    build runs before sharding, plus its reconstruction-error audit.
    Each dimension gets its own [min, max] range (per-dim affine is
    the standard scalar-quantization layout; PQ's codebooks live in
    `similarity_pq`), codes land in [-127, 127], and the readout per
    vector is the code checksum + the L1 reconstruction error.

    Cross-engine float discipline: the code is ONE rounded affine
    expression evaluated in identical operation order on both sides;
    the L1 error quantizes each |x - dequant(code)| term at 1e6
    BEFORE summing (the quantized-ln idiom), so the per-vector sums
    are exact integer arithmetic.

    Scale shape: per-dim stats are one map-side-combinable aggregate
    over the component explode (dim cardinality rows out — 64);
    the stats broadcast back into a map-only coding pass; the
    per-vector readout re-keys on vec_id once. At 100 TB the explode
    never shuffles corpus bytes — only (dim, partial-min/max) pairs
    and the final per-vector rows move."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.posexplode(_as_double("embedding")).alias("dim", "x"),
    )
    stats = comps.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    # Degenerate (constant) dimensions pin to code 0 / zero error —
    # without the guard the affine divides by zero (NaN codes), and a
    # 100 TB corpus WILL contain dead dimensions.
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long")).otherwise(
        F.round(
            ((F.col("x") - F.col("mn")) * F.lit(254.0))
            / (F.col("mx") - F.col("mn")),
            0,
        ).cast("long")
        - 127
    )
    coded = comps.join(F.broadcast(stats), "dim").select(
        "vec_id", "label", "x", "mn", "mx", code.alias("code")
    )
    dequant = F.col("mn") + (
        (F.col("code") + F.lit(127)).cast("double") * (F.col("mx") - F.col("mn"))
    ) / F.lit(254.0)
    err_q = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("long")).otherwise(
        F.round(F.abs(F.col("x") - dequant) * F.lit(1e6), 0).cast("long")
    )
    return (
        coded.withColumn("err_q", err_q)
        .groupBy("vec_id", "label")
        .agg(
            F.sum("code").alias("code_sum"),
            F.min("code").alias("code_min"),
            F.max("code").alias("code_max"),
            F.sum("err_q").alias("l1_err_q"),
        )
        .orderBy("vec_id")
    )


# --- ANN recall report ------------------------------------------------


def _recall_oracle(approx_cte: str) -> str:
    """Oracle template for the per-query recall@k gates: chain the
    brute-force replay CTE with the given approximate tier's replay
    CTE and compute hits/k per query. One template, four gates — the
    recall arithmetic cannot drift between tiers (ADVICE r13)."""
    return f"""
    WITH exact AS ({_BRUTE_ORACLE}),
    approx AS ({approx_cte})
    SELECT e.query_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST({_TOP_K} AS BIGINT)             AS k,
           round(count(a.neighbor_id) * 1.0 / {_TOP_K}, 4) AS recall_at_k
    FROM exact e
    LEFT JOIN approx a
      ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


def _recall_against_bruteforce(spark: SparkSession, sf_dir: str, approx_fn) -> DataFrame:
    """Shared Spark-side recall@k arithmetic for the ANN quality
    gates: join the given approximate tier's top-k against the exact
    brute-force top-k and roll up per-query hits (ADVICE r13 — the
    four gates previously carried four copies of this body). Scale
    shape: both inputs are query-set-sized (N_QUERIES x k rows); the
    join and rollup are model-sized — the corpus passes live in the
    composed tiers."""
    exact = similarity_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = approx_fn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    return (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("an").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.lit(_TOP_K).cast("long").alias("k"),
            F.round(F.col("n_hits") / F.lit(_TOP_K), 4).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


@register(
    "similarity_ivf_recall",
    oracle=_recall_oracle(_IVF_ORACLE),
    tags=("similarity", "ann", "recall", "evaluation"),
)
def similarity_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 (k=_TOP_K) of the IVF index against the
    exact brute-force ranking — the ANN quality gate AS A QUERY: every
    index deployment needs this readout on a held-out query set before
    the exact path is turned off, and at 100 TB it runs exactly like
    this (brute force over the held-out queries only — a broadcast
    map-only pass — never corpus x corpus). Composes the two
    certified tiers (`similarity_topk_bruteforce`, `similarity_ivf`);
    the oracle chains both replay CTEs and joins them, so the recall
    arithmetic is certified end-to-end, not against claimed
    neighbor sets. The pytest recall gates assert a floor; this query
    exposes the actual per-query number (probe-miss queries surface
    as recall < 1 rows worth inspecting)."""
    return _recall_against_bruteforce(spark, sf_dir, similarity_ivf)


@register(
    "similarity_lsh_recall",
    oracle=_recall_oracle(_lsh_oracle()),
    tags=("similarity", "ann", "lsh", "recall", "evaluation"),
)
def similarity_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 (k=_TOP_K) of the multi-probe LSH index
    against the exact brute-force ranking — completes the evaluation-
    follows-model discipline for the LSH tier (round 12; the IVF tier
    got its gate in round 8): `similarity_ivf_recall` covers the
    coarse-quantizer index, this covers the hyperplane-bucket index,
    so BOTH deployed ANN paths carry a per-query quality readout
    rather than only the pytest floor assertion. Same composition-of-
    certified-tiers shape: the oracle chains the brute-force and LSH
    replay CTEs, so the recall arithmetic is certified end-to-end
    against derived neighbor sets, not claimed ones."""
    return _recall_against_bruteforce(spark, sf_dir, similarity_lsh_ann)


@register(
    "similarity_pq_recall",
    oracle=_recall_oracle(_PQ_ORACLE),
    tags=("similarity", "ann", "pq", "recall", "evaluation"),
)
def similarity_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 (k=_TOP_K) of the RAW product-quantization
    ranking against the exact brute-force top-k — round 13 completes
    the evaluation-follows-model discipline across the whole ANN
    ladder (IVF got its gate in r8, LSH in r12; PQ and IVF-PQ close
    the set). This readout is EXPECTED to sit well below the
    candidate-pruning tiers' recall: K=16 codes per subspace cannot
    separate same-cluster members (see `similarity_pq`'s docstring),
    which is precisely why the production read path is
    scan-then-rerank — the number this query reports is the
    quantified argument for that rerank stage, per query, not a bug.
    Same composition-of-certified-tiers shape as its siblings: the
    oracle chains the brute-force and PQ replay CTEs, so the recall
    arithmetic is certified end-to-end."""
    return _recall_against_bruteforce(spark, sf_dir, similarity_pq)


@register(
    "similarity_ivfpq_recall",
    oracle=_recall_oracle(_IVF_PQ_ORACLE),
    tags=("similarity", "ann", "ivf", "pq", "recall", "evaluation"),
)
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 (k=_TOP_K) of the IVF-PQ composition
    against the exact brute-force top-k — the quality readout for the
    tier a billion-scale deployment actually runs
    (`similarity_ivf_pq`). IVF-PQ stacks BOTH error sources (nprobe
    list misses x code quantization), so reading this row next to
    `similarity_ivf_recall` and `similarity_pq_recall` decomposes a
    recall drop into its cause: a query low here but high in the IVF
    row lost its neighbors to quantization (raise the rerank depth);
    low in both means the probe missed the list (raise nprobe). Same
    certified composition shape and model-sized arithmetic as its
    three siblings."""
    return _recall_against_bruteforce(spark, sf_dir, similarity_ivf_pq)



# --- split-half centroid drift ----------------------------------------


@register(
    "embeddings_centroid_drift",
    oracle="""
    WITH comps AS (
        SELECT vec_id, label, vec_id % 2 AS half,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(round(unnest(embedding::DOUBLE[]) * 1e4, 0) AS BIGINT) AS xq
        FROM embeddings
    ),
    cent AS (
        SELECT label, half, dim,
               CAST(floor(CAST(sum(xq) AS DOUBLE) / count(*)) AS BIGINT) AS cq,
               CAST(count(*) AS BIGINT) AS n
        FROM comps GROUP BY 1, 2, 3
    ),
    sizes AS (
        SELECT label,
               max(CASE WHEN half = 0 THEN n END) AS n_even,
               max(CASE WHEN half = 1 THEN n END) AS n_odd
        FROM (SELECT DISTINCT label, half, n FROM cent)
        GROUP BY label
    ),
    diffs AS (
        SELECT a.label,
               CAST(sum((a.cq - b.cq) * (a.cq - b.cq)) AS BIGINT) AS dist_sq_q
        FROM cent a JOIN cent b
          ON a.label = b.label AND a.dim = b.dim
         AND a.half = 0 AND b.half = 1
        GROUP BY a.label
    )
    SELECT d.label AS label, s.n_even, s.n_odd, d.dist_sq_q,
           round(sqrt(CAST(d.dist_sq_q AS DOUBLE)) / 1e4, 4) AS drift_l2
    FROM diffs d JOIN sizes s USING (label)
    ORDER BY label
    """,
    tags=("embeddings", "drift", "evaluation", "scale"),
)
def embeddings_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the two deterministic halves
    of the corpus (even vs odd vec_id — the append-stable split
    discipline of the sampling family): the embedding-space analog of
    `maintenance_drift_psi`. A healthy ingest shows near-zero
    split-half drift per label; a label whose halves disagree signals
    a mid-corpus distribution break (encoder version change, source
    mix shift) BEFORE it poisons training. Columns: split sizes, the
    exact integer squared distance between half-centroids, and the
    L2 drift de-quantized for reading.

    Float discipline: components quantize at 1e4 (the Lloyd scale),
    half-centroids are the floor-of-mean on identically-ordered
    double division (the `lloyd_centroids` update rule), so dist_sq_q
    is exact int64; one sqrt+division for display.

    Scale shape: ONE map-side-combinable aggregate over the component
    explode keyed (label, half, dim) — labels x 2 x 64 rows out of a
    corpus-sized pass — then arithmetic on the tiny centroid
    relation. int64 headroom: |cq| <= 1e4 x |x|max; dist_sq <= 64 x
    (2e4)^2 x (drift range) — bounded far under 2^63."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        F.col("label").cast("long").alias("label"),
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e4, 0) AS BIGINT))"
            )
        ).alias("dim", "xq"),
    )
    cent = comps.groupBy("label", "half", "dim").agg(
        F.floor(F.sum("xq").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("cq"),
        F.count(F.lit(1)).alias("n"),
    )
    sizes = (
        cent.select("label", "half", "n")
        .distinct()
        .groupBy("label")
        .agg(
            F.max(F.when(F.col("half") == 0, F.col("n"))).alias("n_even"),
            F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n_odd"),
        )
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("cq").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("dim").alias("db"), F.col("cq").alias("cb")
    )
    diffs = (
        a.join(b, (a.label == b.lb) & (a.dim == b.db))
        .groupBy("label")
        .agg(
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .alias("dist_sq_q")
        )
    )
    return (
        diffs.join(F.broadcast(sizes), "label")
        .select(
            "label",
            "n_even",
            "n_odd",
            "dist_sq_q",
            F.round(
                F.sqrt(F.col("dist_sq_q").cast("double")) / F.lit(1e4), 4
            ).alias("drift_l2"),
        )
        .orderBy("label")
    )


# --- norm-outlier audit -----------------------------------------------


@register(
    "embeddings_norm_outliers",
    oracle="""
    WITH comps AS (
        SELECT vec_id, label,
               CAST(round(unnest(embedding::DOUBLE[]) * 1e2, 0) AS BIGINT) AS xq
        FROM embeddings
    ),
    norms AS (
        SELECT vec_id, label, CAST(sum(xq * xq) AS BIGINT) AS norm2_q
        FROM comps GROUP BY vec_id, label
    ),
    stats AS (
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(norm2_q) AS BIGINT) AS s1,
               CAST(sum(norm2_q * norm2_q) AS BIGINT) AS s2
        FROM norms GROUP BY label
    )
    SELECT s.label AS label, s.n,
           round(CAST(s.s1 AS DOUBLE) / s.n / 1e4, 4) AS mean_norm2,
           CAST(sum(CASE WHEN
                 (norm2_q - CAST(s.s1 AS DOUBLE) / s.n)
               * (norm2_q - CAST(s.s1 AS DOUBLE) / s.n)
               * CAST(s.n AS DOUBLE) * s.n
               > 9.0 * (CAST(s.n AS DOUBLE) * s.s2 - CAST(s.s1 AS DOUBLE) * s.s1)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM norms v JOIN stats s USING (label)
    GROUP BY s.label, s.n, s.s1, s.s2
    ORDER BY label
    """,
    tags=("embeddings", "quality", "outliers", "evaluation"),
)
def embeddings_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-norm health check: count of vectors whose
    squared norm sits more than 3 standard deviations from the
    label's mean — the degenerate-embedding detector (all-zero
    vectors from failed encodes, exploded norms from numeric bugs)
    run before any cosine-based stage trusts the corpus; a label
    with outliers is re-encoded, not indexed. Member of the
    evaluation/audit family.

    Exactness discipline: norm2_q = Σ xq² on 1e2-quantized
    components is exact int64 per vector (≤ 64 x 4e4); the label
    moments n, Σy, Σy² are exact int64 (Σy² ≤ 1.3e13 x rows — safe
    to ~7e5 rows per label at this quantization); the 3σ test is
    evaluated as (y−mean)²·n² > 9·(n·Σy²−(Σy)²) with both sides
    derived from those integers through token-identical double
    expressions — no sqrt, no per-row epsilon.

    Scale shape: one component-explode aggregate to per-vector
    norms (map-side combinable — a vector's components stay in one
    partition), one label-keyed moment aggregate, then a broadcast
    join back for the flag count. Labels x 1 row out."""
    emb = load_table(spark, sf_dir, "embeddings")
    comps = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        F.explode(
            F.expr(
                "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1e2, 0) AS BIGINT))"
            )
        ).alias("xq"),
    )
    norms = comps.groupBy("vec_id", "label").agg(
        F.sum(F.col("xq") * F.col("xq")).alias("norm2_q")
    )
    stats = norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("norm2_q").alias("s1"),
        F.sum(F.col("norm2_q") * F.col("norm2_q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    dev = F.col("norm2_q") - mean
    lhs = dev * dev * F.col("n").cast("double") * F.col("n")
    rhs = F.lit(9.0) * (
        F.col("n").cast("double") * F.col("s2")
        - F.col("s1").cast("double") * F.col("s1")
    )
    return (
        norms.join(F.broadcast(stats), "label")
        .groupBy("label", "n", "s1", "s2")
        .agg(F.sum(F.when(lhs > rhs, 1).otherwise(0)).cast("long").alias("n_outliers"))
        .select(
            "label",
            "n",
            F.round(F.col("s1").cast("double") / F.col("n") / F.lit(1e4), 4).alias(
                "mean_norm2"
            ),
            "n_outliers",
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (dimensionality reduction)

_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_signs() -> list[list[int]]:
    """Deterministic +-1 projection matrix: sign of output-dim j,
    input-dim i is +1 iff the first hex char of md5("j:i") is < '8'
    (the digest's high bit) — a public, engine-independent coin flip
    both sides can rebuild. Achlioptas (2003) shows +-1 entries
    satisfy the JL lemma exactly like Gaussians."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0] < "8" else -1
            for i in range(_JL_IN_DIM)
        ]
        for j in range(_JL_OUT_DIM)
    ]


def _jl_oracle() -> str:
    signs = _jl_signs()
    y_terms = [
        "0 "
        + " ".join(
            ("+" if s > 0 else "-") + f" vq[{i + 1}]"
            for i, s in enumerate(row)
        )
        for row in signs
    ]
    y_cols = ",\n           ".join(
        f"({y_terms[j]}) AS y{j}" for j in range(_JL_OUT_DIM)
    )
    proj_sq = " + ".join(f"y{j}*y{j}" for j in range(_JL_OUT_DIM))
    sig = ", ".join(f"y{j}" for j in range(_JL_OUT_DIM))
    return f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(x * 4096) AS BIGINT)) AS vq
        FROM embeddings
    ),
    proj AS (
        SELECT vec_id,
               list_sum(list_transform(vq, v -> v * v)) AS orig_sq,
               {y_cols}
        FROM q
    )
    SELECT vec_id,
           CAST(orig_sq AS BIGINT) AS orig_sq,
           CAST({proj_sq} AS BIGINT) AS proj_sq,
           round(({proj_sq}) * 1.0 / ({_JL_OUT_DIM} * orig_sq), 4)
               AS distortion,
           concat_ws(',', {sig}) AS proj_sig
    FROM proj
    """


@register(
    "embeddings_jl_projection",
    oracle=_jl_oracle(),
    tags=("embeddings", "projection", "scale"),
)
def embeddings_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 16 dims with a
    deterministic +-1 matrix (:func:`_jl_signs`) — the standard
    pre-step that makes downstream ANN / clustering pay 4x less per
    distance while preserving norms within the JL bound. Emits each
    vector's exact integer norm before and after, the distortion
    ratio ``proj_sq / (k * orig_sq)`` (expectation 1.0 under +-1
    projections), and the projected vector itself as an integer
    signature.

    Execution shape: pure per-row JVM arithmetic — components
    quantize to ``floor(x * 4096)`` BIGINTs (the LSH tier's exact
    power-of-two scaling) and each output dim is a static +-sum of
    the 64 inputs, fully inside whole-stage codegen: no shuffle, no
    UDF, no state. At 100 TB this is a map-only pass you pipeline in
    front of the ANN index build; the matrix ships as code (a seed),
    never as data. Oracle: DuckDB rebuilds the same +-1 sums from the
    same md5 coin flips and the driver hash-compares every signature."""
    emb = load_table(spark, sf_dir, "embeddings")
    signs = _jl_signs()
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 4096) AS BIGINT))"
        ).alias("vq"),
    )
    y_exprs = [
        (
            "0 "
            + " ".join(
                ("+" if s > 0 else "-") + f" element_at(vq, {i + 1})"
                for i, s in enumerate(row)
            )
        )
        for row in signs
    ]
    proj = q.select(
        "vec_id",
        F.expr("aggregate(vq, 0L, (a, v) -> a + v * v)").alias("orig_sq"),
        *[F.expr(e).cast("long").alias(f"y{j}") for j, e in enumerate(y_exprs)],
    )
    proj_sq = sum(F.col(f"y{j}") * F.col(f"y{j}") for j in range(_JL_OUT_DIM))
    return proj.select(
        "vec_id",
        "orig_sq",
        proj_sq.cast("long").alias("proj_sq"),
        F.round(
            proj_sq / (F.lit(float(_JL_OUT_DIM)) * F.col("orig_sq")), 4
        ).alias("distortion"),
        F.concat_ws(",", *[F.col(f"y{j}") for j in range(_JL_OUT_DIM)]).alias(
            "proj_sig"
        ),
    )


_MATRYOSHKA_LEVELS = (8, 16, 32, 64)


@register(
    "embeddings_matryoshka_energy",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(x * 4096) AS BIGINT)) AS vq
        FROM embeddings
    ),
    levels AS (SELECT unnest([{", ".join(map(str, _MATRYOSHKA_LEVELS))}]) AS lvl),
    ratios AS (
        SELECT l.lvl,
               list_sum(list_transform(vq[1:l.lvl], v -> v * v)) * 1.0
                   / list_sum(list_transform(vq, v -> v * v)) AS energy
        FROM q, levels l
    )
    SELECT CAST(lvl AS BIGINT) AS level,
           round(avg(energy), 4) AS avg_energy,
           round(min(energy), 4) AS min_energy,
           CAST(count(*) FILTER (WHERE energy >= 0.9) AS BIGINT)
               AS n_above_90pct
    FROM ratios
    GROUP BY lvl
    ORDER BY level
    """,
    tags=("embeddings", "truncation", "scale"),
)
def embeddings_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-truncation energy curve (the Matryoshka question): what
    fraction of each vector's squared norm survives truncating 64
    dims to the first 8/16/32 — the measurement that decides whether
    a cheap prefix index (4x less memory and bandwidth per distance)
    can serve first-stage retrieval with full-dim re-rank, the same
    coarse->fine split the IVF-PQ tier makes. Emits per level the
    mean and worst-case retained energy plus how many vectors keep
    >= 90 %.

    Shape: components quantize to ``floor(x * 4096)`` BIGINTs (exact
    on doubles), prefix and total squared norms are per-row integer
    sums via ``slice``/``aggregate`` inside codegen, the 4 levels fan
    out from ONE scan, and a 4-group aggregate finishes — map-only
    until the final tiny shuffle. The fixture's embeddings carry no
    trained dimension ordering, so the curve ~tracks dim fraction
    (8/64 = 0.125...); a Matryoshka-trained model would bow it upward
    — the query is the measuring stick, not the claim."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(floor(x * 4096) AS BIGINT))"
        ).alias("vq"),
    )
    levels = spark.range(len(_MATRYOSHKA_LEVELS)).select(
        F.element_at(
            F.array(*[F.lit(c) for c in _MATRYOSHKA_LEVELS]),
            (F.col("id") + 1).cast("int"),
        ).alias("level")
    )
    ratios = q.crossJoin(F.broadcast(levels)).select(
        "level",
        (
            F.expr("aggregate(slice(vq, 1, level), 0L, (a, v) -> a + v * v)")
            / F.expr("aggregate(vq, 0L, (a, v) -> a + v * v)")
        ).alias("energy"),
    )
    return (
        ratios.groupBy(F.col("level").cast("long").alias("level"))
        .agg(
            F.round(F.avg("energy"), 4).alias("avg_energy"),
            F.round(F.min("energy"), 4).alias("min_energy"),
            F.sum(F.when(F.col("energy") >= 0.9, 1).otherwise(0)).alias(
                "n_above_90pct"
            ),
        )
        .orderBy("level")
    )


# ---------------------------------------------------------------------------
# Round 9: sampled pairwise-cosine histogram — the threshold-calibration
# readout for every cosine-gated op above (dedup_embedding_cosine,
# similarity_pairs_above_threshold, the LSH/IVF recall targets): you
# cannot pick a sane gate without seeing the background similarity
# distribution first.

_COS_HIST_OFFSETS = 8


@register(
    "embeddings_cosine_histogram",
    oracle=f"""
    WITH offs AS (SELECT unnest(range(1, {_COS_HIST_OFFSETS + 1})) AS k),
    pairs AS (
        SELECT list_cosine_similarity(a.embedding::DOUBLE[],
                                      b.embedding::DOUBLE[]) AS cos
        FROM embeddings a
        JOIN offs ON true
        JOIN embeddings b ON b.vec_id = a.vec_id + offs.k
    ),
    h AS (
        SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
    )
    SELECT bucket, n_pairs,
           round(n_pairs * 1.0 / (SELECT sum(n_pairs) FROM h), 4) AS share
    FROM h ORDER BY bucket
    """,
    tags=("embeddings", "similarity", "calibration", "scale"),
)
def embeddings_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Background cosine-similarity distribution from a deterministic
    LINEAR pair sample: each vector is paired with the next
    {offsets} vec_ids (an offset-banded design — 8|V| pairs, never
    the |V|^2 all-pairs space), cosines are bucketed at 0.1 width,
    and the histogram + share per bucket is the calibration curve a
    pipeline reads before choosing any cosine gate (dedup threshold,
    ANN ground-truth cut, outlier fence).

    Why offset pairing and not random sampling: vec_id adjacency is
    unrelated to embedding content (fixture and real pipelines both
    assign ids by ingest order, not by geometry), so consecutive-id
    pairs are as exchangeable as random ones — but the sample is
    reproducible across engines with no RNG, and the join is a pure
    equi-join on vec_id + k (broadcastable offsets, no shuffle beyond
    the join itself).

    Bucket-edge float stance: Spark's fold-order dot and DuckDB's
    list_cosine_similarity can differ in the last ulps; a pair lands
    on a 0.1 bucket edge within that margin with probability ~1e-7
    per corpus — the same margin argument the threshold-gated
    similarity queries already document."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    offs = spark.range(1, _COS_HIST_OFFSETS + 1).select(F.col("id").alias("k"))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va")).crossJoin(
        F.broadcast(offs)
    )
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + F.col("k")).select(
        cosine("va", "vb").alias("cos")
    )
    h = pairs.groupBy(
        F.floor(F.col("cos") * 10).cast("long").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))
    tot = F.broadcast(h.agg(F.sum("n_pairs").alias("tot")))
    return (
        h.crossJoin(tot)
        .select(
            "bucket",
            "n_pairs",
            F.round(F.col("n_pairs") / F.col("tot"), 4).alias("share"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Round 10: SemDeDup — semantic deduplication via embedding clusters
# (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
# through semantic deduplication"): the pair space is bounded PER
# CLUSTER, which is the entire trick — all-pairs cosine over the
# corpus is O(n^2), but within k-means clusters it is
# sum(|cluster|^2) ~ n^2/K, and clusters are where the semantic
# near-dups live by construction.

_SEMDEDUP_TAU = 0.35


def _semdedup_cluster_score():
    """Per-cluster Arrow GEMM keeper-argmax (r16, guide §4.2/§8): one
    ``applyInPandas`` pass receives a whole cluster's (vec_id,
    cent_id, v) rows — LINEAR bytes, keys + one vector per row — and
    resolves every member's keeper decision with a blocked
    ``V @ V.T`` instead of materializing the sum(|cluster|^2)
    ~1 KB-wide pair rows the r15 form shuffled (32M rows at x16). For
    each vector j (ids ascending) the keeper is the argmax-cosine
    neighbor among i < j with cos >= tau, ties to the LOWEST id:
    ``np.argmax`` returns the first maximal index over ascending ids,
    which is exactly ``max_by(keeper_cand, struct(cos, -keeper_cand))``.

    Float stance: the BLAS dot and einsum norms reorder the 64-term
    double sums relative to the old HOF fold (and DuckDB's
    list_cosine_similarity fold). All three agree to ~1e-15 relative;
    the decisions this query declares are gated by margins measured
    vastly wider (fixture audit, tests/test_pipeline.py
    test_semdedup_margins_dominate_gemm_reorder): min |cos - tau|
    ~1e-2, min keeper-argmax gap and min distance of any kept cosine
    to a round-to-3-decimals edge both > 1e-6 — nine-plus orders
    beyond the reorder drift, the triangle-tier argument."""
    import numpy as np
    import pandas as pd

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        m = len(ids)
        keeper = np.full(m, -1, dtype=np.int64)
        kcos = np.full(m, 0.0, dtype=np.float64)
        if m > 1:
            V = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["v"]])
            n = np.sqrt(np.einsum("ij,ij->i", V, V))
            # Block rows so the (block x m) cosine slab stays ~32 MB
            # regardless of cluster size (guide §5).
            blk = max(1, int(32e6 // (8 * m)))
            col = np.arange(m)[None, :]
            for s in range(1, m, blk):
                e = min(s + blk, m)
                C = (V[s:e] @ V.T) / (n[s:e, None] * n[None, :])
                valid = (col < np.arange(s, e)[:, None]) & (C >= _SEMDEDUP_TAU)
                Cm = np.where(valid, C, -np.inf)
                best = Cm.argmax(axis=1)
                bestv = Cm[np.arange(e - s), best]
                has = np.isfinite(bestv)
                keeper[s:e][has] = ids[best[has]]
                kcos[s:e][has] = bestv[has]
        has_k = keeper >= 0
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cent_id": pdf["cent_id"].to_numpy(dtype=np.int64),
                "keeper_id": pd.array(
                    [int(k) if h else None for k, h in zip(keeper, has_k)],
                    dtype="Int64",
                ),
                "keeper_cos": pd.array(
                    [float(c) if h else None for c, h in zip(kcos, has_k)],
                    dtype="Float64",
                ),
            }
        )

    return score


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH corpus AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, v AS cv FROM corpus WHERE vec_id < {_IVF_K}),
    assign AS (
        SELECT vec_id, v, cent_id FROM (
            SELECT c.vec_id, c.v, ct.cent_id,
                   row_number() OVER (
                       PARTITION BY c.vec_id
                       ORDER BY list_cosine_similarity(c.v, ct.cv) DESC, ct.cent_id
                   ) AS rn
            FROM corpus c CROSS JOIN cent ct
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT b.vec_id, a.vec_id AS keeper_cand,
               list_cosine_similarity(a.v, b.v) AS cos
        FROM assign a JOIN assign b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= {_SEMDEDUP_TAU}
    ),
    keeper AS (
        SELECT vec_id, keeper_cand, cos,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, keeper_cand) AS rn
        FROM pairs
    )
    SELECT s.vec_id, s.cent_id,
           CASE WHEN k.keeper_cand IS NULL THEN 'keep' ELSE 'drop' END AS status,
           k.keeper_cand AS keeper_id,
           round(k.cos, 3) AS keeper_cos
    FROM assign s
    LEFT JOIN (SELECT * FROM keeper WHERE rn = 1) k USING (vec_id)
    ORDER BY vec_id
    """,
    tags=("dedup", "embeddings", "semdedup", "scale"),
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embedding corpus: assign every vector to its
    nearest coarse centroid (the deterministic first-K seed set the
    IVF anchor uses, so the oracle replays assignment exactly), form
    cosine pairs WITHIN each cluster only, and mark every vector that
    has a same-cluster neighbor with cosine >= tau and a lower vec_id
    as a semantic duplicate of its highest-cosine such neighbor
    (min-id tie-break). Output is the full per-vector decision table
    — (vec_id, cluster, keep/drop, keeper, cosine-to-keeper) — the
    artifact a curation run joins back to documents, and never
    vacuous whatever the corpus looks like.

    tau = 0.35, not the paper's ~0.95: the synthetic embeddings are
    near-orthogonal (max pairwise cosine ~0.51, cosine-histogram
    query), so the production threshold would gate zero rows; 0.35
    sits in the distribution's top tail and exercises the same
    machinery (the threshold is the one tunable, the shape is the
    operator).

    Scale shape (r16, guide §4.2/§8): assignment is one map-only pass
    against broadcast centroids collapsed by a max_by hash aggregate
    (the _ivf_topk plan); the keeper decision then moves KEYS plus one
    vector per row — one shuffle of the corpus on cent_id into a
    per-cluster Arrow GEMM (``applyInPandas``) that scores and
    argmaxes in blocked BLAS without ever materializing the
    sum(|cluster|^2) pair rows the r15 form shuffled (~1 KB per pair,
    32M rows at x16 — the row's wall at every scale). At 100 TB, K
    scales with the corpus so |cluster| stays ~constant and the tier
    is linear; the blocked slab bounds per-task memory at any cluster
    size. In production the centroids come from lloyd_centroids
    (similarity_ivf_kmeans) — the seed set is used here for exact
    cross-engine assignment, the downstream shape is identical."""
    emb = _load_vectors(spark, sf_dir)
    cent_n = (
        emb.filter(F.col("vec_id") < _IVF_K)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
        .withColumn("cn", norm("cv"))
    )
    emb_n = emb.withColumn("vn", norm("v"))
    assign = (
        emb_n.crossJoin(F.broadcast(cent_n))
        .select(
            "vec_id", "v", "vn", "cent_id",
            cosine_pre("v", "cv", "vn", "cn").alias("ccos"),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cent_id", F.struct(F.col("ccos"), -F.col("cent_id"))
            ).alias("cent_id"),
            F.first("v").alias("v"),
        )
    )
    decided = assign.groupBy("cent_id").applyInPandas(
        _semdedup_cluster_score(),
        "vec_id long, cent_id long, keeper_id long, keeper_cos double",
    )
    return (
        decided.select(
            "vec_id",
            "cent_id",
            F.when(F.col("keeper_id").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("status"),
            "keeper_id",
            F.round("keeper_cos", 3).alias("keeper_cos"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# Round 10: k-center greedy coreset (Gonzalez farthest-point traversal)
# — prototype selection for data curation: pick k vectors such that
# every corpus vector is close to some chosen one (2-approximation to
# the optimal k-center cover). The coreset-selection counterpart to
# SemDeDup: that op REMOVES redundant vectors, this one KEEPS a
# maximally-spread skeleton (active-learning seed sets, eval-set
# prototypes, centroid inits that beat first-k).

_KCENTER_K = 8
_KC_Q = "1e4"  # same q4 component quantization as the Lloyd/PQ family


def _kcenter_oracle() -> str:
    """Unrolled greedy CTE chain: round r adds the argmax-of-min-dist
    point (ties to the lowest vec_id) against the centers chosen so
    far, in the same integer-quantized space as the Spark side."""
    dist = (
        "CAST(list_sum(list_transform(list_zip(p.qv, c.qc), "
        "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    steps = []
    for r in range(1, _KCENTER_K):
        steps.append(f"""
    mind{r} AS (
        SELECT p.vec_id, p.qv, min({dist}) AS dmin
        FROM qcorpus p CROSS JOIN cent{r - 1} c
        GROUP BY p.vec_id, p.qv
    ),
    pick{r} AS (
        SELECT vec_id, qv, dmin FROM mind{r}
        ORDER BY dmin DESC, vec_id LIMIT 1
    ),
    cent{r} AS MATERIALIZED (
        SELECT cent_id, qc, round, radius2 FROM cent{r - 1}
        UNION ALL
        SELECT vec_id AS cent_id, qv AS qc, {r} AS round, dmin AS radius2
        FROM pick{r}
    )""")
    chain = ",".join(steps)
    return f"""
    WITH qcorpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * {_KC_Q}, 0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cent0 AS MATERIALIZED (
        SELECT vec_id AS cent_id, qv AS qc, 0 AS round,
               CAST(0 AS BIGINT) AS radius2
        FROM qcorpus ORDER BY vec_id LIMIT 1
    ),{chain}
    SELECT c.round, c.cent_id, e.label, c.radius2
    FROM cent{_KCENTER_K - 1} c JOIN embeddings e ON e.vec_id = c.cent_id
    ORDER BY c.round
    """


@register(
    "embeddings_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("embeddings", "coreset", "iterative", "scale"),
)
def embeddings_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embedding corpus: seed with
    the lowest vec_id, then repeatedly add the point FARTHEST from its
    nearest chosen center (squared-L2 argmax-of-min, ties to the
    lowest vec_id). The emitted ``radius2`` column is the covering
    radius at each selection — the diminishing-returns curve that
    tells a curation pipeline how many prototypes the corpus actually
    needs before coverage flattens.

    Cross-engine exactness: components quantize to round(x * 1e4)
    BIGINT (the Lloyd/PQ convention), so every distance is exact
    int64 arithmetic and the greedy trajectory — argmax ties
    included — is bit-identical to the oracle's unrolled CTE chain.

    Scale shape: each of the k rounds is ONE TakeOrderedAndProject
    top-1 over the persisted (vec_id, qv, dmin) running-minimum
    relation, which folds the single new center (a literal array in a
    constant-size codegen `least` — no join, no shuffle) after every
    pick; model state returning to the driver is k x dim integers,
    the same aggregated-model round-trip as `lloyd_centroids` /
    `embeddings_power_iteration`. Total distance work is
    O(k * corpus) with each row meeting each center exactly once; at
    100 TB run the traversal on a deterministic hash sample the way
    Lloyd does, keeping the selection structure unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    qcorpus = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {_KC_Q}, 0) AS BIGINT))"
        ).alias("qv"),
    )

    def d2_to(qc: list) -> "F.Column":
        arr = "array(" + ",".join(f"{int(v)}L" for v in qc) + ")"
        return F.expr(
            f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)), "
            f"0L, (acc, x) -> acc + x)"
        )

    seeds = qcorpus.orderBy("vec_id").limit(1).collect()
    if not seeds:
        # Empty embeddings table: the oracle's seed CTE is empty so it
        # returns zero rows — return the declared schema, don't raise.
        return spark.createDataFrame(
            [], "round int, cent_id long, label int, radius2 long"
        )
    seed = seeds[0]
    chosen = [(0, int(seed.vec_id), [int(q) for q in seed.qv], 0)]
    # Persisted incremental running-minimum relation (r15, guide
    # §1.2/§2.4, same rewrite as similarity_kmeans_parallel_init):
    # the round-10 form re-derived d2-to-ALL-chosen-centers from
    # parquet every round, so round 7 recomputed 7 center distances
    # per row; min over a union is the min of mins, so folding only
    # the round's ONE new center into the cached dmin is int64-exact.
    # Each round is now one TakeOrderedAndProject job over the cached
    # narrow relation with O(1) new distance work per row, and the
    # per-round plan stays constant-size (one literal array) instead
    # of a growing least() chain re-planned and re-codegen'd each
    # round. Intermediates are unpersisted before returning.
    to_free = []
    cur = qcorpus.select(
        "vec_id", "qv", d2_to(list(seed.qv)).alias("dmin")
    ).persist()
    to_free.append(cur)
    for r in range(1, _KCENTER_K):
        far = (
            cur.orderBy(F.desc("dmin"), "vec_id")
            .limit(1)
            .collect()[0]
        )
        # The collect materialized ``cur``, so every predecessor
        # generation's cache is now dead weight — unpersist eagerly
        # (r16, guide §5 / ADVICE r15): at most one cached corpus
        # projection lives at a time instead of O(rounds) of them.
        while len(to_free) > 1:
            to_free.pop(0).unpersist()
        chosen.append((r, int(far.vec_id), [int(q) for q in far.qv], int(far.dmin)))
        if r < _KCENTER_K - 1:
            cur = cur.select(
                "vec_id",
                "qv",
                F.least(F.col("dmin"), d2_to(list(far.qv))).alias("dmin"),
            ).persist()
            to_free.append(cur)
    for df_ in to_free:
        df_.unpersist()

    sel = spark.createDataFrame(
        [(r, cid, rad) for r, cid, _, rad in chosen],
        "round int, cent_id long, radius2 long",
    )
    return (
        F.broadcast(sel)
        .join(emb.select(F.col("vec_id").alias("cent_id"), "label"), "cent_id")
        .select("round", "cent_id", "label", "radius2")
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# Round 10: deterministic k-means|| oversampling init (Bahmani et al.,
# VLDB 2012) — the scalable k-means++ replacement. MLlib's own
# implementation is rand()-seeded and therefore SQL-irreproducible
# (the reason `lloyd_centroids` seeds with first-k); replacing the
# random draws with the repo's md5-coin / hex-threshold idiom makes
# the ENTIRE init — potentials, oversampling draws, final weights —
# an exact cross-engine computation.

_KMPP_ROUNDS = 3
_KMPP_L = 8  # oversampling factor per round (the paper's l)


def _kmpp_oracle() -> str:
    dist = (
        "CAST(list_sum(list_transform(list_zip(p.qv, c.qc), "
        "z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    steps = []
    for r in range(1, _KMPP_ROUNDS + 1):
        steps.append(f"""
    dmin{r} AS (
        SELECT p.vec_id, p.qv, min({dist}) AS d2
        FROM qcorpus p CROSS JOIN cent{r - 1} c
        GROUP BY p.vec_id, p.qv
    ),
    phi{r} AS (SELECT CAST(sum(d2) AS BIGINT) AS phi FROM dmin{r}),
    cand{r} AS (
        SELECT d.vec_id, d.qv
        FROM dmin{r} d CROSS JOIN phi{r} t
        WHERE d.d2 > 0 AND t.phi > 0
          AND ({_KMPP_L} * d.d2 >= t.phi
               OR substr(md5('kmpp:{r}:' || CAST(d.vec_id AS VARCHAR)), 1, 8)
                  < lower(lpad(hex(LEAST(CAST(floor(
                        LEAST(1.0, CAST({_KMPP_L} * d.d2 AS DOUBLE)
                                   / CAST(t.phi AS DOUBLE))
                        * 4294967296.0) AS BIGINT), 4294967295)), 8, '0')))
    ),
    cent{r} AS MATERIALIZED (
        SELECT cent_id, qc, round FROM cent{r - 1}
        UNION ALL
        SELECT vec_id AS cent_id, qv AS qc, {r} AS round FROM cand{r}
    )""")
    chain = ",".join(steps)
    last = f"cent{_KMPP_ROUNDS}"
    return f"""
    WITH qcorpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * {_KC_Q}, 0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    cent0 AS MATERIALIZED (
        SELECT vec_id AS cent_id, qv AS qc, 0 AS round
        FROM qcorpus ORDER BY vec_id LIMIT 1
    ),{chain},
    assign AS (
        SELECT vec_id, cent_id FROM (
            SELECT p.vec_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY p.vec_id ORDER BY {dist}, c.cent_id
                   ) AS rn
            FROM qcorpus p CROSS JOIN {last} c
        ) WHERE rn = 1
    )
    SELECT c.cent_id, c.round AS round_added,
           COALESCE(a.n, 0) AS weight
    FROM {last} c LEFT JOIN (
        SELECT cent_id, CAST(count(*) AS BIGINT) AS n
        FROM assign GROUP BY cent_id
    ) a USING (cent_id)
    ORDER BY round_added, cent_id
    """


@register(
    "similarity_kmeans_parallel_init",
    oracle=_kmpp_oracle(),
    tags=("similarity", "kmeans", "iterative", "scale"),
)
def similarity_kmeans_parallel_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means|| initialization (Bahmani et al. 2012):
    seed with the lowest vec_id, then for each of 3 rounds draw every
    point independently with probability min(1, l * d2 / phi) — d2 its
    squared distance to the nearest chosen center, phi the summed
    potential — and add the draws to the center set; finally weight
    each center by the number of corpus points it is nearest to (the
    weights the down-stream weighted clustering consumes). The draw
    is the md5-coin / hex-threshold idiom (`sample_quality_weighted`'s
    trick applied per (round, vec_id)), and distances/potentials are
    exact int64 in the Lloyd 1e4-quantized space, so the whole init —
    draws included — is replayed bit-exactly by the DuckDB oracle.
    This closes the gap `lloyd_centroids` documents: MLlib's k-means||
    is rand()-seeded and SQL-irreproducible; this variant is the same
    algorithm with a reproducible coin.

    Scale shape per round: the persisted (vec_id, qv, dmin, aid)
    relation folds each round's NEW centers into the cached running
    (minimum, argmin) pair (codegen `least` over (d2, cent_id)
    structs — lexicographic, the exact min_by order; no join; min
    over a union is the min of mins, so the fold is int64-exact), one
    combinable sum over it produces phi, and the Bernoulli filter is
    a cached map-only scan; candidates returning to the driver are
    O(l) rows (expectation l per round, the paper's bound). The final
    weighting is one combinable count over the same cached argmin
    relation — k rows of model state — so each corpus row meets each
    center EXACTLY once in the whole query, with no separate
    assignment pass and no pairwise anything."""
    from rdbms_scala_spark.pipeline.sampling import _hex_threshold

    emb = load_table(spark, sf_dir, "embeddings")
    qcorpus = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {_KC_Q}, 0) AS BIGINT))"
        ).alias("qv"),
    )

    def d2_to(qc: list) -> "F.Column":
        arr = "array(" + ",".join(f"{int(v)}L" for v in qc) + ")"
        return F.expr(
            f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)), "
            f"0L, (acc, x) -> acc + x)"
        )

    seeds = qcorpus.orderBy("vec_id").limit(1).collect()
    if not seeds:
        # Empty embeddings table: the oracle's cent0 CTE is empty and
        # the final join yields zero rows — match the declared schema.
        return spark.createDataFrame(
            [], "cent_id long, round_added int, weight long"
        )
    seed = seeds[0]
    centers: list[tuple[int, list, int]] = [(int(seed.vec_id), list(seed.qv), 0)]
    # ``cur`` holds (vec_id, qv, dmin, aid) with dmin = min d2 over
    # every center chosen so far and aid = the argmin center id under
    # the (d2, cent_id) lexicographic order, PERSISTED and maintained
    # incrementally (r15 optimization + r16 argmin fold, guide §1.2
    # "the distributed algorithm" + §2.4): the round-10 form rebuilt
    # the d2-to-ALL-centers least() chain from parquet TWICE per
    # round; the r15 form cached the running minimum but still ran a
    # separate broadcast-crossJoin + min_by weighting pass recomputing
    # all 25 center distances per row at the end. Folding the argmin
    # IDENTITY through the same cached relation — least() over
    # (d2, cent_id) structs is the identical lexicographic min_by
    # order, int64-exact — makes the final weighting a single
    # map-side-combinable count over the cached relation: each corpus
    # row meets each center EXACTLY once in the whole query.
    # Predecessor generations are unpersisted as soon as the successor
    # materializes (guide §5 / ADVICE r15) so at most one cached copy
    # of the corpus projection is live at a time, and nothing cached
    # outlives the call.
    def m_fold(rows) -> "F.Column":
        parts = [
            F.struct(F.col("dmin").alias("d"), F.col("aid").alias("c"))
        ] + [
            F.struct(
                d2_to(list(row.qv)).alias("d"),
                F.lit(int(row.vec_id)).cast("long").alias("c"),
            )
            for row in rows
        ]
        return F.least(*parts)

    to_free = []
    cur = qcorpus.select(
        "vec_id",
        "qv",
        d2_to(list(seed.qv)).alias("dmin"),
        F.lit(int(seed.vec_id)).cast("long").alias("aid"),
    ).persist()
    to_free.append(cur)
    for r in range(1, _KMPP_ROUNDS + 1):
        phi = cur.agg(F.sum("dmin")).collect()[0][0]
        # ``cur`` is now materialized; predecessors are dead weight.
        while len(to_free) > 1:
            to_free.pop(0).unpersist()
        if not phi:
            break
        rate = F.least(
            F.lit(1.0),
            (F.lit(_KMPP_L) * F.col("dmin")).cast("double") / F.lit(float(phi)),
        )
        coin = F.substring(
            F.md5(F.concat(F.lit(f"kmpp:{r}:"), F.col("vec_id").cast("string"))),
            1,
            8,
        )
        # Saturated draws (l * d2 >= phi, i.e. min(1, .) == 1) are the
        # paper's guaranteed inclusions: short-circuit them with an
        # exact int64 compare so the 'ffffffff' one-in-2^32 coin gap in
        # _hex_threshold's cap can't exclude a probability-1 point
        # (the sample_domain_mixture pattern). Mirrored in the oracle.
        saturated = (F.lit(_KMPP_L) * F.col("dmin")) >= F.lit(int(phi))
        cands = (
            cur.filter(
                (F.col("dmin") > 0)
                & (saturated | (coin < _hex_threshold(rate)))
            )
            .select("vec_id", "qv")
            .collect()
        )
        new_rows = sorted(cands, key=lambda x: x.vec_id)
        for row in new_rows:
            centers.append((int(row.vec_id), list(row.qv), r))
        if new_rows:
            # Fold EVERY round's draws (the last round's included —
            # the weighting below reads the complete argmin). The
            # final generation receives exactly one action, so it is
            # left unpersisted and computes off the predecessor's
            # cache.
            m = m_fold(new_rows)
            cur = cur.select(
                "vec_id",
                "qv",
                m.getField("d").alias("dmin"),
                m.getField("c").alias("aid"),
            )
            if r < _KMPP_ROUNDS:
                cur = cur.persist()
                to_free.append(cur)
    # Final weighting (r16, guide §1.2): one combinable count over the
    # cached argmin relation — k rows of model state back to the
    # driver — replacing the r15 broadcast-crossJoin + min_by pass
    # that recomputed every center distance per row. (That pass was
    # itself the measured winner over a literal-centroid array_min
    # projection in r15; riding the loop's cache beats both because
    # the distances are never recomputed at all.)
    wrows = cur.groupBy("aid").agg(F.count(F.lit(1)).alias("n")).collect()
    for df_ in to_free:
        df_.unpersist()
    wmap = {int(row.aid): int(row.n) for row in wrows}
    return spark.createDataFrame(
        [(cid, rnd, wmap.get(cid, 0)) for cid, _qc, rnd in centers],
        "cent_id long, round_added int, weight long",
    ).orderBy("round_added", "cent_id")


# ---------------------------------------------------------------------------
# Round 11: Maximal Marginal Relevance re-ranking (Carbonell &
# Goldstein 1998) — the diversity-aware second stage every retrieval
# ladder (brute-force / LSH / IVF / PQ top-k above, BM25+RRF in
# retrieval.py) feeds in production: fetch N candidates by pure
# relevance, then greedily select k trading relevance against
# redundancy with what is already selected.

_MMR_N = 20  # relevance candidates fetched (the distributed stage)
_MMR_K = 8  # re-ranked results returned (the greedy stage)
# lambda = 0.7, scaled x10 so the MMR objective is exact int64:
# score = 7 * rel - 3 * max_sel_dot
_MMR_LNUM, _MMR_LDEN = 7, 3


def _mmr_oracle() -> str:
    dot = (
        "CAST(list_sum(list_transform(list_zip({a}, {b}), "
        "z -> z[1] * z[2])) AS BIGINT)"
    )
    steps = [
        f"""
    s1 AS MATERIALIZED (
        SELECT vec_id, rel, CAST({_MMR_LNUM} * rel AS BIGINT) AS score
        FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel1 AS MATERIALIZED (SELECT vec_id FROM s1)"""
    ]
    for r in range(2, _MMR_K + 1):
        steps.append(f"""
    s{r} AS MATERIALIZED (
        SELECT c.vec_id, c.rel,
               CAST({_MMR_LNUM} * c.rel - {_MMR_LDEN} * max(p.d) AS BIGINT)
                   AS score
        FROM cand c JOIN pd p ON p.ia = c.vec_id
        WHERE p.ib IN (SELECT vec_id FROM sel{r - 1})
          AND c.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
        GROUP BY c.vec_id, c.rel
        ORDER BY score DESC, c.vec_id LIMIT 1
    ),
    sel{r} AS MATERIALIZED (SELECT vec_id FROM sel{r - 1}
               UNION ALL SELECT vec_id FROM s{r})""")
    body = " UNION ALL ".join(
        f"SELECT {r} AS sel_rank, vec_id, rel AS relevance_q, score AS "
        f"mmr_score_q FROM s{r}"
        for r in range(1, _MMR_K + 1)
    )
    return f"""
    WITH qcorpus AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * {_KC_Q}, 0) AS BIGINT)) AS qv
        FROM embeddings
    ),
    qvec AS (SELECT vec_id AS qid, qv AS qq FROM qcorpus
             ORDER BY vec_id LIMIT 1),
    cand AS MATERIALIZED (
        SELECT c.vec_id, {dot.format(a='c.qv', b='q.qq')} AS rel, c.qv
        FROM qcorpus c CROSS JOIN qvec q
        WHERE c.vec_id <> q.qid
        ORDER BY rel DESC, c.vec_id LIMIT {_MMR_N}
    ),
    pd AS MATERIALIZED (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               {dot.format(a='a.qv', b='b.qv')} AS d
        FROM cand a CROSS JOIN cand b WHERE a.vec_id <> b.vec_id
    ),{','.join(steps)}
    SELECT sel_rank, vec_id, relevance_q, mmr_score_q FROM ({body})
    ORDER BY sel_rank
    """


@register(
    "similarity_rerank_mmr",
    oracle=_mmr_oracle(),
    tags=("similarity", "rerank", "mmr", "iterative"),
)
def similarity_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-rank of the brute-force top-N for the corpus's lowest
    vec_id as query: greedy k-selection maximizing
    ``lambda * rel(d) - (1 - lambda) * max_{s in sel} sim(d, s)``
    with lambda = 0.7 scaled x10 so the whole objective is exact
    int64 over the Lloyd-quantized inner products (no float anywhere;
    ties to the lowest vec_id). Emits the selection order with each
    pick's relevance and MMR score — rank 1 is the pure-relevance
    seed, later ranks show diversity displacing redundant neighbors.

    Scale split, and why the greedy is NOT a driver-side data pull:
    the corpus-sized work is the relevance top-N (one codegen map
    pass + TakeOrderedAndProject — the brute-force ANN stage, or at
    real scale the IVF/LSH tiers upstream) and the N x N candidate
    dot matrix (broadcast self-join of an N-row relation); what the
    driver holds is the retrieved PAGE — N relevances + N^2 pair
    dots, constant-bounded by configuration like the kcenter/Lloyd
    model state — and the greedy is k passes of integer argmax over
    it, replayed verbatim by the oracle's unrolled CTE chain."""
    emb = load_table(spark, sf_dir, "embeddings")
    qcorpus = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {_KC_Q}, 0) AS BIGINT))"
        ).alias("qv"),
    )
    seeds = qcorpus.orderBy("vec_id").limit(1).collect()
    if not seeds:
        return spark.createDataFrame(
            [], "sel_rank int, vec_id long, relevance_q long, mmr_score_q long"
        )
    qid, qq = int(seeds[0].vec_id), [int(v) for v in seeds[0].qv]
    qarr = "array(" + ",".join(f"{v}L" for v in qq) + ")"
    rel = F.expr(
        f"aggregate(zip_with(qv, {qarr}, (a, b) -> a * b), 0L, "
        f"(acc, x) -> acc + x)"
    )
    cand = (
        qcorpus.filter(F.col("vec_id") != qid)
        .select("vec_id", rel.alias("rel"), "qv")
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_N)
    )
    pair_dot = F.expr(
        "aggregate(zip_with(a_qv, b_qv, (a, b) -> a * b), 0L, "
        "(acc, x) -> acc + x)"
    )
    pd_rows = (
        cand.select(F.col("vec_id").alias("ia"), F.col("qv").alias("a_qv"))
        .crossJoin(
            F.broadcast(
                cand.select(F.col("vec_id").alias("ib"), F.col("qv").alias("b_qv"))
            )
        )
        .filter(F.col("ia") != F.col("ib"))
        .select("ia", "ib", pair_dot.alias("d"))
        .collect()
    )
    rels = {int(r.vec_id): int(r.rel) for r in cand.select("vec_id", "rel").collect()}
    dots = {(int(r.ia), int(r.ib)): int(r.d) for r in pd_rows}
    selected: list[tuple[int, int, int, int]] = []
    chosen: list[int] = []
    for rank in range(1, _MMR_K + 1):
        best = None
        for v, rv in rels.items():
            if v in chosen:
                continue
            if chosen:
                score = _MMR_LNUM * rv - _MMR_LDEN * max(
                    dots[(v, s)] for s in chosen
                )
            else:
                score = _MMR_LNUM * rv
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, rv, score)
        if best is None:
            break
        selected.append((rank, best[1], best[2], best[3]))
        chosen.append(best[1])
    return spark.createDataFrame(
        selected,
        "sel_rank int, vec_id long, relevance_q long, mmr_score_q long",
    ).orderBy("sel_rank")


# ---------------------------------------------------------------------------
# Round 11: hard-negative mining via centroid margins — the
# training-data readout next to `embeddings_label_centroids` /
# `embeddings_knn_vote`: a vector sitting closer to another label's
# centroid than its own is exactly the "hard negative" a contrastive
# / triplet trainer wants surfaced (and, inverted, a candidate label
# error for the cleaning queue).


@register(
    "embeddings_hard_negative_mining",
    oracle="""
    WITH q AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1e6, 0)
                    AS BIGINT) AS x_q
        FROM embeddings
    ),
    cent AS (
        SELECT label AS c_label, dim,
               CAST(round(sum(x_q) / count(*), 0) AS BIGINT) AS c_q
        FROM q GROUP BY label, dim
    ),
    d2 AS (
        SELECT q.vec_id, q.label, c.c_label,
               CAST(sum((q.x_q - c.c_q) * (q.x_q - c.c_q)) AS BIGINT) AS dist_q
        FROM q JOIN cent c USING (dim)
        GROUP BY q.vec_id, q.label, c.c_label
    ),
    own AS (
        SELECT vec_id, label, dist_q AS own_q FROM d2 WHERE label = c_label
    ),
    rival AS (
        SELECT vec_id, min(dist_q) AS rival_q
        FROM d2 WHERE label <> c_label GROUP BY vec_id
    ),
    scored AS (
        SELECT o.label, o.own_q, r.rival_q,
               o.own_q >= r.rival_q AS is_hard
        FROM own o JOIN rival r USING (vec_id)
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE is_hard) AS BIGINT) AS n_hard,
           round(count(*) FILTER (WHERE is_hard) * 1.0 / count(*), 4)
               AS hard_rate,
           round(sum(rival_q - own_q) / (1e12 * count(*)), 6) AS mean_margin
    FROM scored GROUP BY label ORDER BY label
    """,
    tags=("embeddings", "hard-negatives", "training-data", "scale"),
)
def embeddings_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label hard-negative census: each vector's squared L2
    distance to its OWN label centroid vs the nearest RIVAL centroid,
    flagging own >= rival (the margin violators a triplet/contrastive
    trainer mines for, and the label-error candidates a cleaning pass
    reviews). Emits per label: vector count, hard-negative count and
    rate, and the mean margin (rival - own; negative mass = overlap).

    Cross-engine exactness: components quantize to 1e-6 ints, the
    centroid is an integer-rounded mean (the `embeddings_label_
    centroids` trick), and every distance is then EXACT int64 --
    sum over 64 dims of (<=2e6)^2 deltas stays far under 2^63 -- so
    own/rival comparisons and margins are pure integer arithmetic;
    the two output ratios are the only doubles.

    Scale shape: one (label, dim) combinable centroid pass; then one
    broadcast join of the |labels| x |dims| centroid table onto the
    exploded corpus with a (vec_id, c_label) map-side-combinable sum
    -- O(rows x dims x labels) work with NO corpus-sized shuffle (the
    aggregate keys collapse per task), the embeddings_knn_vote plan
    family against a model-sized dimension instead of a vector
    sample. At 100 TB with large label inventories the rival search
    swaps to the IVF-pruned centroid subset -- same relation, fewer
    c_labels per vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode(_as_double("embedding")).alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.round(F.col("x") * F.lit(1e6), 0).cast("long").alias("x_q"),
    )
    cent = q.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.round(F.sum("x_q") / F.count(F.lit(1)), 0).cast("long").alias("c_q")
    )
    d2 = (
        q.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c_label")
        .agg(
            F.sum(
                (F.col("x_q") - F.col("c_q")) * (F.col("x_q") - F.col("c_q"))
            ).alias("dist_q")
        )
    )
    own = d2.filter(F.col("label") == F.col("c_label")).select(
        "vec_id", "label", F.col("dist_q").alias("own_q")
    )
    rival = (
        d2.filter(F.col("label") != F.col("c_label"))
        .groupBy("vec_id")
        .agg(F.min("dist_q").alias("rival_q"))
    )
    scored = own.join(rival, "vec_id").select(
        "label",
        "own_q",
        "rival_q",
        (F.col("own_q") >= F.col("rival_q")).alias("is_hard"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count_if("is_hard").alias("n_hard"),
            F.round(F.count_if("is_hard") / F.count(F.lit(1)), 4).alias(
                "hard_rate"
            ),
            F.round(
                F.sum(F.col("rival_q") - F.col("own_q"))
                / (F.lit(1e12) * F.count(F.lit(1))),
                6,
            ).alias("mean_margin"),
        )
        .orderBy("label")
    )
