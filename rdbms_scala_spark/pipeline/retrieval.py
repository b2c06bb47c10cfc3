"""Sparse lexical retrieval & language-model corpus statistics —
BM25 search, frequency-ranked vocabulary induction, and unigram
log-probability quality scoring over the `documents` table.

The reference has no text surface at all (5 scalar types,
Microbase.scala; SURVEY.md §1.2); these are north-star extensions a
training-data pipeline needs: retrieval for targeted corpus curation
/ decontamination lookups, a vocabulary with dense contiguous ids as
tokenizer input, and an n-gram LM score as a fluency/quality signal
(the KenLM-style filter in C4/CCNet-style pipelines).

Float policy: every per-(doc, term) floating contribution is
quantized to a BIGINT at 1e-6 resolution *before* any aggregation
(the house trick — see `embeddings_label_centroids`,
`similarity_pq`), so sums are exact integer arithmetic and the
cross-engine value hash cannot drift with summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rdbms_scala_spark.catalog import load_table
from rdbms_scala_spark.pipeline.dedup import (
    TOKS_CTE,
    _contam_sh_chain,
    contamination_shingles,
    tokens,
    tokens_sql,
)
from rdbms_scala_spark.registry import register

# BM25 constants. Literal values are written IDENTICALLY in the Spark
# expressions and the oracle SQL — (k1 + 1) is pre-folded to 2.2 and
# (1 - b) to 0.25 by hand, because 1.2 + 1.0 in double arithmetic is
# NOT the same bit pattern as the literal 2.2, and the two engines
# must evaluate the same expression tree.
_K1 = "1.2"
_K1P1 = "2.2"
_B = "0.75"
_ONE_MINUS_B = "0.25"
_QUERY_TERMS = ("hash", "spark", "window")
_TOPK = 15


def _terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in _QUERY_TERMS)


_BM25_ORACLE = f"""
    WITH {TOKS_CTE},
    dl AS (SELECT doc_id, len(t) AS dlen FROM toks),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dlen) AS BIGINT) AS sum_len
        FROM dl
    ),
    posting AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
        WHERE tok IN ({_terms_sql()})
        GROUP BY doc_id, tok
    ),
    dfreq AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS dft FROM posting GROUP BY tok
    ),
    contrib AS (
        SELECT p.doc_id,
               CAST(round(
                   ln(1.0 + (c.n_docs - d.dft + 0.5) / (d.dft + 0.5)) *
                   ((CAST(p.tf AS DOUBLE) * {_K1P1}) /
                    (CAST(p.tf AS DOUBLE) + {_K1} *
                     ({_ONE_MINUS_B} + {_B} *
                      (CAST(l.dlen AS DOUBLE) /
                       (CAST(c.sum_len AS DOUBLE) / c.n_docs)))))
                   * 1e6) AS BIGINT) AS q
        FROM posting p
        JOIN dfreq d ON p.tok = d.tok
        JOIN dl l ON p.doc_id = l.doc_id
        CROSS JOIN corpus c
    )
    SELECT doc_id,
           round(CAST(sum(q) AS BIGINT) / 1e6, 4) AS bm25,
           CAST(count(*) AS BIGINT) AS n_terms_hit
    FROM contrib
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT {_TOPK}
"""


@register(
    "text_bm25_search",
    oracle=_BM25_ORACLE,
    tags=("text", "retrieval", "bm25", "inverted-index"),
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval for a fixed term query over an inverted
    index built on the fly: postings (doc, term, tf) -> document
    frequencies -> per-(doc, term) BM25 contribution -> per-doc sum.

    Scale shape: tokens are FILTERED to the query terms *before* the
    postings aggregation, so the shuffle carries only matching
    positions — at 100 TB the posting build is a near-map-only pass
    over the scan, not a full-vocabulary aggregation. The document
    length rides THROUGH the explode (max(dlen) in the same
    aggregate), and per-term document frequency is a window over the
    already-tiny postings — so the corpus is scanned exactly twice
    (the 1-row corpus-stats aggregate, broadcast, and the posting
    build), with no corpus-sized join anywhere. The top-k collapses
    via TakeOrdered (no global sort). For a standing search service
    you would persist `posting` bucketed by term (see
    `sources.write_bucketed_table`); this query is the build+search
    path a curation job runs once.

    Each contribution is integer-quantized pre-sum (module
    docstring); `n_terms_hit` counts matched query terms per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens().alias("t"))
    corpus = toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("t")).alias("sum_len"),
    )
    posting = (
        toks.select("doc_id", F.size("t").alias("dlen"), F.explode("t").alias("tok"))
        .filter(F.col("tok").isin(*_QUERY_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dlen").alias("dlen"))
    )
    with_dft = posting.withColumn(
        "dft", F.count(F.lit(1)).over(Window.partitionBy("tok"))
    )

    avgdl = F.col("sum_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5))
    )
    tf_norm = (F.col("tf").cast("double") * F.expr(_K1P1)) / (
        F.col("tf").cast("double")
        + F.expr(_K1)
        * (F.expr(_ONE_MINUS_B) + F.expr(_B) * (F.col("dlen").cast("double") / avgdl))
    )
    contrib = with_dft.crossJoin(F.broadcast(corpus)).select(
        "doc_id", F.round(idf * tf_norm * F.lit(1e6)).cast("long").alias("q")
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.round(F.sum("q") / F.lit(1e6), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_TOPK)
    )


_VOCAB_SIZE = 100

_VOCAB_ORACLE = f"""
    WITH toks AS (
        SELECT {tokens_sql('text')} AS t
        FROM documents
    ),
    counted AS (
        SELECT tok AS token, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(t) AS tok FROM toks)
        GROUP BY tok
    ),
    total AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM counted),
    ranked AS (
        SELECT token, freq,
               row_number() OVER (ORDER BY freq DESC, token) - 1 AS token_id,
               CAST(sum(freq) OVER (ORDER BY freq DESC, token
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_freq
        FROM counted
    )
    SELECT token_id, token, freq,
           round(CAST(cum_freq AS DOUBLE) / n_total, 6) AS cum_coverage
    FROM ranked CROSS JOIN total
    WHERE token_id < {_VOCAB_SIZE}
    ORDER BY token_id
"""


@register(
    "text_vocab_induction",
    oracle=_VOCAB_ORACLE,
    tags=("text", "vocab", "tokenizer"),
)
def text_vocab_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-ranked vocabulary with dense contiguous token ids and
    cumulative corpus coverage — the tokenizer-construction pass
    (vocab files, embedding-matrix row assignment, coverage-targeted
    vocab sizing: "how many ids cover 99% of tokens?").

    Scale shape: the corpus-sized work is ONE map-side-combinable
    token count; everything after runs on the aggregated vocabulary,
    which is orders of magnitude smaller than the corpus (≤ a few
    million rows at 100 TB). The id-assigning window
    (`row_number() OVER (ORDER BY freq DESC, token)`) is therefore a
    deliberate single-partition pass over vocab-sized data — the same
    post-aggregation-smallness argument as `sort_limit_topk` — not a
    corpus-sized global sort. Coverage is an exact integer cumsum
    divided once at the end.
    """
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    total = counted.agg(F.sum("freq").alias("n_total"))
    w = Window.orderBy(F.col("freq").desc(), "token")
    ranked = counted.select(
        "token",
        "freq",
        (F.row_number().over(w) - 1).alias("token_id"),
        F.sum("freq").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum_freq"),
    )
    return (
        ranked.filter(F.col("token_id") < _VOCAB_SIZE)
        .crossJoin(F.broadcast(total))
        .select(
            "token_id",
            "token",
            "freq",
            F.round(F.col("cum_freq").cast("double") / F.col("n_total"), 6).alias(
                "cum_coverage"
            ),
        )
        .orderBy("token_id")
    )


_UNIGRAM_ORACLE = f"""
    WITH {TOKS_CTE},
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    counted AS (
        SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
    ),
    corpus AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS v
        FROM counted
    ),
    scored AS (
        SELECT t.doc_id,
               CAST(round(ln((c.c + 1.0) / (k.n_total + k.v)) * 1e6) AS BIGINT) AS q
        FROM tok t
        JOIN counted c ON t.token = c.token
        CROSS JOIN corpus k
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(q) AS BIGINT) / 1e6 / count(*), 4) AS mean_logprob
    FROM scored
    GROUP BY doc_id
    ORDER BY doc_id
"""


@register(
    "text_unigram_logprob",
    oracle=_UNIGRAM_ORACLE,
    tags=("text", "language-model", "quality"),
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus MLE
    with add-one smoothing: ln((C(t)+1) / (N+V)) averaged over the
    doc's tokens — the n-gram-LM fluency score (the KenLM-perplexity
    filter of CCNet/C4, reduced to its unigram core). Low scores =
    rare-token-heavy docs (gibberish, codes, boilerplate ids); the
    score feeds quality gates alongside `text_quality_score`.

    Scale shape: two corpus passes — one map-side-combinable unigram
    count, then a token→model join. The model (vocabulary-sized,
    ≪ corpus) is explicitly broadcast, so the join is map-only and
    the only shuffle is the per-doc mean; per-token log-probs are
    integer-quantized pre-sum (module docstring) and the mean is two
    divisions at the end, identical expression order in the oracle.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens()).alias("token"))
    counted = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    corpus = counted.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    q = F.round(
        F.log((F.col("c") + F.lit(1.0)) / (F.col("n_total") + F.col("v")))
        * F.lit(1e6)
    ).cast("long")
    scored = (
        tok.join(F.broadcast(counted), "token")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", q.alias("q"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("q") / F.lit(1e6) / F.count(F.lit(1)), 4).alias(
                "mean_logprob"
            ),
        )
        .orderBy("doc_id")
    )


_KEYWORDS_PER_DOC = 3

_TFIDF_ORACLE = f"""
    WITH {TOKS_CTE},
    corpus AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM toks),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS f,
               CAST(max(n) AS BIGINT) AS dlen
        FROM (SELECT doc_id, unnest(t) AS tok, len(t) AS n FROM toks)
        GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS d FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               CAST(round(
                   (CAST(tf.f AS DOUBLE) / tf.dlen) *
                   ln((c.n_docs + 1.0) / (df.d + 1.0))
                   * 1e9) AS BIGINT) AS q
        FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN corpus c
    ),
    ranked AS (
        SELECT doc_id, tok, q,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY q DESC, tok) AS rank
        FROM scored
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok AS keyword,
           round(q / 1e9, 6) AS tfidf
    FROM ranked WHERE rank <= {_KEYWORDS_PER_DOC}
    ORDER BY doc_id, rank
"""


@register(
    "text_keyword_tfidf",
    oracle=_TFIDF_ORACLE,
    tags=("text", "tfidf", "keywords", "retrieval"),
)
def text_keyword_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction: top-3 most
    distinctive terms per doc under tf/|d| · ln((N+1)/(df+1)) —
    the complement of `text_bm25_search` (corpus-level query scoring
    vs doc-level term salience); keywords feed topic tagging, index
    pruning, and boilerplate detection (docs whose top keywords are
    corpus-ubiquitous terms score near zero).

    Scale shape: one token-explode pass builds per-doc tf with dlen
    riding through the explode (the BM25 discipline); df re-aggregates
    the much-smaller tf relation; the model join broadcasts df
    (vocabulary-sized). The per-doc top-3 executes as a two-level
    WindowGroupLimit (partial below the doc_id exchange — the
    `similarity_topk_bruteforce` plan shape). Scores are
    integer-quantized at 1e-9 BEFORE ranking, so the rank order
    (q DESC, token) is exact integer comparison — no float tie can
    order differently across engines."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", tokens().alias("t"))
        .select("doc_id", F.size("t").alias("n"), F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("f"), F.max("n").alias("dlen"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("d"))
    corpus = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    q = F.round(
        (F.col("f").cast("double") / F.col("dlen"))
        * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("d") + F.lit(1.0)))
        * F.lit(1e9)
    ).cast("long")
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", "tok", q.alias("q"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("q").desc(), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _KEYWORDS_PER_DOC)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            F.col("tok").alias("keyword"),
            F.round(F.col("q") / F.lit(1e9), 6).alias("tfidf"),
        )
        .orderBy("doc_id", "rank")
    )


# ---------------------------------------------------------------------------
# Round 9: hybrid retrieval — reciprocal-rank fusion of the BM25
# lexical ranking with a dense cosine ranking. The standard fusion
# rule in two-tower search stacks (and the retrieval shape a
# decontamination/curation lookup actually ships: lexical catches
# exact phrasing, dense catches paraphrase).

_RRF_K = 60
_RRF_TOPK = 15
_RRF_QUERY_VEC = 0  # vec_id whose embedding is the dense query

_HYBRID_RRF_ORACLE = f"""
    WITH lex AS (
        SELECT doc_id AS id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        FROM ({_BM25_ORACLE})
    ),
    qv AS (
        SELECT embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id = {_RRF_QUERY_VEC}
    ),
    scored AS (
        SELECT e.vec_id AS id,
               CAST(round(list_cosine_similarity(e.embedding::DOUBLE[], q.v)
                          * 1e6, 0) AS BIGINT) AS cos_q
        FROM embeddings e CROSS JOIN qv q
        WHERE e.vec_id <> {_RRF_QUERY_VEC}
    ),
    dense AS (
        SELECT id, row_number() OVER (ORDER BY cos_q DESC, id) AS rank_dense
        FROM scored
        ORDER BY cos_q DESC, id
        LIMIT {_RRF_TOPK}
    )
    SELECT coalesce(l.id, d.id) AS id,
           CAST(l.rank_lex AS BIGINT) AS rank_lex,
           CAST(d.rank_dense AS BIGINT) AS rank_dense,
           round(coalesce(1.0 / ({_RRF_K} + l.rank_lex), 0.0)
                 + coalesce(1.0 / ({_RRF_K} + d.rank_dense), 0.0), 6)
               AS rrf_score
    FROM lex l FULL OUTER JOIN dense d ON l.id = d.id
    ORDER BY rrf_score DESC, id
"""


@register(
    "retrieval_hybrid_rrf",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("retrieval", "hybrid", "rrf", "scale"),
)
def retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k = 60) of two top-15 rankings: the
    BM25 lexical list (text_bm25_search's exact pipeline) and a dense
    cosine list for a fixed query vector (vec_id 0's embedding,
    excluded from its own results; fixture doc_ids and vec_ids share
    an id space, standing in for a doc<->embedding key). Docs ranked
    by only one system still score (the other term coalesces to 0) —
    exactly why RRF is the default fusion rule: no score calibration
    between systems is needed, only ranks.

    Determinism: the lexical ranks order by the integer-quantized
    BM25 sum (exact), the dense ranks order by cosine QUANTIZED to
    1e-6 (the house integer trick — unquantized float ranks could
    flip across engines on near-ties), both with id tie-breaks; the
    RRF score itself is one float expression per OUTPUT row evaluated
    on identical rank integers in both engines.

    Scale shape: each ranker is its own already-bounded top-k (BM25's
    TakeOrdered postings pass; the dense scan is one broadcast-query
    corpus pass, the similarity_topk_bruteforce shape); the fusion
    joins two <=15-row lists — driver-trivial. At 100 TB the two
    rankers run against persisted indexes (bucketed postings, IVF
    cells) and fusion cost is unchanged."""
    lex_w = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = text_bm25_search(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.row_number().over(lex_w).alias("rank_lex"),
    )
    from rdbms_scala_spark.pipeline.similarity import _as_double, cosine

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
            F.col("v").alias("qv")
        )
    )
    scored = (
        emb.filter(F.col("vec_id") != _RRF_QUERY_VEC)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine("v", "qv") * 1e6).cast("long").alias("cos_q"),
        )
    )
    dense_w = Window.orderBy(F.col("cos_q").desc(), "id")
    dense = (
        scored.orderBy(F.col("cos_q").desc(), "id")
        .limit(_RRF_TOPK)
        .select("id", F.row_number().over(dense_w).alias("rank_dense"))
    )
    # Fusion is a UNION + one aggregate, not a join: each ranker
    # contributes (id, its rank in its own slot); groupBy(id) folds
    # the two slots together. A full-outer join of two 15-row lists
    # would plan as a SortMergeJoin (full-outer is never
    # broadcastable) — semantically fine at this size, but the union
    # form is join-free at ANY fan-in (3 rankers = 3 unioned lists,
    # same single aggregate), which is how RRF actually composes.
    both = lex.select(
        "id", F.col("rank_lex"), F.lit(None).cast("int").alias("rank_dense")
    ).unionByName(
        dense.select(
            "id", F.lit(None).cast("int").alias("rank_lex"), F.col("rank_dense")
        )
    )
    return (
        both.groupBy("id")
        .agg(
            F.max("rank_lex").alias("rank_lex"),
            F.max("rank_dense").alias("rank_dense"),
        )
        .select(
            "id",
            "rank_lex",
            "rank_dense",
            F.round(
                F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_lex")),
                    F.lit(0.0),
                )
                + F.coalesce(
                    F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_dense")),
                    F.lit(0.0),
                ),
                6,
            ).alias("rrf_score"),
        )
        .orderBy(F.col("rrf_score").desc(), "id")
    )


# ---------------------------------------------------------------------------
# Round 15: retrieval-quality EVALUATION — the readout the retrieval
# family was missing. A pipeline that builds a retrieval index for
# decontamination lookups must measure whether the index actually
# FINDS the leaks before trusting it; MRR@10 / recall@10 against a
# ground-truth relevance set is that gate, exactly as the ANN tiers
# gate on recall-vs-brute-force (similarity.py's recall ladder).
#
# The retrieval unit is the trigram SHINGLE, not the unigram token —
# a choice forced by measurement, not taste: the first cut of this
# operator queried with each bench doc's rarest unigrams and scored
# 0.0 MRR across every query, and the data said why — the corpus
# vocabulary is 31 tokens with document frequency ~390/497, so NO
# unigram discriminates anything (real corpora hit the same wall on
# short/boilerplate docs). Leak signal lives in n-grams, which is
# exactly why production decontamination lookups index n-grams
# (suffix-array / Bloom-of-ngram designs); this evaluates that index.

_EVAL_TOPK = 10


def _retrieval_eval_oracle() -> str:
    return f"""
    WITH {TOKS_CTE},
    {_contam_sh_chain()},
    qsh AS (
        SELECT doc_id AS bench_doc_id, shingle FROM sh WHERE doc_id % 29 = 0
    ),
    train_sh AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 29 <> 0),
    rel AS (
        SELECT bench_doc_id, doc_id FROM (
            SELECT t.doc_id, b.bench_doc_id
            FROM train_sh t JOIN qsh b USING (shingle)
            GROUP BY t.doc_id, b.bench_doc_id HAVING count(*) >= 3) z
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dlen
        FROM train_sh GROUP BY doc_id
    ),
    corpus AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dlen) AS BIGINT) AS sum_len
        FROM dl
    ),
    posting AS (
        SELECT doc_id, shingle FROM train_sh
        WHERE shingle IN (SELECT DISTINCT shingle FROM qsh)
    ),
    dfreq AS (
        SELECT shingle, CAST(count(*) AS BIGINT) AS dft
        FROM posting GROUP BY shingle
    ),
    contrib AS (
        SELECT q.bench_doc_id, p.doc_id,
               CAST(round(
                   ln(1.0 + (c.n_docs - d.dft + 0.5) / (d.dft + 0.5)) *
                   ({_K1P1} /
                    (1.0 + {_K1} *
                     ({_ONE_MINUS_B} + {_B} *
                      (CAST(l.dlen AS DOUBLE) /
                       (CAST(c.sum_len AS DOUBLE) / c.n_docs)))))
                   * 1e6) AS BIGINT) AS qv
        FROM qsh q
        JOIN posting p ON p.shingle = q.shingle
        JOIN dfreq d ON d.shingle = p.shingle
        JOIN dl l ON l.doc_id = p.doc_id
        CROSS JOIN corpus c
    ),
    scores AS (
        SELECT bench_doc_id, doc_id, CAST(sum(qv) AS BIGINT) AS s
        FROM contrib GROUP BY bench_doc_id, doc_id
    ),
    ranked AS (
        SELECT bench_doc_id, doc_id,
               row_number() OVER (PARTITION BY bench_doc_id
                                  ORDER BY s DESC, doc_id) AS rnk
        FROM scores
    ),
    nrel AS (
        SELECT bench_doc_id, CAST(count(*) AS BIGINT) AS n_relevant
        FROM rel GROUP BY bench_doc_id
    ),
    hits AS (
        SELECT r.bench_doc_id,
               CAST(count(*) AS BIGINT) AS n_hits_at_10,
               min(rk.rnk) AS first_rel_rank
        FROM rel r JOIN ranked rk
          ON rk.bench_doc_id = r.bench_doc_id AND rk.doc_id = r.doc_id
        WHERE rk.rnk <= {_EVAL_TOPK}
        GROUP BY r.bench_doc_id
    )
    SELECT n.bench_doc_id,
           n.n_relevant,
           COALESCE(h.n_hits_at_10, 0) AS n_hits_at_10,
           round(COALESCE(1.0 / h.first_rel_rank, 0.0), 4) AS rr_at_10,
           round(CAST(COALESCE(h.n_hits_at_10, 0) AS DOUBLE)
                 / n.n_relevant, 4) AS recall_at_10
    FROM nrel n LEFT JOIN hits h USING (bench_doc_id)
    ORDER BY n.bench_doc_id
    """


@register(
    "retrieval_eval_mrr",
    oracle=_retrieval_eval_oracle(),
    tags=("retrieval", "eval", "mrr", "recall", "scale"),
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the n-gram decontamination
    index: per-query MRR@10 and recall@10 against a ground-truth
    relevance set — the gate a curation pipeline runs before trusting
    its leak-lookup index, mirroring how the ANN tiers gate on recall
    vs brute force.

    Queries are the benchmark docs (the static ``doc_id % 29 == 0``
    eval-suite slice), represented as their capped trigram-shingle
    sets (the standing index's own query representation). Candidates
    are train docs scored by BM25 over SHINGLE postings (tf = 1 by
    construction — the shingle relation is distinct — so the score is
    a dlen-normalized sum of shingle IDFs; same k1/b literals and
    1e-6 pre-sum quantization as `text_bm25_search`), ranked
    (score DESC, doc_id), cut at {_EVAL_TOPK}. Ground truth is the
    contamination pair relation (>= 3 shared capped trigrams —
    `dedup_contamination_check`'s flag, same `_contam_sh_chain`
    semantics), so the metric reads: does the index FIND the
    documents that verifiably leak this benchmark's content?

    Why shingles and not unigrams: the first cut queried with each
    bench doc's rarest eligible unigrams and measured 0.0 MRR on
    every query — and the corpus said why (31-token vocabulary,
    document frequency ~390 of 497: no unigram discriminates
    anything; real corpora hit the same wall on short or boilerplate
    documents). Leak signal lives in n-grams, which is exactly why
    production decontamination lookups index n-grams; this operator
    evaluates that index rather than a structurally-blind one.

    Scale shape: postings are filtered to the (broadcast, eval-suite-
    sized) query shingle set BEFORE any aggregation, per-shingle df
    and corpus stats are broadcast scalars, and the ranking window
    partitions BY QUERY over df-capped candidate lists (the hot-set
    cap bounds every posting list — never a corpus sort). Both corpus
    passes ride the family's session-materialized shingle relation.

    The ground-truth relation and the BM25 scores are ONE aggregate,
    not two: the (query shingle ⋈ train shingle) fan-out join — the
    operator's entire scale cost — is evaluated once into a
    ``(bench_doc_id, doc_id, n_shared, s)`` relation (count(*) is the
    shared-shingle count the contamination flag thresholds; sum(qv)
    is the BM25 score — same rows, two combinable aggregates). Two
    layout decisions carry the win, both measured at x64 (153M
    fan-out rows → 43M pairs): (1) the train side is repartitioned by
    doc_id BEFORE the broadcast join, so (bench_doc_id, doc_id)
    groups are partition-local and the pair aggregate needs NO
    exchange — HashPartitioning(doc_id) satisfies the groupBy's
    clustered distribution, cutting the aggregate from 26.8 s
    (shuffling poorly-combined partials) to 9.4 s; (2) the ranking
    window rides one explicit bench_doc_id repartition of the
    ALREADY-AGGREGATED pairs, and only the rows a downstream leg can
    touch (top-10 lists ∪ ground-truth pairs — eval-suite-sized) are
    localCheckpoint-materialized, because the three consumers
    (n_relevant, the hit join's two sides) would otherwise each
    replay the fan-out. The first cut evaluated the fan-out three
    times and cost 54 s at x64; this form measures ~28 s — the gate
    now costs about the same as the contamination check it evaluates
    (24.7 s), which is the right price for scoring strictly more
    (ranks, not just flags) over the same pair relation."""
    from rdbms_scala_spark.pipeline.chunking import _decontam_bench_shingles
    is_bench = F.col("doc_id") % 29 == 0
    qsh = _decontam_bench_shingles(spark, sf_dir)  # (bench_doc_id, shingle)
    train_sh = contamination_shingles(spark, sf_dir).filter(~is_bench)

    dl = train_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dlen"))
    corpus = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dlen").alias("sum_len"),
    )
    posting = train_sh.join(
        F.broadcast(qsh.select("shingle").distinct()), "shingle", "semi"
    )
    dfreq = posting.groupBy("shingle").agg(F.count(F.lit(1)).alias("dft"))

    avgdl = F.col("sum_len").cast("double") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
    )
    tf_norm = F.expr(_K1P1) / (
        F.lit(1.0)
        + F.expr(_K1)
        * (
            F.expr(_ONE_MINUS_B)
            + F.expr(_B) * (F.col("dlen").cast("double") / avgdl)
        )
    )
    # The one fan-out pass: every (query, train doc, shared shingle)
    # row, scored in place; joining train_sh (not posting) against the
    # broadcast query set is the same relation — non-query shingles
    # drop in the join — and dft/dlen/corpus attach as broadcasts, so
    # nothing here shuffles except the pair aggregate itself.
    pair = (
        F.broadcast(qsh)
        .join(train_sh.repartition("doc_id"), "shingle")
        .join(F.broadcast(dfreq), "shingle")
        .join(F.broadcast(dl), "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select(
            "bench_doc_id",
            "doc_id",
            F.round(idf * tf_norm * F.lit(1e6)).cast("long").alias("qv"),
        )
        .groupBy("bench_doc_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"), F.sum("qv").alias("s"))
    )
    # Rank in the same pipeline, then keep only the rows any
    # downstream leg can touch (the top-10 lists ∪ the ground-truth
    # pairs) and materialize THAT — eval-suite-sized, not pair-sized.
    # The explicit bench repartition satisfies the window's required
    # distribution, so agg → window is exactly two exchanges total
    # (doc-aligned fan-out, then the aggregated pairs on query id).
    keep = (
        pair.repartition("bench_doc_id")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("bench_doc_id").orderBy(
                    F.col("s").desc(), "doc_id"
                )
            ),
        )
        .filter((F.col("rnk") <= _EVAL_TOPK) | (F.col("n_shared") >= 3))
        .localCheckpoint(eager=True)
    )
    rel = keep.filter(F.col("n_shared") >= 3).select("bench_doc_id", "doc_id")
    ranked = keep.filter(F.col("rnk") <= _EVAL_TOPK).select(
        "bench_doc_id", "doc_id", "rnk"
    )

    nrel = rel.groupBy("bench_doc_id").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    # ranked is <= TOPK x |queries| rows after the cut (and hits one
    # row per query) — broadcast-sized at ANY corpus scale, so neither
    # join may shuffle-sort the pair relation
    hits = (
        rel.join(F.broadcast(ranked), ["bench_doc_id", "doc_id"])
        .groupBy("bench_doc_id")
        .agg(
            F.count(F.lit(1)).alias("hits10"),
            F.min("rnk").alias("first_rel_rank"),
        )
    )
    return (
        nrel.join(F.broadcast(hits), "bench_doc_id", "left")
        .select(
            "bench_doc_id",
            "n_relevant",
            F.coalesce("hits10", F.lit(0)).cast("long").alias("n_hits_at_10"),
            F.round(
                F.coalesce(F.lit(1.0) / F.col("first_rel_rank"), F.lit(0.0)),
                4,
            ).alias("rr_at_10"),
            F.round(
                F.coalesce("hits10", F.lit(0)).cast("double")
                / F.col("n_relevant"),
                4,
            ).alias("recall_at_10"),
        )
        .orderBy("bench_doc_id")
    )
