"""Quality checks for the approximate operators that have no SQL
oracle: they must agree with their exact companions.

- MinHash-LSH and SimHash must recover the corpus's planted near-dup
  pairs (exact trigram-Jaccard >= 0.9 is the ground truth).
- LSH-ANN must achieve decent recall of the exact brute-force top-k.
- The multimodal fake features must be deterministic with the right
  shape.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rdbms_scala_spark import catalog, session
from rdbms_scala_spark.pipeline import dedup, multimodal, similarity


def _exact_pairs(spark, sf_dir, threshold=0.9):
    pairs = dedup.pairwise_jaccard(dedup.shingles_df(dedup.load_table(spark, sf_dir, "documents")))
    return {
        (r.doc_a, r.doc_b)
        for r in pairs.filter(F.col("jaccard") >= threshold).collect()
    }


def test_minhash_lsh_recovers_planted_pairs(spark, sf_dir):
    truth = _exact_pairs(spark, sf_dir)
    assert truth, "testdata should contain planted near-dup pairs"
    got = {(r.doc_a, r.doc_b) for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.9, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_shingle_df_cap_bounds_stop_shingle_blowup(spark):
    """A corpus-wide boilerplate phrase must not turn the inverted-index
    join quadratic: 60 otherwise-distinct docs sharing one phrase give
    ~1770 candidate pairs uncapped; with the df cap the stop-shingle's
    posting list is dropped and no spurious pair survives."""
    docs = spark.createDataFrame(
        [(i, f"unique{i}a unique{i}b unique{i}c all rights reserved") for i in range(60)],
        "doc_id long, text string",
    )
    sh = dedup.shingles_df(docs, n=3)
    uncapped = dedup.pairwise_jaccard(sh, max_df=10**9).count()
    capped = dedup.pairwise_jaccard(sh, max_df=10).count()
    assert uncapped == 60 * 59 // 2, uncapped  # every pair shares the phrase
    assert capped == 0, capped


def test_lev_blocking_bounds_dominant_source(spark):
    """One source dominating the corpus must not make the Levenshtein
    pair space quadratic: 300 same-source docs spread over 30 prefix
    bands x a few length buckets give pass-1 blocks of ~10; the shared
    "...body..." mid-text region makes pass-2 blocks of 60, which the
    block-purging cap drops — so the union equals exactly the pass-1
    pair space and stays O(block_cap x n), vs all-pairs 44850 under
    source-only blocking."""
    n, bands = 300, 30
    docs = spark.createDataFrame(
        [
            (
                i,
                "common-crawl",  # every doc from ONE source
                f"pre{i % bands:02d} document body {'x' * (i % 5 * 64)}",
            )
            for i in range(n)
        ],
        "doc_id long, source string, text string",
    ).withColumn("n_chars", F.length("text"))
    pairs = dedup.lev_blocked_pairs(docs, block_cap=32)
    got = pairs.count()
    assert got <= n * 10, f"{got} candidate pairs — blocking degenerated"
    # pass-2's degenerate 60-doc blocks are purged (> cap), so the
    # union is exactly the pass-1 pair space: same band + length
    same_block = docs.alias("a").join(
        docs.alias("b"),
        (F.expr("substring(lower(trim(a.text)), 1, 4) = substring(lower(trim(b.text)), 1, 4)"))
        & (F.expr("a.n_chars div 64 = b.n_chars div 64"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).count()
    assert got == same_block


def test_lev_blocking_second_pass_catches_front_damage(spark):
    """The disjunctive pass exists for pairs conjunctive blocking
    drops: a doc whose FIRST 4 chars are OCR-corrupted shares no
    pass-1 prefix band with its original, but the untouched mid-text
    band (chars 17-20) + same length land both in one pass-2 block."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    damaged = "th3-quick brown fox jumps over the lazy dog again and agai"  # front noise
    docs = spark.createDataFrame(
        [(0, "ocr", base), (1, "ocr", damaged)]
        + [(i, "ocr", f"filler {i} completely unrelated text body") for i in range(2, 10)],
        "doc_id long, source string, text string",
    ).withColumn("n_chars", F.length("text"))
    got = {(r.doc_a, r.doc_b) for r in dedup.lev_blocked_pairs(docs).collect()}
    assert (0, 1) in got, f"pass 2 should block the damaged pair; got {got}"


def test_simhash_recovers_planted_pairs(spark, sf_dir):
    truth = _exact_pairs(spark, sf_dir)
    got = {(r.doc_a, r.doc_b) for r in dedup.dedup_simhash(spark, sf_dir).collect()}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.8, f"SimHash recall {recall:.2f} over {len(truth)} true pairs"


def test_lsh_ann_recall_vs_bruteforce(spark, sf_dir):
    exact = similarity.similarity_topk_bruteforce(spark, sf_dir).collect()
    approx = similarity.similarity_lsh_ann(spark, sf_dir).collect()
    exact_top3 = {(r.query_id, r.neighbor_id) for r in exact if r.rank <= 3}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_top3 & approx_set) / len(exact_top3)
    # 8 bands x 5 planes + min-margin multi-probe measures ~0.93 top-3
    # recall on this worst-case near-random corpus (true neighbors at
    # cos ~0.37); gate at 0.6 for seed/scale headroom.
    assert recall >= 0.6, f"ANN top-3 recall {recall:.2f}"


def test_lsh_ann_recall_on_clustered_corpus(spark, tmp_path):
    """On a corpus where the LSH premise holds (planted clusters, the
    production shape), multi-probe LSH-ANN must reach recall@10 >=
    0.8 of the exact brute-force top-k. Reuses the KMeans-IVF
    clustered fixture recipe: 16 well-separated unit centers x 20
    members."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(16):
        pts = centers[c] + 0.15 * rng.normal(size=(20, 64))
        vecs.extend(pts / np.linalg.norm(pts, axis=1, keepdims=True))
    order = rng.permutation(len(vecs))
    vecs = [vecs[i] for i in order]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array([int(i) % 10 for i in range(len(vecs))], pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sfd = str(tmp_path)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(spark, sfd).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_lsh_ann(spark, sfd).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH-ANN recall@10 {recall:.2f} over {len(exact)} pairs"


def test_ivf_ann_recall_vs_bruteforce(spark, sf_dir):
    exact = similarity.similarity_topk_bruteforce(spark, sf_dir).collect()
    approx = similarity.similarity_ivf(spark, sf_dir).collect()
    exact_top3 = {(r.query_id, r.neighbor_id) for r in exact if r.rank <= 3}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_top3 & approx_set) / len(exact_top3)
    # nprobe=4 of 16 lists over near-random vectors: requires a
    # material fraction of the true top-3, not exactness.
    assert recall >= 0.2, f"IVF top-3 recall {recall:.2f}"


def test_connected_components_chain_converges_logarithmically(spark):
    """A 64-node chain has diameter 63: min-label propagation would
    need ~63 rounds, the alternating large/small-star algorithm must
    collapse it to one component in O(log n) rounds."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    labels, rounds = dedup.connected_components_edges(chain)
    got = {(r.doc_id, r.component_id) for r in labels.collect()}
    assert got == {(i, 0) for i in range(64)}
    assert rounds <= 12, f"expected O(log n) rounds on a chain, got {rounds}"


def test_connected_components_mixed_shapes(spark):
    """Two components of different shapes (a triangle-with-tail and a
    disjoint pair) must each collapse to their minimum id."""
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 10), (12, 13), (20, 21)],
        "doc_a long, doc_b long",
    )
    labels, _ = dedup.connected_components_edges(edges)
    got = {(r.doc_id, r.component_id) for r in labels.collect()}
    assert got == {(10, 10), (11, 10), (12, 10), (13, 10), (20, 20), (21, 20)}


def test_ivf_kmeans_recall_on_clustered_corpus(spark, tmp_path):
    """On a corpus where the IVF premise holds (neighbors share
    clusters), seeded-KMeans IVF must reach recall@10 >= 0.9 of the
    exact brute-force top-k while probing only nprobe/K of the lists.
    Plant 16 well-separated clusters x 20 members and compare."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(16):
        pts = centers[c] + 0.15 * rng.normal(size=(20, 64))
        vecs.extend(pts / np.linalg.norm(pts, axis=1, keepdims=True))
    order = rng.permutation(len(vecs))  # queries 0..4 land in varied clusters
    vecs = [vecs[i] for i in order]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array([int(i) % 10 for i in range(len(vecs))], pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    sfd = str(tmp_path)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(spark, sfd).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_ivf_kmeans(spark, sfd).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"KMeans-IVF recall@10 {recall:.2f} over {len(exact)} pairs"


def test_ivf_kmeans_runs_on_testdata(spark, sf_dir):
    """Regression floor on the (clusterless) synthetic testdata: the
    variant must run end-to-end and beat random-probe chance."""
    exact = similarity.similarity_topk_bruteforce(spark, sf_dir).collect()
    approx = similarity.similarity_ivf_kmeans(spark, sf_dir).collect()
    exact_top3 = {(r.query_id, r.neighbor_id) for r in exact if r.rank <= 3}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(exact_top3 & approx_set) / len(exact_top3) >= 0.2


def test_media_codecs_roundtrip():
    """The stdlib containers must be parseable by their own header
    parsers with the doc_id-derived parameters intact — pure Python,
    the same code the mapInPandas workers run."""
    for doc_id in range(0, 60):
        meta = multimodal.parse_media_header(multimodal.synth_payload(doc_id))
        m = doc_id % 3
        if m == 0:
            assert meta["mime"] == "image/png"
            assert meta["width"] == 8 + doc_id % 24
            assert meta["height"] == 8 + doc_id % 16
        elif m == 1:
            rate = (8000, 16000, 22050, 44100)[doc_id % 4]
            assert meta["mime"] == "audio/wav"
            assert meta["sample_rate"] == rate
            assert meta["duration_us"] == (100 + doc_id % 400) * 1_000_000 // rate
        else:
            assert meta["mime"] == "video/mp4"
            assert meta["brand"] == "isom"
            assert meta["duration_us"] == (1000 + doc_id % 5000) * 1000


def test_png_payload_is_standard_decodable():
    """The synthesized PNG must be a genuinely valid file, not just
    self-consistent: CRCs check out and the IDAT inflates to exactly
    height x (1 + width) filter-prefixed scanline bytes."""
    import struct
    import zlib

    payload = multimodal.synth_payload(12)  # 12 % 3 == 0 -> PNG
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    pos, chunks = 8, {}
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(">I", payload[pos + 8 + length : pos + 12 + length])
        assert crc == zlib.crc32(tag + body), tag
        chunks[tag] = body
        pos += 12 + length
    width, height = struct.unpack(">II", chunks[b"IHDR"][:8])
    assert len(zlib.decompress(chunks[b"IDAT"])) == height * (1 + width)
    assert chunks[b"IEND"] == b""


def test_phash_decode_roundtrips_pixel_formula():
    """decode_png_gray must recover EXACTLY the closed-form pixel
    values the oracle rebuilds arithmetically — the whole phash
    oracle rests on this round-trip."""
    import numpy as np

    for doc_id in (0, 3, 9, 12, 21, 117, 363):
        img = multimodal.decode_png_gray(multimodal.synth_image_png(doc_id))
        h, w = img.shape
        assert (w, h) == (8 + doc_id % 24, 8 + doc_id % 16)
        ckey, pert = doc_id // 12, doc_id % h
        expect = np.array(
            [
                [
                    (ckey * 37 + r * 11 + c * 7 + (128 if r == pert else 0)) % 256
                    for c in range(w)
                ]
                for r in range(h)
            ],
            dtype=np.int64,
        )
        assert (img == expect).all()


def test_phash_bands_match_bruteforce_pooling():
    """ahash64_bands' vectorized pooling must equal a scalar
    re-derivation of the same r*8//h grid mapping, bit for bit."""
    import numpy as np

    rng_imgs = [
        multimodal.decode_png_gray(multimodal.synth_image_png(d))
        for d in (0, 6, 15, 48, 111)
    ]
    for img in rng_imgs:
        h, w = img.shape
        ts, tn = int(img.sum()), h * w
        bands = [0, 0, 0, 0]
        for grow in range(8):
            for gcol in range(8):
                sel = [
                    int(img[r, c])
                    for r in range(h)
                    for c in range(w)
                    if (r * 8) // h == grow and (c * 8) // w == gcol
                ]
                bit = 1 if sum(sel) * tn > ts * len(sel) else 0
                i = grow * 8 + gcol
                bands[i // 16] |= bit << (i % 16)
        assert multimodal.ahash64_bands(img) == bands


def test_phash_planted_neardups_are_recalled(spark, sf_dir):
    """Same-content-key images (same base picture, one brightened row
    each) must appear among the verified pairs: banding may only ADD
    unrelated-but-close pairs, never lose the planted ones that pass
    the Hamming verify."""
    rows = multimodal.dedup_image_phash(spark, sf_dir).collect()
    found = {(r.doc_a, r.doc_b) for r in rows}
    assert found, "phash tier found no pairs at all"
    same_key = {(a, b) for a, b in found if a // 12 == b // 12}
    assert same_key, "no planted same-content-key near-dup recalled"
    # verify bound holds on everything returned
    assert all(0 <= r.hamming <= multimodal.PHASH_HAMMING_MAX for r in rows)


def test_kcore_fixpoint_within_oracle_margin(spark, sf_dir):
    """The Spark side peels to the TRUE fixpoint; the oracle unrolls
    a fixed number of rounds. Monotonicity makes over-unrolling safe,
    but under-unrolling would silently diverge — so pin that the
    fixture converges well inside the margin, and that the result IS
    a k-core (every member's in-core degree >= k)."""
    rows = multimodal.graph_kcore(spark, sf_dir).collect()
    assert rows, "k-core unexpectedly empty"
    assert all(r.core_degree >= multimodal._KCORE_K for r in rows)
    # re-peel in pure Python from the verified pairs and count rounds
    pairs = multimodal.dedup_image_phash(spark, sf_dir).collect()
    from collections import defaultdict

    adj = defaultdict(set)
    for r in pairs:
        adj[r.doc_a].add(r.doc_b)
        adj[r.doc_b].add(r.doc_a)
    nodes, rounds = set(adj), 0
    while True:
        drop = {
            n
            for n in nodes
            if sum(1 for m in adj[n] if m in nodes) < multimodal._KCORE_K
        }
        if not drop:
            break
        nodes -= drop
        rounds += 1
    assert rounds <= multimodal._KCORE_ORACLE_ROUNDS // 2, (
        f"fixture peels in {rounds} rounds — too close to the "
        f"{multimodal._KCORE_ORACLE_ROUNDS}-round oracle unroll margin"
    )
    assert nodes == {r.doc_id for r in rows}


def test_multimodal_features_deterministic(spark, sf_dir):
    a = multimodal.multimodal_features_array(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    b = multimodal.multimodal_features_array(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    assert a == b
    assert all(len(r.features) == multimodal.FEATURE_DIM for r in a)
    assert all(0.0 <= v < 1.0 for r in a for v in r.features)


def test_multimodal_features_gate_form_hash_stable(spark, sf_dir):
    """The registered query must emit only scalar columns (the driver
    canonicalizer cannot hash array cells) and its hex signature must
    round-trip the array values EXACTLY (chunk i as big-endian uint32
    / 2^32 is dimension i of the library form's vector)."""
    rows = multimodal.multimodal_features(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    arrs = multimodal.multimodal_features_array(spark, sf_dir).orderBy("doc_id").limit(5).collect()
    for gate, arr in zip(rows, arrs):
        assert not any(isinstance(v, list) for v in gate.asDict().values())
        parts = gate.features_sig.split(",")
        assert len(parts) == multimodal.FEATURE_DIM
        for s, v in zip(parts, arr.features):
            assert int(s, 16) / 2**32 == v


def test_exact_dedup_covers_all_docs(spark, sf_dir):
    docs = dedup.load_table(spark, sf_dir, "documents")
    deduped = dedup.dedup_exact_docs(spark, sf_dir)
    assert deduped.agg(F.sum("n_copies")).collect()[0][0] == docs.count()


def test_hll_sketch_estimates_within_error(spark, sf_dir):
    """Per-group HLL estimates and the merged-union estimate must be
    within standard HLL error (lgK=12 -> ~1.6%, allow 5%) of exact —
    the gate form folds the check into an est_in_band boolean; the
    exact column must also agree with an independent COUNT DISTINCT."""
    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.operators.aggregates import agg_hll_mergeable

    rows = agg_hll_mergeable(spark, sf_dir).collect()
    assert {r["scope"] for r in rows} >= {"ALL"}
    assert all(r["est_in_band"] for r in rows), rows
    cust = load_table(spark, sf_dir, "customer")
    exact_all = cust.select("c_custkey").distinct().count()
    all_row = next(r for r in rows if r["scope"] == "ALL")
    assert all_row["exact_distinct"] == exact_all


def test_approx_distinct_within_rsd(spark, sf_dir):
    """approx_count_distinct at rsd=0.02 must land inside the 5x-rsd
    band (folded into the gate form's booleans), and the co-computed
    exact counts must agree with an independent aggregation."""
    from rdbms_scala_spark.operators.aggregates import agg_approx_distinct

    rows = agg_approx_distinct(spark, sf_dir).collect()
    assert all(r["parts_in_band"] and r["supps_in_band"] for r in rows), rows
    li = dedup.load_table(spark, sf_dir, "lineitem")
    exact = {
        r["l_returnflag"]: (r["p"], r["s"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("p"),
            F.countDistinct("l_suppkey").alias("s"),
        )
        .collect()
    }
    for r in rows:
        assert (r["exact_parts"], r["exact_supps"]) == exact[r["l_returnflag"]]


def test_approx_percentiles_within_bound(spark, sf_dir):
    """percentile_approx at accuracy=10000 must land inside the exact
    quantile band at p +/- 0.005 (folded into the gate form's
    booleans), for every group and every tracked percentile."""
    from rdbms_scala_spark.operators.aggregates import agg_approx_percentiles

    rows = agg_approx_percentiles(spark, sf_dir).collect()
    assert len(rows) >= 3
    for r in rows:
        assert r["q50_in_band"] and r["q95_in_band"] and r["q99_in_band"], r


def test_chunking_covers_every_char(spark):
    """Chunk-window invariants at the edge lengths: exactly width,
    width+1 (forces a 1-past-the-end tail), multiples of the stride,
    and a short doc — every character lands in >= 1 chunk, consecutive
    chunks overlap by width - stride, and nothing hangs past the
    text."""
    from rdbms_scala_spark.pipeline import chunking

    lengths = [1, 100, 512, 513, 896, 897, 2000]
    docs = spark.createDataFrame(
        [(i, "x" * n, n) for i, n in enumerate(lengths)],
        "doc_id long, text string, n_chars int",
    )
    rows = chunking.chunked_docs(docs).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, n in enumerate(lengths):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        covered_to = 0
        for r in chunks:
            assert r.chunk_start <= covered_to, f"gap before {r.chunk_start} (len {n})"
            assert len(r.chunk_text) >= 1
            covered_to = max(covered_to, r.chunk_start + len(r.chunk_text))
        assert covered_to == n, f"covered {covered_to} != n_chars {n}"


def test_derived_partsupp_primary_key_at_all_scales(spark):
    """(ps_partkey, ps_suppkey) must be a primary key at EVERY scale.
    dbgen's literal step formula degenerates at small supplier counts
    (S=10: step 5, i*5 mod 10 repeats — observed 60 duplicate pairs at
    sf0.001 before the fix); the quarter-offset form must not."""
    from rdbms_scala_spark.queries.tpch_ps import derived_partsupp

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        ps = derived_partsupp(spark, sf)
        total = ps.count()
        distinct = ps.select("ps_partkey", "ps_suppkey").distinct().count()
        assert total == distinct, f"{sf}: {total - distinct} duplicate partsupp keys"
        n_part = dedup.load_table(spark, sf, "part").count()
        assert total == 4 * n_part


def test_minhash_band_bucket_purge_bounds_mass_dup_cluster(spark):
    """A mass-duplicate cluster must not re-introduce a quadratic pair
    space through one band bucket: 200 identical docs share every band
    bucket (19900 pairs unpurged); with the bucket cap they are purged
    from the pairwise path entirely, while small planted near-dup
    pairs elsewhere survive."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, base) for i in range(200)]  # the mass-dup cluster
        + [
            (1000, "one two three four five six seven eight nine ten"),
            (1001, "one two three four five six seven eight nine eleven"),
        ],
        "doc_id long, text string",
    )
    # the PRODUCTION banding, constants, and candidate path — the
    # exact expand_bucket_pairs call dedup_minhash_lsh makes, not a
    # re-implementation (the gate-scale oracle runs never fill a
    # bucket, so the cap wiring is certified only here); production
    # signs the distinct shingles, and a min over repeated shingles
    # gives the same signature
    sig = dedup.minhash_signatures(dedup.shingles_df(docs, n=3))
    sig_rep = dedup.minhash_signatures(dedup.shingles_df(docs, n=3, distinct=False))
    assert sorted(sig.collect()) == sorted(sig_rep.collect())
    cand = (
        dedup.expand_bucket_pairs(
            dedup.minhash_band_buckets(sig),
            keys=["band", "band_hash"],
            payload=["doc_id"],
            keep=lambda bn: (bn >= 2) & (bn <= dedup._BAND_BUCKET_CAP),
        )
        .select(F.col("a_doc_id").alias("doc_a"), F.col("b_doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert (1000, 1001) in pairs, "small near-dup pair must survive the purge"
    assert all(p[0] >= 1000 for p in pairs), f"mass cluster leaked {len(pairs)} pairs"


def test_purge_oversized_buckets_int_cap(spark):
    """With cap 3, a 10-row bucket is purged while the 2-row and 1-row
    buckets survive."""
    rows = [("a", i) for i in range(10)] + [("b", 1), ("b", 2), ("c", 1)]
    df = spark.createDataFrame(rows, "k string, v long")
    got_int = sorted(
        (r.k, r.v) for r in dedup.purge_oversized_buckets(df, ["k"], 3).collect()
    )
    assert got_int == [("b", 1), ("b", 2), ("c", 1)]


def test_merge_upsert_row_fates_and_broadcast(spark):
    """merge_upsert must produce exactly the three row fates (replaced,
    inserted, passed-through) and keep the anti-join broadcast so the
    base table is never shuffled."""
    from rdbms_scala_spark.pipeline.snapshot import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    )
    updates = spark.createDataFrame(
        [(2, "B"), (9, "NEW")], "k long, v string"
    )
    merged = merge_upsert(base, updates, keys=["k"])
    assert {(r.k, r.v) for r in merged.collect()} == {
        (1, "a"),  # passed through
        (3, "c"),  # passed through
        (2, "B"),  # replaced by the update
        (9, "NEW"),  # inserted
    }
    # plan check on a FRESH, un-executed frame: after an action AQE
    # may convert a tiny sort-merge join to broadcast at runtime, so
    # only the pre-execution plan proves the hint (not data size)
    # chose the broadcast — and the real plan text is
    # "BroadcastHashJoin [k..], [k..], LeftAnti", never the adjacent
    # words a naive substring would look for
    import re

    plan = (
        merge_upsert(base, updates, keys=["k"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:1500]


def test_snapshot_store_time_travel_and_atomic_manifest(spark, tmp_path):
    """SnapshotStore: versions are immutable and manifest-resolved —
    v0 reads identically after v1 commits; the manifest pins the
    schema, so a read launches no Spark job and returns the schema a
    footer inference would (every column nullable, as Spark makes any
    file-source schema); missing versions raise; a leftover tmp
    manifest (simulated crash mid-publish) is invisible to readers."""
    import datetime as dt
    from decimal import Decimal

    import pytest as _pytest

    from rdbms_scala_spark.pipeline.snapshot import SnapshotStore

    schema = (
        "k bigint not null, s string, i int not null, d date, ts timestamp, "
        "ntz timestamp_ntz, amt decimal(12,2), tags array<string>, "
        "pt struct<x: int, y: string>, attrs map<string, bigint>"
    )

    def row(k, s):
        return (
            k, s, k * 10, dt.date(2024, 1, k), dt.datetime(2024, 1, k, 12, 30),
            dt.datetime(2024, 2, k, 8, 0), Decimal(f"{k}.25"), [s, "t"],
            (k, s), {s: k},
        )

    store = SnapshotStore(spark, str(tmp_path / "store"))
    assert store.versions() == []
    v0 = store.commit(spark.createDataFrame([row(1, "a"), row(2, "b")], schema))
    v1 = store.commit(spark.createDataFrame([row(1, "a"), row(2, "B"), row(3, "c")], schema))
    assert (v0, v1) == (0, 1)
    assert {(r.k, r.s) for r in store.read(0).collect()} == {(1, "a"), (2, "b")}
    assert sorted(store.read(1).collect()) == [row(1, "a"), row(2, "B"), row(3, "c")]
    sc = spark.sparkContext
    for v in (v0, v1):
        group = f"snapshot_read_{v}"
        sc.setJobGroup(group, "SnapshotStore.read")
        try:
            df = store.read(v)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert df.schema == spark.read.parquet(str(tmp_path / "store" / f"v{v}")).schema
    # crash mid-publish: tmp manifest present, rename never happened
    (tmp_path / "store" / "_manifest" / ".2.json.tmp").write_text("{}")
    assert store.versions() == [0, 1]
    with _pytest.raises(ValueError, match="version 5"):
        store.read(5)


def test_snapshot_read_is_pinned_to_manifest_files(spark, tmp_path):
    """A version's rows are exactly the files its manifest names: a
    part file copied into the published version dir afterwards is not
    read, and a listed file that has gone missing fails the read
    rather than silently dropping its rows."""
    import os
    import shutil

    import pytest as _pytest

    from rdbms_scala_spark.pipeline.snapshot import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "store"))
    v = store.commit(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string"))
    vdir = os.path.join(store.root, f"v{v}")
    parts = sorted(
        (os.path.join(vdir, f) for f in os.listdir(vdir) if f.endswith(".parquet")),
        key=os.path.getsize,
    )
    shutil.copy(parts[-1], os.path.join(vdir, "part-99999-late.snappy.parquet"))
    assert spark.read.parquet(vdir).count() > 3  # a directory listing sees the copy
    assert sorted((r.k, r.s) for r in store.read(v).collect()) == [(1, "a"), (2, "b"), (3, "c")]
    os.remove(parts[-1])
    with _pytest.raises(Exception, match="PATH_NOT_FOUND"):
        store.read(v).collect()


def _write_clustered_embeddings(tmp_path):
    """The shared planted-cluster fixture (16 well-separated unit
    centers x 20 members, shuffled) used by the LSH/KMeans/PQ recall
    gates — the corpus shape where the ANN premises hold."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = []
    for c in range(16):
        pts = centers[c] + 0.15 * rng.normal(size=(20, 64))
        vecs.extend(pts / np.linalg.norm(pts, axis=1, keepdims=True))
    order = rng.permutation(len(vecs))
    vecs = [vecs[i] for i in order]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "label": pa.array([int(i) % 10 for i in range(len(vecs))], pa.int64()),
                "embedding": pa.array(
                    [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
                ),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    return str(tmp_path)


def test_pq_scan_then_exact_rerank_recall(spark, tmp_path):
    """PQ's production composition: the compressed scan proposes top-C
    candidates, an exact re-rank of just those C recovers the true
    top-k. On the clustered corpus the raw PQ ranking is mediocre BY
    DESIGN (K=16 codes collapse same-cluster members to equal scores)
    while scan+rerank must reach recall@10 >= 0.9 — proving the
    compressed tier loses little once composed the way it's meant to
    be used."""
    from pyspark.sql import functions as F

    sfd = _write_clustered_embeddings(tmp_path)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_topk_bruteforce(spark, sfd).collect()
    }
    raw_pq = {
        (r.query_id, r.neighbor_id)
        for r in similarity.similarity_pq(spark, sfd).collect()
    }
    raw_recall = len(exact & raw_pq) / len(exact)
    assert raw_recall >= 0.4, f"raw PQ recall {raw_recall:.2f} collapsed entirely"

    cand = similarity.similarity_pq(spark, sfd, top_k=50).select(
        "query_id", "neighbor_id"
    )
    emb = similarity.load_table(spark, sfd, "embeddings")
    qv = emb.select(
        F.col("vec_id").alias("query_id"), similarity._as_double("embedding").alias("qv")
    ).withColumn("qn", similarity.norm("qv"))
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"), similarity._as_double("embedding").alias("nv")
    ).withColumn("nn", similarity.norm("nv"))
    from pyspark.sql import Window as W

    reranked = (
        cand.join(qv, "query_id")
        .join(nv, "neighbor_id")
        .withColumn("cos", similarity.cosine_pre("qv", "nv", "qn", "nn"))
        .withColumn(
            "rank",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
            ),
        )
        .filter(F.col("rank") <= 10)
    )
    got = {(r.query_id, r.neighbor_id) for r in reranked.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.9, f"PQ scan+rerank recall@10 {recall:.2f}"


def test_snapshot_diff_classification(spark):
    """snapshot_diff: insert/update/delete classification with
    null-safe payload comparison — NULL->value and value->NULL are
    updates, NULL->NULL is unchanged, and unchanged keys never
    surface."""
    from rdbms_scala_spark.pipeline.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (5, None), (6, "x")], "k long, s string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, "now"), (7, "new")], "k long, s string"
    )
    got = {(r.op, r.k, r.s) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        ("update", 2, "B"),
        ("update", 5, "now"),
        ("delete", 6, None),
        ("insert", 7, "new"),
    }


def test_pagerank_star_graph_ranks_hub_highest(spark):
    """pagerank_edges on a 5-node star (hub 0 <-> leaves 1..4): the
    hub must out-rank every leaf, leaves tie exactly (integer
    arithmetic — no float noise), and a repeated run is bit-identical."""
    from rdbms_scala_spark.pipeline.dedup import pagerank_edges

    pairs = [(0, i) for i in range(1, 5)]
    edges = spark.createDataFrame(
        [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs], "u long, v long"
    )
    r1 = {r.doc_id: r.rank_q9 for r in pagerank_edges(edges).collect()}
    r2 = {r.doc_id: r.rank_q9 for r in pagerank_edges(edges).collect()}
    assert r1 == r2
    leaves = {r1[i] for i in range(1, 5)}
    assert len(leaves) == 1, f"leaves must tie exactly: {r1}"
    assert r1[0] > r1[1]


def test_gram_matrix_is_symmetric_psd(spark, sf_dir):
    """Mathematical invariants of X^T X that no per-cell oracle can
    state: reconstructed from the upper triangle it must be symmetric
    by construction and positive semi-definite (all eigenvalues >=
    -tol), and its diagonal must be strictly positive (no dead
    dimension in the corpus)."""
    import numpy as np

    from rdbms_scala_spark.pipeline.similarity import (
        _GRAM_DIM,
        embeddings_gram_matrix,
    )

    rows = embeddings_gram_matrix(spark, sf_dir).collect()
    assert len(rows) == _GRAM_DIM * (_GRAM_DIM + 1) // 2
    g = np.zeros((_GRAM_DIM, _GRAM_DIM))
    for r in rows:
        g[r.i, r.j] = g[r.j, r.i] = r.gram_q
    assert (np.diag(g) > 0).all()
    eig = np.linalg.eigvalsh(g)
    assert eig.min() >= -1e-6 * abs(eig.max())


def test_vocab_induction_ids_and_coverage(spark, sf_dir):
    """Dense ids must be contiguous from 0 in frequency order, and
    cumulative coverage must be nondecreasing and end <= 1."""
    from rdbms_scala_spark.pipeline.retrieval import text_vocab_induction

    rows = text_vocab_induction(spark, sf_dir).collect()
    assert [r.token_id for r in rows] == list(range(len(rows)))
    freqs = [r.freq for r in rows]
    assert freqs == sorted(freqs, reverse=True)
    covs = [r.cum_coverage for r in rows]
    assert all(b >= a for a, b in zip(covs, covs[1:]))
    assert covs[-1] <= 1.0


def test_bm25_hits_contain_query_terms(spark, sf_dir):
    """Every retrieved doc must actually contain at least one query
    term, with n_terms_hit counting exactly the distinct matches."""
    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.pipeline.retrieval import _QUERY_TERMS, text_bm25_search

    hits = {r.doc_id: r for r in text_bm25_search(spark, sf_dir).collect()}
    assert hits
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin(*hits.keys()))
        .collect()
    )
    for d in docs:
        toks = set(d.text.lower().split())
        n_hit = len(toks & set(_QUERY_TERMS))
        assert n_hit >= 1
        assert hits[d.doc_id].n_terms_hit == n_hit
        assert hits[d.doc_id].bm25 > 0


def test_recursive_cte_depth_closed_form(spark, sf_dir):
    """The ancestor walk's depth for start key k must equal
    floor(log2(k)) — the height of k in the implicit binary
    hierarchy (k -> k/2 -> ... -> 1)."""
    from rdbms_scala_spark.operators.subqueries import subquery_recursive_cte

    rows = subquery_recursive_cte(spark, sf_dir).collect()
    assert len(rows) == 100
    for r in rows:
        assert r.root_depth == r.start_key.bit_length() - 1


def test_snapshot_vacuum_destroys_only_expired(spark, sf_dir):
    """After vacuum(retain_last=2): v0 and the orphan data dir are
    gone from disk, a v0 read raises the clean missing-version error,
    and the surviving versions still read through their manifests."""
    import os

    import pytest as _pytest

    from rdbms_scala_spark.pipeline.snapshot import _vacuum_store

    store = _vacuum_store(spark, sf_dir)
    assert store.versions() == [1, 2]
    assert not os.path.isdir(os.path.join(store.root, "v0"))
    assert not os.path.isdir(os.path.join(store.root, "v99"))
    with _pytest.raises(ValueError, match="does not exist"):
        store.read(0)
    assert store.read(1).count() > store.read(2).count()


def test_pagerank_edge_df_cap_has_gate_headroom(spark, sf_dir):
    """graph_pagerank derives its edges under a tight shingle-df cap
    (noise-pair suppression at scale). The cap must NOT bind at
    oracle scales or the exact-replay oracle would diverge — pin
    comfortable headroom between the corpus's max shingle df and the
    cap."""
    from rdbms_scala_spark.pipeline.dedup import (
        _PAGERANK_MAX_DF,
        shingles_df,
    )

    docs = dedup.load_table(spark, sf_dir, "documents")
    max_df = (
        shingles_df(docs, n=3)
        .groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_df * 4 <= _PAGERANK_MAX_DF, (max_df, _PAGERANK_MAX_DF)


def test_snapshot_commit_race_loses_loudly(spark, tmp_path):
    """Two committers racing for the same version number must NOT
    silently clobber each other: the second publish of version N
    raises FileExistsError (exclusive-link publish), and the winning
    manifest still reads back intact."""
    import pytest as _pytest

    from rdbms_scala_spark.pipeline.snapshot import SnapshotStore

    a = SnapshotStore(spark, str(tmp_path / "store"))
    b = SnapshotStore(spark, str(tmp_path / "store"))
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(9).withColumnRenamed("id", "k")
    assert a.commit(df1) == 0
    # b computed its version BEFORE a's commit landed -> both try v1
    assert a.commit(df1) == 1
    with _pytest.raises(FileExistsError):
        # simulate the stale-version race: force b to publish v1 again
        import json
        import os

        data_dir = os.path.join(b.root, "v1_racer")
        df2.write.mode("overwrite").parquet(data_dir)
        tmp = os.path.join(b.manifest_dir, ".1.json.tmp2")
        with open(tmp, "w") as fh:
            json.dump({"version": 1, "path": data_dir}, fh)
        try:
            os.link(tmp, os.path.join(b.manifest_dir, "1.json"))
        finally:
            os.unlink(tmp)
    # winner's manifest untouched: v1 still reads a's 5-row commit
    assert a.read(1).count() == 5


def test_snapshot_commit_from_stale_version_keeps_winner_data(spark, tmp_path):
    """Two real commits from the same stale version allocation: the
    second committer must land on a fresh version and leave the
    first commit's rows intact."""
    from rdbms_scala_spark.pipeline.snapshot import SnapshotStore

    a = SnapshotStore(spark, str(tmp_path / "store"))
    b = SnapshotStore(spark, str(tmp_path / "store"))
    b.versions = lambda: []  # b listed the manifests before a published
    va = a.commit(spark.range(5).withColumnRenamed("id", "k"))
    vb = b.commit(spark.range(100, 103).withColumnRenamed("id", "k"))
    assert (va, vb) == (0, 1)
    assert sorted(r.k for r in a.read(va).collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.k for r in a.read(vb).collect()) == [100, 101, 102]


def test_snapshot_vacuum_retention_protects_fresh_orphans(spark, tmp_path):
    """A fresh orphan dir (in-flight commit lookalike) must survive a
    default-retention vacuum and be removed only when the caller
    explicitly opts into zero retention (crash recovery)."""
    import os

    from rdbms_scala_spark.pipeline.snapshot import SnapshotStore

    store = SnapshotStore(spark, str(tmp_path / "store"))
    df = spark.range(4).withColumnRenamed("id", "k")
    store.commit(df)
    store.commit(df)
    orphan = os.path.join(store.root, "v99")
    df.write.mode("overwrite").parquet(orphan)
    kept = store.vacuum(retain_last=2)  # default 24 h retention
    assert "v99" not in kept["removed_orphans"]
    assert os.path.isdir(orphan)
    swept = store.vacuum(retain_last=2, orphan_retention_s=0.0)
    assert "v99" in swept["removed_orphans"]
    assert not os.path.isdir(orphan)


def test_substring_exact_merges_islands_and_finds_shifted_repeats(spark, tmp_path):
    """The anchor-run + gaps-and-islands formulation must (a) merge
    consecutive repeated k-run offsets into ONE maximal span of the
    exact duplicated length, (b) report multiple disjoint spans in the
    same document separately, and (c) catch a repeat at a DIFFERENT
    offset in the partner doc — the case fixed non-overlapping windows
    (dedup_span_exact) miss by construction."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdbms_scala_spark.pipeline.dedup import (
        _SUBSTR_K,
        dedup_substring_exact,
    )

    k = _SUBSTR_K
    blockA = " ".join(f"a{i}" for i in range(k + 4))  # k+4 tokens
    blockB = " ".join(f"b{i}" for i in range(k))  # exactly k tokens
    filler = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    docs = [
        # doc 0: blockA at offset 1, blockB later — two disjoint spans
        (0, f"{blockA} {filler('x', k)} {blockB}"),
        # doc 1: blockA shifted right by 3 tokens
        (1, f"{filler('y', 3)} {blockA} {filler('z', k)}"),
        # doc 2: blockB only
        (2, f"{filler('w', k)} {blockB}"),
        # doc 3: no repeats
        (3, filler("u", 3 * k)),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs]),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = dedup_substring_exact(spark, str(tmp_path)).collect()
    spans = {(r.doc_id, r.span_start, r.span_tokens, r.span_text) for r in rows}
    assert spans == {
        (0, 1, k + 4, blockA),
        (0, 2 * k + 5, k, blockB),
        (1, 4, k + 4, blockA),
        (2, k + 1, k, blockB),
    }, spans


def test_substring_df_cap_hot_route_is_result_invariant(
    spark, tmp_path, monkeypatch
):
    """The df-cap skew valve (hot hashes collected + broadcast, their
    offsets routed to hits map-side) must change the PLAN, never the
    RESULT: the span relation with the valve triggered equals the
    relation from the plain semi-join path on the same corpus. The
    corpus carries one block repeated far above the lowered cap (the
    mega-boilerplate case the valve exists for) plus an ordinary
    twice-repeated block that must keep flowing through the semi-join
    tier."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdbms_scala_spark.pipeline import dedup as dd

    k = dd._SUBSTR_K
    hot_block = " ".join(f"h{i}" for i in range(k))  # repeated in every doc
    rare_block = " ".join(f"r{i}" for i in range(k + 2))  # repeated twice
    n_docs = 12
    rows = []
    for d in range(n_docs):
        filler = " ".join(f"f{d}_{i}" for i in range(k))
        text = f"{hot_block} {filler}"
        if d in (3, 7):
            text = f"{text} {rare_block}"
        rows.append((d, text))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in rows], pa.int64()),
                "text": pa.array([t for _, t in rows]),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    baseline = {
        (r.doc_id, r.span_start, r.span_tokens)
        for r in dd.substring_spans(spark, str(tmp_path)).collect()
    }
    # every doc leads with the hot block -> its k-run hash occurs
    # n_docs times; cap at n_docs so ONLY that hash goes hot
    monkeypatch.setattr(dd, "_SUBSTR_DF_CAP", n_docs)
    hot_path = {
        (r.doc_id, r.span_start, r.span_tokens)
        for r in dd.substring_spans(spark, str(tmp_path)).collect()
    }
    assert hot_path == baseline
    assert {(3, 2 * k + 1, k + 2), (7, 2 * k + 1, k + 2)} <= hot_path
    assert all(s == 1 and t == k for d, s, t in hot_path if d not in (3, 7))


def test_mv_refresh_merge_law_holds_for_any_split(spark, sf_dir):
    """The incremental-MV merge (union partials + re-reduce) must
    equal the full recompute for EVERY base/delta partition of the
    fact table, not just the registered 90/10 demo — the commutative-
    monoid law the operator rests on. Checked for three unrelated
    split predicates."""
    from rdbms_scala_spark.catalog import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("p_q"),
    )

    def partial(df):
        return df.groupBy("o_orderpriority", "month").agg(
            F.count(F.lit(1)).alias("n"), F.sum("p_q").alias("s")
        )

    full = partial(orders)
    for mod, res in ((2, 0), (7, 3), (13, 12)):
        pred = F.col("o_orderkey") % mod == res
        merged = (
            partial(orders.filter(pred))
            .unionByName(partial(orders.filter(~pred)))
            .groupBy("o_orderpriority", "month")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        assert merged.exceptAll(full).count() == 0
        assert full.exceptAll(merged).count() == 0


def test_bootstrap_weight_ladder_is_poisson1(spark):
    """The md5 threshold ladder must draw Poisson(1): over 80k
    deterministic draws the zero-class frequency sits at e^-1 and the
    mean at 1 (both within 1%% absolute), and no weight exceeds the
    9-step cap."""
    import math

    from rdbms_scala_spark.queries.behavior import _bootstrap_weight_sql

    u = "substring(md5(concat('boot:', CAST(id AS STRING))), 1, 8)"
    stats = (
        spark.range(80_000)
        .selectExpr(f"{_bootstrap_weight_sql(u)} AS w")
        .agg(
            F.avg("w").alias("mean"),
            F.avg((F.col("w") == 0).cast("double")).alias("p0"),
            F.max("w").alias("wmax"),
        )
        .collect()[0]
    )
    assert abs(stats.mean - 1.0) < 0.01, stats
    assert abs(stats.p0 - math.exp(-1.0)) < 0.01, stats
    assert stats.wmax <= 9, stats


def test_leakage_safe_split_keeps_dup_clusters_together(spark, tmp_path):
    """Byte-identical texts under DIFFERENT doc ids (the crawl
    re-insert case that id-keyed splitting leaks on) must land in one
    split, and the n_straddling proof column must be zero."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdbms_scala_spark.pipeline.sampling import sample_leakage_safe_split

    texts = [f"unique document body number {i}" for i in range(40)]
    # 40 unique texts, each under 3 different ids = 120 docs
    doc_ids = list(range(120))
    body = [texts[i % 40] for i in range(120)]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(doc_ids, pa.int64()),
                "text": pa.array(body),
                "n_chars": pa.array([len(t) for t in body], pa.int64()),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    rows = sample_leakage_safe_split(spark, str(tmp_path)).collect()
    assert sum(r.n_docs for r in rows) == 120
    assert sum(r.n_clusters for r in rows) == 40
    assert all(r.n_straddling == 0 for r in rows), rows
    # every cluster contributes its 3 copies to exactly one split
    assert all(r.n_docs == 3 * r.n_clusters for r in rows), rows


def test_link_prediction_candidates_are_nonadjacent_wedges(spark, sf_dir):
    """Every predicted pair must be (a) absent from the co-purchase
    edge list and (b) a genuine 2-hop pair with the reported
    common-neighbor count."""
    from rdbms_scala_spark.queries.behavior import (
        copurchase_graph,
        graph_link_prediction,
    )

    got = graph_link_prediction(spark, sf_dir).collect()
    assert got, "expected candidates on the test corpus"
    pairs, edges, _ = copurchase_graph(spark, sf_dir)
    edge_set = {(r.pa, r.pb) for r in pairs.collect()}
    adj: dict[int, set[int]] = {}
    for u, v in edge_set:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    for r in got:
        assert (r.part_a, r.part_b) not in edge_set, r
        common = len(adj.get(r.part_a, set()) & adj.get(r.part_b, set()))
        assert common == r.common_neighbors, (r, common)


def test_hard_negative_mining_flags_planted_mislabels(spark, tmp_path):
    """A vector sitting exactly on the OTHER label's cluster point
    must be flagged as a hard negative; the tight cluster members
    must not be."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rdbms_scala_spark.pipeline.similarity import (
        embeddings_hard_negative_mining,
    )

    dim = 8
    a_point = [1.0] * dim
    b_point = [-1.0] * dim
    vecs, labels = [], []
    for i in range(20):
        vecs.append(a_point)
        labels.append(0)
        vecs.append(b_point)
        labels.append(1)
    # the plant: label 0, but positioned at label 1's cluster
    vecs.append(b_point)
    labels.append(0)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    rows = {r.label: r for r in embeddings_hard_negative_mining(spark, str(tmp_path)).collect()}
    assert rows[0].n_hard == 1, rows  # only the plant
    assert rows[1].n_hard == 0, rows


def test_erfc_polynomial_matches_stdlib(spark):
    """The Abramowitz-Stegun 7.1.26 tree events_ab_segments shares
    with its oracle must track math.erfc within the published 1.5e-7
    bound across the z range that matters (0..6 covers p from 1 down
    to ~1e-9, the query's quantization floor)."""
    import math

    from rdbms_scala_spark.streaming.events import _two_sided_p_sql

    zs = [i / 10.0 for i in range(0, 61)]
    df = spark.createDataFrame([(z,) for z in zs], "z double").selectExpr(
        "z", f"{_two_sided_p_sql('z')} AS p"
    )
    for row in df.collect():
        want = math.erfc(abs(row["z"]) / math.sqrt(2.0))
        assert abs(row["p"] - want) <= 1.5e-7, (row["z"], row["p"], want)


def test_ab_segments_bh_is_textbook_step_up(spark, sf_dir):
    """The query's p_bh column must equal the textbook BH step-up
    (p_adj(i) = min_{j>=i} m*p_(j)/j, capped at 1) recomputed
    driver-side from its own p_value column, and significance must be
    the p_bh <= 0.05 cut."""
    from rdbms_scala_spark.streaming.events import events_ab_segments

    rows = events_ab_segments(spark, sf_dir).collect()
    m = len(rows)
    by_p = sorted(rows, key=lambda r: (r["p_value"], r["segment"]))
    adj, run = {}, float("inf")
    for i in range(m - 1, -1, -1):
        run = min(run, by_p[i]["p_value"] * m / (i + 1))
        adj[by_p[i]["segment"]] = min(run, 1.0)
    # Tolerance: the query computes BH from the UNROUNDED p (int64
    # 1e-9 quanta); this recomputation starts from the 6dp-rounded
    # p_value column, which can shift m*p/j by up to m * 0.5e-6.
    tol = m * 5e-7 + 1e-9
    for r in rows:
        assert abs(r["p_bh"] - adj[r["segment"]]) <= tol, r
        assert r["significant"] == (r["p_bh"] <= 0.05)
        assert r["p_bh"] >= r["p_value"] - tol


def test_contamination_df_cap_matches_oracle_when_binding(
    spark, oracle, sf_dir, monkeypatch
):
    """The contamination family's train-df cap is non-binding at the
    sf0.01 driver gate by design (145 training docs < 1000), so the
    external gate never exercises it. Bind it here: with the cap
    monkeypatched to 3 (many sf0.01 trigrams have train-df above
    that), the Spark result must still match the oracle rebuilt with
    the SAME cap — pinning that the capped semantics agree between
    engines where the cap actually changes the answer."""
    import pandas as pd

    import rdbms_scala_spark.pipeline.dedup as dd
    from tests.utils import assert_matches_oracle

    monkeypatch.setattr(dd, "_CONTAM_MAX_DF", 3)
    capped_sql = dd._contamination_check_oracle()
    assert "count(*) > 3" in capped_sql  # the cap reached the chain
    df = dd.dedup_contamination_check(spark, sf_dir)
    assert_matches_oracle(df, oracle, capped_sql, "contamination_cap3")
    # and the cap must actually bind at this sf: the capped answer
    # differs from the registered (cap-1000, non-binding) oracle's
    uncapped = oracle.execute(
        capped_sql.replace("count(*) > 3", "count(*) > 1000")
    ).fetchdf()
    capped = df.toPandas()
    assert not capped.equals(uncapped)


def test_decontamination_incremental_feed_reuse_and_plan(spark, sf_dir):
    """Round-15 pins for the incremental decontamination readout:
    (a) the CDC feed is session-materialized — two calls hand back the
    SAME checkpointed DataFrame (three consumers would otherwise
    re-run the full-outer CDC join each: the first cut of the
    operator executed it three times per pass); (b) the steady-state
    report plan contains NO SortMergeJoin — the one structural SMJ
    (the full-outer epoch join) is paid once inside the checkpoint
    build, and every per-call join is broadcast-shaped (standing
    index + batch-sized churn keys); (c) the merge arithmetic is
    internally consistent with the feed's own op counts."""
    from rdbms_scala_spark.pipeline import chunking

    feed1 = chunking._decontam_cdc(spark, sf_dir)
    feed2 = chunking._decontam_cdc(spark, sf_dir)
    assert feed1 is feed2  # fingerprint-keyed session cache hit
    flags1 = chunking._v0_standing_flags(spark, sf_dir)
    assert flags1 is chunking._v0_standing_flags(spark, sf_dir)
    ops = {r["op"] for r in feed1.select("op").distinct().collect()}
    assert ops == {"insert", "update", "delete"}

    report = chunking.pipeline_decontamination_incremental(spark, sf_dir)
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    rows = {r["view"]: r.asDict() for r in report.collect()}
    v0, v1 = rows["v0_full"], rows["v1_incremental"]
    by_op = {
        r["op"]: r["n"]
        for r in feed1.groupBy("op").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert v1["n_inserted"] == by_op["insert"]
    assert v1["n_updated"] == by_op["update"]
    assert v1["n_deleted"] == by_op["delete"]
    assert v1["n_train_docs"] == v0["n_train_docs"] + by_op["insert"] - by_op["delete"]


def test_plan_metrics_audit_ledger_is_semantic(spark, sf_dir):
    """Round-15 pin for the runtime-metrics audit: the ledger's stage
    rows must equal independently recomputed semantic counts (the
    DuckDB oracle certifies the same equality cross-engine; this pin
    keeps it inside pytest where a Spark upgrade that changes metric
    accounting or plan-node naming fails fast)."""
    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.sources.stats import maintenance_plan_metrics_audit

    ledger = {
        r["stage"]: r["n_rows"]
        for r in maintenance_plan_metrics_audit(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    filt = li.filter(F.col("l_orderkey") % 7 == 0)
    n_filter = filt.count()
    joined = filt.join(orders, filt["l_orderkey"] == orders["o_orderkey"])
    assert ledger["filter_rows"] == n_filter
    assert ledger["join_rows"] == joined.count()
    n_groups = joined.select("o_orderpriority").distinct().count()
    assert ledger["result_groups"] == n_groups
    assert ledger["result_rows"] == n_groups


def test_coverage_greedy_total_is_gain_sum(spark, sf_dir):
    """The identity that licenses the r15 one-job-per-round rewrite:
    over the DISTINCT (doc_id, shingle) relation, each round's
    covered_total must equal BOTH the running sum of gains (what the
    query now emits) and the independently recomputed distinct
    shingle count of the selected docs (what the round-10 form and
    the oracle compute)."""
    from pyspark.sql import functions as F

    from rdbms_scala_spark.pipeline.dedup import cached_doc_shingles
    from rdbms_scala_spark.pipeline.sampling import (
        _COVERAGE_N,
        sample_coverage_greedy,
    )

    rows = sample_coverage_greedy(spark, sf_dir).collect()
    assert rows, "fixture corpus must select at least one doc"
    sh = cached_doc_shingles(spark, sf_dir, n=_COVERAGE_N)
    running = 0
    ids: list[int] = []
    for r in rows:
        running += r.gain
        ids.append(int(r.doc_id))
        recomputed = (
            sh.filter(F.col("doc_id").isin(ids))
            .select("shingle")
            .distinct()
            .count()
        )
        assert r.covered_total == running == recomputed


def test_power_iteration_matches_bigint_replay(spark, sf_dir):
    """Pins the r15 collected-Gram driver-side rewrite: the emitted
    eigenvector must equal an independent exact big-int replay of
    Gram + the 3 matvec/rescale iterations computed with numpy object
    arithmetic over the same Spark-quantized vectors (integer sums
    are order-independent, so any correct implementation agrees
    bit-for-bit)."""
    import math

    import numpy as np

    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.pipeline.similarity import (
        _GRAM_DIM,
        _POWER_ITERS,
        _POWER_SCALE,
        embeddings_power_iteration,
    )

    qrows = (
        load_table(spark, sf_dir, "embeddings")
        .selectExpr(
            "transform(embedding, x -> "
            "CAST(round(CAST(x AS DOUBLE) * 10000, 0) AS BIGINT)) AS qv"
        )
        .collect()
    )
    q = np.array([[int(v) for v in r.qv] for r in qrows], dtype=object)
    gram = q.T @ q  # exact: object dtype is Python big-int
    x = np.array([_POWER_SCALE] * _GRAM_DIM, dtype=object)
    for _ in range(_POWER_ITERS):
        y = gram @ x
        d = max(abs(int(v)) for v in y) // _POWER_SCALE + 1
        x = np.array([math.floor(float(int(v)) / d) for v in y], dtype=object)
    rows = embeddings_power_iteration(spark, sf_dir).orderBy("dim").collect()
    assert [int(r.component_q) for r in rows] == [int(v) for v in x]


def test_adaptive_lsh_buckets_first_fitting(spark, sf_dir):
    """Pins the r15 single-aggregation rewrite of the occupancy-
    adaptive bucket ladder: every emitted (vec_id, band) row must sit
    in the FIRST prefix level whose bucket holds <= cap members
    (recomputed independently per level from the code relation), and
    every dropped row must be oversized at every level."""
    from collections import Counter

    from pyspark.sql import functions as F

    from rdbms_scala_spark.catalog import load_table
    from rdbms_scala_spark.pipeline.similarity import (
        _LSH_ROWS,
        _TRI_LSH_CAP,
        _TRI_LSH_LEVELS,
        _adaptive_code_udf,
        _as_double,
        adaptive_lsh_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("v")
    )
    codes = {
        (r.vec_id, r.band): r.code
        for r in emb.select(
            "vec_id", F.posexplode(_adaptive_code_udf()("v")).alias("band", "code")
        ).collect()
    }

    def prefix(code, lv):
        return code & ((1 << (_LSH_ROWS + lv)) - 1)

    counts = [Counter() for _ in range(_TRI_LSH_LEVELS + 1)]
    for (_vid, band), code in codes.items():
        for lv in range(_TRI_LSH_LEVELS + 1):
            counts[lv][(band, prefix(code, lv))] += 1

    out = adaptive_lsh_buckets(emb).collect()
    assert out, "fixture corpus must bucket at least one (vec, band)"
    seen = set()
    for r in out:
        code = codes[(r.vec_id, r.band)]
        assert r.bucket == prefix(code, r.lvl)
        assert counts[r.lvl][(r.band, r.bucket)] <= _TRI_LSH_CAP
        for lv in range(r.lvl):
            assert counts[lv][(r.band, prefix(code, lv))] > _TRI_LSH_CAP
        seen.add((r.vec_id, r.band))
    for (vid, band), code in codes.items():
        if (vid, band) not in seen:
            for lv in range(_TRI_LSH_LEVELS + 1):
                assert counts[lv][(band, prefix(code, lv))] > _TRI_LSH_CAP


def test_semdedup_margins_dominate_gemm_reorder(spark, sf_dir):
    """Double-margin audit for the r16 per-cluster GEMM keeper pass
    (the triangle-tier argument, made a standing gate): replay the
    whole decision chain in Python with the OLD left-fold summation
    order, assert (a) the GEMM path's declared output is identical,
    and (b) every float-gated decision — the tau gate, the keeper
    argmax, the round-to-3 readout — sits orders of magnitude farther
    from its decision boundary than the fold-vs-GEMM drift."""
    import numpy as np

    from rdbms_scala_spark.pipeline.similarity import (
        _IVF_K,
        _SEMDEDUP_TAU,
        _load_vectors,
        dedup_semdedup,
    )

    def fold_dot(a, b):
        acc = np.float64(0.0)
        for x, y in zip(a, b):
            acc = acc + np.float64(x) * np.float64(y)
        return acc

    def fold_cos(a, b):
        return fold_dot(a, b) / (
            np.sqrt(fold_dot(a, a)) * np.sqrt(fold_dot(b, b))
        )

    vecs = {
        int(r.vec_id): np.asarray(r.v, dtype=np.float64)
        for r in _load_vectors(spark, sf_dir).collect()
    }
    assert len(vecs) > 1
    cents = {i: vecs[i] for i in vecs if i < _IVF_K}
    # assignment replay: max_by(cent_id, struct(ccos, -cent_id))
    assign: dict[int, int] = {}
    for vid, v in vecs.items():
        best = max(
            ((fold_cos(v, cv), -cid) for cid, cv in cents.items()),
        )
        assign[vid] = -int(best[1])
    clusters: dict[int, list[int]] = {}
    for vid, cid in assign.items():
        clusters.setdefault(cid, []).append(vid)

    tau_margin = np.inf
    gap_margin = np.inf
    edge_margin = np.inf
    drift = 0.0
    expected: dict[int, tuple] = {}
    n_pairs = 0
    for cid, members in clusters.items():
        members.sort()
        V = np.stack([vecs[m] for m in members])
        n = np.sqrt(np.einsum("ij,ij->i", V, V))
        G = (V @ V.T) / (n[:, None] * n[None, :])
        for j, vj in enumerate(members):
            cands = []
            for i in range(j):
                c = float(fold_cos(vecs[members[i]], vecs[vj]))
                drift = max(drift, abs(c - float(G[i, j])))
                tau_margin = min(tau_margin, abs(c - _SEMDEDUP_TAU))
                n_pairs += 1
                if c >= _SEMDEDUP_TAU:
                    cands.append((c, members[i]))
            if cands:
                best = max(cands, key=lambda t: (t[0], -t[1]))
                others = sorted(
                    {c for c, _ in cands if c != best[0]}, reverse=True
                )
                if others:
                    gap_margin = min(gap_margin, best[0] - others[0])
                # distance of kcos*1000 from the nearest .5 rounding edge
                frac = abs((best[0] * 1000.0) % 1.0 - 0.5)
                edge_margin = min(edge_margin, frac)
                expected[vj] = (cid, "drop", best[1], round(best[0], 3))
            else:
                expected[vj] = (cid, "keep", None, None)

    assert n_pairs > 0, "fixture must exercise the pair stage"
    floor = max(drift, 1e-15)
    assert tau_margin > 1e4 * floor, (tau_margin, drift)
    assert gap_margin > 1e4 * floor, (gap_margin, drift)
    assert edge_margin * 1e-3 > 1e3 * floor, (edge_margin, drift)

    got = {
        int(r.vec_id): (
            r.cent_id,
            r.status,
            r.keeper_id,
            r.keeper_cos,
        )
        for r in dedup_semdedup(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for vid, exp in expected.items():
        g = got[vid]
        assert g[0] == exp[0] and g[1] == exp[1] and g[2] == exp[2], (vid, g, exp)
        if exp[3] is None:
            assert g[3] is None, (vid, g, exp)
        else:
            assert g[3] is not None and abs(g[3] - exp[3]) < 1e-9, (vid, g, exp)


# ---------------------------------------------------------------------------
# the session-relation cache (session.session_relation)

_SF_TINY = "/root/testdata/sf0.001"


@pytest.fixture
def sf_copy(tmp_path):
    """A writable copy of the smallest tier, so tables can be rewritten
    in place without touching the shared test data."""
    d = tmp_path / "sf"
    shutil.copytree(_SF_TINY, d, copy_function=shutil.copyfile)
    return str(d)


def _rewrite(sf_dir: str, name: str, fn) -> None:
    """Overwrite ``name``'s parquet file in place with ``fn(table)``."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    pq.write_table(fn(pq.read_table(path)), path)


def _checkpoint_rdd_id(df) -> int:
    return df._jdf.queryExecution().logical().rdd().id()


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_session_relation_policy_without_spark(tmp_path):
    """Hit identity, fingerprint invalidation, the per-lookup counters
    and the drop of other applications' entries, on a stub session."""
    from types import SimpleNamespace

    def app(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    d = str(tmp_path)
    path = tmp_path / "t.parquet"
    path.write_bytes(b"v1")
    builds = []

    def build():
        builds.append(object())
        return builds[-1]

    s0 = session.stats()
    a = session.session_relation(app("A"), "stub", d, "t", build, 1)
    assert session.session_relation(app("A"), "stub", d + "/", "t", build, 1) is a
    b = session.session_relation(app("A"), "stub", d, "t", build, 2)
    assert b is not a  # params are part of the key
    path.write_bytes(b"version 2")
    c = session.session_relation(app("A"), "stub", d, "t", build, 1)
    assert c is not a and len(builds) == 3
    s1 = session.stats()
    assert (s1["hits"] - s0["hits"], s1["misses"] - s0["misses"]) == (1, 3)
    session.session_relation(app("B"), "stub", d, "t", build, 1)
    assert not [k for k in session._RELATIONS if k[0] == "A"]
    session.evict()
    assert session.stats()["entries"] == 0


def test_session_relation_counters_under_threads(tmp_path):
    """Concurrent lookups lose no counter update and leave one entry
    per key."""
    import sys
    import threading
    from types import SimpleNamespace

    stub = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="threads"))
    (tmp_path / "t.parquet").write_bytes(b"v1")
    n_threads, n_lookups = 16, 200

    def worker(i):
        for j in range(n_lookups):
            session.session_relation(stub, "stress", str(tmp_path), "t", object, (i + j) % 4)

    s0 = session.stats()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    s1 = session.stats()
    lookups = (s1["hits"] - s0["hits"]) + (s1["misses"] - s0["misses"])
    assert lookups == n_threads * n_lookups
    assert s1["kinds"] == ["stress"] and s1["entries"] == 4
    session.evict()


def test_session_relation_hit_returns_same_object(spark, sf_copy):
    first = dedup.cached_minhash_sig_cand(spark, sf_copy)
    s0 = session.stats()
    for _ in range(3):
        assert dedup.cached_minhash_sig_cand(spark, sf_copy) is first
    s1 = session.stats()
    assert (s1["hits"] - s0["hits"], s1["misses"] - s0["misses"]) == (3, 0)
    assert s1["cached_bytes"] > 0


def test_session_relation_counters_add_up(spark, sf_copy):
    """Every lookup is exactly one hit or one miss, and build time is
    only spent on misses. The MinHash build looks up ``doc_shingles``
    itself, so the first ``cached_doc_shingles`` call is a hit."""
    s0 = session.stats()
    for _ in range(2):
        dedup.cached_minhash_sig_cand(spark, sf_copy)
        dedup.cached_doc_shingles(spark, sf_copy)
        dedup.cached_doc_shingles(spark, sf_copy, n=2)
    s1 = session.stats()
    hits, misses = s1["hits"] - s0["hits"], s1["misses"] - s0["misses"]
    assert hits + misses == 7
    assert (hits, misses) == (4, 3)
    assert s1["build_s"] > s0["build_s"]
    dedup.cached_doc_shingles(spark, sf_copy)
    assert session.stats()["build_s"] == s1["build_s"]


def test_rewritten_documents_rebuild_minhash_and_free_old_checkpoint(spark, sf_copy):
    sig, cand = dedup.cached_minhash_sig_cand(spark, sf_copy)
    n_docs = sig.count()
    old_ids = {_checkpoint_rdd_id(sig), _checkpoint_rdd_id(cand)}
    assert old_ids <= _persisted_rdd_ids(spark)

    _rewrite(sf_copy, "documents", lambda t: t.slice(0, t.num_rows // 2))
    sig2, cand2 = dedup.cached_minhash_sig_cand(spark, sf_copy)
    assert sig2 is not sig and cand2 is not cand
    assert 0 < sig2.count() < n_docs
    assert not old_ids & _persisted_rdd_ids(spark)


def test_rewritten_spark_directory_rescans_table(spark, tmp_path):
    """A table Spark overwrites in place gets new part files and loses
    the old ones. The rebuild after the rewrite must scan the new
    listing, not a memoized scan of the deleted files, with no call
    to clear the memo."""
    sf = str(tmp_path / "sf")
    path = catalog.table_path(sf, "documents")
    spark.read.parquet(catalog.table_path(_SF_TINY, "documents")).write.parquet(path)
    sig, _ = dedup.cached_minhash_sig_cand(spark, sf)
    n_docs = sig.count()
    assert n_docs > 0

    src = spark.read.parquet(path)
    subset = src.collect()[: n_docs // 2]  # a driver-side copy
    spark.createDataFrame(subset, src.schema).write.mode("overwrite").parquet(path)
    sig2, _ = dedup.cached_minhash_sig_cand(spark, sf)
    assert sig2 is not sig
    assert sig2.count() == len(subset)
    exact = dedup.dedup_exact_docs(spark, sf)
    assert exact.agg(F.sum("n_copies")).first()[0] == len(subset)


def test_rewritten_embeddings_give_fresh_pq_codes(spark, sf_copy):
    codes, _ = similarity.pq_encode(spark, sf_copy)
    before = sorted(codes.collect())

    # reverse which vector each vec_id carries: the codebook (the
    # vectors of vec_id < 16) and every code move with it
    _rewrite(
        sf_copy,
        "embeddings",
        lambda t: t.set_column(
            t.schema.get_field_index("embedding"),
            "embedding",
            t.column("embedding").take(list(range(t.num_rows - 1, -1, -1))),
        ),
    )
    codes2, _ = similarity.pq_encode(spark, sf_copy)
    assert codes2 is not codes
    fresh = sorted(codes2.collect())
    assert fresh != before

    session.evict_session_relations(spark)  # a from-scratch build agrees
    assert sorted(similarity.pq_encode(spark, sf_copy)[0].collect()) == fresh


def test_evict_session_relations_clears_every_kind(spark, sf_copy):
    """Eviction reaches every session relation, including the PQ codes
    and the on-disk builds (bucketed tables, schema-merge layout,
    snapshot demo and vacuum stores) that the per-module registries
    it used to list by hand never covered."""
    from rdbms_scala_spark.pipeline import snapshot
    from rdbms_scala_spark.sources import files

    sig, cand = dedup.cached_minhash_sig_cand(spark, sf_copy)
    similarity.pq_encode(spark, sf_copy)
    files._bucketed_orders_lineitem(spark, sf_copy)
    files._schema_evolution_layout(spark, sf_copy)
    snapshot._vacuum_store(spark, sf_copy)  # builds the demo store too
    kinds = set(session.stats()["kinds"])
    assert {
        "minhash_sig_cand",
        "pq_codes",
        "bucketed_orders_lineitem",
        "schema_merge_layout",
        "snapshot_demo",
        "snapshot_vacuum",
    } <= kinds

    session.evict_session_relations(spark)
    after = session.stats()
    assert (after["entries"], after["kinds"], after["cached_bytes"]) == (0, [], 0)
    assert not {_checkpoint_rdd_id(sig), _checkpoint_rdd_id(cand)} & _persisted_rdd_ids(spark)
    # the next lookup rebuilds
    assert dedup.cached_minhash_sig_cand(spark, sf_copy)[0] is not sig


def test_session_relation_materializes_lazy_builds(spark, sf_copy):
    """A build hands back a lazy plan; the cache stores it as an eager
    checkpoint whose blocks the block manager holds."""
    df = session.session_relation(spark, "lazy_range", sf_copy, "documents", lambda: spark.range(7))
    assert _checkpoint_rdd_id(df) in _persisted_rdd_ids(spark)
    assert df.count() == 7
    session.evict()


def test_rewritten_events_rebuild_partitioned_layout(spark, sf_copy):
    """The date-partitioned events layout is a session relation keyed
    on `events`: rewriting `events` rewrites the layout, so the pruned
    scan counts the new rows."""
    from rdbms_scala_spark.sources import files

    window = (F.col("ts") >= F.lit("2024-01-10").cast("timestamp")) & (
        F.col("ts") < F.lit("2024-01-17").cast("timestamp")
    )

    def pruned_vs_direct():
        got = sum(r.n_events for r in files.scan_partition_pruned(spark, sf_copy).collect())
        return got, catalog.load_table(spark, sf_copy, "events").filter(window).count()

    got, want = pruned_vs_direct()
    assert got == want > 0
    assert "events_partitioned" in session.stats()["kinds"]
    _rewrite(sf_copy, "events", lambda t: t.slice(0, t.num_rows // 2))
    got2, want2 = pruned_vs_direct()
    assert got2 == want2 < want
