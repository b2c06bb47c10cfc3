"""Scale smoke: do the scale-path operators grow ~linearly in corpus
size, or is something quietly quadratic / single-reducer?

sf0.1's documents (5k rows), embeddings (2k rows), events, orders and
lineitem are amplified 4x/16x/64x into /tmp/scale_smoke/ (doc ids
offset per copy; text gets a per-copy marker token so the NEAR-DUP
STRUCTURE stays constant — bare duplication would measure
candidate-pair blowup, i.e. the data, not the engine; embeddings get
a per-copy circular component rotation — within-copy inner products
preserved exactly, cross-copy cosine ~ 0; events/orders shift
user_id/o_orderkey per copy so per-entity density stays constant for
the same reason). Each amplified tier then runs the scale-tier
queries end-to-end and we record wall time.

Read: a healthy operator's time ratio should track the data ratio
(~4x data -> ~4x time, modulo fixed overhead which dominates at these
sizes and flattens the ratios). A ratio tracking the SQUARE of the
data ratio means a pair-space explosion; a flat-then-cliff means a
single reducer saturating.

Writes /tmp only (repo and testdata untouched); regenerates SCALE.md.
Usage: python scripts/scale_smoke.py
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from rdbms_scala_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/scale_smoke"
FACTORS = (1, 4, 16, 64)
QUERIES = (
    "dedup_exact_docs",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_levenshtein",
    "similarity_lsh_ann",
    "similarity_ivf",
    "similarity_topk_bruteforce",
    "text_quality_score",
    "text_pack_sequences",
    "text_chunk_documents",
    "sample_quality_weighted",
    "pipeline_training_manifest",
    "join_skew_salted",
    "join_skew_salted_demo",
    "join_asof",
    "join_range_binned",
    "join_bloom_pruned",
    "events_sessionize",
    "events_gap_fill",
    "dedup_minhash_clusters",
    "scan_zorder_skipping",
    "streaming_tumbling_counts",
    "streaming_stream_stream_join",
    "join_bucketed_colocated",
    "maintenance_table_stats",
    "embeddings_label_centroids",
    "graph_pagerank",
    "text_bm25_search",
    "text_unigram_logprob",
    "embeddings_gram_matrix",
    "events_pattern_match",
    # round 7: cut-point RFM (the de-globalized rewrite), Gram power
    # iteration, the DAU/WAU contribution explode, first-occurrence
    # novelty, basket pair join (order-bounded fan-out), and decile
    # bucketing. graph_triangle_count is deliberately NOT here: its
    # wedge+closing joins are degree-bounded (round-7 orientation
    # rewrite), but its EDGE DERIVATION is the documented exact tier —
    # an all-pairs-within-label threshold scoring that is O((n/L)^2)
    # by design (x4 data -> ~16x scoring work; measured 2.6 s -> 18.9 s
    # at x1 -> x4 with per-copy-rotated, non-densifying embeddings).
    # At 100 TB the edge relation comes from the LSH/IVF candidate
    # tiers instead (similarity_lsh_ann / similarity_ivf, both smoked
    # here) and the triangle stages above it stay linear-in-edges.
    # Round 8 implements exactly that variant — smoked below.
    "events_rfm_segments",
    "embeddings_power_iteration",
    "events_dau_stickiness",
    "text_shingle_novelty",
    "basket_brand_pairs",
    "customer_ltv_deciles",
    # round 8: triangles re-admitted via the occupancy-adaptive LSH
    # edge tier — candidate pairs are bucket-cap-bounded (O(n * cap)
    # per band at any k), so unlike the exact tier this row measures
    # the engine, not the label-block density.
    "graph_triangle_count_lsh",
    # round 8: the deterministic-HLL profile pass — same long-form
    # stats as maintenance_table_stats (smoked above) minus the
    # exact-NDV Expand; the row pair measures exactly what the sketch
    # buys at scale.
    "maintenance_table_stats_sketch",
    # round 8 batch 2: token-volume ops (tfidf's window group-limit,
    # PMI's capped-vocab pair join), corpus-scoring ops (kNN vote =
    # brute-force top-k + vote; PC1 projection = power iteration + a
    # map-only matvec), the component-explode quantizer, the
    # two-window sessionize + path assembly, and the DPP star scan.
    "text_source_signature_terms",
    "text_term_pmi",
    "text_bigram_logprob",
    "embeddings_knn_vote",
    "embeddings_pc1_projection",
    "embeddings_int8_quantize",
    "events_session_paths",
    "scan_dynamic_partition_pruning",
    # round 9: the r8 additions whose docstrings make a scale claim
    # (r8 verdict's coverage-debt list) — the interval RANGE frame's
    # sliding two-pointer, running-DISTINCT's two-exchange
    # decomposition, the attribution family's single user_id exchange
    # (last_touch shares the plan family with first/linear/positional;
    # linear adds the credit fan-out so both endpoints are smoked),
    # the cohort-LTV growth matrix, and the one-pass HLL
    # inclusion-exclusion. Plus round 9's image phash tier: decode +
    # hash is map-only, the pair join is bucket-cap-bounded like the
    # MinHash tier it transposes.
    "window_time_range_rolling",
    "window_running_distinct",
    "events_attribution_last_touch",
    "events_attribution_linear",
    "events_cohort_ltv",
    "agg_hll_intersection",
    "dedup_image_phash",
    # round 9 batch 2: the winnowing pair join (df-capped inverted
    # index — the pair-space op that must prove it tracks the data,
    # not the square), LPA + assortativity over the shared cached
    # pair relation (per-round label/edge join; stub moment joins),
    # the offset-banded cosine histogram (8|V| equi-join pairs), and
    # the single-exchange burstiness moments.
    "dedup_winnowing_pairs",
    "graph_label_propagation",
    "graph_assortativity",
    "embeddings_cosine_histogram",
    "events_user_burstiness",
    # round 10: the four r9-batch-3 ops the r9 verdict flagged as
    # row-less — rolling median carries the O(w) per-row frame and is
    # the one to watch; RRF is the join-free union+aggregate fusion;
    # bucket stats is ONE groupBy over the uncapped band keys;
    # clustering coefficient runs over the session-cached pair
    # relation (warm pass pays the derivation). Plus the two new
    # round-10 ops: the incremental winnowing probe (batch fingerprint
    # + df-capped store join) and the late-data metrics sweep (three
    # bounded-state windowed drains + one partitioned rewrite of
    # events; the metrics readout itself is driver-held progress).
    "retrieval_hybrid_rrf",
    "window_rolling_median",
    "dedup_lsh_bucket_stats",
    "graph_clustering_coefficient",
    "dedup_winnowing_incremental",
    "streaming_late_data_metrics",
    # round-10 batch 2: DSIR importance (token-volume corpus pass +
    # 256-row broadcast model — read against the ~128x token
    # amplification like the other token-stream ops), the k-center
    # greedy traversal (8 corpus map passes + top-1 each, so ~8x the
    # linear scan floor), and framed audio energy (map-only
    # mapInPandas over the doc_id % 3 == 1 corpus; per-copy offsets
    # put all amplified copies' assets on fresh doc_ids, so asset
    # count tracks the corpus factor exactly).
    "sample_dsir_importance",
    "embeddings_kcenter_coreset",
    "multimodal_audio_energy",
    # round-10 batch 3: the max-coverage greedy — k broadcast-anti
    # passes over the shingle relation (token-volume op: read against
    # the ~128x shingle amplification like DSIR above).
    "sample_coverage_greedy",
    # round-10 batch 4: deterministic k-means|| init — 3 rounds of
    # (codegen d2 map pass + combinable phi sum + map-only Bernoulli
    # draw) + one broadcast assignment pass for the weights.
    "similarity_kmeans_parallel_init",
    # round-10 batch 5: b-bit minhash over the session-cached
    # (signatures, candidates) relation — per-pair codegen zip_with
    # counts, linear in the bucket-cap-bounded candidate set.
    "dedup_minhash_bbit",
    # (histogram variant rides the same derivation as dedup_simhash;
    # its SCALE behavior is that row plus an 11-key aggregate)
    "dedup_simhash_hamming_histogram",
    # round 11: the exact-substring tier — positioned anchor runs are
    # linear in corpus TOKENS (read x64 against the ~128x token
    # volume like DSIR/unigram), the repeat test is one combinable
    # count per run hash (never a pair join), and the islands merge
    # is window-per-doc. The full-candidate simhash histogram rides
    # the shared simhash_candidate_pairs derivation (the simhash row)
    # plus a <=65-key aggregate.
    "dedup_substring_exact",
    "dedup_simhash_candidate_histogram",
    # round 11 batch 2: substring removal stats rides the substring
    # span derivation + a per-doc sum (read against the token
    # amplification); the BPE encoder is 5 vocab-sized training
    # rounds + ONE corpus token explode joined to the broadcast vocab
    # (token-volume op); CUPED is one per-user combinable moment
    # pass; lang-temperature is two corpus passes shuffling only on
    # the language key; link prediction's wedge join is bounded by
    # the support-floored co-purchase degree (the scale lever — the
    # floor keeps one-off co-occurrence noise out of the edge list).
    "dedup_substring_removal_stats",
    "text_bpe_apply_encode",
    "events_cuped",
    "sample_lang_temperature",
    "graph_link_prediction",
    # round 11 batch 3: the bootstrap explodes the USER-grain relation
    # x64 (so its growth tracks distinct users, not events); hard-
    # negative mining is rows x dims x labels through a broadcast
    # centroid join (pure map+combine — should track the embedding
    # count); the dynamic-overwrite row is the write path (two
    # partitioned writes + read-back, watch it track orders volume);
    # adamic-adar rides the link-prediction wedge join plus a
    # hub-degree broadcast join.
    "events_bootstrap_ci",
    "embeddings_hard_negative_mining",
    "pipeline_dynamic_partition_overwrite",
    "graph_adamic_adar",
    # round 11 batch 4: NB source classifier — a token-volume op
    # (scoring explodes token instances x classes against the
    # broadcast model; read x64 against the ~128x token volume), with
    # the vocab floor bounding the model like the shingle df-cap —
    # and the real PNG resize (map-only decode+resample; per-copy
    # doc_id offsets give each amplified copy fresh image parameters,
    # so its wall should track the image count).
    "text_naive_bayes_source",
    "multimodal_image_resize",
    # round 14: the BH heterogeneity readout is two per-user
    # combinable moment passes + the first-event resolution join (the
    # only corpus-sized steps — its growth should track events volume
    # like cuped); the progress ledger re-splits the amplified events
    # into 4 files and drains them map-only, so its wall is the
    # split write + source/sink throughput (the streaming family's
    # genuinely data-volume-bound row).
    "events_ab_segments",
    "streaming_throughput_progress",
    # the DP release's one distinct-agg exchange on (day, user) —
    # growth should track events volume; the per-day noise map is
    # calendar-bounded.
    "events_dp_daily_counts",
    # round 14 (cont.): the r13 corpus-pass additions get SCALE rows —
    # quality AUC is one corpus map + the bounded per-score histogram
    # (read against token volume like the quality score it ranks);
    # the contamination check/sweep ride the session-cached shingle
    # relation + a broadcast benchmark side (the sweep adds a 10-row
    # threshold spine on top of the check's overlap aggregate); the
    # decontamination report composes three corpus tiers
    # (contamination + leakage split + exact-substring burden), so its
    # wall is the sum of its session-cached parts.
    "text_quality_auc",
    "dedup_contamination_check",
    "dedup_contamination_sweep",
    "pipeline_decontamination_report",
    # round 15: the plan-metrics audit executes its fixed
    # filter->join->agg query per pass plus the driver-side metric
    # walk — growth should track the audited join; the incremental
    # decontamination readout pays its CDC feed build in the warm
    # pass (session-materialized), so the timed wall is the delta
    # scoring + the 1-row merge — the nightly-ingest steady state,
    # which should grow with the BATCH (a fixed fraction of the
    # corpus here), not the corpus re-score.
    "maintenance_plan_metrics_audit",
    "pipeline_decontamination_incremental",
    # the retrieval quality gate: posting lists are bounded by the
    # hot-set df cap and the query side is eval-suite-sized, so the
    # row should track the shingle relation's build cost, not the
    # corpus pair space.
    "retrieval_eval_mrr",
)


def calibration_sec(spark) -> float:
    """The bench.py host-speed probe (500M-row pure-codegen hash sum,
    min-of-3 here): plan-invariant and data-independent, so per-TIER
    calibration rows turn 'is this tier's wall inflated by host load?'
    from eyeballing neighbors (the r9 bubble diagnosis) into a
    measurement."""
    q = lambda: (  # noqa: E731
        spark.range(500_000_000)
        .selectExpr("sum(id * 2654435761 % 1000) AS s")
        .collect()
    )
    q()
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        q()
        times.append(time.perf_counter() - t0)
    return round(min(times), 3)


def _noop(df):
    """Timing action (round 14): a noop-sink write that materializes
    every output row with ALL columns executor-side. count() is NOT a
    valid timing action — Catalyst prunes computed columns the group
    keys don't depend on (dedup_contamination_sweep: 1.9 s under
    count() vs 122 s honest at x64 — the whole overlap subtree was
    optimized away under the 10-row rollup). Streaming results are
    already-drained batch DFs here, so the noop write is total."""
    df.write.format("noop").mode("overwrite").save()


def amplify(spark, k: int) -> str:
    out = f"{OUT}/x{k}"
    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    n_vecs = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    d_parts = []
    e_parts = []
    for i in range(k):
        # Interleave a per-copy marker token between EVERY word (copy 0
        # stays pristine): every shingle of copy i contains c<i>, so
        # cross-copy Jaccard ~ 0 and the near-dup cluster structure per
        # corpus stays constant as k grows. (The first version of this
        # generator only APPENDED a tag — tail shingles changed, the
        # rest didn't, so every doc became a k-member near-dup cluster
        # and dedup_minhash_lsh's candidate space grew ~quadratically
        # in k: 23 s at x64 from ~10M genuine candidate pairs. Honest
        # work by the operator, but it measured the data, not the
        # engine — exactly the failure mode the docstring warns about.)
        text_i = (
            F.col("text")
            if i == 0
            else F.regexp_replace(F.col("text"), " ", f" c{i} ")
        )
        d_parts.append(
            docs.select(
                (F.col("doc_id") + i * n_docs).alias("doc_id"),
                F.col("lang"),
                F.col("source"),
                text_i.alias("text"),
            ).withColumn("n_chars", F.length("text"))
        )
        # Per-copy CIRCULAR ROTATION of the components (copy 0
        # pristine): rotation preserves every within-copy inner
        # product exactly (per-copy similarity structure constant),
        # while cross-copy cosine drops to the autocorrelation of a
        # near-random vector ~ 0 — so threshold-graph ops (triangle
        # count, pairs-above-threshold) see k independent copies, not
        # a k-times-denser graph. (The first version nudged ONE
        # component by 0.001*i: cross-copy cosine stayed ~1, the
        # similarity graph densified quadratically in k, and
        # graph_triangle_count hit 105 s at x16 measuring the data's
        # own edge growth, not the engine — the same trap the text
        # marker interleave fixes.)
        e_parts.append(
            emb.select(
                (F.col("vec_id") + i * n_vecs).alias("vec_id"),
                F.col("label"),
                F.expr(
                    f"transform(sequence(0, size(embedding) - 1), "
                    f"j -> element_at(embedding, ((j + {i}) % size(embedding)) + 1))"
                ).alias("embedding"),
            )
        )
    d = d_parts[0]
    for p in d_parts[1:]:
        d = d.unionByName(p)
    e = e_parts[0]
    for p in e_parts[1:]:
        e = e.unionByName(p)
    d.coalesce(max(1, k // 2)).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    e.coalesce(max(1, k // 2)).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # events / orders / lineitem for the join + event-stream scale ops.
    # Amplification shifts the ENTITY keys (user_id, o_orderkey) by a
    # per-copy offset, so per-user session/gap structure and per-order
    # line counts stay constant as k grows — more users and orders, not
    # denser ones (denser would measure the data's own fan-out growth,
    # not the engine; same reasoning as the marker interleave above).
    events = spark.read.parquet(f"{BASE}/events.parquet")
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    n_ev = events.agg(F.max("event_id")).collect()[0][0] + 1
    n_users = events.agg(F.max("user_id")).collect()[0][0] + 1
    n_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1
    ev_parts, o_parts, l_parts = [], [], []
    for i in range(k):
        ev_parts.append(
            events.withColumn("event_id", F.col("event_id") + i * n_ev)
            .withColumn("user_id", F.col("user_id") + i * n_users)
        )
        o_parts.append(orders.withColumn("o_orderkey", F.col("o_orderkey") + i * n_ord))
        l_parts.append(li.withColumn("l_orderkey", F.col("l_orderkey") + i * n_ord))
    for parts, name in ((ev_parts, "events"), (o_parts, "orders"), (l_parts, "lineitem")):
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.coalesce(max(1, k // 2)).write.mode("overwrite").parquet(f"{out}/{name}.parquet")
    # Static dimension tables pass through unamplified: dims don't
    # scale with the fact tables in this model (basket/star ops join
    # them broadcast), they just need to exist in the tier dir.
    for name in ("part", "supplier", "nation", "region", "customer"):
        spark.read.parquet(f"{BASE}/{name}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{out}/{name}.parquet")
    return out


def main() -> None:
    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    from rdbms_scala_spark.registry import all_queries

    specs = all_queries()
    results: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    rows: dict[int, dict[str, int]] = {}
    calib: dict[int, tuple[float, float]] = {}
    for k in FACTORS:
        sf_dir = amplify(spark, k)
        rows[k] = {
            t: spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
            for t in ("documents", "embeddings", "events", "orders", "lineitem")
        }
        calib_start = calibration_sec(spark)
        for q in QUERIES:
            _noop(specs[q].fn(spark, sf_dir))  # warm (codegen+JIT)
            times = []
            # x1/x4 are the CHEAP tiers where a host-load bubble can
            # out-last a query's passes (the r9 bubble): min-of-3
            # there; min-of-2 on the expensive tiers where each pass
            # is long enough to straddle transient load anyway.
            reps = 3 if k <= 4 else 2
            for _ in range(reps):
                t0 = time.perf_counter()
                _noop(specs[q].fn(spark, sf_dir))
                times.append(time.perf_counter() - t0)
            results[q][k] = round(min(times), 3)
            print(f"x{k} {q}: {results[q][k]}s", flush=True)
        calib[k] = (calib_start, calibration_sec(spark))
        print(f"x{k} calibration: {calib[k]}", flush=True)

    lines = [
        "# SCALE — amplified-corpus smoke (generated by scripts/scale_smoke.py)",
        "",
        "sf0.1 documents/embeddings amplified with constant near-dup",
        "structure (see script docstring; the marker interleave also",
        "~doubles each copy's text bytes, so byte volume grows ~2x the",
        "row factor); per-query warm min-of-2 wall seconds on local[32].",
        "A scale-safe operator's growth tracks the data factor (fixed",
        "overhead flattens small tiers); super-linear growth would",
        "expose a pair-space explosion or a single-reducer bottleneck.",
        "The generator's first (append-only) version made every doc a",
        "k-member near-dup cluster and drove dedup_minhash_lsh to 23 s",
        "at x64 — caught by this table and fixed two ways: the",
        "generator now interleaves markers, and the operator purges",
        "oversized band buckets from its pair join.",
        "",
        "Two rows need their cause named rather than fixed:",
        "- dedup_levenshtein: the marker interleave kills token-shingle",
        "  similarity but CANNOT kill character-level similarity ('c3'",
        "  vs 'c7' variants differ by 1-2 edits inside the 32-char",
        "  prefix), so amplification genuinely creates k-member",
        "  edit-distance clusters: the surviving capped pair space",
        "  grows ~300 -> ~5.5M genuine pairs at x64 (measured block",
        "  profile: pass-1 p50 19/p99 180, 171k rows purged). Wall",
        "  time growing ~7x while the genuine pair workload grows",
        "  ~18,000x (per-doc fan-out cap-bounded at 2*(64-1)) is the",
        "  engine absorbing a data-intrinsic explosion, not a leak.",
        "- join_skew_salted_demo: the demo threshold (6) marks ~1/7 of",
        "  ALL orders hot, so the hot set grows with the corpus and the",
        "  grid phase replicates it S ways — the demo config, not the",
        "  operator; the plain join_skew_salted row (per-reducer-budget",
        "  auto threshold, the production stance) shows the real curve.",
        "- token-stream ops (text_unigram_logprob, text_bm25_search,",
        "  text_shingle_novelty, graph_pagerank's shingle edge",
        "  derivation): the marker interleave DOUBLES each copy's token",
        "  count, so these ops see ~128x shingle/token volume at x64 —",
        "  unigram's ~11x and novelty's ~28x (a min-aggregate + a join",
        "  back that is linear in shingle INSTANCES) are strongly",
        "  sublinear against that. pagerank's derivation only survives",
        "  x64 because of its tight shingle-df cap: marker trigrams",
        "  ('c<i> w c<i>') reach df ~5000 per copy and the uncapped",
        "  sum(df^2) join OOM'd the JVM before the cap landed.",
        "- graph_pagerank measurement note (round 7): the timed passes",
        "  now run over the session-materialized pair relation",
        "  (cached_jaccard_pairs — built once in the warm pass), so the",
        "  row measures the 5 damped iterations + degree join, the",
        "  steady-state cost a session running the graph suite actually",
        "  pays per query. r6's 8.5x row was the same iterations plus a",
        "  full per-query re-derivation of the edges — the waste the",
        "  shared materialization removes (x64 wall 29.5 s -> ~1 s).",
        "- minhash measurement note (round 8, mirroring the pagerank",
        "  note above): dedup_minhash_lsh/clusters/calibration now",
        "  share ONE session-materialized (signatures, candidates)",
        "  relation (cached_minhash_sig_cand — built in the warm",
        "  pass), so their rows measure the estimate/closure stages",
        "  over the shared relation, the steady-state cost a session",
        "  running the dedup suite actually pays; the derivation cost",
        "  itself shows up once, in the warm pass.",
        "- round 8 measurement notes: the two rows r7 flagged as",
        "  non-monotone (basket_brand_pairs x16 8.8 > x64 5.8;",
        "  customer_ltv_deciles x16 2.3 > x64 0.7) now run min-of-3",
        "  (the script gives them an extra rep) and both came back",
        "  monotone (3.6x / 1.6x at x64) — host-drift noise, as suspected,",
        "  not a plan effect. New round-8 rows to read together:",
        "  graph_triangle_count_lsh 3.9x at x64 re-admits triangles to the",
        "  smoke on the LSH-candidate edge tier (the exact tier's edge",
        "  scoring is O((n/L)^2) by design and stays excluded);",
        "  maintenance_table_stats_sketch holds ~1.2 s at x64 where the",
        "  exact-NDV pass pays 13.1 s — the 11x the HLL swap buys; the",
        "  token-volume ops (term_pmi 6.7x, bigram_logprob 7.1x,",
        "  source_signature 3.3x) run against ~128x shingle/token volume,",
        "  all strongly sublinear; embeddings_knn_vote 5.0x is the linear",
        "  corpus-scoring floor (fixed 100-query block against a 64x",
        "  corpus); scan_dynamic_partition_pruning is flat (1.4x) because",
        "  the pruned day subset grows with the calendar, not the corpus.",
        "- round 9 measurement notes: streaming_stream_stream_join's",
        "  former flat 8-9 s floor was PROFILED (not asserted) as",
        "  state-store commit overhead scaling with partition count (32",
        "  inherited shuffle partitions x 4 join stores paid 54-78 s",
        "  aggregate commitTimeMs per drain); the join now sizes its",
        "  state partitions to state volume (jobs.py:_SS_JOIN_STATE_",
        "  PARTITIONS) and the row should read ~3x lower at every tier —",
        "  any residual flatness is the 2-micro-batch availableNow drain",
        "  itself. dedup_image_phash amplifies cleanly: per-copy doc_id",
        "  offsets give each copy fresh content keys, so the planted",
        "  near-dup cluster structure is constant per copy (the marker-",
        "  interleave argument, transposed to pixels); its decode+hash",
        "  pass is map-only and the pair join is bucket-cap-bounded.",
        "  graph_kcore measures the peel loop over the session-cached",
        "  phash relation (warm pass pays the decode, as with pagerank).",
        "  events_bitmap_retention and events_survival_curve fan out",
        "  over USER rows (x7 / x<=31), not event rows — their walls",
        "  should track the user count. agg_hll_intersection and",
        "  window_time_range_rolling / window_running_distinct are the",
        "  r8 scale-claim debt rows the r8 verdict asked to measure.",
        "- round 9 batch 2 rows: dedup_winnowing_pairs is the pair-space",
        "  op to watch — selection keeps ~2/(w+1) of grams and the",
        "  fingerprint df cap (<=64) bounds the inverted-index join the",
        "  way MAX_SHINGLE_DF bounds the Jaccard tier, BUT the marker",
        "  interleave doubles each copy's gram count, so the row runs",
        "  against ~128x gram volume at x64 (read it like the",
        "  token-volume ops above). graph_label_propagation and",
        "  graph_assortativity measure their iteration/moment stages",
        "  over the session-cached pair relation (warm pass pays the",
        "  derivation, as with pagerank). embeddings_cosine_histogram is",
        "  a linear 8|V|-pair equi-join — its wall should track the",
        "  vector count exactly. events_user_burstiness is one",
        "  user-keyed exchange feeding exact integer moments — the",
        "  single-shuffle floor.",
        "- round 10 measurement notes: the r9 'host-load bubble' read",
        "  protocol (x1/x4 rows inflated 3-8x, diagnosed by eyeballing",
        "  neighboring tiers) is replaced by instrumentation — each",
        "  tier now brackets its query loop with the bench's",
        "  plan-invariant 500M-row codegen calibration probe (row",
        "  below: an inflated tier shows an inflated probe, a clean",
        "  probe means the walls are real), and the cheap x1/x4 tiers",
        "  run min-of-3. dedup_winnowing_pairs re-measured after the",
        "  selection-rule fix (true per-window min: a second window",
        "  aggregate over the same doc-partitioned frame + the",
        "  full-window filter — same single-exchange shape). The fix",
        "  also collapsed the row's x64 wall (r9 20.4 s -> 1.7 s): the",
        "  old trailing-frame h==wmin rule selected EVERY member of an",
        "  equal-hash run, and marker-interleaved text is full of",
        "  repeated grams, so the r9 fingerprint relation was inflated",
        "  far past the true ~2/(w+1) density; per-window min +",
        "  DISTINCT keeps exact selection — the correctness fix was",
        "  also the scale fix.",
        "  dedup_winnowing_incremental fingerprints HALF the corpus",
        "  (the incoming split) and probes the df-capped store — its",
        "  wall should sit below the pair row's.",
        "  window_rolling_median is the round-10 row to watch: the",
        "  7-day range frame materializes O(frame) values per row",
        "  (median is not combinable), so its wall tracks",
        "  rows x frame-width; at x64 user-density is constant by",
        "  construction so growth should stay ~linear — super-linear",
        "  here would mean the frame is absorbing the amplification",
        "  (it must not, users are disjoint per copy).",
        "  retrieval_hybrid_rrf is the join-free union+aggregate",
        "  fusion; dedup_lsh_bucket_stats is one groupBy over the",
        "  UNCAPPED band keys (the occupancy histogram the caps are",
        "  tuned from); graph_clustering_coefficient reuses the",
        "  session-cached triangle/wedge relation.",
        "  streaming_late_data_metrics pays three bounded-state",
        "  windowed drains plus one partitioned rewrite of events per",
        "  call — expect the drain floor (state commit) to dominate",
        "  until event volume catches up, as with the other streaming",
        "  rows.",
        "- round 11 measurement notes: dedup_substring_exact is a",
        "  token-volume op (anchor runs are one positioned gram per",
        "  token — read its x64 against the ~128x token volume like",
        "  DSIR/unigram); dedup_substring_removal_stats rides the",
        "  shared span derivation plus a per-doc sum and should sit",
        "  at/below the span row. text_bpe_apply_encode and",
        "  text_bpe_train_merges share ONE session-cached training",
        "  (the bpe session relation, built in the warm pass — the pagerank/minhash",
        "  note transposed to the tokenizer), so their rows measure",
        "  the encode join / merge-table assembly, not 5 re-trainings",
        "  each. graph_link_prediction/_adamic_adar: this tier",
        "  DENSIFIES the co-purchase graph by construction (lineitem",
        "  copies share l_partkey — more orders over a fixed part",
        "  inventory); the first cut's FIXED support floor of 2",
        "  saturated at x64 (116k-edge graph, 13.8M wedges, 47 s) and",
        "  was replaced by the density-scaled floor (max(2, ceil(4/15",
        "  x orders-per-part)), behavior.py _copurchase_cte — floor 2",
        "  at every real TPC-H SF), cutting x64 to ~15 s with the",
        "  residual growth in the co-order count pass, not the wedge",
        "  space. events_bootstrap_ci explodes the USER-grain",
        "  relation x64 — its wall tracks distinct users (x7 at x64),",
        "  not event rows. events_cuped/srm/did are single per-user",
        "  exchanges (the ab_lift floor).",
        "  embeddings_hard_negative_mining is rows x dims x labels",
        "  through a broadcast centroid join — should track the",
        "  vector count. pipeline_dynamic_partition_overwrite is the",
        "  only WRITE-dominated row (two partitioned writes +",
        "  read-back per pass) — expect it to track orders volume",
        "  with a parquet-encode constant; sample_lang_temperature is",
        "  two corpus passes shuffling only the language key.",
        "- round 12 measurement notes: dedup_substring_exact /",
        "  _removal_stats now run with the df-cap skew valve IN CODE",
        "  (dedup.py substring_spans: anchor hashes with corpus count",
        "  >= 1024 are collected — bounded at 65536 — broadcast, and",
        "  routed to hits map-side, so the semi-join shuffle never",
        "  carries mega-repeated keys; result-invariant, pinned by",
        "  test_substring_df_cap_hot_route_is_result_invariant). On",
        "  marker-interleaved amplified text no hash reaches the cap,",
        "  so these tiers measure the UNCHANGED two-pass plan plus one",
        "  cheap empty hot-probe aggregate; the valve pays off on",
        "  corpora with true mega-boilerplate, which amplification",
        "  deliberately does not create. text_naive_bayes_source now",
        "  shares its scored relation (a session relation) with the round-12",
        "  class-metrics/calibration readouts — built in the warm",
        "  pass, so the row measures scoring reads like the BPE pair.",
        "",
        f"Rows: {json.dumps(rows)}",
        "",
        "Per-tier host-speed calibration (bench.py probe, min-of-3,",
        "measured at tier start / tier end — read a tier's walls",
        "against these two numbers):",
        f"Calibration: {json.dumps({f'x{k}': v for k, v in calib.items()})}",
        "",
        "| query | " + " | ".join(f"x{k}" for k in FACTORS) + f" | x{FACTORS[-1]}/x1 |",
        "|---" * (len(FACTORS) + 2) + "|",
    ]
    for q in QUERIES:
        r = results[q]
        ratio = round(r[FACTORS[-1]] / r[1], 1) if r.get(1) else float("nan")
        cells = " | ".join(str(r.get(k)) for k in FACTORS)
        lines.append(f"| {q} | {cells} | {ratio}x |")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote SCALE.md", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
