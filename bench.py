"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via the noop sink (no driver collect cost,
no result-size bias).  Every query first executes once UNTIMED at the
target scale factor, then the timed run measures steady-state execution
— at the 100 TB design point one-time codegen/JIT is noise; at sf0.1 it
would be the majority of several queries' wall time and would drown the
signal the benchmark exists to track.  The warmup runs at the TARGET sf
(not a smaller one) because queries embedding data-derived literals (IVF
centroids) generate a different codegen class per scale factor.
``get_spark`` sizes Spark's codegen class cache (8192 entries, twice the
~3,490 classes one pass of the full suite compiles at sf0.001), so the classes the untimed warm phase
generates are still cached in the timed phase.  No
cached state survives into the timed run: the dedup operators release
their persisted intermediates after materializing, and the timed run
rebuilds every plan from scratch (construction is INSIDE the timer — the
eager operators do real work at construction time).

Round-2 methodology changes (numbers are NOT comparable to BENCH_r01):
six more queries (w2/w4/w5, LSH/IVF ANN, bucketed embedding dedup);
construction moved inside the timer (the old timing measured a
cached-result replay for the eager dedup queries — dedup_ngram read
0.05 s while its real ~5 s of work ran untimed); warmup at target sf.

Round-3 changes: five more queries (w6 range join, decontamination,
unigram-LM scoring, label centroids, k-means); warmup restructured from
per-query to whole-suite-first (per-query warmup left the earliest
queries paying JVM-global C2 compilation in their timed run — 9 s for
q1's second execution in a cold JVM vs <2 s hot).

Round-4 changes: sixteen more queries (forward/nearest as-of joins,
SemDeDup semantic dedup, bloom decontamination, n-gram top-k, span
dedup + application, length quantiles, gram matrix, BM25 retrieval,
text normalization, count-min sketch, bigram-LM scoring, mixture
sampling, token-budget selection, deterministic shuffle), appended so
the shared-prefix ordering stays identical to round 3; methodology
unchanged — per-query times are directly comparable to BENCH_r03 (see
docs/BENCH_NOTES.md for the r3->r4 diff table).  Late round-4 batch
appends six more: HyperLogLog distinct sketch, NB quality classifier,
TPC-H q21/q22 shapes, PCA projection, BPE tokenizer training.

Round-7 changes: appends the new gates (DSIR selection, PSI + KS drift,
KMV overlap, decode+DSP and decode+resize round trips, containment
join, blocked entity resolution); ordering stays append-only so per-query times compare directly
to BENCH_r06.

Round-8 changes: appends the twelve new gates (IVF-PQ composite + the
full rerank serving path with their recall twins, hard-negative mining,
chi-square + embedding-centroid drift, the join-cardinality planner,
positional-index phrase search, robust median/MAD outliers, the Bloom
runtime-filter join, the exact bitmap-distinct rollup); prefix order
unchanged, so per-query times compare directly to earlier runs.

Round-10 changes: appends the round's eleven gates (PNG decode+resize,
WET extraction, paragraph dedup, URL canonicalization, JPEG round trip,
dHash image dedup, VAD trimming, tar-shard round trip, video frame
sampling, ADPCM round trip, banded dHash pair generation);
mapInPandas-backed queries get a second
untimed warmup pass (PYTHON_WORKER_QUERIES) so their timed run measures
steady-state Python-worker reuse rather than daemon pool spin-up — the
r7 driver bench's multimodal_{audio,image}_meta spikes were exactly
this fixed cost surfacing in a cold pool (docs/BENCH_NOTES.md).

Round-11 changes: appends the round's seven gates (G.711 round trip,
measured dHash-banding recall, MJPEG-in-AVI frame sampling, AVI
soundtrack demux + VAD, integer box-filter resize chain, box-decimated
audio resampling, leakage-safe cluster splitting); prefix order
unchanged, so per-query times compare directly to earlier runs.

Round-12 changes: appends the round-12 gate block (FLAC lossless round trip,
MPEG-audio header probe, CommonCrawl .warc.gz member round trip and its
CDX-style random-access fetch, PDF text extraction, Bradley-Terry
preference fitting, pairwise and Fleiss rater agreement, interpolated
Kneser-Ney bigram scoring, unigram-LM tokenization, Krippendorff's
alpha, ID3v2 tag extraction, FLAC-path peak normalization, robots.txt
compliance filtering, the flip+crop augmentation chain, the
compression-ratio quality signal, sitemap ingestion); prefix order
unchanged, so per-query times compare directly to earlier runs.

Round-13 changes: appends the crawl-frontier block (mixed
urlset/sitemapindex ingestion, the composed robots -> sitemap ->
filter -> schedule chain, charset-aware WET extraction over binary
WARC archives, per-host politeness scheduling); prefix order
unchanged.  Output now ends with a compact summary line (the full
per-query dict exceeds tail-capture windows at 242 queries) and
optionally writes the full record to $SPARK_GRAFT_BENCH_OUT.

Round-14 changes: appends the round's four gates (priority frontier
scheduling, modern-PDF xref/ObjStm extraction, progressive JPEG
decode, MPEG-1 Layer II decode) AND changes the MEASUREMENT PROTOCOL
for the Python-worker section: the timed suite now restarts the
SparkSession before the section and between ~15-query sub-blocks,
reaping the reused Python worker daemons whose accumulated state had
contaminated the official record two rounds running (BENCH_r10's
multimodal_image_augment read 14.0 s vs 4.6/3.9 s isolated at the same
HEAD; the JVM and its C2 state survive a session restart, so JVM-side
comparability holds).  Each sub-block re-warms twice after its restart,
so timed runs still measure steady-state worker reuse.  Records are
now self-adjudicating: entries reading >2x their band (>1 s absolute)
are listed under "flagged" and counted in the summary line (band
source: bands_r13.json since r13; run34 before that).

Round-15 changes: appends the round's six gates (MPEG-2 LSF +
low-rate Layer II decode, 4:1:1/4:2:2 JPEG subsampling, auto-banded
politeness scheduling, encrypted-PDF extraction — RC4/AESV2 standard
security handler with empty user password — CID/Type0 font
extraction through /ToUnicode CMaps, and simple-font /Encoding
extraction with WinAnsi + /Differences); prefix order unchanged,
protocol unchanged from round 14.

Round-6 changes: appends the four new gates (trained-codebook PQ, PQ
rerank + its recall, trending finalizer); ordering stays append-only so
per-query times compare directly to BENCH_r05.

Round-5 changes: appends the 18 queries that completed registry
coverage (cluster/embedding/keep-best dedup, token stats, fingerprint,
validation report, the driver-side BPE trainer + broadcast segmenter,
and the ten scalar-parity microbenchmarks), so BENCH now covers every
registry query; shared-prefix ordering and methodology unchanged.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from adtl_spark import queries as Q
from adtl_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "adtl_engine_groupby",
    "adtl_engine_typed",
    "adtl_engine_one_to_many",
    "a2_last_not_null",
    "a3_combined_fold",
    "r1_one_to_many",
    "q3_shipping_priority",
    "t7_duration_days",
    "dedup_apply_anti_join",
    "w1_sessionize",
    "w2_json_extract",
    "w3_topn_per_group",
    "w4_rolling_aggregate",
    "w5_asof_join",
    "w6_range_join",
    "text_quality",
    "text_langid",
    "text_redact",
    "text_repetition",
    "text_vocab",
    "text_chunk",
    "text_tfidf",
    "corpus_length_stats",
    "corpus_pack",
    "corpus_decontaminate",
    "corpus_unigram_logprob",
    "sample_hash",
    "sample_stratified",
    "split_train_test",
    "dedup_exact",
    "dedup_ngram",
    "dedup_minhash",
    "multimodal_meta",
    "dedup_incremental",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "emb_quantize",
    "emb_label_centroids",
    "emb_kmeans",
    "emb_kmeans_centroids",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "pipeline_corpus_clean",
    # round-4 additions (appended; prefix order unchanged for r3 parity)
    "w7_asof_forward",
    "w8_asof_nearest",
    "dedup_semantic",
    "corpus_decontaminate_bloom",
    "text_ngram_topk",
    "emb_gram_matrix",
    "dedup_spans",
    "corpus_length_quantiles",
    "dedup_spans_apply",
    "text_bm25_topk",
    "text_normalize",
    "text_cms_counts",
    "corpus_bigram_logprob",
    "dedup_tfidf_cosine",
    "w9_funnel",
    "w10_retention",
    "olap_rollup",
    "olap_pivot",
    "emb_outliers",
    "emb_nearest_centroid",
    "corpus_length_filter",
    "corpus_zipf",
    "text_pmi_topk",
    "corpus_budget_by_source",
    "corpus_length_quantiles_hist",
    "pipeline_corpus_assemble",
    "corpus_pack_texts",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "privacy_k_anonymity",
    # dedup_keep_best is gate-checked but (like dedup_cluster, which it
    # composes) not benched: the synthetic corpus's 31-token vocabulary
    # makes SimHash link most documents, so its cost measures the
    # pathological pair set, not the operator
    "sample_mixture",
    "corpus_budget_select",
    "corpus_shuffle",
    "text_hll_distinct",
    "quality_nb",
    "q21_waiting_supplier",
    "q22_sales_opportunity",
    "emb_pca_project",
    "tokenizer_bpe_merges",
    "graph_pagerank",
    "fuzzy_pairs_suppliers",
    "w11_scd2",
    "tokenizer_bpe_segment",
    "w12_transitions",
    "corpus_merge_upsert",
    "w13_anomaly",
    "sample_weighted",
    "q4_order_priority",
    "q14_promo_revenue",
    "q10_returned_items",
    "q13_customer_distribution",
    "dedup_minhash_recall",
    "dedup_embedding_recall",
    "ann_lsh_recall",
    # round-5 appends: the remaining registry queries, so BENCH covers the
    # full registry — ordering stays append-only for r4 comparability
    "dedup_cluster",
    "dedup_embedding",
    "dedup_keep_best",
    "text_token_stats",
    "text_fingerprint",
    "v2_validation_report",
    "tokenizer_bpe_train_local",
    "tokenizer_bpe_segment_model",
    # the nine scalar-parity queries run in microseconds each; they are
    # benched as individual entries anyway (suite cost ~= session overhead)
    "f_predicates",
    "p3_value_map",
    "p6_enum_list",
    "p8_unit_convert",
    "p9_date_reformat",
    "p10_sensitive_hash",
    "t3_word_substitute",
    "t4_get_float",
    "t10_make_date",
    "p14_uuid5",
    # round-5 additions: the 12 TPC-H shapes completing q1-q22 parity
    "q2_best_supplier",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q8_market_share",
    "q9_product_profit",
    "q11_important_parts",
    "q12_shipping_delay",
    "q15_top_supplier",
    "q16_supplier_count",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q20_excess_shipments",
    # round-5 additions: OLAP grouping sets, salted join, heavy hitters,
    # PQ ANN + its exact-L2 truth + measured recall
    "olap_cube",
    "olap_grouping_sets",
    "join_salted_hot_key",
    "text_heavy_hitters",
    "ann_l2_topk",
    "ann_pq_topk",
    "ann_pq_recall",
    "sample_temperature",
    "graph_triangles",
    "multimodal_frame_sample",
    "w14_rank_functions",
    "layout_zorder_key",
    "olap_unpivot",
    "pipeline_curriculum",
    "emb_jl_project",
    "w15_gapfill",
    "w16_gapfill_linear",
    # round-6 additions (appended; prefix order unchanged for r5 parity):
    # trained-codebook PQ, ADC-shortlist + exact re-rank (+ measured
    # recall), and the trending-token batch finalizer
    "ann_pq_trained_topk",
    "ann_pq_rerank_topk",
    "ann_pq_rerank_recall",
    "stream_trending_finalize",
    "multimodal_audio_meta",
    "multimodal_image_meta",
    # round-7 additions (appended; prefix order unchanged for r6 parity):
    # DSIR selection, PSI drift, KMV overlap sketch, the exact decode+DSP
    # and decode+resize round trips, and the directed containment join
    "corpus_dsir_select",
    "quality_psi_drift",
    "quality_ks_drift",
    "sketch_kmv_overlap",
    "multimodal_audio_features",
    "multimodal_image_resize",
    "text_containment",
    "graph_entity_resolution",
    # late round-7 additions: quantile sketch, HLL rollup, shard manifest
    "sketch_quantile_bottomk",
    "sketch_hll_rollup",
    "layout_shard_manifest",
    "quality_pr_curve",
    "quality_roc_auc",
    "profile_key_skew",
    "layout_range_bounds",
    "quality_vocab_js",
    # round-8 additions (appended; prefix order unchanged for r7 parity):
    # IVF-PQ composite + rerank path, hard negatives, chi2/centroid drift,
    # join-cardinality planner, phrase search, robust outliers, bloom join,
    # exact bitmap-distinct rollup
    "ann_ivfpq_topk",
    "ann_ivfpq_recall",
    "ann_ivfpq_rerank_topk",
    "ann_ivfpq_rerank_recall",
    "emb_hard_negatives",
    "emb_hard_negatives_ann",
    "quality_chi2_drift",
    "emb_centroid_drift",
    "profile_join_cardinality",
    "text_phrase_search",
    "profile_robust_outliers",
    "join_bloom_pruned",
    "sketch_bitmap_distinct",
    "w17_ohlc",
    "w18_sequence_detect",
    "w19_dedup_debounce",
    "quality_quantile_drift",
    "w20_cumulative_users",
    "olap_basket_lift",
    "ann_truncation_recall",
    "ann_ivfpq_residual_topk",
    "ann_ivfpq_residual_recall",
    "retrieval_ql_topk",
    "retrieval_rrf_fuse",
    "retrieval_ndcg_truncated",
    "retrieval_mmr_topk",
    "graph_label_propagation",
    "mixture_doremi_step",
    "retrieval_hybrid_rrf",
    "retrieval_rm3_expand",
    "graph_modularity",
    "text_textrank_keywords",
    "ann_ivfpq_rerank_ndcg",
    "corpus_heldout_ppl",
    "retrieval_snippet",
    # round-10 additions (appended; prefix order unchanged for parity):
    # the stdlib-PNG decode+resize round trip and the WARC->HTML->text
    # WET extraction gate
    "multimodal_png_resize",
    "wet_extract",
    "text_paragraph_dedup",
    "web_url_normalize",
    "multimodal_jpeg_roundtrip",
    "multimodal_image_dhash",
    "multimodal_audio_vad",
    "web_tar_roundtrip",
    "multimodal_video_frames",
    "multimodal_adpcm_roundtrip",
    "multimodal_dhash_pairs",
    "multimodal_g711_roundtrip",
    "multimodal_dhash_recall",
    "multimodal_video_frames_avi",
    "multimodal_avi_soundtrack_vad",
    "multimodal_image_resize_box",
    "multimodal_audio_resample",
    "sample_split_leakage_safe",
    # round-12 additions (appended; prefix order unchanged for parity):
    "multimodal_flac_roundtrip",
    "multimodal_mp3_probe",
    "web_warc_gz_roundtrip",
    "doc_pdf_extract",
    "pref_bradley_terry",
    "pref_rater_kappa",
    "pref_fleiss_kappa",
    "corpus_kn_bigram",
    "web_warc_gz_fetch",
    "tokenizer_unigram_segment",
    "multimodal_id3_tags",
    "multimodal_audio_normalize",
    "web_robots_filter",
    "multimodal_image_augment",
    "quality_compression_ratio",
    "web_sitemap_parse",
    "web_sitemap_index",
    "web_frontier_compose",
    "web_wet_charset",
    "web_frontier_politeness",
    "pref_winrate_wilson",
    # added late: omitted from the r12 block by mistake, so run36 and
    # earlier lack a row for it (README promises full registry coverage)
    "pref_krippendorff",
    "text_script_profile",
    "text_nfc_normalize",
    "multimodal_audio_clipping",
    "multimodal_image_sharpness",
    "corpus_ngram_novelty",
    # round-14 additions (appended; prefix order unchanged for parity):
    # priority frontier scheduling, modern-PDF (xref/ObjStm) extraction,
    # progressive JPEG decode, MPEG-1 Layer II decode
    "web_frontier_priority",
    "doc_pdf_extract_modern",
    "multimodal_jpeg_progressive",
    "multimodal_mp2_decode",
    "web_frontier_banded",
    # round-15 additions: MPEG-2 LSF + low-rate Layer II decode,
    # 4:1:1/4:2:2 JPEG subsampling, auto-banded frontier scheduling
    "multimodal_mp2_lsf",
    "multimodal_jpeg_411",
    "web_frontier_auto",
    "doc_pdf_encrypted",
    "doc_pdf_cid",
    "doc_pdf_encoding",
]

# Queries whose plans run Python workers (mapInPandas codec work): their
# first execution pays the JVM->Python daemon pool spin-up (measured:
# 17.7 s cold -> 2.8 s warm for the audio round trip), a one-time cost
# that at the 100 TB design point is noise but at sf0.1 would read as a
# 2-6x regression.  The whole-suite warmup covers them once; they get a
# SECOND untimed pass so the timed run measures steady-state worker-pool
# reuse, not residual allocator churn.
PYTHON_WORKER_QUERIES = [
    # multimodal_meta was missing from this list until run40 flagged it
    # drifting (1.1/2.0 s in-suite vs 0.8 isolated) — it is mapInPandas
    # like the rest and belongs in the reaped section
    "multimodal_meta",
    "multimodal_audio_meta",
    "multimodal_image_meta",
    "multimodal_audio_features",
    "multimodal_image_resize",
    "multimodal_png_resize",
    "multimodal_jpeg_roundtrip",
    "multimodal_image_dhash",
    "multimodal_audio_vad",
    "web_tar_roundtrip",
    "multimodal_video_frames",
    "multimodal_adpcm_roundtrip",
    "multimodal_dhash_pairs",
    "multimodal_g711_roundtrip",
    "multimodal_video_frames_avi",
    "multimodal_avi_soundtrack_vad",
    "multimodal_image_resize_box",
    "multimodal_audio_resample",
    "multimodal_flac_roundtrip",
    "multimodal_mp3_probe",
    "web_warc_gz_roundtrip",
    "doc_pdf_extract",
    "web_warc_gz_fetch",
    "tokenizer_unigram_segment",
    "multimodal_id3_tags",
    "multimodal_audio_normalize",
    "multimodal_image_augment",
    "quality_compression_ratio",
    "web_wet_charset",
    "text_nfc_normalize",
    "multimodal_audio_clipping",
    "multimodal_image_sharpness",
    "doc_pdf_extract_modern",
    "multimodal_jpeg_progressive",
    "multimodal_mp2_decode",
    "multimodal_mp2_lsf",
    "multimodal_jpeg_411",
    "doc_pdf_encrypted",
    "doc_pdf_cid",
    "doc_pdf_encoding",
]


# Measurement gates: their timed cost is dominated by the exact TRUTH
# side they grade against (all-pairs recall truths are quadratic in
# class/duplicate counts by design — disclosed, and excluded from the
# 10x scale stress).  They stay in the suite and in `queries`, but the
# record splits their subtotal out so the core-operator trend is
# readable as more recall/nDCG gates accumulate.
MEASUREMENT_GATES = frozenset(
    name for name in HEADLINE if "recall" in name or "_ndcg" in name
)


def _load_bands() -> dict[str, float]:
    """Self-adjudication bands from ``bands_r13.json`` — the r13
    re-baseline (element-wise MIN of clean quiet-host suite runs
    48/49/50 at r13 HEADs; provenance inside the file and in
    BENCH_NOTES).  The run34 source was retired in r13: 25/259 entries
    flagged with zero real regressions in BENCH_r12 meant the alarm no
    longer discriminated code from host noise.  A flag still means
    "adjudicate with an isolated probe before believing this number",
    nothing more.  Queries missing from the band file are never
    flagged."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "docs", "bench_runs", "bands_r13.json",
    )
    try:
        with open(path) as f:
            return json.load(f)["queries"]
    except Exception:
        return {}


def _release_leaked_blocks(spark) -> None:
    """Round-13 measurement-bug fix (declared in OPTIMIZATION_r13.md):
    drop persisted/locally-checkpointed RDD blocks left behind by the
    PREVIOUS query execution.  Several operators return results backed by
    an eager ``localCheckpoint`` (lineage truncation inside one run) whose
    blocks nothing releases once the noop sink has consumed the result —
    ContextCleaner's periodic GC (30 min) never fires inside a bench run,
    so blocks from ~500 executions accumulate against the ~5 GB storage
    pool and later queries pay eviction churn + GC debt that belongs to
    EARLIER queries (measured: persistentRDDs 1 -> 16 across six queries;
    suite tail swings of 3.9 s -> 17 s on untouched queries across runs).

    Every query constructs its whole plan fresh inside the timer, so the
    leftover blocks are garbage by construction — releasing them reuses
    nothing and cannot change any result; it only stops cross-query
    contamination of the measurement.  Runs OUTSIDE the timed region:
    the cost of collecting a previous query's garbage is not the next
    query's work."""
    try:
        for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist(False)
    except Exception:
        pass  # measurement hygiene must never fail the bench


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("adtl_spark_bench")

    all_q = Q.all_queries()
    pw = set(PYTHON_WORKER_QUERIES)
    jvm_queries = [n for n in HEADLINE if n not in pw]
    py_queries = [n for n in HEADLINE if n in pw]

    # Phase 1: warm the JVM section untimed at the target sf.  Per-query
    # warmup is not enough: whole-stage codegen classes are per-plan, but
    # HotSpot's C2 compilation of the shared runtime (parquet reader,
    # shuffle, Tungsten) is JVM-global and takes several queries to reach
    # steady state — measured: the first two queries read 9 s on their
    # SECOND execution in a cold JVM vs <2 s once the session is hot.
    # The codegen classes this phase compiles stay cached for phase 2:
    # get_spark's class cache holds the whole suite's.
    for name in jvm_queries:
        all_q[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
        _release_leaked_blocks(spark)

    # Phase 2: one timed run per query — construction inside the timer
    # (eager operators do real work at construction), no cached state
    # carried over (dedup operators release their persisted intermediates;
    # leaked checkpoint blocks dropped between queries, outside the timer)
    timings: dict[str, float] = {}
    for name in jvm_queries:
        t0 = time.time()
        df = all_q[name](spark, sf_dir)
        df.write.mode("overwrite").format("noop").save()
        timings[name] = round(time.time() - t0, 3)
        _release_leaked_blocks(spark)

    # Phase 3: the Python-worker section, in REAPED sub-blocks.  Reused
    # Python daemon workers accumulate state over hundreds of suite
    # queries, and by round 10 that suite-state contamination reached
    # the DRIVER's official record (multimodal_image_augment read 14.0 s
    # in BENCH_r10 vs 4.6/3.9 s isolated at the same HEAD).  Restarting
    # the SparkSession kills the worker daemons (the JVM and its C2
    # state survive — the py4j gateway is reused), so each sub-block
    # times against a fresh, section-local worker pool; two untimed
    # passes after each restart re-pay pool spin-up before the timer
    # runs.  Sub-blocks bound the contamination WINDOW to ~15 queries
    # regardless of registry growth.
    reap_every = int(os.environ.get("SPARK_GRAFT_BENCH_REAP", "15"))
    for i in range(0, len(py_queries), reap_every):
        block = py_queries[i : i + reap_every]
        spark.stop()
        spark = get_spark("adtl_spark_bench")
        for _pass in range(2):
            for name in block:
                all_q[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                _release_leaked_blocks(spark)
        for name in block:
            t0 = time.time()
            df = all_q[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            timings[name] = round(time.time() - t0, 3)
            _release_leaked_blocks(spark)
    timings = {n: timings[n] for n in HEADLINE}  # canonical order

    # Self-adjudication: flag entries reading >2x their band (and
    # >1 s absolute, so microsecond queries never trip on jitter).  A
    # flagged entry means "adjudicate with an isolated probe before
    # believing this number" — the record carries its own health check.
    bands = _load_bands()
    flagged = {
        n: {"sec": t, "band_sec": bands[n]}
        for n, t in timings.items()
        if n in bands and t > 1.0 and t > 2.0 * bands[n]
    }

    meas = round(
        sum(t for n, t in timings.items() if n in MEASUREMENT_GATES), 3
    )
    full = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "core_sec": round(sum(timings.values()) - meas, 3),
        "measurement_sec": meas,
        "queries": timings,
        "flagged": flagged,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    print(json.dumps(full))
    # Optional full-record sink: the per-query dict outgrew any
    # line-capture window (238+ entries), so the durable copy goes to a
    # file when requested
    out = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    if out:
        with open(out, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    # Compact per-query record immediately before the final summary line:
    # the full line above keeps json.dumps' default spacing for humans,
    # but at 259 entries it outgrew line-capture windows, so a harness
    # that scans the last few lines for parseable JSON gets the per-query
    # table here — rounded values, no whitespace (~7 KB for 259 queries).
    # Output-only change; the timed region above is untouched.
    print(
        json.dumps(
            {
                "metric": "headline_per_query_sec",
                "unit": "sec",
                "queries": timings,
                "sf": full["sf"],
            },
            separators=(",", ":"),
        )
    )
    # LAST line is always the compact summary: harnesses that tail-capture
    # stdout and parse the final JSON line get a complete record however
    # large the registry grows (the full per-query dict above is for
    # humans and for SPARK_GRAFT_BENCH_OUT)
    print(
        json.dumps(
            {
                "metric": full["metric"],
                "value": full["value"],
                "unit": "sec",
                "n_queries": len(timings),
                "n_flagged": len(flagged),
                "sf": full["sf"],
            }
        )
    )


if __name__ == "__main__":
    main()
