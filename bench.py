#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line.

Each query executes four times: a warm-up pass (JIT/codegen/caches)
and three timed passes, of which the MEDIAN is reported — single-pass
numbers at sub-second scale carry ±30% scheduler noise that polluted
round-over-round comparisons. Results are fully materialized via
count() on a cached-nothing plan, so I/O, shuffles and codegen are all
inside the measurement.

NOTE r4: session.py now runs the context cleaner's periodic GC every
45s; before that, shuffle files accumulated across the (growing) suite
and inflated late-suite queries by 2-4x over their isolated times —
position in BENCH_QUERIES no longer affects a query's number.

NOTE r5 (VERDICT r4 task 3): the SparkSession is RECYCLED every
``RECYCLE_EVERY`` queries. BENCH_r04 showed a uniform 1.1-1.3x drift
on byte-identical queries as the suite grew 23->33 entries — shared
single-JVM pressure (listener/stage history, codegen cache, broadcast
cleanup backlog reaching stage id ~1468), not code regressions. A
bounded session lifetime caps that pressure so round-over-round
numbers compare queries, not suite sizes. Session setup happens
OUTSIDE the timed region; query order stays pinned to this list.

Usage::

    python bench.py                    # every BENCH_QUERIES + EXTRA_LANES row
    python bench.py [LANE ...] [--jobs] [--noop] [--plans DIR]
    python bench.py --diff OLD.json NEW.json

A LANE is a registry query or an ``EXTRA_LANES`` name; named lanes run
through the same sessions and timing loop as the default list. The
modes only ADD keys to the line: ``--jobs`` adds ``job_counts``
``{lane: [jobs, stages, tasks]}`` from one profiled pass; ``--noop``
adds ``noop`` ``{query: sec}``, the same warm-up + median-of-3 into the
noop sink, which computes every column where count() lets the
optimizer prune them; ``--plans DIR`` writes each registry query's
``explain("formatted")`` to ``DIR/<query>.txt``, the only file the
harness writes. ``--diff`` compares two recorded lines (shared rows,
raw and probe-normalized sum ratios, top movers) and starts no Spark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # one per operator family: scan-agg, join-heavy, windows, dedup,
    # sessionization, text, minhash signatures, vector search
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_region_volume",
    "q10_returned_items",
    "q18_large_orders",
    "q_asof_join",
    "q_window_topk_per_group",
    "q_dedup_keep_last",
    "q_sessionize",
    "q_doc_token_stats",
    # NOTE r3->r4 scope change: q_minhash_near_dups now also computes
    # the exact-Jaccard truth lane for its certification oracle (the r3
    # number measured LSH candidates only), so ~2x its r3 wall is the
    # added verification work, not a regression — the candidates-only
    # path still benches at its r3 level (see SCALE.md sweeps).
    "q_minhash_near_dups",
    "q_embedding_topk",
    "q_embedding_topk_arrow",
    "q_embedding_quantized_topk",
    # the actually-heavy shapes: multi-join fact queries, iterative
    # connected components, corpus-vs-increment dedup, exact-Jaccard
    # verification over LSH candidates
    "q09_product_profit",
    "q21_waiting_suppliers",
    "q_dedup_clusters",
    "q_doc_incremental_dedup",
    "q_verified_near_dups",
    # round-3 additions: cross-doc span excision (gram-frequency shuffle
    # + covered-position anti-join), the one-DAG curation funnel, and
    # the incremental-maintenance shapes (CDC fold, join-delta)
    "q_doc_remove_spans",
    "q_doc_curation_funnel",
    "q_cdc_apply",
    "q_incremental_join",
    # round-4 additions (VERDICT r3 task 8): SCD2 window-stitch history,
    # lexicon-bounded vocabulary overlap, posting-list containment dedup
    "q_scd2_history",
    "q_vocab_overlap",
    "q_doc_contained",
    # round-4 operator additions
    "q_doc_paragraph_dedup",
    "q_doc_tfidf_top",
    "q_doc_minhash_join",
    "q_embedding_pq_topk",
    # round-4 time-series family: grid explode + window ffill is the
    # heavy shape; the other three ride the same hourly pre-aggregate
    "q_ts_resample_ffill",
    # exact similarity join: prefix postings + candidate-bounded verify
    "q_doc_allpairs_join",
    # iterative graph shape: 5 PageRank rounds, one shuffle per round
    "q_graph_pagerank",
    # round-5 additions: regex-heavy URL scan, posting-list build, and
    # the sequential-per-key Arrow fold (EWMA)
    "q_url_domain_stats",
    "q_doc_inverted_index",
    "q_ts_ewma",
    # iterative driver-coupled shape: 4 BPE rounds over the vocabulary
    # (r6: the hybrid local gate folds the rounds driver-side after the
    # one corpus scan — the timed region still covers the whole loop)
    "q_bpe_merges",
    # round-6 additions (VERDICT r5 task 4): the previously invisible
    # heavies — degree-oriented wedge join (the one quadratic-hazard
    # graph shape) and a mapInPandas codec decode (QOI: the largest
    # pure-Python decode surface) so regressions in either family show
    # up round-over-round
    "q_graph_triangles",
    "q_media_qoi_stats",
    # round-8 additions (VERDICT r7 task 5): the r6 operators that
    # never got a bench row — the batch twin of the stream-stream
    # attribution join (watermark-bounded interval join shape) and the
    # progressive-JPEG decode (the heaviest per-file codec path:
    # full scan-script replay with spectral bands + refinement)
    "q_stream_join_attribution",
    "q_media_jpeg_progressive_stats",
    # round-8 addition (VERDICT r7 task 8): session-window attribution
    # — the sessionize-then-band-join composite (two window shuffles
    # sharing one exchange on user_id)
    "q_stream_session_attribution",
    # round-8 addition: BM25 retrieval — the corpus-heavy postings
    # equi-join lane of hybrid search (tf materialized once)
    "q_doc_bm25_topk",
    # round-9 additions (VERDICT r8 task 3): the nine r8 queries that
    # never got a bench row — fused hybrid retrieval, unigram-LM
    # training + Viterbi apply, CUSUM window algebra, the three new
    # media lanes (VAD, video motion, 12-bit JPEG, sub-byte PNG), and
    # the component-join split assigner
    "q_hybrid_rrf_topk",
    "q_unigram_pieces",
    "q_unigram_tokenize",
    "q_ts_cusum",
    "q_media_vad_segments",
    "q_media_video_motion",
    "q_media_jpeg12_stats",
    "q_media_png_lowdepth_stats",
    "q_doc_cluster_split",
    # round-9 additions: the new operator families' heavy shapes —
    # iterative k-core peel, the pair self-join (Theil-Sen), the
    # decomposition window stack, WordPiece's per-round dual aggregate,
    # the HLL register scan-agg, and the suppression semi-join
    "q_graph_kcore",
    "q_ts_theil_sen",
    "q_ts_seasonal",
    "q_wordpiece_merges",
    "q_hll_registers",
    "q_privacy_suppress",
    # FLAC decode: the heaviest per-file audio codec path (rice decode
    # + prediction reconstruction per sample, pure Python in Arrow
    # batches)
    "q_media_flac_stats",
    # round-10 additions (VERDICT r9 task 3): the eight r9 queries that
    # never got a bench row — the k-anonymity audit aggregate, the
    # WordPiece vocab projection, the TIFF PackBits/LZW decode lane,
    # the seasonal-decomposition + MAD anomaly composite, the
    # Netpbm/TGA/AIFF legacy-codec lane, the BM25-lane retrieval-eval
    # composite, the distributed lossless transcode, and the
    # generalization-ladder release gate
    "q_privacy_kanon",
    "q_wordpiece_vocab",
    "q_media_tiff_stats",
    "q_ts_seasonal_anomaly",
    "q_media_legacy_stats",
    "q_retrieval_metrics",
    "q_media_transcode_stats",
    "q_privacy_generalize",
    # round-10 new operators, benched from first appearance: the
    # JPEG-in-TIFF strip decode and the dangling-redistribution
    # PageRank (one extra 1-row aggregate per round vs the base loop)
    "q_media_tiff_jpeg_stats",
    "q_graph_pagerank_dangling",
    "q_media_quarantine",
    # round-10 new family: blocked Fellegi-Sunter linkage (nation-block
    # equi-join + codegen'd comparators over customer x supplier)
    "q_linkage_blocked",
    # round-10 new family: Holt linear-trend forecasting (per-key Arrow
    # fold over the hourly pre-aggregate, recursive-CTE-certified)
    "q_ts_holt_linear",
    # the r10 forecast composite (decompose + Holt + re-seasonalize)
    "q_ts_forecast_seasonal",
    # personalized PageRank (seed teleport + dangling-to-seeds)
    "q_graph_ppr",
    # schema-drift audit (json key explode + grid + lag verdicts)
    "q_schema_drift",
    # weighted PageRank (rank*w div W(u) contributions)
    "q_graph_pagerank_weighted",
    # sliding-window HLL merge (register max over the dense day grid)
    "q_hll_sliding",
    # winsorization fences + linkage best-match assignment
    "q_ts_winsorize",
    "q_linkage_best_match",
    # volume-anomaly circuit breaker (moving-median selection)
    "q_volume_gate",
    # round-11 additions (VERDICT r10 task 6 — the certified families
    # with no bench row, so an r12-vs-r11 regression there is visible):
    # the unbenched similarity lanes (IVF cells, pooled recall eval,
    # embedding dedup, Gram matrix), the unbenched dedup lanes (exact,
    # simhash, n-gram Jaccard, fuzzy verify, bloom prefilter), DSIR
    # scoring, sequence packing, weighted sampling, the two heaviest
    # unbenched codec lanes (full-filter PNG, GIF-LZW), the two-pass
    # equi-depth rank and the cohort-retention window stack
    "q_embedding_ivf_topk",
    "q_ann_recall",
    "q_semantic_dedup",
    "q_embedding_gram",
    "q_doc_exact_dedup",
    "q_simhash_near_dups",
    "q_ngram_jaccard_dedup",
    "q_doc_fuzzy_pairs",
    "q_doc_bloom_prefilter",
    "q_doc_dsir",
    "q_doc_pack_sequences",
    "q_doc_weighted_sample",
    "q_media_png_stats",
    "q_media_gif_stats",
    "q_equidepth_buckets",
    "q_retention_cohorts",
    # round-11 new operator, benched from first appearance: the VP8L
    # decode lane (prefix-coded ARGB + inverse transforms per file)
    "q_media_webp_stats",
    # round-11 new families, benched from first appearance: the
    # t-closeness EMD grid (classes x sensitive domain prefix window)
    # and the 3-round label-propagation loop
    "q_privacy_tcloseness",
    "q_graph_label_prop",
    # the decode->integer-resample->encode chain (heaviest new r11
    # audio path: FLAC decode + per-sample interpolation + WAV encode)
    "q_media_resample_stats",
    # ACF: the 6-lead ordered window + decimal aggregate shape
    "q_ts_acf",
    # Matryoshka prefix-dim retrieval (truncated + full lanes)
    "q_embedding_matryoshka",
    # augmentation chain: VP8L decode + permutation + weighted stats
    "q_media_augment_stats",
    # the skew measurement + decision over a planted 80/20 key
    "q_skew_advisory",
    # AVI-MJPEG container walk + per-frame JPEG decode
    "q_media_avi_stats",
    # favicon decode (PNG-in-ICO + 32-bit DIB/AND-mask entries)
    "q_media_ico_stats",
    # regex-heavy HTML text extraction (5 regexp passes per doc)
    "q_doc_html_strip",
    # URL canonicalization (split/sort/regexp stack per url)
    "q_url_canonical",
    # round-11 late additions, benched from first appearance: WARC
    # record parse (framing walk + HTTP split per payload) and the
    # full crawl-extract composite (parse + strip_html + canonical)
    "q_warc_ingest",
    "q_warc_html_extract",
    # KMV bottom-k sketch (distinct + estimate) and the sketch-only
    # pairwise Jaccard (union bottom-k over G^2 pairs)
    "q_kmv_distinct",
    "q_kmv_jaccard",
    # the 3-round HITS double-aggregate loop and the wedge self-join
    # link-prediction scorer
    "q_graph_hits",
    "q_graph_link_pred",
    # AU/PCX container decode lane (RLE scanlines + G.711 expand)
    "q_media_au_pcx_stats",
    # Holt-Winters: the 24-slot seasonal-state Arrow fold
    "q_ts_holt_winters",
    # single-scan melt profile (one histogram shuffle for 3 columns)
    "q_column_profile",
    # sentence split (regex sentinel) + the sentence-grain dedup agg
    "q_doc_sentences",
    "q_sentence_dedup",
    # 28-rule replace chain per doc
    "q_doc_fix_mojibake",
    # binary varint/zigzag decode per record, deflate blocks
    "q_avro_ingest",
    # +/-3-lag dual-slope window stack over paired hourly series
    "q_ts_ccf",
    # tar.gz/zip member walk per payload
    "q_archive_ingest",
    # 6-sum OLS aggregate over the paired hourly series
    "q_ts_ols",
    # footer-only metadata audit distributed one path per task
    "q_parquet_layout",
    # degree-pair OLS over the undirected edge view
    "q_graph_assortativity",
    # round-12 new operators, benched from first appearance: the G4
    # bilevel lane rides the (changed) TIFF row above; EXIF orientation
    # (APP1 IFD parse + upright permutation per JPEG), the 7-stage
    # crawl-curation funnel (one Arrow parse + bounded shuffles), the
    # typed-redaction full-corpus rewrite (3 regexp lanes/doc), and the
    # advisory-driven salted join (decision collect + 64-way salt)
    "q_media_exif_stats",
    "q_crawl_curation",
    "q_doc_pii_redact",
    "q_skew_mitigated_join",
    # round-12 additions (VERDICT r11 task 7 second half): the largest
    # certified-but-unbenched REGISTRY families — the remaining TPC-H
    # join/agg shapes and the relational agg/window rows, so every
    # family has round-over-round visibility
    "q02_best_supplier",
    "q04_order_priority",
    "q06_forecast_revenue",
    "q07_volume_shipping",
    "q08_market_share",
    "q11_important_parts",
    "q_cube",
    "q_rollup",
    "q_distinct_agg",
    "q_window_running_total",
    # round-12 late additions, benched from first appearance: the
    # 3-round min-plus BFS relaxation and the DP noisy-count lattice
    "q_graph_bfs",
    "q_privacy_dp_counts",
    # tracker-strip + canonicalize chain (pure expr URL rewrite) and
    # the robots.txt gate (broadcast rules join + longest-match window)
    "q_url_strip_tracking",
    "q_robots_gate",
    # six regexp_count passes per doc over literal BMP script classes
    "q_doc_scripts",
    # round-13 new operators, benched from first appearance: trigram
    # language ID (trigram-array build + 6 INSET filters + script
    # prior per doc); the extended URL stack and 8-stage funnel ride
    # the (changed) q_url_canonical / q_crawl_curation rows above
    "q_doc_lang_trigram",
    "q_doc_lang_dist",
    # round-13 bench rotation (VERDICT r12 task 7): the heaviest
    # certified-but-unbenched families — the tokenizer APPLY lanes
    # (BPE train projection + longest-match segmentation per doc),
    "q_bpe_vocab",
    "q_bpe_tokenize",
    "q_doc_bpe_tokens",
    # the unbenched per-file codec lanes (baseline + 4:2:0 JPEG,
    # interlaced + 16-bit PNG, ADPCM, the multimodal curation funnel,
    # the full mixed-container decode-stats pass, perceptual-hash
    # dedup over decoded rasters)
    "q_media_jpeg_stats",
    "q_media_jpeg420_stats",
    "q_media_png_interlaced_stats",
    "q_media_png16_stats",
    "q_media_adpcm_stats",
    "q_media_phash_dups",
    "q_media_curation_funnel",
    "q_media_decode_stats",
    # iterative / self-join relational heavies (recursive hierarchy
    # closure, event sequence pattern match, decontamination semi-join,
    # shingle-overlap pair scoring, embedding near-dup join)
    "q_recursive_hierarchy",
    "q_sequence_pattern",
    "q_doc_decontaminate",
    "q_doc_overlap_pairs",
    "q_embedding_near_dups",
    # sliding / rolling window stacks over events
    "q_events_sliding",
    "q_rolling_time_window",
    # gzip member ingest (per-payload inflate) + rolling fingerprints
    "q_text_gzip_ingest",
    "q_doc_fingerprint",
    # round-13 late additions, benched from first appearance:
    # keep-best-of-cluster dedup (gram pairs + CC + argmax aggregate)
    # and content-defined chunking (Arrow sliding-window dot per doc)
    "q_dedup_keep_best",
    "q_doc_cdc_chunks",
    "q_doc_cdc_dedup",
    # round-14 new operators, benched from first appearance: lossy
    # VP8 keyframe decode (bool decoder + token partitions + intra
    # prediction + IDCT + loop filter per payload), the 8/16/24-bit
    # WAV depth cycle, FastCDC-clamped chunking (per-doc bisect walk
    # over the numpy candidate array)
    "q_media_vp8_stats",
    "q_media_wav_stats",
    "q_media_webp_alpha_stats",
    "q_media_vp8_anim_stats",
    "q_doc_cdc_clamped",
    # round-14 bench rotation (VERDICT r13 task 6): the heaviest of
    # the 72 certified-but-unbenched rows — remaining codec/media
    # lanes (G.711 companding, palette PNG, feature extraction,
    # frame planning/sampling over raw video, the mixed-container
    # metadata profile)
    "q_media_g711_stats",
    "q_media_png_palette_stats",
    "q_media_features",
    "q_media_frame_plan",
    "q_media_frame_samples",
    "q_media_metadata_profile",
    # sketch/profile analytics (count-min, KMV/HLL profile stacks,
    # approx vs exact profile parity, chi-square cell grid)
    "q_doc_cm_counts",
    "q_sketch_profile",
    "q_approx_profile",
    "q_chi_square_cells",
    "q_vocab_overlap_sketch",
    # text-quality scan stacks (per-doc quality features, repetition
    # ratios, n-gram language ID over char grams)
    "q_doc_quality",
    "q_doc_repetition",
    "q_lang_id",
    # temporal joins / windows (SCD2 as-of serving, interval overlap
    # counting, range-join count, funnel + grouping-set aggregates,
    # conversion windows)
    "q_scd2_asof",
    "q_interval_overlap",
    "q_range_join_count",
    "q_events_funnel",
    "q_grouping_sets",
    "q_conversion_window",
]


def _setup_drift_serving(spark, sf_dir: str) -> str:
    """Build a 4-version drift delta table from the events payload rule
    (the q_schema_drift staging) — setup only, never timed."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from incremental_github_data_pipeline_spark.sources.readers import (
        read_table,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_drift_ingest,
    )

    tmp = tempfile.mkdtemp(prefix="bench_drift_")
    _BENCH_TMP.append(tmp)
    src, root, ckpt = f"{tmp}/src", f"{tmp}/t", f"{tmp}/ckpt"
    ev = read_table(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.col("value").alias("v"),
            F.when(
                F.col("event_type").isin("click", "view"), F.col("user_id")
            ).alias("uid"),
            F.when(F.col("event_id") % 3 == 0, F.col("event_type")).alias(
                "et"
            ),
        )
    )
    staged = ev.select(
        F.to_date("ts").alias("win"), payload.alias("payload")
    )
    for i in range(4):
        staged.filter(F.pmod(F.crc32("payload"), F.lit(4)) == i).coalesce(
            2
        ).write.mode("append").parquet(src)
        run_incremental_drift_ingest(spark, src, root, ckpt)
    shutil.rmtree(ckpt, ignore_errors=True)
    return root


def _run_drift_serving(spark, root: str) -> None:
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        drift_report_versioned,
    )

    drift_report_versioned(spark, root).count()


def _setup_versioned_restore(spark, sf_dir: str) -> str:
    """Commit 6 event-slice versions — RESTORE then re-points the
    manifest at an earlier snapshot (history preserved)."""
    import tempfile

    from pyspark.sql import functions as F

    from incremental_github_data_pipeline_spark.sources.readers import (
        read_table,
    )
    from incremental_github_data_pipeline_spark.sources.versioned import (
        commit_version,
    )

    tmp = tempfile.mkdtemp(prefix="bench_restore_")
    _BENCH_TMP.append(tmp)
    root = f"{tmp}/t"
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    for i in range(6):
        commit_version(
            ev.filter(F.pmod(F.col("event_id"), F.lit(6)) == i),
            root,
            mode="append",
        )
    return root


def _run_versioned_restore(spark, root: str) -> None:
    from incremental_github_data_pipeline_spark.sources.versioned import (
        read_version,
        restore_version,
    )

    restore_version(spark, root, version=3)
    read_version(spark, root).count()


_SEARCH_STATE: dict = {}


def _setup_search_serving(spark, sf_dir: str) -> dict:
    """Build the BM25 and ANN versioned indexes once (3 increments
    each, the incremental-ingest lifecycle) plus an 8-row hybrid query
    set — shared by the three search-serving lanes; setup only, never
    timed."""
    if _SEARCH_STATE:
        return _SEARCH_STATE
    import json as _json
    import tempfile

    from pyspark.sql import functions as F

    from incremental_github_data_pipeline_spark.sources.readers import (
        read_table,
    )
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        run_incremental_ann_ingest,
        run_incremental_index_ingest,
    )

    tmp = tempfile.mkdtemp(prefix="bench_search_")
    _BENCH_TMP.append(tmp)
    docs_src, idx_root = f"{tmp}/docs", f"{tmp}/index"
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    for i in range(3):
        docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i).coalesce(
            2
        ).write.mode("append").parquet(docs_src)
        run_incremental_index_ingest(
            spark, docs_src, idx_root, f"{tmp}/idx_ckpt"
        )
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    ann_src, ann_root = f"{tmp}/emb", f"{tmp}/ann"
    os.makedirs(ann_src, exist_ok=True)
    rows = emb.collect()  # setup-only; 2k vectors at sf0.1
    third = -(-len(rows) // 3)
    for i in range(3):
        with open(f"{ann_src}/s{i}.jsonl", "w") as fh:
            for r in rows[i * third : (i + 1) * third]:
                fh.write(
                    _json.dumps(
                        {"vec_id": r["vec_id"],
                         "embedding": list(r["embedding"])}
                    )
                    + "\n"
                )
        run_incremental_ann_ingest(
            spark, ann_src, ann_root, f"{tmp}/pq_model", f"{tmp}/ann_ckpt"
        )
    qdocs = docs.orderBy("doc_id").limit(8).collect()
    qembs = {r["vec_id"]: r["embedding"] for r in rows[:8]}
    _SEARCH_STATE.update(
        index_root=idx_root,
        ann_root=ann_root,
        queries=[
            (
                int(i),
                " ".join(str(qdocs[i]["text"]).split()[:3]),
                [float(x) for x in qembs[i]],
            )
            for i in range(8)
        ],
    )
    return _SEARCH_STATE


def _queries_df(spark, state):
    return spark.createDataFrame(
        state["queries"],
        "query_id long, qtext string, embedding array<double>",
    )


def _run_bm25_serving(spark, state) -> None:
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        bm25_search_versioned,
    )

    bm25_search_versioned(
        spark, state["index_root"], _queries_df(spark, state), k=5
    ).count()


def _run_ann_serving(spark, state) -> None:
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        ann_search_versioned,
    )

    ann_search_versioned(
        spark, state["ann_root"], _queries_df(spark, state), k=10
    ).count()


def _run_hybrid_serving(spark, state) -> None:
    from incremental_github_data_pipeline_spark.streaming.incremental import (
        hybrid_search_versioned,
    )

    hybrid_search_versioned(
        spark,
        state["index_root"],
        state["ann_root"],
        _queries_df(spark, state),
        k=10,
    ).count()


def _setup_warehouse_merge(spark, sf_dir: str) -> dict:
    """Embedded-Derby warehouse with the full events table loaded; the
    timed region is a 10%-slice MERGE (stage write + server-side
    MERGE INTO), replayed identically each pass (idempotent)."""
    import tempfile

    from pyspark.sql import functions as F

    from incremental_github_data_pipeline_spark.sources.readers import (
        read_table,
    )
    from incremental_github_data_pipeline_spark.sources.warehouse import (
        Warehouse,
        derby_url,
    )

    tmp = tempfile.mkdtemp(prefix="bench_wh_")
    _BENCH_TMP.append(tmp)
    wh = Warehouse(spark, derby_url(f"{tmp}/db"))
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    wh.merge_upsert(ev, "events_t", ["event_id"])
    batch = ev.filter(F.pmod(F.col("event_id"), F.lit(10)) == 0)
    return {"wh": wh, "batch": batch}


def _run_warehouse_merge(spark, state) -> None:
    state["wh"].merge_upsert(state["batch"], "events_t", ["event_id"])


def _setup_scale_probe(spark, sf_dir: str) -> dict:
    return {}  # input is generated inside the timed region


def _run_scale_agg(spark, state) -> None:
    """r16 (VERDICT r15 task 6): a compute lane big enough that core
    count matters. At sf0.1 every corpus-backed query is scheduling-
    floor-bound (all 202 scaling ratios sat at ~1 in PERF_r15), so the
    8-vs-32-core block measured nothing. This lane is a 48M-row
    hash aggregate generated DETERMINISTICALLY inside the timed region
    (spark.range → xxhash64 key → map-side partial agg + one
    exchange): embarrassingly parallel by construction, no testdata,
    nothing cached — scaling ratios on it reflect cores, not fixtures.
    Partition count (48) is data-derived (1M rows/partition), not a
    core-count constant."""
    from pyspark.sql import functions as F

    (
        spark.range(0, 48_000_000, 1, 48)
        .select(
            (F.xxhash64("id") % 1_000_000).alias("k"),
            F.col("id").alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .count()
    )


def _run_scale_join(spark, state) -> None:
    """Scaling twin for the shuffle path: 32M ⋈ 8M sort-merge join on
    a deterministic hashed key, then one aggregate — both sides
    shuffle for real, so this lane exposes how shuffle-bound work
    scales with cores (guide §2.2)."""
    from pyspark.sql import functions as F

    a = spark.range(0, 32_000_000, 1, 32).select(
        (F.xxhash64("id") % 8_000_000).alias("k"),
        F.col("id").alias("v"),
    )
    b = spark.range(0, 8_000_000, 1, 8).select(
        (F.xxhash64(F.col("id") * 7 + 3) % 8_000_000).alias("k"),
        (F.col("id") % 97).alias("w"),
    )
    (
        a.join(b, "k")
        .agg(F.sum(F.col("v") + F.col("w")).alias("s"))
        .count()
    )


def _setup_expectations(spark, sf_dir: str) -> dict:
    from incremental_github_data_pipeline_spark.sources.readers import (
        read_table,
    )

    return {
        "events": read_table(spark, sf_dir, "events"),
        "customer": read_table(spark, sf_dir, "customer"),
    }


def _run_expectations(spark, state) -> None:
    from pyspark.sql import functions as F

    from incremental_github_data_pipeline_spark.plans.expectations import (
        Check,
        ForeignKey,
        Unique,
        evaluate,
        not_null,
    )

    audit = evaluate(
        state["events"],
        [
            not_null("nn_core", "event_id", "user_id", "value"),
            Check("nonneg_value", F.col("value") >= 0),
            Unique("uq_event", ("event_id",)),
            ForeignKey(
                "fk_user", ("user_id",), state["customer"], ("c_custkey",)
            ),
        ],
    )
    audit.count()


# Non-registry lanes (VERDICT r10 task 6): the versioned-store serving
# paths have no (spark, sf)->DataFrame query shape — they need a
# writable table built first — so they bench through setup/run pairs.
# Setup runs once per lane OUTSIDE the timed region; the timed region
# is the serving fold / the RESTORE commit + snapshot read. RESTORE
# appends one version per pass (4 passes) — O(manifest) each, which is
# exactly the cost being measured. r12 (VERDICT r11 task 7): the
# search-serving trio (BM25 / ANN / hybrid over incrementally-built
# indexes — one shared setup), the warehouse MERGE slice, and the
# expectations audit join the lane list.
EXTRA_LANES = [
    ("x_drift_serving", _setup_drift_serving, _run_drift_serving),
    ("x_versioned_restore", _setup_versioned_restore, _run_versioned_restore),
    ("x_bm25_serving", _setup_search_serving, _run_bm25_serving),
    ("x_ann_serving", _setup_search_serving, _run_ann_serving),
    ("x_hybrid_serving", _setup_search_serving, _run_hybrid_serving),
    ("x_warehouse_merge", _setup_warehouse_merge, _run_warehouse_merge),
    ("x_expectations", _setup_expectations, _run_expectations),
    # r16 additions (VERDICT r15 task 6): generated-input scale lanes so
    # the driver's core-count scaling block has signal — ADDED rows,
    # nothing removed or renamed; see _run_scale_agg docstring.
    ("x_scale_agg", _setup_scale_probe, _run_scale_agg),
    ("x_scale_join", _setup_scale_probe, _run_scale_join),
]
_BENCH_TMP: list[str] = []

# Calibration probe (VERDICT r8 task 4): BENCH_r08 carried a uniform
# ~1.2x wall drift on byte-identical queries — machine load during the
# round, not code. This probe is a PINNED job touching no testdata (a
# fixed range -> hash-shuffle -> agg, byte-identical every round), timed
# the same way as the queries (warm-up + median-of-3) in a fresh
# session before any query runs. Its ratio vs the committed reference
# time is reported alongside the totals, so environment drift is
# self-diagnosing: probe_ratio ~1.0 + slow queries = code regression;
# probe_ratio and query drift moving together = machine pressure,
# divide it out before comparing rounds.
# Reference pinned from an idle-machine r9 session: median of three
# INDEPENDENT fresh-session probe runs (0.388/0.440/0.476 — each
# warm-up + median-of-3, exactly as the probe executes inside
# bench.py). The first provisional pin (0.575) was measured minutes
# after a bench smoke and read 0.73x on a truly idle machine — i.e.
# it was itself load-contaminated, which the probe immediately
# exposed; re-pinned once before any BENCH_r09 record existed. From
# here on: only re-pin when the hardware/JVM changes, never to "fix"
# a bad round — the whole point is that drift shows up as
# probe_ratio != 1.
PROBE_REF_SEC = 0.44


def _median_pass(action) -> float:
    """One warm-up pass (JIT/codegen/caches/file listing), then the
    MEDIAN of three timed passes, in seconds."""
    action()
    passes = []
    for _ in range(3):
        t0 = time.time()
        action()
        passes.append(time.time() - t0)
    return round(statistics.median(passes), 3)


def _calibration_probe(spark) -> float:
    return _median_pass(
        lambda: spark.range(0, 8_000_000, 1, 32)
        .selectExpr("id % 9973 AS k", "id AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .count()
    )


RECYCLE_EVERY = 8  # queries per SparkSession lifetime


def _profile_action(spark, name: str, action) -> list[int]:
    """One profiled evaluation inside a job group: [jobs, stages, tasks]
    — the load-independent cost structure (r15: job counts proved to be
    the only signal robust to this sandbox's bursty co-tenant load)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(f"bench-profile-{name}", name)
    action()
    sc.setJobGroup(None, None)
    jobs = set(tracker.getJobIdsForGroup(f"bench-profile-{name}") or [])
    n_stages = n_tasks = 0
    for j in jobs:
        ji = tracker.getJobInfo(j)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numTasks > 0:
                n_stages += 1
                n_tasks += si.numTasks
    return [len(jobs), n_stages, n_tasks]


def _diff(old_path: str, new_path: str) -> None:
    """Print the comparison of two recorded bench lines over their
    shared rows: sums, the median per-row ratio, the probe-normalized
    sum ratio and the top raw movers."""
    with open(old_path) as fh:
        old = json.load(fh)
    with open(new_path) as fh:
        new = json.load(fh)
    qo, qn = old["queries"], new["queries"]
    shared = sorted(k for k in qn if k in qo)
    so, sn = sum(qo[k] for k in shared), sum(qn[k] for k in shared)
    ratios = sorted(qn[k] / qo[k] for k in shared)
    med = ratios[len(ratios) // 2]
    print(f"shared rows: {len(shared)}")
    print(f"sum: {so:.2f} -> {sn:.2f}  ({sn/so:.3f}x raw)")
    print(f"per-row median ratio: {med:.3f}")
    print(f"probe: {old.get('probe_sec')} (ratio {old.get('probe_ratio')})"
          f" -> {new.get('probe_sec')} (ratio {new.get('probe_ratio')})")
    pr = (new.get("probe_sec") or 1) / (old.get("probe_sec") or 1)
    print(f"probe-normalized sum ratio: {(sn/so)/pr:.3f}")
    print("\ntop improvements (raw):")
    movers = sorted(shared, key=lambda k: qn[k] - qo[k])
    for k in movers[:20]:
        print(f"  {qo[k]:7.3f} -> {qn[k]:7.3f} ({qn[k]/qo[k]:.2f}x)  {k}")
    print("\ntop regressions (raw):")
    for k in movers[-12:]:
        print(f"  {qo[k]:7.3f} -> {qn[k]:7.3f} ({qn[k]/qo[k]:.2f}x)  {k}")


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Headline-lane wall-clock harness; prints one JSON line."
    )
    ap.add_argument(
        "lanes", nargs="*", metavar="LANE",
        help="registry queries or EXTRA_LANES names (default: all rows)",
    )
    ap.add_argument("--jobs", action="store_true",
                    help="add job_counts {lane: [jobs, stages, tasks]}")
    ap.add_argument("--noop", action="store_true",
                    help="add noop-sink medians for registry queries")
    ap.add_argument("--plans", metavar="DIR",
                    help="write explain('formatted') to DIR/<query>.txt")
    ap.add_argument("--diff", nargs=2, metavar=("OLD", "NEW"),
                    help="compare two recorded lines; runs nothing")
    args = ap.parse_args()
    if args.diff:
        _diff(*args.diff)
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from incremental_github_data_pipeline_spark.queries import load_all
    from incremental_github_data_pipeline_spark.session import get_spark

    registry = load_all()
    extras = {name: (setup, run) for name, setup, run in EXTRA_LANES}
    unknown = [n for n in args.lanes if n not in registry and n not in extras]
    if unknown:
        ap.error(f"unknown lane(s): {' '.join(unknown)}")
    names = args.lanes or BENCH_QUERIES + list(extras)
    queries = [n for n in names if n in registry]
    # Registry queries run in sessions of RECYCLE_EVERY, then every
    # extra lane in one more session (setups such as the shared search
    # indexes outlive a single lane).
    sessions = [
        (f"bench-g{i // RECYCLE_EVERY}", queries[i : i + RECYCLE_EVERY])
        for i in range(0, len(queries), RECYCLE_EVERY)
    ] + [("bench-extras", [n for n in names if n in extras])]

    spark = get_spark(app_name="bench-probe")
    spark.sparkContext.setLogLevel("ERROR")
    probe_sec = _calibration_probe(spark)
    spark.stop()

    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    timings: dict[str, float] = {}
    job_counts: dict[str, list[int]] = {}
    noop: dict[str, float] = {}
    for app_name, group in sessions:
        if not group:
            continue
        spark = get_spark(app_name=app_name)
        spark.sparkContext.setLogLevel("ERROR")
        for name in group:
            if name in registry:
                fn = registry[name].fn
                action = lambda: fn(spark, sf_dir).count()  # noqa: E731
            else:
                setup, run = extras[name]
                state = setup(spark, sf_dir)  # untimed
                action = lambda: run(spark, state)  # noqa: E731
            timings[name] = _median_pass(action)
            if args.jobs:
                job_counts[name] = _profile_action(spark, name, action)
            if name not in registry:
                continue
            if args.noop:
                noop[name] = _median_pass(
                    lambda: fn(spark, sf_dir)
                    .write.format("noop").mode("overwrite").save()
                )
            if args.plans:
                modes = spark._jvm.org.apache.spark.sql.execution.ExplainMode
                plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    modes.fromString("formatted")
                )
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                    fh.write(plan)
        spark.stop()
    for tmp in _BENCH_TMP:
        shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # r16 (VERDICT r15 "what's wrong" #2): the one-line JSON outgrew the
    # driver's tail-capture window in r14 (~6 KB with 200+ inline
    # per-query entries; the captured tail lost the line's HEAD and the
    # whole r14-vs-r15 comparison was nulled). Same ONE line, same
    # fields, but (a) compact separators (no spaces — ~0.8 KB smaller)
    # and (b) the headline scalars ("value", "probe_sec", "probe_ratio")
    # moved AFTER "queries", i.e. to the END of the line: a tail capture
    # that cuts the head now still retains the totals and the probe, so
    # truncation can never eat the whole parseable record. Key order is
    # irrelevant to any JSON parser; values and semantics are unchanged.
    record = {
        "metric": "headline_queries_total_wall",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": timings,
        "value": total,
        "probe_sec": probe_sec,
        "probe_ratio": (
            round(probe_sec / PROBE_REF_SEC, 3) if PROBE_REF_SEC else None
        ),
    }
    if args.jobs:
        record["job_counts"] = job_counts
    if args.noop:
        record["noop"] = noop
    print(json.dumps(record, separators=(",", ":")))


if __name__ == "__main__":
    main()
