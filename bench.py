"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round 8 — VERDICT r7 task 1): the LAST stdout line is a
COMPACT JSON summary ({"metric","value","unit","sf",...}) that fits any
tail-capture window; the full per-query timing map is printed as its OWN
earlier line and also written to BENCH_DETAIL.json next to this script.
(Round 7's single line with 58 queries outgrew the driver's stdout tail
window and arrived front-truncated — BENCH_r07.json "parsed": null.)

Each query is forced end-to-end with the noop sink (full computation, no
driver collect). The session uses the engine's scale configs (AQE on,
shuffle partitions ~ cores). Timing runs as TWO INTERLEAVED passes (all
queries once, then all again — VERDICT r9 task 1): pass 2 is
steady-state for every query, the summary reports per-query min, and
BOTH pass times land in BENCH_DETAIL.json `passes` so within-run spread
is visible without a re-run (reader protocol: SCALE.md "Per-query
variance"). Serving-probe latencies (postings / IVF-SQ8
/ IVF-PQ — VERDICT r7 task 4) are timed against indexes built untimed in
a temp dir: the probe is the operational metric the index family exists
for, so it gets its own entries in the detail map and a compact `probes`
mini-map in the summary line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from kstreams_spark import registry  # noqa: E402
from kstreams_spark.session import get_session  # noqa: E402

registry.load_all()

# Headline set: the flagship pipeline + one representative per operator
# family. Anything listed here but not (yet) registered is skipped.
HEADLINE = [
    "sensor_alert_pipeline",
    "agg_pricing_summary",
    "agg_count_distinct",
    "agg_cube",
    "join_orders_revenue_by_nation",
    "join_asof_latest_order",
    "window_topk_orders_per_customer",
    "window_running_sum",
    "sort_limit_topk",
    "set_union_nations",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",  # added r3: propose->verify pipeline
    "dedup_simhash",  # added r5: corpus-wide pigeonhole Hamming pairs
    "dedup_cluster_resolution",  # added r5: pairs -> survivors (iterative CC)
    "similarity_topk_bruteforce",
    "similarity_topk_lsh",
    "similarity_topk_lsh_multi",  # added r5: OR-amplified 2-table ANN
    "similarity_topk_lsh_probe",  # added r5: query-side multi-probe ANN
    "similarity_topk_ivf_probe",  # added r5: multi-cell IVF (n_probe=3)
    "similarity_topk_ivf_kmeans",  # added r5: fitted-centroid IVF (Lloyd)
    "similarity_near_pairs",  # added r3: corpus near-pair mining
    "similarity_cluster_resolution",  # added r5: near-pair graph -> survivors
    "avro_roundtrip",  # added r3: codec round-trip (UDF path)
    "text_token_stats",
    "text_language_id",
    "window_tumbling_agg",
    "composite_shipping_priority",
    "composite_local_supplier_volume",
    "composite_curation_pipeline",  # added r3: end-to-end curation
    "composite_curation_neardup",  # added r5: curation with near-dup CC ending
    "multimodal_video_features",  # added r6: real AVI decode (dominant media class)
    "composite_media_curation",  # added r6: audio-gate x text-gate composite
    "decontaminate_against_eval",  # added r6: eval-overlap decontamination
    "dedup_paragraph_exact",  # added r6: paragraph-grain winner election
    "composite_semantic_dedup",  # added r6: SemDeDup cells->pairs->CC
    "dedup_substring_rewrite",  # added r6: repeated-span removal (token grain)
    "text_quality_classifier",  # added r6: broadcast-model margin scoring
    "similarity_topk_ivf_sq8",  # added r6: quantized probed-cell ANN scan
    "composite_curation_classified",  # added r6: classifier+decontam chain
    "composite_curation_manifest",  # added r6: corpus -> dataloader manifest
    "similarity_topk_ivf_pq",  # added r7: IVFPQ 16-bit ADC scan over probed cells
    "dedup_cluster_best_quality",  # added r7: quality-aware survivor election
    "text_boilerplate_rewrite",  # added r7: cross-doc boilerplate removal
    "composite_media_curation_full",  # added r7: 4-gate whole-modality capstone
    "sample_importance_hashed",  # added r7: DSIR-shaped integer importance
    "similarity_topk_bq_rerank",  # added r7: 1-bit Hamming scan + exact re-rank
    "similarity_topk_matryoshka",  # added r14: truncated-prefix funnel (MRL)
    "layout_zorder_locality",  # added r7: Morton-curve layout locality
    "events_sessionize",  # added r7: gap-based sessionization
    "events_funnel_conversion",  # added r14: ordered view->click->purchase funnel
    "dedup_url_canonical",  # added r14: URL canonicalization dedup
    "multimodal_video_keyframes",  # added r7: scene-cut keyframe sampling
    "composite_curation_importance",  # added r7: gates->dedup->DSIR selection
    "search_hybrid_rrf",  # added r7: lexical+vector RRF fusion
    "cdc_snapshot_diff",  # added r7: hash-diff CDC read
    "events_time_weighted_avg",  # added r7: LOCF time-weighted rollup
    "composite_waiting_suppliers",  # added r7: Q21-shape aggregate rewrite
    "text_ngram_novelty",  # added r7: per-doc unique-window fraction
    "join_fuzzy_match_names",  # added r7: deletion-neighborhood blocking
    "dedup_triangle_count",  # added r7: verified-graph triangle walk
    "composite_training_rehearsal",  # added r8: manifest->epoch order->batched reads
    "dedup_pagerank_centrality",  # added r8: fixed-point PageRank on the dup graph
    "join_scd2_pointintime",  # added r8: union+LOCF point-in-time enrichment
    "lineitem_abc_classification",  # added r8: two-phase global prefix Pareto
    "composite_feature_snapshot",  # added r8: session features x RFM training table
    "similarity_label_separability",  # added r8: N x L centroid-dot health card
    "composite_rag_context",  # added r8: retrieval -> passage election chain
    "composite_feature_snapshot_pit",  # added r9: leakage-free as-of training table
    "composite_small_qty_revenue",  # added r9: Q17 shape, single-scan window rewrite
    "composite_excess_supply_suppliers",  # added r9: Q20 shape, nested semi collapse
    "composite_product_profit",  # added r9: Q9 shape, multi-dim broadcast legs
    "composite_min_cost_supplier",  # added r9: Q2 shape over synthesized supply
    "multimodal_image_decode_jpeg",  # added r9: real baseline JPEG decode chain
    "composite_shipmode_priority",  # added r10: Q12 shape, filter-below-join fact join
    "multimodal_image_decode_png",  # added r10: real PNG decode (zlib+unfilter)
    "text_bigram_surprise",  # added r10: bigram-LM perplexity-proxy gate
    "composite_curation_perplexity",  # added r10: CCNet lang-id x ppl terciles
    "text_bpe_train_merges",  # added r10: 3-round distributed BPE training
    "similarity_mmr_rerank",  # added r10: MMR diversity re-rank over the pool
    "text_bpe_encode",  # added r11: learned-merge tokenizer application
    "multimodal_image_resize_png",  # added r11: PNG decode->resize chain
    "avro_ocf_roundtrip",  # added r11: OCF container write+read round-trip
    "composite_bpe_token_budget",  # added r11: budget bites on BPE counts
    "multimodal_image_decode_gif",  # added r11: real LZW GIF decode
    "multimodal_video_gif_frames",  # added r11: animated GIF frame decode
    "multimodal_video_gif_lct_frames",  # added r12: per-frame local color tables
    "multimodal_image_decode_gif_interlaced",  # added r12: 4-pass interlace
    "lake_merge_restore_timetravel",  # added r12: MERGE/RESTORE/ZORDER chain
    "lake_evolution_roundtrip",  # added r12: schema evolution + CHECK constraint
    "lake_rename_roundtrip",  # added r13: column-mapping rename, both versions read
    "lake_clone_diverge",  # added r14: zero-copy shallow clone, forked histories
    "lake_stats_skipping",  # added r15: per-file stats, driver-side file pruning
    "lake_metadata_min_max",  # added r15: metadata-only MIN/MAX from manifest stats
    "sketch_quantile_histogram",  # added r15: mergeable log-bucket quantile sketch
    "dsl_ktable_groupby_reaggregate",  # added r13: KGroupedTable re-aggregation
    "dsl_ktable_fk_join",  # added r14: KS 2.4 foreign-key KTable join
    "dsl_cogroup_user_activity",  # added r14: KS 2.5 cogroup multi-stream agg
    "multimodal_image_decode_png_adam7",  # added r13: 7-pass Adam7 decode
    "multimodal_video_gif_subrect_frames",  # added r13: sub-rect compositing
    "multimodal_image_decode_png_palette",  # added r13: PLTE color type
    "multimodal_image_decode_jpeg_progressive",  # added r13: SOF2 9-scan script
    "multimodal_image_decode_jpeg_progressive_420",  # added r14: 4:2:0 + DRI/RSTn
    "multimodal_image_decode_png_rgba",  # added r13: alpha composite features
    "multimodal_image_decode_png_depths",  # added r14: 1/2/4/16-bit depth matrix
    "multimodal_audio_g711_features",  # added r14: telephony mu-law/A-law decode
    "multimodal_video_apng_frames",  # added r14: APNG blend/dispose compositing
    "multimodal_video_gif_disposal_frames",  # added r15: GIF disposal 2/3 matrix
    "multimodal_video_apng_dispose_frames",  # added r15: APNG dispose ops + hidden default image
    "multimodal_audio_mpeg1_layer2",  # added r15: MPEG-1 Layer II table-B.2a decode
    "dsl_sliding_time_difference",  # added r15: KS 2.7 sliding time-difference bands
    "dsl_stream_versioned_join",  # added r15: KS 3.5 versioned-KTable temporal join
]

# --- canary normalization (VERDICT r8 task 1) ------------------------------
# Three rounds running, cross-round bench deltas were dominated by machine
# state, not code. These five queries are trivial, untouched since round 1,
# and span scan/agg/window/text/topk; their total under this run's machine
# conditions, divided by the pinned steady-state reference (measured solo,
# best-of-2 x3 rounds on the build machine at sf0.1 — protocol in SCALE.md
# "Canary normalization"), is printed as `canary_ratio` in the summary.
# A reader divides any cross-round delta by it before calling regression.
CANARY = [
    "sensor_alert_pipeline",
    "agg_cube",
    "window_tumbling_agg",
    "text_token_stats",
    "sort_limit_topk",
]
CANARY_REF_TOTAL_S = 3.2  # pinned r9; re-pin only with a SCALE.md entry


def main() -> None:
    if "--scale-probe" in sys.argv:
        run_scale_probe()
        return
    if "--only" in sys.argv:
        run_only()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_session(app_name="kstreams_spark_bench", cores=cores)

    names = [n for n in HEADLINE if n in registry.QUERIES]
    # warm the JVM/codegen once so per-query times measure steady state
    registry.QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    # Each query runs twice and the summary reports the better run —
    # first executions pay one-time whole-stage-codegen compilation
    # (hundreds of ms for the wide generated functions), which amortizes
    # to ~0 over a real workload; steady state is the number that scales.
    # The two passes are INTERLEAVED (all queries once, then all again —
    # VERDICT r9 task 1) so pass 2 is steady-state for every query, and
    # BOTH numbers are kept: BENCH_DETAIL's `passes` map is the
    # within-run spread a reader uses to clear a per-query spike without
    # a re-run (protocol in SCALE.md "Per-query variance").
    passes: dict[str, list[float]] = {name: [] for name in names}
    for _ in range(2):
        for name in names:
            t0 = time.time()
            df = registry.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            passes[name].append(round(time.time() - t0, 3))
    times = {name: min(ps) for name, ps in passes.items()}

    probes, probe_passes = _bench_serving_probes(spark, sf_dir)

    detail_line, summary_line = format_output(
        times,
        probes,
        sf,
        passes=passes,
        probe_passes=probe_passes,
        scale_probe=_read_existing_scale_probe(),
    )
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        fh.write(detail_line)
    print(detail_line)
    # LAST line: compact summary only — must survive any stdout tail
    # window (the driver parses the final line; see module docstring).
    print(summary_line)


def run_only() -> None:
    """`bench.py --only q1,q2 [--reps N]` — SOLO measurement mode
    (VERDICT r12 task 1): run just the named queries, N timed reps each
    (default 3, reporting min), in a fresh session with nothing else in
    the JVM. This isolates a query from full-bench session state (run
    order, registry growth, GC pressure from 87 accumulated plans) so a
    cross-round per-query delta can be attributed to code vs bench
    environment. Prints one JSON line; does NOT touch BENCH_DETAIL.json."""
    names = sys.argv[sys.argv.index("--only") + 1].split(",")
    reps = (
        int(sys.argv[sys.argv.index("--reps") + 1])
        if "--reps" in sys.argv
        else 3
    )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_session(app_name="kstreams_spark_bench_only", cores=cores)
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    # one untimed warmup of the first query (JVM/codegen), as in main()
    registry.QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    canary = [c for c in CANARY if c in registry.QUERIES]
    out: dict[str, object] = {"mode": "only", "reps": reps}
    passes: dict[str, list[float]] = {}
    for name in names + canary:
        ps = []
        for _ in range(reps):
            t0 = time.time()
            registry.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ps.append(round(time.time() - t0, 3))
        passes[name] = ps
    out["queries"] = {n: min(passes[n]) for n in names}
    out["passes"] = {n: passes[n] for n in names}
    out["canary_ratio"] = round(
        sum(min(passes[c]) for c in canary) / CANARY_REF_TOTAL_S, 3
    )
    print(json.dumps(out))


# The driver tail-captures stdout and parses the LAST line; r7's single
# 58-query line arrived front-truncated ("parsed": null). The contract
# below is pinned by tests/test_bench_contract.py: the summary line must
# stay well under any plausible tail window NO MATTER how many headline
# queries accumulate.
SUMMARY_MAX_BYTES = 1024

# r16 (VERDICT r15 task 2): the summary line carries a compact
# `queries` mini-map — the SLOWEST queries, most-expensive first, capped
# at TOP_QUERIES_MAX entries AND at whatever fits under
# SUMMARY_MAX_BYTES — so the driver's per-query comparison (PERF
# per_query / scaling.per_query) stops coming back empty: the full
# 112-query detail line outruns the driver's 2000-byte stdout tail (it
# did in r14 AND r15), while the top-N map covers ~60% of total runtime
# in ~500 bytes. Additions-only: the detail line/sidecar still carry
# every query, and nothing existing moved or was renamed.
TOP_QUERIES_MAX = 15


def _top_queries_fit(
    times: dict[str, float], out: dict, max_bytes: int
) -> dict[str, float]:
    """Largest-first subset of `times` that keeps json.dumps(out) (with
    the subset under out['queries']) within max_bytes, ≤ TOP_QUERIES_MAX
    entries. An entry that does not fit is skipped, not the end: a
    shorter-named later entry may still fit. Mutates out['queries'] to
    the chosen subset and returns it."""
    top: dict[str, float] = {}
    for name in sorted(times, key=lambda n: (-times[n], n)):
        if len(top) >= TOP_QUERIES_MAX:
            break
        trial = dict(top)
        trial[name] = round(times[name], 3)
        out["queries"] = trial
        if len(json.dumps(out).encode()) > max_bytes:
            continue
        top = trial
    out["queries"] = top
    return top


def format_output(
    times: dict[str, float],
    probes: dict[str, float],
    sf: float,
    passes: dict[str, list[float]] | None = None,
    probe_passes: dict[str, list[float]] | None = None,
    scale_probe: dict | None = None,
) -> tuple[str, str]:
    """(detail_line, summary_line): full per-query map on its own line /
    sidecar, compact fixed-size summary for the driver's tail parser.
    `passes`/`probe_passes` carry BOTH timed runs per key ([pass1,
    pass2], interleaved) — the within-run spread lives only in the
    detail sidecar; the summary line stays fixed-size (VERDICT r9
    task 1). `scale_probe` (the `--scale-probe` mode's measured-exponent
    map, VERDICT r11 task 5) is carried forward into the sidecar when a
    prior probe run left one — a normal bench run must not erase it."""
    canary = [c for c in CANARY if c in times]
    ratio = (
        round(sum(times[c] for c in canary) / CANARY_REF_TOTAL_S, 3)
        if canary
        else None
    )
    detail = {
        "metric": "headline_queries_detail",
        "unit": "sec",
        "sf": sf,
        "canary_ratio": ratio,
        "queries": times,
        "probes": probes,
        "passes": passes or {},
        "probe_passes": probe_passes or {},
    }
    if scale_probe:
        detail["scale_probe"] = scale_probe
    out = {
        "metric": "headline_queries_total_time",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_queries": len(times),
        "canary_ratio": ratio,
        "probes": probes,
        "detail": "BENCH_DETAIL.json",
    }
    _top_queries_fit(times, out, SUMMARY_MAX_BYTES)
    return json.dumps(detail), json.dumps(out)


def _bench_serving_probes(
    spark, sf_dir: str
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """Build the three serving indexes (untimed, offline cost) and time
    one online probe each, best-of-2 like the queries (both passes kept
    for the detail sidecar). Caches are cleared before each timed run so
    the probe pays its own (pruned) IO."""
    import shutil
    import tempfile

    from kstreams_spark.io import load_table
    from kstreams_spark.operators.quantize import pq_codebooks
    from kstreams_spark.operators.text import SEARCH_TERMS
    from kstreams_spark import serving

    tmp = tempfile.mkdtemp(prefix="kstreams_bench_idx_")
    probes: dict[str, float] = {}
    probe_passes: dict[str, list[float]] = {}
    try:
        emb = load_table(spark, sf_dir, "embeddings")
        centroids = [
            [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
        ]
        probe_vec = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 3).first().embedding
        ]
        docs = load_table(spark, sf_dir, "documents")

        serving.write_postings_index(docs, tmp + "/postings")
        serving.write_ivf_sq8_index(emb, tmp + "/sq8", centroids)
        serving.write_ivf_pq_index(
            emb, tmp + "/pq", centroids, pq_codebooks(emb)
        )

        def timed(key, fn):
            ps = []
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.time()
                fn().write.format("noop").mode("overwrite").save()
                ps.append(round(time.time() - t0, 3))
            probe_passes[key] = ps
            probes[key] = min(ps)

        timed(
            "probe_postings_index",
            lambda: serving.probe_postings_index(
                spark, tmp + "/postings", SEARCH_TERMS, k=20
            ),
        )
        timed(
            "probe_ivf_sq8_index",
            lambda: serving.probe_ivf_sq8_index(
                spark, tmp + "/sq8", probe_vec, centroids, k=10, n_probe=2
            ),
        )
        timed(
            "probe_ivf_pq_index",
            lambda: serving.probe_ivf_pq_index(
                spark, tmp + "/pq", probe_vec, centroids, k=10, n_probe=2
            ),
        )
        # the r11 serving-MMR verb: the tempdir already has the hybrid
        # root layout (postings/ + sq8/ + pq/), so the maintainer's
        # probe runs against it directly; the timing deliberately
        # includes the bounded driver greedy — that IS the latency a
        # RAG caller pays for diversity
        from kstreams_spark.streaming.hybrid import HybridIngestMaintainer

        hy = HybridIngestMaintainer(tmp)
        emb_store = emb.select("vec_id", "embedding")
        timed(
            "probe_vector_mmr",
            lambda: hy.probe_vector_mmr(
                spark, probe_vec, emb_store, k=4, pool=16, n_probe=2
            ),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return probes, probe_passes


# --- scale probe (VERDICT r11 task 5) ---------------------------------------
# Every 100 TB claim in SCALE.md is plan-shape reasoning; this mode adds one
# MEASURED datapoint per heavy family: synthesize ~10x the sf0.1 corpus (same
# layout, same codecs), time the family's headline query at 1x/3x/10x, and
# record the least-squares scaling exponent (slope of log-time vs log-scale)
# in BENCH_DETAIL.json's `scale_probe` map. Exponent ~1.0 = linear in input;
# materially above 1 = a superlinear term SCALE.md must explain.
#
# Synthesis keeps the WORKLOAD SHAPE fixed while scaling the bytes:
# - documents: each replica Caesar-rotates the text by the replica id
#   (one F.translate over the corpus's pure a-z alphabet) and appends
#   " the a". The rotation is injective and length-preserving, so token
#   count, type-token ratio, and the char-2gram repetition fraction —
#   everything the curation gates score — are EXACTLY unchanged, and each
#   replica preserves the original's internal dup-cluster structure while
#   sharing no token 3-gram shingle with any other replica (candidate
#   pairs scale linearly, never R^2 per cluster). The appended " the a"
#   keeps the stopword gate uniformly satisfied (rotation would otherwise
#   destroy the literal stopwords and silently EMPTY the pipeline — the
#   first draft of this probe measured exactly that: flat ~1.8 s at every
#   scale, i.e. job overhead over a gutted corpus). The 1x corpus goes
#   through the SAME transform (replica 0, identity rotation) so all
#   three points time identical per-row work.
# - embeddings: replica ids restride vec_id; a deterministic per-(replica,
#   dim) ppm-scale jitter breaks exact cross-replica ties without moving
#   any vector's cell assignment materially.
# Both tables are written with file counts proportional to scale so the
# scan's input-split count grows with the data (the AQE skew-split note in
# CLAUDE.md: single-file inputs are indivisible no matter how skewed).

SCALE_PROBE_SCALES = (1, 3, 10)
SCALE_PROBE_FAMILIES = {
    # family label -> (registered headline query, table it scales over)
    "neardup_chain": "composite_curation_neardup",
    "ivf_build_probe": "similarity_topk_ivf_kmeans",
}


def _probe_lake_mor_cdf(spark, sdir: str) -> None:
    """Scale probe for the r13 lake machinery (VERDICT r13 task 2):
    publish the scaled corpus as a partitioned lake (F files ∝ scale),
    run a merge-on-read MERGE (DV tombstones + appends, one commit) and
    an append commit, then fold versions 2..3 into a
    LakeMaterializedAggregate THROUGH the partitioned signed change
    feed (kstreams_lake_cdf_dist — one task per changed file). Every
    step is a lake verb, so the timed chain IS the machinery under
    test; per-row work is scale-invariant (same transforms per row).
    Matched keys (doc_id % 97) scale linearly and stay far below
    DRIVER_DV_MAX_POSITIONS at 10x."""
    import shutil
    import tempfile

    from kstreams_spark.io import load_table
    from kstreams_spark.lake_snapshot import (
        snapshot_merge,
        snapshot_publish,
    )
    from kstreams_spark.streaming.materialized import (
        LakeMaterializedAggregate,
    )

    tmp = tempfile.mkdtemp(prefix="kstreams_lake_probe_")
    try:
        docs = load_table(spark, sdir, "documents").select(
            "doc_id",
            "text",
            F.when(F.col("doc_id") % 2 == 0, "train")
            .otherwise("val")
            .alias("split"),
            F.length("text").cast("double").alias("chars"),
        )
        lake = os.path.join(tmp, "lake")
        snapshot_publish(docs, lake, partition_cols=("split",))  # v1
        view = LakeMaterializedAggregate(
            os.path.join(tmp, "view"), ("split",), "chars"
        )
        start_v = view.bootstrap(spark, lake)  # view reflects v1
        src = docs.filter(F.col("doc_id") % 97 == 0).withColumn(
            "chars", F.col("chars") + 1.0
        )
        snapshot_merge(
            spark,
            lake,
            src,
            key_cols=("doc_id",),
            partition_cols=("split",),
            merge_on_read=True,
        )  # v2: DV tombstones + appends
        snapshot_publish(
            docs.filter(F.col("doc_id") % 89 == 1).withColumn(
                "doc_id", F.col("doc_id") + F.lit(900_000_000)
            ),
            lake,
            mode="append",
            partition_cols=("split",),
        )  # v3: inserts
        q = view.attach(
            spark,
            lake,
            os.path.join(tmp, "ckpt"),
            start_v,
            distributed=True,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        view.result(spark).write.format("noop").mode("overwrite").save()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _probe_fk_view_maintain(spark, sdir: str) -> None:
    """Scale probe for the r14 row-level maintained FK-join view
    (VERDICT r14 task 6 — the one r14 machine with no measured
    exponent): publish the scaled corpus as a fact lake carrying a
    foreign key, bootstrap a LakeMaterializedEnrichedJoin against a
    broadcast-sized dimension (inner), stream FK-MOVE updates (every
    97th key re-points at a new partner; every 3rd of those at a
    DANGLING value — the KIP-213 removal arm) plus an append through
    the partitioned signed feed, and serve the maintained view. The
    bootstrap is O(N); per-batch maintenance is O(changed keys + dim
    matches) — the chain's exponent should ride the bootstrap's ~1.0,
    with the maintenance arm sublinear inside it."""
    import shutil
    import tempfile

    from kstreams_spark.io import load_table
    from kstreams_spark.lake_snapshot import snapshot_merge, snapshot_publish
    from kstreams_spark.streaming.materialized import (
        LakeMaterializedEnrichedJoin,
    )

    tmp = tempfile.mkdtemp(prefix="kstreams_fkview_probe_")
    try:
        docs = load_table(spark, sdir, "documents").select(
            "doc_id",
            F.length("text").cast("long").alias("chars"),
            (F.col("doc_id") % 1000).alias("topic_id"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("topic_id"),
            F.concat(F.lit("topic-"), F.col("id")).alias("topic_name"),
        )
        lake = os.path.join(tmp, "facts")
        snapshot_publish(docs, lake, partition_cols=())  # v1
        view = LakeMaterializedEnrichedJoin(
            os.path.join(tmp, "view"),
            ("doc_id",),
            dim,
            foreign_key="topic_id",
            dim_key="topic_id",
            how="inner",
        )
        start_v = view.bootstrap(spark, lake)
        moved = docs.filter(F.col("doc_id") % 97 == 0).withColumn(
            "topic_id",
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(5_000_000)  # dangling
            ).otherwise((F.col("topic_id") + 7) % 1000),
        )
        snapshot_merge(
            spark, lake, moved, key_cols=("doc_id",), partition_cols=()
        )  # v2: FK moves incl. dangling removals
        snapshot_publish(
            docs.filter(F.col("doc_id") % 89 == 1).withColumn(
                "doc_id", F.col("doc_id") + F.lit(900_000_000)
            ),
            lake,
            mode="append",
            partition_cols=(),
        )  # v3: inserts
        q = view.attach(spark, lake, os.path.join(tmp, "ckpt"), start_v)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        view.result(spark).write.format("noop").mode("overwrite").save()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# probe chains that are not registered queries: label -> callable(spark, sdir)
SCALE_PROBE_CALLABLES = {
    "lake_mor_cdf": _probe_lake_mor_cdf,
    "fk_view_maintain": _probe_fk_view_maintain,
}
_ID_STRIDE = 10_000_000  # far above any fixture id; keeps replica ids disjoint


def fit_exponent(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of ln(time) on ln(scale) over (scale, time)
    pairs — the observed scaling exponent. Pure math, unit-tested."""
    import math

    xs = [math.log(s) for s, _ in points]
    ys = [math.log(max(t, 1e-6)) for _, t in points]
    n = len(points)
    mx, my = sum(xs) / n, sum(ys) / n
    var = sum((x - mx) ** 2 for x in xs)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    return round(cov / var, 3) if var else 0.0


def _synthesize_scaled(spark, base_dir: str, out_dir: str, scale: int) -> None:
    """Write documents+embeddings at `scale`x the base corpus into
    out_dir/{documents,embeddings}.parquet (untimed — fixture build)."""
    from functools import reduce

    from pyspark.sql import DataFrame

    from kstreams_spark.io import load_table

    docs = load_table(spark, base_dir, "documents")
    embs = load_table(spark, base_dir, "embeddings")
    alpha = "abcdefghijklmnopqrstuvwxyz"
    doc_parts, emb_parts = [], []
    for r in range(scale):
        rot = alpha[r % 26 :] + alpha[: r % 26]
        salted = F.concat(
            F.translate(F.col("text"), alpha, rot), F.lit(" the a")
        )
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * _ID_STRIDE)).alias("doc_id"),
                salted.alias("text"),
                "lang",
                "source",
                F.length(salted).cast("int").alias("n_chars"),
            )
        )
        emb_parts.append(
            embs.select(
                (F.col("vec_id") + F.lit(r * _ID_STRIDE)).alias("vec_id"),
                F.transform(
                    "embedding",
                    lambda x, i: x
                    + ((i * 131 + F.lit(r * 977)) % 1000 - 500).cast("double")
                    * F.lit(1e-6),
                ).alias("embedding"),
                "label",
            )
        )
    union = lambda parts: reduce(DataFrame.unionByName, parts)  # noqa: E731
    union(doc_parts).repartition(4 * scale).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    union(emb_parts).repartition(4 * scale).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def _read_existing_scale_probe() -> dict | None:
    """Prior probe results from BENCH_DETAIL.json, if any — carried
    forward so the normal bench run and the probe mode compose in either
    order."""
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as fh:
            return json.load(fh).get("scale_probe")
    except (OSError, ValueError):
        return None


def run_scale_probe() -> None:
    import shutil
    import tempfile

    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    m = re.search(r"sf([0-9.]+)", base_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_session(app_name="kstreams_spark_scale_probe", cores=cores)

    tmp = tempfile.mkdtemp(prefix="kstreams_scale_probe_")
    results: dict[str, dict] = {}
    try:
        for s in SCALE_PROBE_SCALES:
            _synthesize_scaled(spark, base_dir, os.path.join(tmp, f"s{s}"), s)
        def _query_runner(qname):
            def run(sdir):
                registry.QUERIES[qname](spark, sdir).write.format(
                    "noop"
                ).mode("overwrite").save()

            return run

        runners = {
            fam: (qname, _query_runner(qname))
            for fam, qname in SCALE_PROBE_FAMILIES.items()
        }
        runners.update(
            {
                fam: (fn.__name__, lambda sdir, fn=fn: fn(spark, sdir))
                for fam, fn in SCALE_PROBE_CALLABLES.items()
            }
        )
        # warm codegen/JVM once per family on the smallest corpus
        for _, run in runners.values():
            run(os.path.join(tmp, "s1"))
        for fam, (qname, run) in runners.items():
            times: dict[str, float] = {}
            fam_passes: dict[str, list[float]] = {}
            for s in SCALE_PROBE_SCALES:
                sdir = os.path.join(tmp, f"s{s}")
                ps = []
                for _ in range(2):
                    t0 = time.time()
                    run(sdir)
                    ps.append(round(time.time() - t0, 3))
                times[str(s)] = min(ps)
                fam_passes[str(s)] = ps
            pts = [(float(s), times[str(s)]) for s in SCALE_PROBE_SCALES]
            results[fam] = {
                "query": qname,
                "base_sf": sf,
                "scales": list(SCALE_PROBE_SCALES),
                "times": times,
                "passes": fam_passes,
                # full fit over all points; the TAIL fit (two largest
                # scales) is the one to read — fixed per-job overhead
                # dilutes the full fit toward 0 at local corpus sizes
                # (SCALE.md "Scale probe"); a superlinear term shows up
                # in BOTH as > 1
                "exponent": fit_exponent(pts),
                "exponent_tail": fit_exponent(pts[-2:]),
            }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # merge into the sidecar (never clobber a normal run's query map)
    detail_path = os.path.join(REPO, "BENCH_DETAIL.json")
    try:
        with open(detail_path) as fh:
            detail = json.load(fh)
    except (OSError, ValueError):
        detail = {"metric": "headline_queries_detail", "unit": "sec", "sf": sf}
    detail["scale_probe"] = results
    with open(detail_path, "w") as fh:
        fh.write(json.dumps(detail))
    print(json.dumps({"scale_probe": results}))
    summary = {
        "metric": "scale_probe",
        "unit": "exponent",
        "sf": sf,
        "exponents": {fam: r["exponent"] for fam, r in results.items()},
        "exponents_tail": {
            fam: r["exponent_tail"] for fam, r in results.items()
        },
        "detail": "BENCH_DETAIL.json",
    }
    line = json.dumps(summary)
    assert len(line.encode()) <= SUMMARY_MAX_BYTES
    print(line)


if __name__ == "__main__":
    main()
