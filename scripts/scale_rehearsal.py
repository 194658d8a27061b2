"""Scale-trajectory rehearsal (BASELINE.md "Scale trajectory"):
replicate sf0.1 xN with SHIFTED KEYS (each replica is a self-contained
key space, so join multiplicities stay realistic instead of
exploding), then time every shape's registered key against its DuckDB
oracle on the replicated corpus and print a markdown row per shape.

Usage: python scripts/scale_rehearsal.py [--mult 100] [--runs 3]
           [--only key1,key2]  (registry keys; filters both shape sets)
           [--tables t1,t2]    (replicate only these tables)

Each row is ab.py's ``KEY`` vs ``duck:KEY`` pair (``run_forms``): each
engine in its own process, Spark hot (AQE off, fresh plan per run,
plan built before the clock), DuckDB at 4 threads; the cells are the
two ``median_s`` of ``--runs``. Data lands in .scratch/scale_x{N}/ and
is reused while each table's source-signature marker matches sf0.1.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from ab import run_forms  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from atd_dockless_processing_spark.tables import (  # noqa: E402
    load,
    marker_matches,
    source_signature,
)

BASE_SF = "/root/testdata/sf0.1"
SHAPES = {
    "Q1 scan+agg": "agg_groupby_q1",
    "Q3 join+agg+topk": "srt_topk_global",
    # the reference's core domain: per-user event sessionization
    # (window + lag + agg); user_id shifts per replica, so each
    # replica is a fresh user cohort with realistic session lengths
    "sessionize window+agg": "evt_sessionize_lag",
}
# Shapes whose oracle SQL is DuckDB-specific (list_*/string_split);
# like SHAPES, each runs its engine DataFrame path (QUERIES[key]) vs
# its oracle — the same engine-vs-oracle comparison
# bench.py/BASELINE.md makes, at xN data. These are the
# four bench queries whose sf0.1 ratio is >=1.5x (round-3 verdict
# item 6): each must show its at-scale trajectory.
ENGINE_SHAPES = {
    "tumbling window agg": "evt_tumbling_hour",
    "text token stats": "llm_token_stats",
    "exact dedup (groupBy text)": "llm_dedup_exact",
    "cosine top-k (1 query vs all)": "llm_cosine_topk",
    # r5 mergeable sketches: distinct keys grow xN but sketch state
    # stays fixed (256 registers / 4096 cells) — the bounded-state
    # claim, shown at scale with the oracle agreeing bit-for-bit
    "hll distinct sketch (orders)": "agg_hll_deterministic",
    "cms frequency sketch (events)": "agg_cms_heavy_hitters",
    # r6 keys: MDS availability rollup (window lead + day-split
    # explode + agg) and the one-plan publication funnel (window
    # dedup + derive + agg) — the new operators' at-scale rows
    "state intervals (MDS availability)": "evt_state_intervals",
    "publish funnel (one-plan ETL)": "etl_publish_funnel",
    # r6 sketch + semantic dedup. NOTE semdedup at xN keeps k=10
    # label clusters, so within-cluster pairs grow quadratically in
    # the replica count — run it at x10, not x100 (its docstring
    # sizes k ~ n/1000 in production; the x10 row shows the blocked
    # join scaling, not a mis-configured quadratic)
    "quantile sketch (lineitem)": "agg_quantile_sketch",
    "semdedup (embeddings, x10 only)": "llm_semdedup",
    # r6b keys (second round-6 batch). Replicas shift keys, so each
    # replica is a self-contained graph/cohort: edges, triangles and
    # per-node degrees replicate xN with NO cross-replica coupling —
    # the honest linear-scale-up shape for graph metrics.
    "triangle count (part co-purchase)": "gph_triangle_count",
    "jaccard neighbors (wedge join)": "gph_jaccard_neighbors",
    "kmv theta sketch (orders)": "agg_kmv_theta_sketch",
    "bigram top-k (documents)": "txt_ngram_topk",
    "ts interpolate (events)": "evt_ts_interpolate",
    "importance resample (documents)": "llm_importance_resample",
    "benford digits (orders)": "dq_benford_digits",
    "pagerank 2-step (part graph)": "gph_pagerank_scaled",
    "mad outliers (events)": "evt_outlier_mad",
    "shard assign (documents)": "llm_shard_assign",
    # r6c keys (third round-6 batch). user_id shifts per replica, so
    # ewma/cusum/attribution get xN fresh user cohorts (linear); the
    # part keys do NOT shift, so the co-purchase graph gets DENSER
    # with N (same posture as the other gph_ rows). NOTE the ewma /
    # cusum DuckDB oracle is a recursive CTE whose depth = max events
    # per user (~670 at x100) — the oracle side is expected to be
    # far slower than the engine's single-pass fold; that asymmetry
    # IS the finding (SQL fixpoint vs applyInPandas fold).
    "ewma fold (events)": "evt_ewma",
    "cusum changepoint (events)": "evt_cusum_changepoint",
    "linear attribution (events)": "evt_attribution_linear",
    "deterministic mode (orders)": "agg_mode",
    "readability (documents)": "txt_readability",
    "ip cidr classify (events)": "fn_ip_cidr",
    "pk uniqueness audit (5 tables)": "dq_pk_uniqueness",
    "bfs 3-hop (part graph)": "gph_bfs_reachability",
    # r6d/r6e keys (fourth/fifth round-6 batches). Facts replicate xN
    # while the STATIC dims (part/supplier/nation/region) stay
    # sf0.1-sized — the honest 100 TB shape (dims grow slower than
    # facts). mm_audio_silence_trim is omitted: its clip list is
    # user_id % 200 (fixed 200 clips at any N — not a scale shape).
    "weighted avg (lineitem)": "agg_weighted_avg",
    "cdc apply+publish (orders)": "snk_cdc_apply",
    "path top-10 (events)": "evt_path_topk",
    "hex ring smooth (events)": "geo_hex_ring_smooth",
    "freshness audit (events)": "dq_freshness",
    "rolling median (events)": "win_rolling_median",
    "train/val split (documents)": "llm_train_val_split",
    "scene cuts (staged video)": "mm_video_scene_cut",
    "fk orphans (6 edges)": "dq_fk_orphans",
    "manifest publish (orders)": "snk_manifest_publish",
    "interarrival hist (events)": "evt_interarrival_hist",
    "base64 roundtrip (documents)": "fn_base64_roundtrip",
    "curriculum order (documents)": "llm_curriculum_order",
    "gini (orders)": "agg_gini",
    "skew report (5 cols)": "dq_skew_report",
    # r6f: rouge pairs and image embeddings scale with documents;
    # join_scd2_temporal is omitted (custkey<30 on shifted keys ->
    # constant-size at any N, like mm_audio_silence_trim).
    "rouge overlap (doc pairs)": "llm_rouge_overlap",
    "image embed top-5 (bmp decode)": "mm_image_embed_sim",
    # r6g batch shapes (stm_cdc_stream_apply is measured inclusively by
    # hand, like the other side-effecting stream keys)
    "paragraph dedup (documents)": "txt_dedup_paragraphs",
    "new vs returning (events)": "evt_new_vs_returning",
    # legacy-coverage group: older keys that never had a x100 row
    "asof join": "join_asof",
    "topk per group (orders)": "win_topk_per_group",
    "funnel (events)": "evt_funnel",
    "lateral topn (orders)": "sql_lateral_topn",
    "tfidf topk (documents)": "llm_tfidf_topk",
    "except all (lineitem)": "set_except_all",
    "theta range join": "join_theta_range",
    "interval overlap join": "join_interval_overlap",
    "salted skew join": "join_skew_salted",
    # legacy batch 4: the remaining never-scale-tested heavy plan
    # shapes — multi-broadcast chain, distinct expansion, Expand,
    # lexical retrieval, decontamination join, lag-pair/ntile/LOCF
    # event shapes, spatial joins, vector ops, per-column profile,
    # islands, and the applyInPandas UDAF surface.
    "multiway 5-join (lineitem)": "join_multiway_5",
    "distinct count (orders)": "agg_distinct_count",
    # r9 aggregates: bitmap exact-distinct vs the Expand form above,
    # and the REGR_* moment-sum family
    "bitmap distinct (orders)": "agg_bitmap_distinct",
    "regression aggs (lineitem)": "agg_regression",
    # r9 surface keys with real data volume behind the syntax
    "collation group (documents)": "fn_collation_group",
    "ptf table argument (documents)": "udtf_table_argument",
    "grouping sets (orders)": "agg_grouping_sets",
    "bm25 topk (documents)": "llm_bm25_topk",
    "contamination ngrams (documents)": "llm_contamination_ngram",
    "markov transitions (events)": "evt_markov_transitions",
    "rfm segments (events)": "evt_rfm_segments",
    "time weighted avg (events)": "evt_time_weighted_avg",
    "od matrix k-suppressed (events)": "geo_od_matrix",
    "bbox join (events)": "geo_bbox_join",
    "kmeans step (embeddings)": "llm_kmeans_step",
    "vector quantize (embeddings)": "llm_vector_quantize",
    "profile table (orders)": "dq_profile_table",
    "gap islands (events)": "evt_gap_islands",
    "grouped-map udaf (events)": "udaf_grouped_map",
    # legacy batch 5: the vector/ANN family closers + two cheap
    # stragglers (z-score screen, exact corr/cov power sums)
    "knn join (20 queries x corpus)": "llm_knn_join",
    "ann ivf (coarse quantize + probe)": "llm_ann_ivf",
    "ann hyperplane (16-bit LSH + rerank)": "llm_ann_hyperplane",
    "centroid per label (embeddings)": "llm_centroid_per_label",
    "anomaly zscore (events)": "evt_anomaly_zscore",
    "corr/cov power sums (lineitem)": "agg_corr_cov",
    # legacy batch 6: one representative per remaining cheap family
    # (window frames, set ops, text scoring, LM quality, geo derive,
    # rule classification) — closes the "every family has a scale
    # row" claim
    "moving avg window (orders)": "win_moving_avg",
    "intersect all (lineitem)": "set_intersect_all",
    "entropy filter (documents)": "txt_entropy_filter",
    "unigram logprob (documents)": "llm_unigram_logprob",
    "trip length (events)": "geo_trip_length",
    "text classify (documents)": "llm_text_classify",
    "correlated subquery (orders)": "sql_correlated_subquery",
    "dau/wau rolling (events)": "evt_dau_wau_rolling",
    "range frame window (orders)": "win_range_frame",
    "cohort retention (events)": "evt_cohort_retention",
    "exact percentiles (lineitem)": "agg_percentiles",
}
# legacy batch 7 — COMPLETION sweep: every remaining compute-only
# key, labeled by its own name (one honest x100 row per key).
# Exclusions, each for a stated reason: llm_dedup_* are measured on
# scale_rehearsal_llm.py's token-suffixed corpus (on THIS naive
# replication texts repeat xN, so near-dup groups go quadratic —
# not a design any corpus should survive); agg_approx_distinct has
# no oracle (rows-only by contract); join_scd2_temporal and
# mm_audio_silence_trim are constant-size at any N (documented in
# their docstrings); geo_point_in_polygon_table's ORACLE is the
# deliberately naive O(points x edges) cross join (960M rows at x10
# — the engine path is grid-blocked with a plan assertion in
# test_engine_units.py, so the xN row would time the oracle, not
# the operator); sql_recursive_cte's DENSE-user_id precondition
# (docstring) holds only on driver testdata — replica key-shifts
# orphan every non-replica-0 subtree, so at xN the recursion and the
# closed-form oracle legitimately disagree (its bounded-superstep
# scale posture is measured via gph_bfs_reachability, 1.13x at
# x100); stm_*/snk_*/src_* execute side effects at plan
# build and are measured inclusively in their own BASELINE sections.
_COMPLETION_KEYS = [
    "agg_collect_sorted", "agg_cube", "agg_filtered", "agg_global",
    "agg_histogram", "agg_minmax_by", "agg_pivot", "agg_rollup",
    "agg_stats", "dq_constraint_report", "dq_dp_noise_counts", "dq_psi_drift",
    "evt_attribution_last_touch", "evt_rebalance_detect", "evt_session_batch", "evt_session_window_native",
    "evt_sliding_window", "evt_time_spine", "flt_in_set", "flt_like_regex",
    "flt_null_coalesce", "flt_range", "fn_array_ops", "fn_bitwise",
    "fn_cast_coercion", "fn_date_arith", "fn_date_derive", "fn_date_derive_tz",
    "fn_date_interval", "fn_epoch_ts", "fn_explode", "fn_from_json_struct",
    "fn_geojson_route", "fn_json_extract", "fn_levenshtein", "fn_map_ops",
    "fn_math_core", "fn_regexp_extract", "fn_split_tokens", "fn_string_core",
    "fn_struct_nested", "fn_surrogate_key", "fn_try_arith", "fn_url_parse",
    "fn_variant_json", "geo_grid_bin", "gph_degree_distribution",
    "join_anti", "join_bloom_prefilter", "join_broadcast_dim", "join_cross_small",
    "join_full_outer", "join_inner", "join_left_outer", "join_null_safe",
    "join_semi", "llm_dataset_mixture", "llm_doc_sample_per_source", "llm_stratified_sample",
    "llm_term_topk", "llm_vector_norm_filter", "mm_audio_features", "mm_decode_stub",
    "mm_decode_wav", "mm_frame_sample", "mm_image_histogram", "mm_image_resize",
    "prj_case_when", "prj_derived_expr", "prj_select_rename", "prj_unpivot",
    "set_except", "set_intersect", "set_union_all", "set_union_distinct",
    "sql_tpch_q6", "srt_limit_offset", "srt_multi_nulls",
    "txt_chunk_docs", "txt_fingerprint", "txt_lang_id", "txt_pii_mask",
    "txt_quality_score", "txt_repetition_filter", "txt_token_bpe", "udf_pandas_vectorized",
    "udf_scalar_python", "udtf_posexplode", "win_cume_dist", "win_distinct_count",
    "win_first_last", "win_lag_lead", "win_ntile_pct", "win_percent_rank",
    "win_rank_dense", "win_ratio_to_report", "win_running_sum",
]
ENGINE_SHAPES.update({k: k for k in _COMPLETION_KEYS})

# Dims that do NOT replicate: copied through at base size so keys
# auditing fact->dim edges (dq_fk_orphans) run against the scaled dir.
STATIC = ["region", "nation", "part", "supplier"]
# (table, [key columns to shift per replica])
REPL = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "events": ["user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
SPANS = {"l_orderkey": 10_000_000, "o_orderkey": 10_000_000,
         "o_custkey": 10_000_000, "c_custkey": 10_000_000,
         "user_id": 10_000_000, "doc_id": 10_000_000,
         "vec_id": 10_000_000}


def build(mult: int) -> Path:
    """Replicate (or copy, for STATIC) each table into scale_x{mult};
    a table is rebuilt when its marker does not hold the current
    ``source_signature`` of its sf0.1 source."""
    out = REPO / ".scratch" / f"scale_x{mult}"
    out.mkdir(parents=True, exist_ok=True)
    spark = None
    for t in [*REPL, *STATIC]:
        src, dst = Path(BASE_SF) / f"{t}.parquet", out / f"{t}.parquet"
        marker, sig = out / f"{t}.src_sig", source_signature(str(src))
        if marker_matches(marker, sig) or (t in STATIC and not src.exists()):
            continue
        if t in STATIC:
            if dst.is_dir():
                shutil.rmtree(dst)
            dst.unlink(missing_ok=True)
            (shutil.copytree if src.is_dir() else shutil.copy)(str(src), str(dst))
        else:
            spark = spark or get_spark("scale-rehearsal")
            df = load(spark, BASE_SF, t).withColumn(
                "_rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            for k in REPL[t]:
                df = df.withColumn(k, F.col(k) + F.col("_rep").cast("long") * SPANS[k])
            n_files = 32 if t in ("lineitem", "events") else 8
            (
                df.drop("_rep")
                .repartition(n_files)
                .write.mode("overwrite")
                .parquet(str(dst))
            )
        marker.write_text(sig)
    if spark is not None:
        spark.stop()
    return out


def main() -> None:
    mult = int(sys.argv[sys.argv.index("--mult") + 1]) if "--mult" in sys.argv else 100
    runs = int(sys.argv[sys.argv.index("--runs") + 1]) if "--runs" in sys.argv else 3
    if "--only" in sys.argv:
        keep = set(sys.argv[sys.argv.index("--only") + 1].split(","))
        for d in (SHAPES, ENGINE_SHAPES):
            for lbl in [l for l, k in d.items() if k not in keep]:
                del d[lbl]
    if "--tables" in sys.argv:
        tkeep = set(sys.argv[sys.argv.index("--tables") + 1].split(","))
        for t in [t for t in REPL if t not in tkeep]:
            del REPL[t]
    out = str(build(mult))

    print("| label | duck s | spark s | ratio |")
    print("|---|---|---|---|", flush=True)
    for label, key in {**SHAPES, **ENGINE_SHAPES}.items():
        s_rec, d_rec = run_forms([key, f"duck:{key}"], out, runs)
        if "error" in s_rec or "error" in d_rec:
            cells = [r.get("error", "ok") for r in (d_rec, s_rec)]
            print(f"| {label} | {cells[0]} | {cells[1]} | failed |", flush=True)
            continue
        d, s = d_rec["median_s"], s_rec["median_s"]
        print(f"| {label} | {d:.4f} | {s:.4f} | {s / d:.2f}x |", flush=True)


if __name__ == "__main__":
    main()
