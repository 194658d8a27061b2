"""Scale-trajectory rehearsal (BASELINE.md "Scale trajectory"):
replicate sf0.1 xN with SHIFTED KEYS (each replica is a self-contained
key space, so join multiplicities stay realistic instead of
exploding), then run the two headline shapes SCAN-BASED on both
engines — Spark with AQE ON (the production config), DuckDB at the
baseline's 4 threads — and print a markdown row per shape.

Usage: python scripts/scale_rehearsal.py [--mult 100] [--runs 3]
           [--only key1,key2]  (registry keys; filters both shape sets)
           [--tables t1,t2]    (replicate/view only these tables)

The same SQL text (the registry oracles for agg_groupby_q1 /
srt_topk_global) runs on both engines over views of the same
replicated parquet; no caching on either side. Data lands in
.scratch/scale_x{N}/ and is reused if present.
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402
from selfcheck import duck_con  # noqa: E402

from atd_dockless_processing_spark import ORACLES  # noqa: E402
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from atd_dockless_processing_spark.tables import load  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
SHAPES = {
    "Q1 scan+agg": "agg_groupby_q1",
    "Q3 join+agg+topk": "srt_topk_global",
    # the reference's core domain: per-user event sessionization
    # (window + lag + agg); user_id shifts per replica, so each
    # replica is a fresh user cohort with realistic session lengths
    "sessionize window+agg": "evt_sessionize_lag",
}
# Shapes whose oracle SQL is DuckDB-specific (list_*/string_split):
# Spark runs the ENGINE DataFrame path (QUERIES[key]) against the
# scaled dir while DuckDB runs the oracle — the same engine-vs-oracle
# comparison bench.py/BASELINE.md makes, at xN data. These are the
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
    # r6g batch shapes (stm_cdc_stream_apply is timed inclusively by
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
# build and are timed inclusively in their own BASELINE sections.
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


def build(spark, mult: int) -> Path:
    out = REPO / ".scratch" / f"scale_x{mult}"
    for t, keys in REPL.items():
        if (out / f"{t}.parquet" / "_SUCCESS").exists():
            continue
        df = load(spark, BASE_SF, t).withColumn(
            "_rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
        )
        for k in keys:
            df = df.withColumn(k, F.col(k) + F.col("_rep").cast("long") * SPANS[k])
        n_files = 32 if t in ("lineitem", "events") else 8
        (
            df.drop("_rep")
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(str(out / f"{t}.parquet"))
        )
    import shutil

    for t in STATIC:
        src, dst = Path(BASE_SF) / f"{t}.parquet", out / f"{t}.parquet"
        if not dst.exists() and src.exists():
            (shutil.copytree if src.is_dir() else shutil.copy)(str(src), str(dst))
    return out


def timed(fn, runs: int) -> float:
    fn()  # warm-up: JIT / OS page cache on both engines
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        elapsed = time.perf_counter() - t0
        # a fn that sets fn.last reports its own timed section
        # (build-outside-timer hot runs); fall back to wall time
        times.append(getattr(fn, "last", elapsed))
    return statistics.median(times)


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
    spark = get_spark("scale-rehearsal")
    spark.conf.set("spark.sql.adaptive.enabled", "true")  # production config
    out = build(spark, mult)

    con = duck_con(str(out))
    con.execute("SET threads TO 4")  # baseline harness thread count
    for t in list(REPL) + [t for t in STATIC if (out / f"{t}.parquet").exists()]:
        spark.read.parquet(str(out / f"{t}.parquet")).createOrReplaceTempView(t)

    print(f"| query shape | DuckDB 4t x{mult} | Spark local x{mult} (AQE on) | ratio |")
    print("|---|---|---|---|")
    for label, key in SHAPES.items():
        sql = ORACLES[key]

        def duck_run():
            con.execute(sql).fetchall()

        def spark_run():
            spark.sql(sql).toPandas()

        d = timed(duck_run, runs)
        s = timed(spark_run, runs)
        print(f"| {label} | {d:.3f} s | {s:.3f} s | {s / d:.2f}x |")

    from atd_dockless_processing_spark import QUERIES  # noqa: E402

    # Two methods for the engine shapes (BASELINE.md "per-query floor"
    # decomposition): default = fresh DataFrame per run TIMED
    # INCLUSIVELY, charging Spark's per-plan-instance one-time cost
    # (py4j build + analysis + planning + codegen, ~0.5-0.8 s
    # regardless of data size) to every run; --hot = fresh DataFrame
    # per run with the build OUTSIDE the timer + AQE off (round-5
    # revision: the former plan-built-once method re-collected one
    # instance, and the DAGScheduler skips shuffle-map stages whose
    # outputs are still registered — it measured only the post-
    # shuffle tail; a fresh instance per run forces every stage to
    # execute while analysis/codegen still amortize via their
    # source-keyed caches).
    hot = "--hot" in sys.argv
    if hot:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        print(
            "(engine shapes below: HOT method — fresh plan instance per run, "
            "build outside the timer, AQE OFF — every stage re-executes; the "
            "header's 'AQE on' does not apply to them)"
        )
    for label, key in ENGINE_SHAPES.items():
        sql = ORACLES[key]

        def duck_run():
            con.execute(sql).fetchall()

        if hot:
            QUERIES[key](spark, str(out)).toPandas()  # codegen/JIT warm

            def spark_run():
                # build OUTSIDE the timed section of timed(): the
                # closure can't split build from collect, so time the
                # collect explicitly and append
                df = QUERIES[key](spark, str(out))
                df._jdf.queryExecution().executedPlan()
                t0 = time.perf_counter()
                df.toPandas()
                spark_run.last = time.perf_counter() - t0
        else:

            def spark_run():
                # fresh DataFrame per run: AQE reuses materialized shuffle
                # stages on a re-collected DataFrame (BASELINE.md finding 2)
                QUERIES[key](spark, str(out)).toPandas()

        d = timed(duck_run, runs)
        s = timed(spark_run, runs)
        tag = "engine path vs oracle, hot exec" if hot else "engine path vs oracle"
        # tag folded into the ratio cell so every row keeps the
        # header's 4 columns (valid markdown either way)
        print(f"| {label} | {d:.3f} s | {s:.3f} s | {s / d:.2f}x ({tag}) |")


if __name__ == "__main__":
    main()
