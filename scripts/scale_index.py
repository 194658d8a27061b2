"""Generate SCALE.md: one scale-evidence line per SURVEY §2 key.

Sources, in priority order:
1. label -> key maps from scripts/scale_rehearsal.py (SHAPES,
   ENGINE_SHAPES, incl. the completion keys whose label IS the key)
   and scripts/scale_rehearsal_llm.py (SHAPES);
2. every markdown table row in BASELINE.md whose first cell matches
   a known label (the LAST such row wins — later sections supersede
   earlier measurements of the same shape);
3. a hand-maintained pointer map for keys whose evidence is prose
   (inclusive stream/sink timings, CSE-sweep decompositions) or an
   exclusion with a stated reason.

Usage: python scripts/scale_index.py          # writes SCALE.md
       python scripts/scale_index.py --check  # exit 1 if any §2 key
                                              # has no evidence line
"""
from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Prose-evidence pointers and exclusions. Every entry names where the
# evidence lives so a reader can verify without grepping.
POINTERS = {
    # measured rows whose BASELINE display label differs from the
    # rehearsal registry label — numbers restated with their section
    "agg_bloom_membership": "BASELINE round-6 de-weak — 1.10x at x100 (2.22/2.44 s)",
    "agg_cms_heavy_hitters": "BASELINE round-4 shapes — 0.61x at x100 (Spark faster)",
    "agg_hll_deterministic": "BASELINE round-4 shapes — 0.80x at x100 (Spark faster)",
    "agg_quantile_sketch": "BASELINE round-6 de-weak — 1.41x at x100",
    "agg_weighted_avg": "BASELINE round-6d/e — 1.04x at x100 (integer-cents core)",
    "etl_publish_funnel": "BASELINE round-6 de-weak — 0.91x at x100 (Spark faster, 2-exchange lifecycle)",
    "evt_cusum_changepoint": "BASELINE round-6c — 0.27x at x10 (engine fold 3.7x faster than the SQL fixpoint oracle; 22.9 s x100 near-linear)",
    "evt_ewma": "BASELINE round-6c — 0.25x at x10 (same fold-vs-fixpoint asymmetry; 25.3 s x100)",
    "evt_new_vs_returning": "BASELINE round-6g — 1.87x at x100 (pair-summary form)",
    "evt_outlier_mad": "BASELINE round-7 de-weak — 1.46x at x100 (single-pass value-domain histogram form)",
    "evt_state_intervals": "BASELINE round-6 de-weak — 0.24x at x100 (Spark 4.2x faster)",
    "evt_ts_interpolate": "BASELINE round-6b — 0.93x at x100 (1M grid points)",
    "geo_hex_ring_smooth": "BASELINE round-6d/e — 1.08x at x100 (single-pass is-center re-group, was 25.5x as a self-join)",
    "gph_jaccard_neighbors": "BASELINE round-6b — 0.08x at x100 (Spark 12.8x faster, wedge join)",
    "join_asof": "BASELINE legacy sweep 1 — 0.87x at x100, union-tag ordered-window form BEATS DuckDB's native ASOF JOIN",
    "join_interval_overlap": "BASELINE legacy sweep 2 — canonical-bucket emission, 12.0 s sink-mode for 171.7M pairs = 1.79x vs IEJoin",
    "join_skew_salted": "BASELINE legacy sweep 3 — SMJ-pinned 2.85 s; DELIBERATE 2.4x salt-replication-tax demo vs the plain join (production pays it only against a straggler)",
    "join_theta_range": "BASELINE legacy sweep 2 — 0.59 s / 2.44x (dispatch-floor regime, 240 ms oracle)",
    "llm_ann_ivf": "CLOSED r8 — scaled rows: 0.38x x10 / 0.02x x100 (nlist ~ sqrt(nq), cogroup-BLAS probe, recall@3 1.000; rehearsal_ivf_scaled.py); the registered fixed-nlist key keeps its 2.28x x10 honest-config row and the old x100 row stays marked quadratic-by-config",
    "llm_dedup_simhash": "BASELINE dedup-family rows — 1.77/4.31/15.95 s at x1/x10/x100 on the suffixed corpus (sublinear steps)",
    "llm_kmeans_step": "BASELINE legacy sweep batch 4 — 0.84x at x100 (2M x 64d)",
    "llm_knn_join": "BASELINE legacy sweep 5 — 0.71x at x100 (Spark faster; staged norms + Arrow batch scoring)",
    "llm_rouge_overlap": "| rouge overlap (50k doc pairs, clipped bigram intersection) | ×100 | duck 30.9–34.0 s | hoisted 7.6–11.3 s | **0.25–0.33× (was ~1.0–1.1×** — r15 split hoist over the r14 sorted-merge scoring; r14 inline form same epochs 33.6/58.0 s) |",
    "llm_semdedup": "BASELINE round-6 de-weak — 0.24x at x10 (honest fixed-k config; Spark 4.2x faster)",
    "mm_image_embed_sim": "BASELINE round-6f — 0.12x at x100 (32-core Arrow decode beats the closed-form oracle 8x)",
    "set_intersect_all": "BASELINE legacy sweep 6 — 0.57x at x100 (Spark faster)",
    "txt_dedup_paragraphs": "BASELINE round-6g — 3.0x at x100, CLOSED AS CONSTANT-FACTOR (630 ms absolute = staged-HOF/dispatch floor)",
    "win_moving_avg": "BASELINE legacy sweep 6 — 0.56x at x100 (Spark faster, 15M rows / 1.5M partitions)",
    # geo CSE-sweep decompositions (hot x100 engine timings in prose)
    "geo_hex_bin": "BASELINE 'CSE-gap sweep' — staged cube rounding, 10.3 -> 1.4 s hot at x100",
    "geo_point_in_polygon": "BASELINE 'CSE-gap sweep follow-up' — staged x/y Project, 1.08 -> 0.375 s hot at x100",
    "geo_nearest_hub": "BASELINE 'CSE-gap sweep follow-up' — struct-array argmin ties when-chain A/B (1.53 vs 1.57 s)",
    "geo_point_in_polygon_table": "EXCLUDED from xN harness: oracle is the deliberately naive O(points*edges) cross join; engine path is grid-blocked with a no-CartesianProduct plan assertion (test_engine_units.py)",
    # dedup family measured on the suffixed corpus
    "llm_dedup_near_minhash": "BASELINE 'LLM-pipeline scale rehearsal' — 12.65 s x1 / 130.5 s x10 / 416 s x100 sink-mode (296.8M verified pairs)",
    "llm_dedup_exact": "BASELINE 'round-4 shapes' table — 1.75x at x100",
    "llm_dedup_embedding": "BASELINE 'Ball-cover gate' — T=0.9 on clustered x10 corpus: 62.1x pruning, recall 1.0",
    # iterative / precondition-bound
    "sql_recursive_cte": "EXCLUDED from xN harness: replica key-shifts violate the documented DENSE-user_id precondition (orphaned subtrees); the valid iterative-join scale row is gph_bfs_reachability (1.13x at x100)",
    # constant-size-by-construction configs
    "join_scd2_temporal": "EXCLUDED: custkey<30 dim is constant-size at any N (docstring); equi+range-residual shape shares join_asof's measured form",
    "stm_rate_source_window": "EXCLUDED from xN harness: fixed 5-batch exactly-once-restart demo (10k synthetic rows by construction); the scale dimension is offset-log/state recovery, not volume — windowed-agg volume shape measured under stm_tumbling_availablenow/evt_tumbling_hour",
    "src_python_datasource": "SURFACE demo (PySpark 4 Python DataSource V2 contract) — the python-worker generator path is the api's cost by construction (udf_scalar_python precedent); production columnar ingest is the JVM reader, measured under src_parquet_scan",
    "udtf_python_custom": "SURFACE demo (@udtf contract) — production form of this transform is the JVM posexplode(split) measured under udtf_posexplode; per-row Python generator cost is the api, not a plan defect",
    "stm_state_store_read": "EXCLUDED from xN harness: offline state-checkpoint inspection over a fixed 3-batch demo stream; volume shape of the underlying windowed agg measured under stm_tumbling_availablenow",
    "udf_arrow_native": "SURFACE demo (@arrow_udf contract) — cheapest python-worker hop the api offers (zero-copy arrow both ways); the pure-JVM twin is one pmod/shiftright projection (fn_bitwise plan family)",
    "sql_scripting": "SURFACE demo (SQL:2023 PSM entry) — the script's data work is one orders aggregate (agg_groupby_q1 plan family); the loop is driver-side constant folding by construction",
    "llm_temperature_mixture": "one map-side-combinable count agg over documents (exchange = one row per language) + broadcast 1-row total — llm_dataset_mixture plan family (20.93x completion-sweep row is the shared dispatch floor at 260 ms absolute)",
    "geo_trip_quality_flags": "geo_trip_length plan family (one user-window exchange, lags share the sort, map-side flags, combinable agg) — its 1.10x x100 json-fast row prices this shape",
    "mm_audio_silence_trim": "EXCLUDED: clip list is user_id % 200 — fixed 200 clips at any N (docstring)",
    # rows-only contract key
    "agg_approx_distinct": "rows-only by contract (no oracle); scale path of agg_distinct_count — fixed-size HLL sketch, no distinct expansion",
    # streams: the four inclusive measurements carry the family
    "stm_cdc_stream_apply": "BASELINE 'Round-6g rows' — 33.9 s INCLUSIVE of 3 incremental merges + snapshot rewrites vs DuckDB 3.24 s fold-once (semantics priced; batch twin snk_cdc_apply 1.85x)",
    "stm_join_stream_left": "BASELINE round-6e — probe-measured watermark-flush gap closed via sentinel; streaming-vs-batch cost decomposed",
    "stm_sketch_hll_merge": "register state merged across forced micro-batches (r6b); bounded sketch state — the stateful-agg scale shape",
    # remaining stm_* keys: availableNow micro-batch semantics; the
    # per-batch plan equals the measured batch twin named per row
    "stm_tumbling_availablenow": "batch twin evt_tumbling_hour (r10 registered adaptive dispatch: 1.28x staged / 1.73x ad-hoc at x100; encoding decomposition in BASELINE µs-staged table)",
    "stm_sliding_watermark": "batch twin evt_sliding_window (2.02x x100, CLOSED AS CONSTANT-FACTOR - two-level pre-agg rewrite measured a wash r7)",
    "stm_watermark_dedup": "batch twin llm_dedup_exact-shape dedup (1.75x x100)",
    "stm_session_window": "batch twin evt_session_window_native (0.47x x100)",
    "stm_stateful_running": "batch twin win_running_sum (0.51x x10)",
    "stm_stateful_session": "batch twin evt_sessionize_lag (1.17-1.37x x100)",
    "stm_python_stream_source": "SURFACE demo (python streaming DataSource contract) - driver-side prefetch + offset log by construction (fixed 5x1000-row feed); production volume streams stay on the JVM file/rate/kafka sources; replay path (readBetweenOffsets) pinned equal to read() in tests",
    "stm_tws_list_state": "TWS ListState sibling of stm_transform_with_state - same per-(key,batch) state-server constant (see its MEASURED INCLUSIVE x100 row; r10: key-coarsening-reducible, 8.8x A/B); state = k-bounded list per user, strictly bounded",
    "stm_tws_timers": "TWS event-time-timer sibling of stm_transform_with_state - same state-server constant (see its MEASURED INCLUSIVE x100 row; r10 coarsening A/B does NOT apply here — timers are inherently per-user keys); one bounded RocksDB timer per user, watermark-driven expiry",
    "stm_tws_map_state": "TWS MapState sibling of stm_transform_with_state - same per-(key,batch) state-server protocol constant (see its MEASURED INCLUSIVE x100 row; r10: key-coarsening-reducible for totals-shaped state, 8.8x A/B); state rows = (user,type) pairs, still bounded and incremental",
    "llm_bpe_merge_step": "both agg exchanges collapse to VOCABULARY size map-side (word partial agg before the shuffle, pair agg over the (word,count) summary) - shuffled bytes O(vocab) at any corpus size; plan family of llm_term_topk (0.59x x100) with one extra vocab-sized exchange",
    "stm_transform_with_state": "DELIBERATE API-SURFACE (udf_scalar_python precedent) — MEASURED INCLUSIVE x100: 137-267 s across epochs (r8 179-267 s, r10 same-session 137.1 s) vs DuckDB 0.55 s batch groupBy — the per-(key, batch) state-server round-trip tax of the TWS protocol; r10 SHRINK A/B (VERDICT r9 item 5, .scratch/r10_tws_ab.log): the constant is key-coarsening-reducible, NOT irreducible — the key-coarsened A/B form (pmod(user_id,1024) buckets, one pickled dict ValueState row per bucket, 2xbuckets instead of 2xusers round-trips per batch) measured 15.6 s = 8.8x shrink with identical output; residual 15 s = per-batch pandas fold + protocol floor; trade-off: the bucket blob is opaque to per-user TTL/timers. The A/B is finished and the form was deleted; it is readable at commit 1b1ec88. Registered key keeps the declared per-user API surface; volume shape stays the batch groupBy (trivial) / applyInPandasWithState twin stm_stateful_session (1.17-1.37x)",
    "stm_join_stream_static": "batch twin join_broadcast_dim (floor-regime x10); static side broadcast per micro-batch",
    "stm_join_stream_stream": "stream-stream inner; the LEFT OUTER twin's decomposition (stm_join_stream_left) prices the watermark machinery",
    "stm_late_data_drop": "rows-only by contract (engine-specific watermark-drop semantics)",
    "stm_foreachbatch_sink": "per-batch sink write; write path measured under snk_parquet/snk_partitioned family (r12 decomposed manifest row: write 3.07x / manifest 4.17x / verify 3.69x, writer constant ~1.87 s per 15M rows)",
    # sinks: side effects execute at plan build; inclusive rows carry
    "snk_cdc_apply": "BASELINE round-6d — 1.85x at x100 INCLUSIVE of the published write",
    "snk_manifest_publish": "BASELINE round-12 write-path decomposition — phases split at x100: write 3.86 s (3.07x; parquet writer proper ~1.87 s, noop-measured), manifest 0.71 s / verify 0.52 s (sub-second dispatch-floor absolutes). CLOSED-AS-CONSTANT-FACTOR with the writer-knob ledger (snappy/zstd/lz4/uncompressed/dict-off all measured — default snappy wins); the residual is the InternalRow->Parquet per-row constant (~125 ns/row) + the 1-file-per-month repartition the publish contract pins",
    "snk_parquet": "write-shape of the r12-decomposed manifest row (write phase 3.07x, writer constant ~1.87 s / 15M rows, knob ledger measured); plain parquet sink",
    "snk_partitioned": "write-shape of the manifest row; partitionBy layout",
    "snk_upsert_merge": "merge logic measured via snk_cdc_apply (1.85x inclusive fold-once)",
    "snk_scd2": "SCD2 window-merge shares the cdc-apply merge shape (1.85x inclusive)",
    "snk_bucketed_join": "bucketed-table write + hinted SMJ; shuffle-free join asserted in tests",
    "snk_jdbc_derby": "live JDBC MERGE round-trip (embedded Derby) — IO-bound, not a compute scale shape",
    "snk_zorder_layout": "z-order clustered write with ASSERTED file pruning (tests); layout job, priced by its pruning assertion",
    "snk_compact_small_files": "shuffle-free compaction maintenance job (r6b) — coalesce-write, IO-bound",
    # r9 surface keys
    "etl_declarative_pipeline": "SURFACE demo (pyspark.pipelines authoring API on the local executor) — the pipeline's data work is 3 independent batch flows (filter/agg/window, each a measured plan family: agg_groupby_q1 + win_topk_per_group); the graph adds scheduling, not shuffles, and each MV materializes once and is consumed as parquet downstream",
    "stm_rocksdb_changelog": "SURFACE demo (RocksDB changelog checkpointing) — per-batch checkpoint bytes scale with the UPDATE RATE, not state size (the feature's point; layout asserted in-key); the volume shape of the underlying agg is the batch groupBy (evt_tumbling_hour family)",
    # r9b SQL-surface keys (§2.30): syntax entry points over measured plan
    # families — canonicalized-plan/bit-equality with the measured twin is
    # pinned in tests, so the scale row is the twin's
    "dq_table_checksum": "MEASURED x100 same-session: 4.792 s vs DuckDB 3.752 s = 1.28x — both engines pay the per-row md5; one scan + one combinable SUM/COUNT exchange, embarrassingly parallel (agg_groupby_q1 family)",
    "agg_grouping_flags": "MEASURED x100 same-session: 1.077 s vs DuckDB 0.762 s = 1.41x after the PAIRS-FIRST rewrite (Expand x4 over the pair summary, not the 15M-row stream; naive cube measured 2.87x in the same session — the agg_cube 2.92x->1.32x precedent); COUNT/integer-cents SUM are exactly decomposable so the rewrite is bit-identical",
    "win_fill_forward": "MEASURED x100 same-session: 1.764 s vs DuckDB 1.696 s = 1.04x — one user_id exchange, in-partition sort + running IGNORE-NULLS window + same-key re-agg (win_topk_per_group family)",
    "src_csv_multiline": "MEASURED x100 same-session: Spark multiLine read 0.319 s; the registered oracle recomputes from the source table (asymmetric by design — it pins parse INTEGRITY), so the symmetric comparator is DuckDB read_csv over the SAME staged files: 0.187 s = 1.71x. multiLine files are non-splittable (record boundaries unfindable mid-file) — the staging writes many files, which is also the 100 TB guidance",
    "set_union_by_name": "MEASURED x100 same-session: 0.825 s vs DuckDB 0.492 s = 1.68x — two parity-filtered scans of the same parquet + one combinable agg exchange; the union itself is plan-free (name alignment at analysis)",
    "fn_luhn_check": "MEASURED x100 same-session: 1.182 s vs DuckDB 7.529 s = 0.16x (Spark 6.4x FASTER) — the JVM built-in runs codegen per row while the oracle pays a per-row list-lambda reimplementation; one combinable agg exchange",
    "sql_group_by_all": "SURFACE demo (GROUP BY ALL resolution; cross-engine rule agreement is the point, identical SQL on both engines) — MEASURED x100 same-session (integer-cents form, r10 second review: a grouped double SUM is association-order FP noise at scale): 1.085 s vs DuckDB 0.476 s = 2.28x, the per-row agg-map + YEAR + cents-cast constant over 15M orders rows (the evt_tumbling_hour-decomposition CONSTANT-FACTOR regime, ~72 ns/row all-in, both engines pay the cents conversion; one combinable exchange, executor-count-bound at scale); explicit-grouping equality pinned in tests",
    "fn_aes_roundtrip": "DELIBERATE ASYMMETRIC-ORACLE key (the oracle CANNOT do AES — DuckDB has no crypto; it hash-checks the encrypt->decrypt IDENTITY via plaintext arithmetic, not the crypto work) — MEASURED x100 same-session: full key 7.433 s, DECOMPOSED: plaintext-aggregates twin 0.889 s, encrypt-only+distinct 3.204 s => AES ~2 us/row/op, ~6.5 s of the total is the operator's defined crypto work; embarrassingly parallel map + one distinct exchange, executor-count-bound at 100 TB",
    "sql_pipe_syntax": "SURFACE demo (SQL pipe operators) — canonicalized-plan IDENTITY with the clause form pinned in tests; the plan is Q1's filter+hash-agg family (agg_groupby_q1: 0.68x at x100)",
    "agg_listagg": "ordered LISTAGG over bounded groups (nations-per-region after a broadcast dim join) — holistic in group CONTENT by design, documented for bounded-cardinality groups; the unbounded form is the capped collect (agg_collect_sorted)",
    "fn_collation_group": "collation-aware single-key hash agg — same exchange count as any groupBy(lower(x)) (flt/agg scan family); ICU compare is a per-row constant in the JVM hash, no extra shuffle",
    "sql_exec_immediate": "SURFACE demo (dynamic SQL w/ bound params) — compiles to the inner statement's plan (pushed range filter + hash agg, Q4-minus-EXISTS family); binding adds driver-side work only",
    "udtf_arrow_lateral": "Arrow-batched Python UDTF (SURFACE rung of the UDTF ladder) — bit-equality with the pure-JVM explode(split()) twin pinned in tests; production form is the JVM twin (explode+agg topk family)",
    "udtf_table_argument": "polymorphic table function (TABLE arg + PARTITION BY/ORDER BY) — exchange-equivalent to a (lang, doc_id) window with O(1) per-partition Python state; cross-form equality with the JVM lag()+count_if twin pinned in tests (win_lag_lead family)",
    "sql_identifier_clause": "SURFACE demo (IDENTIFIER parameter binding) — compiles to the templated statement's single-key hash agg; binding is parse-time driver work only",
    "sql_create_function": "SURFACE demo (SQL UDF) — body INLINED at analysis time (no function node, pinned in tests); plan = agg_groupby_q1's scan+hash-agg family with zero added runtime cost",
    "sql_session_variable": "SURFACE demo (session variables) — two plans from the scan+agg family; the variable is driver-side state substituted at analysis time, zero executor cost",
    "stm_dedup_within_watermark": "SURFACE demo (bounded-state streaming dedup) — state = keys-per-lateness-window, the 24/7 idempotent-reingest form; batch volume shape shared with stm_watermark_dedup (inclusive stream timing family)",
    "sql_lateral_column_alias": "SURFACE demo (alias resolution) — analyzer rewrite to nested Projects, plan = agg_groupby_q1's scan+hash-agg family (bit-equality with the DataFrame twin pinned in tests)",
    "agg_regression": "single-pass combinable moment sums (regr_* = cov/var ratios) — agg_corr_cov's measured plan family (0.32-0.34x at x100 since the r14d long-unit rewrite; regression's own double-typed REGR_* sums measured 0.93x same-session r9), one agg exchange",
    "agg_bitmap_distinct": "2-level bitmap groupBy — exchange bounded by key-space/32768 per group (never per-distinct-value rows), map-side OR-combinable; pins Spark's BUILT-IN bitmap-agg surface beside the wired 64-bit bucket form (agg_distinct_count, the general default) — bucket-width tradeoff measured same-session at x100 (1.26x vs 2.59x on sparse keys)",
    "stm_tws_value_ttl": "SURFACE demo (TWS TTL'd state) — same bounded per-user RocksDB row as stm_transform_with_state plus TTL's secondary index, the knob that keeps 24/7 session state bounded; volume shape priced by the TWS family's INCLUSIVE x100 row",
    "snk_python_datasource_write": "SURFACE demo (V2 Python writer, two-phase commit) — per-row Python+JSON text by construction (udf_scalar_python precedent); production twin is the JVM parquet sink (snk_parquet); manifest discipline shared with snk_manifest_publish",
    # sources: staged-scratch roundtrips (side effect at plan build)
    "src_parquet_scan": "pushdown/pruning asserted in PLANS.md (PushedFilters non-empty); scan path underlies every measured row",
    "src_csv_roundtrip": "staged roundtrip; format-IO, not a compute shape",
    "src_json_roundtrip": "staged roundtrip; JSON parse tax measured via fn_from_json_struct/json_events rows",
    "src_orc_roundtrip": "staged roundtrip; format-IO",
    "src_text_log_parse": "regex parse of staged logs; regexp cost measured via fn_regexp_extract row",
    "src_binary_files": "binaryFile datasource scan feeding the measured mm_ decode family",
    "src_partition_prune": "partition pruning ASSERTED (PartitionFilters row in PLANS.md — 2 of ~30 dirs read)",
    "src_schema_merge": "mergeSchema scan; footer-bound IO",
    "src_incremental_extract": "watermark-bounded extract; pruning asserted via its predicate row",
    "src_json_corrupt": "corrupt-record intake (r6b); parse tax as json family",
    "src_xml_roundtrip": "staged XML roundtrip (r6c); format-IO",
}


def label_maps():
    import importlib.util

    maps = {}
    for mod in ("scale_rehearsal", "scale_rehearsal_llm"):
        spec = importlib.util.spec_from_file_location(mod, REPO / "scripts" / f"{mod}.py")
        m = importlib.util.module_from_spec(spec)
        src = (REPO / "scripts" / f"{mod}.py").read_text()
        # extract dict literals without importing (import starts Spark
        # transitively via module-level imports in some environments)
        for dname in ("SHAPES", "ENGINE_SHAPES", "LOWDENSITY_SHAPES"):
            mm = re.search(rf"^{dname} = \{{(.*?)^\}}", src, re.S | re.M)
            if not mm:
                continue
            for lbl, key in re.findall(r'"([^"]+)":\s*"([a-z0-9_]+)"', mm.group(1)):
                maps[lbl] = key
        ck = re.search(r"_COMPLETION_KEYS = \[(.*?)\]", src, re.S)
        if ck:
            for key in re.findall(r'"([a-z0-9_]+)"', ck.group(1)):
                maps[key] = key
    return maps


def main():
    maps = label_maps()
    base = (REPO / "BASELINE.md").read_text()
    rows = {}
    for line in base.splitlines():
        m = re.match(r"\|\s*([^|]+?)\s*\|(.*)\|", line)
        if not m:
            continue
        lbl = m.group(1)
        key = maps.get(lbl)
        if key:
            rows[key] = line.strip()
    # completion-sweep families are summarized in prose tables whose
    # first cell is the family; individual keys were measured in the
    # session logs — map the named ratios from the completion section
    comp = re.search(r"Completion sweep \(2026-08-15\).*", base, re.S)
    comp_text = comp.group(0) if comp else ""
    import importlib

    sys.path.insert(0, str(REPO))
    from atd_dockless_processing_spark import QUERIES  # noqa: E402

    out = ["# SCALE.md — per-key scale evidence index",
           "",
           "Generated by `python scripts/scale_index.py`. One line per",
           "SURVEY §2 key: either the measured ×N row (from BASELINE.md",
           "tables — the LAST row wins when a shape was re-measured after",
           "a fix), a named prose/assertion pointer, or a documented",
           "exclusion. `--check` fails if any key lacks a line.",
           ""]
    missing = []
    for key in sorted(QUERIES):
        if key in rows:
            out.append(f"- `{key}`: {rows[key]}")
        elif key in POINTERS:
            out.append(f"- `{key}`: {POINTERS[key]}")
        elif f"{key}" in comp_text:
            # named in the completion-section prose tables
            for ln in comp_text.splitlines():
                if key in ln:
                    out.append(f"- `{key}`: completion sweep — {ln.strip().lstrip('|').strip()}")
                    break
        else:
            missing.append(key)
            out.append(f"- `{key}`: MISSING")
    out.append("")
    out.append(f"Coverage: {len(QUERIES) - len(missing)}/{len(QUERIES)} keys with evidence lines.")
    (REPO / "SCALE.md").write_text("\n".join(out) + "\n")
    print(f"{len(QUERIES) - len(missing)}/{len(QUERIES)} covered; missing: {missing}")
    if "--check" in sys.argv and missing:
        sys.exit(1)


if __name__ == "__main__":
    main()
