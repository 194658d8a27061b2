"""Round-3 extensions — SURVEY.md §2.17.

Fifteen first-class operators rounding out the training-data-pipeline
and product-analytics surface (reference parity per SURVEY §0: the
checkout was empty, so each row cites the public capability it
generalizes):

- ``llm_pack_sequences`` — concat-and-chunk sequence packing (the
  GPT-style pretraining batch layout).
- ``txt_boilerplate_strip`` — corpus-adaptive boilerplate pruning by
  document-frequency threshold.
- ``geo_nearest_hub`` — nearest-hub snap (broadcast argmin), the
  dockless-mobility "assign trip end to nearest station/district
  centroid" shape.
- ``evt_markov_transitions`` — event-type transition matrix
  (first-order Markov counts + conditional probabilities).
- ``llm_dedup_keep_list`` — fuzzy-dedup cluster-representative
  selection (the step that actually shrinks a corpus).
- ``evt_attribution_last_touch`` — last-touch purchase attribution.
- ``src_schema_merge`` — schema-evolution read via mergeSchema.
- ``evt_session_window_native`` — Spark's native session_window agg.
- ``evt_time_weighted_avg`` — TSDB-style time-weighted mean.
- ``txt_entropy_filter`` — token-entropy quality floor (map-side).
- ``evt_rfm_segments`` — RFM quintile segmentation.
- ``llm_bm25_topk`` — BM25 lexical retrieval top-k.
- ``geo_trip_length`` — per-user breadcrumb path length.
- ``evt_dau_wau_rolling`` — DAU / rolling WAU / stickiness.
- ``dq_dp_noise_counts`` — deterministic DP-noisy count publication.

(The sixteenth round-3 key, ``stm_session_window``, lives with the
other streaming operators in ``streaming/stream_queries.py``.)

All are hash-checked against DuckDB oracles; all hot paths are
JVM-side expressions (no Python UDFs).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query
from ..tables import load, stage_scratch

# ---------------------------------------------------------------------------
# llm_pack_sequences — concat-and-chunk packing
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512  # tokens per training sequence


@query(
    "llm_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             length(text) - length(replace(text, ' ', '')) + 1 AS n_tok
      FROM documents
    ), offs AS (
      SELECT lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) - n_tok AS start_off
      FROM toks
    )
    SELECT lang,
           CAST(FLOOR(start_off / {_PACK_CAPACITY}) AS BIGINT) AS pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM offs
    GROUP BY 1, 2
    """,
)
def llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate each language's
    documents in doc_id order and chop the token stream into
    fixed-capacity packs (capacity {cap}); a doc belongs to the pack
    containing its START offset (concat-and-chunk — the standard
    pretraining batch layout, where boundary docs spill into the next
    block). Emits per-(lang, pack) doc and token counts — the
    batch-manifest a data loader consumes.

    Plan shape: one window cumsum per lang partition (single
    exchange), then a partial-aggregable groupBy — no joins, no
    collect. Token counts come from a SPACE COUNT
    (length - length(replace)) rather than materializing the split
    array — identical by construction for single-char split
    (n_tokens = n_spaces + 1, empties included), two string passes
    and no per-row array alloc (r7 ×100 A/B: 1.07 → 0.96 s).

    ×100 decomposition (r7): 0.94 s total = 0.51 s scan+token count
    (DuckDB's ENTIRE query is 0.44 s — its string kernel is ~2×
    faster per byte, an engine constant, not a plan gap) + ~0.4 s
    per-lang window cumsum. Rejected by measurement (r7): the
    range-partitioned distributed prefix-sum (repartitionByRange +
    local cumsum + per-(pid,lang) offset broadcast, the
    win_ntile_pct machinery) at 1.81 s — the boundary-sampling pass
    re-executes the text scan — and 1.18 s with the slim toks frame
    localCheckpoint'd first: the extra exchange + offset join still
    exceed the parallel-sort win at ~1M rows/lang. That distributed
    form IS the 100 TB path (the docstring's (lang, shard) window
    key): sorts parallelize and the exchange amortizes once lang
    partitions outgrow one task's sort.
    """.format(cap=_PACK_CAPACITY)
    toks = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            + 1
        ).alias("n_tok"),
    )
    w = Window.partitionBy("lang").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = toks.withColumn("start_off", F.sum("n_tok").over(w) - F.col("n_tok"))
    return (
        offs.groupBy(
            "lang",
            F.floor(F.col("start_off") / _PACK_CAPACITY).alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# txt_boilerplate_strip — document-frequency boilerplate pruning
# ---------------------------------------------------------------------------

_DF_THRESHOLD = 0.5  # tokens present in > 50% of docs are boilerplate


@query(
    "txt_boilerplate_strip",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), common AS (
      SELECT t FROM tok, n
      GROUP BY t, n_docs
      HAVING COUNT(DISTINCT doc_id) > n_docs * {_DF_THRESHOLD}
    ), per_doc AS (
      SELECT tok.doc_id, tok.lang,
             COUNT(*) AS n_tok,
             COUNT(*) FILTER (WHERE tok.t NOT IN (SELECT t FROM common))
               AS n_kept
      FROM tok GROUP BY 1, 2
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok - n_kept) AS BIGINT) AS tokens_removed,
           ROUND(AVG(CAST(n_kept AS DOUBLE) / n_tok), 4) AS avg_keep_ratio
    FROM per_doc
    GROUP BY lang
    """,
)
def txt_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-adaptive boilerplate pruning: tokens whose document
    frequency exceeds {t:.0%} of the corpus (headers, nav text,
    license banners in real crawls) are stripped from every document;
    emits per-language removal stats. The C4/RefinedWeb-style
    df-threshold cleanup step.

    Plan shape: the boilerplate vocabulary is computed with one
    explode+distinct agg, collapsed to a single array row, and
    CROSS-JOINED (1-row broadcast) onto the corpus; the strip itself
    is a map-side HOF filter (no per-token shuffle of the corpus —
    the token explode happens only on the vocabulary side at full
    width, and the corpus passes once). At 100 TB the vocabulary is
    KBs (df > 50% caps it at ~1/threshold distinct tokens) — always
    broadcastable.
    """.format(t=_DF_THRESHOLD)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("toks")
    )
    n_docs_df = docs.select(F.count(F.lit(1)).alias("n_docs"))
    df_counts = (
        docs.select("doc_id", F.explode(F.array_distinct("toks")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    common = (
        df_counts.crossJoin(F.broadcast(n_docs_df))
        .where(F.col("df") > F.col("n_docs") * _DF_THRESHOLD)
        .select("t")
    )
    common_arr = common.agg(
        F.coalesce(F.collect_list("t"), F.array()).alias("common")
    )
    stripped = docs.crossJoin(F.broadcast(common_arr)).select(
        "lang",
        F.size("toks").alias("n_tok"),
        F.size(
            F.filter("toks", lambda t: ~F.array_contains(F.col("common"), t))
        ).alias("n_kept"),
    )
    return stripped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tok") - F.col("n_kept")).alias("tokens_removed"),
        F.round(
            F.avg(F.col("n_kept").cast("double") / F.col("n_tok")), 4
        ).alias("avg_keep_ratio"),
    )


# ---------------------------------------------------------------------------
# geo_nearest_hub — broadcast argmin snap
# ---------------------------------------------------------------------------

# Hubs in the same (value, props.k) coordinate space as the other geo
# operators (testdata has no lat/lon — SURVEY §2.9: same algebra,
# different units). Fixed small dim, like _ZONES in geo.py.
_HUBS = [
    # (hub_id, x, y)
    (0, 50.0, 12.0),
    (1, 150.0, 40.0),
    (2, 280.0, 75.0),
    (3, 60.0, 88.0),
    (4, 420.0, 30.0),
]


@query(
    "geo_nearest_hub",
    oracle=f"""
    WITH pts AS (
      SELECT event_id,
             value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y,
             value
      FROM events
    ), hubs(hub_id, hx, hy) AS (
      VALUES {", ".join(f"({h}, {x}, {y})" for h, x, y in _HUBS)}
    ), ranked AS (
      SELECT pts.value, hubs.hub_id,
             ROW_NUMBER() OVER (
               PARTITION BY pts.event_id
               ORDER BY (pts.x - hx) * (pts.x - hx)
                      + (pts.y - hy) * (pts.y - hy), hub_id
             ) AS rn
      FROM pts CROSS JOIN hubs
    )
    SELECT hub_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(SUM(value), 4) AS sum_value
    FROM ranked WHERE rn = 1
    GROUP BY hub_id
    """,
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-hub assignment: snap each event point to the closest of
    a small fixed hub set (squared euclidean, hub_id tie-break) and
    aggregate per hub — the dockless-mobility "assign trip endpoint to
    nearest station / district centroid" shape ([P high], SURVEY
    §3.1 privacy binning), and the k=1 special case of a kNN join.

    Plan shape: the hub set is baked into a per-row array of
    (dist, hub_id) structs and reduced with ``array_min`` — struct
    ordering gives the deterministic (dist, hub_id) argmin entirely
    MAP-SIDE (zero joins, zero extra shuffles; the only exchange is
    the final per-hub agg). The oracle computes the same assignment
    via a genuinely different algorithm (cross join + row_number).
    Distances are exact IEEE doubles in both engines — same products,
    same sums — so the compare is exact, no rounding gate needed. At
    100 TB this scales as pure map work; with thousands of hubs you
    would swap in the IVF/LSH pre-prune (llm_ann_ivf) before the
    exact argmin.
    """
    ev = with_json_field(
        load(spark, sf_dir, "events"), "y", "props", "k", "int"
    ).select(F.col("value").alias("x"), "y", "value")
    cands = F.array(
        *[
            F.struct(
                (
                    (F.col("x") - F.lit(hx)) * (F.col("x") - F.lit(hx))
                    + (F.col("y") - F.lit(hy)) * (F.col("y") - F.lit(hy))
                ).alias("dist"),
                F.lit(hid).alias("hub_id"),
            )
            for hid, hx, hy in _HUBS
        ]
    )
    snapped = ev.select(
        F.array_min(cands).getField("hub_id").alias("hub_id"), "value"
    )
    return snapped.groupBy("hub_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# evt_markov_transitions — event-type transition matrix
# ---------------------------------------------------------------------------


@query(
    "evt_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), trans AS (
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 4) AS p_next
    FROM trans
    """,
)
def evt_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (prev_type -> next_type) adjacencies ordered by
    (ts, event_id) within user, and the conditional probability
    P(next | prev) — the product-analytics "what do users do after X"
    operator and the input to behavioral-cloning/session-model
    features.

    Plan shape: one window lag (exchange on user_id) -> partial-agg
    groupBy on the 5x5 transition key -> a second tiny window over
    ~25 rows for row-normalization. The heavy exchange is the first
    one only; the normalization windows over the aggregated matrix,
    not the events. At 100 TB user_id partitioning is the natural
    key (millions of small groups — no skew; a power user's history
    still fits a partition).
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        ).alias("prev_type"),
    )
    trans = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(F.col("prev_type"), F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("prev_type")
    return trans.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 4).alias("p_next"),
    )


# ---------------------------------------------------------------------------
# llm_dedup_keep_list — cluster-representative selection
# ---------------------------------------------------------------------------


def _keep_list_oracle() -> str:
    from .pipeline_ext import _CLUSTER_T, _PAIR_SQL  # noqa: PLC0415

    del _CLUSTER_T
    return (
        _PAIR_SQL
        + """,
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.t, reach.r FROM reach JOIN edges e ON e.s = reach.n
    ),
    comp AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
    dropped AS (SELECT doc_id FROM comp WHERE doc_id <> cluster_id)
    SELECT documents.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE dropped.doc_id IS NULL) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN dropped.doc_id IS NULL THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM documents LEFT JOIN dropped USING (doc_id)
    GROUP BY documents.lang
    """
    )


@query("llm_dedup_keep_list", oracle=_keep_list_oracle())
def llm_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-dedup KEEP LIST — the step that actually shrinks a
    training corpus: resolve near-dup pairs (char-3-gram Jaccard >=
    0.7, lang-blocked) into connected components, keep ONE canonical
    doc per cluster (the min doc_id — the component label itself, so
    no extra argmin pass) plus every singleton, and report per-lang
    survivor counts and kept characters.

    Plan shape: the pair plan is llm_dedup_ngram's slim self-join;
    components via min_label_components (bounded label propagation);
    the keep decision is a LEFT ANTI-shaped join of the corpus
    against the dropped set (clustered docs whose id != label) —
    corpus passes once. The oracle resolves the same fixpoint with a
    recursive CTE. At 100 TB the dropped set is the small side
    (dup fraction of the corpus) and broadcasts."""
    from .pipeline_ext import _CLUSTER_T, _ngram_pairs, min_label_components

    pairs = _ngram_pairs(spark, sf_dir, _CLUSTER_T)
    labels = min_label_components(pairs)
    dropped = labels.where(F.col("node") != F.col("label")).select(
        F.col("node").alias("doc_id"), F.lit(True).alias("is_dropped")
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    marked = docs.join(dropped, "doc_id", "left")
    kept = F.col("is_dropped").isNull()
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(kept).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0))).alias("kept_chars"),
    )


# ---------------------------------------------------------------------------
# evt_attribution_last_touch — marketing-style attribution
# ---------------------------------------------------------------------------


@query(
    "evt_attribution_last_touch",
    oracle="""
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS touch_type
      FROM events
    )
    SELECT COALESCE(touch_type, '(none)') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(value), 4) AS attributed_value
    FROM touched
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def evt_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: credit each purchase to the user's most
    recent preceding NON-purchase event (last_value IGNORE NULLS over
    an unbounded-preceding frame, (ts, event_id)-ordered; purchases
    with no prior touch fall into '(none)') — the standard
    marketing/product attribution operator.

    Plan shape: one window exchange on user_id carries the whole
    computation (the conditional projection rides inside the window
    stage), then a 5-row agg. Identical IGNORE NULLS frame semantics
    on both engines."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch_type"))
        .where(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("(none)")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 4).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# src_schema_merge — schema-evolution source
# ---------------------------------------------------------------------------


@query(
    "src_schema_merge",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderpriority, '(pre-evolution)') AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
             AS sum_price
    FROM unioned
    GROUP BY 1
    """,
)
def src_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: one dataset directory whose files were
    written under two schema versions (v1 lacks ``o_orderpriority``;
    v2 added it), read back in a single scan with
    ``mergeSchema=true`` — missing columns surface as NULLs. This is
    the 100 TB data-lake reality (columns get added over months of
    ingest; readers must not require a rewrite), and this round's
    events.ts encoding flip is the same failure class.

    Staged once per sf_dir via the shared freshness-markered
    stage_scratch helper. Parquet footer schemas differ per file, so
    the scan demonstrably reconciles them — not a single-schema
    read."""

    def build(indir: str) -> None:
        os.makedirs(indir)
        orders = load(spark, sf_dir, "orders")
        v1 = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        v2 = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        )
        for i, part in enumerate([v1, v2]):
            tmp = f"{indir}.tmp{i}"
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src = next(
                p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".parquet")
            )
            shutil.move(os.path.join(tmp, src), os.path.join(indir, f"v{i}.parquet"))
            shutil.rmtree(tmp, ignore_errors=True)

    indir = stage_scratch("src_schema_merge", sf_dir, "orders", build)
    merged = spark.read.option("mergeSchema", "true").parquet(indir)
    # exact DECIMAL(18,4) aggregation, same rationale as snk_upsert_merge:
    # the '(pre-evolution)' group sums half of all orders (~1e10 at
    # sf0.1), where double summation-order differences between engines
    # can cross the round-4 margin; the decimal sum is order-independent.
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("(pre-evolution)")).alias("o_orderpriority")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 4
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# evt_session_window_native — Spark's native session_window aggregation
# ---------------------------------------------------------------------------


# NB: the oracle's "> 1800" gap rule must stay in lockstep with Spark's
# merge-at-exactly-gap session semantics; the same rule appears in the
# sessionization oracles in events.py, stream_queries.py and pipeline_r3.py —
# change all or none (oracle SQL is newline-collapsed, so no -- comments).
@query(
    "evt_session_window_native",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, value,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events
    ), flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM ordered
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
)
def evt_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` aggregate
    (30-minute gap): the engine merges per-user event-time sessions
    inside the aggregation operator itself — no lag/cumsum window
    pass, one exchange, and the same primitive works unchanged in
    Structured Streaming with state eviction at the watermark (the
    scale story: session state is bounded by the gap horizon, not the
    stream length). Complements evt_sessionize_lag (window-function
    formulation) and stm_stateful_session (explicit GroupState):
    three formulations, one semantics.

    Spark defines a session as [min ts, max ts + gap); the oracle
    reproduces exactly that from the lag/cumsum formulation. Session
    identity depends only on ts gaps, so no tie-break ordering is
    needed (equal timestamps always co-session)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# evt_time_weighted_avg — TSDB-style time-weighted mean
# ---------------------------------------------------------------------------


@query(
    "evt_time_weighted_avg",
    oracle="""
    WITH stepped AS (
      SELECT user_id, value,
             epoch_us(ts) AS t_us,
             LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           ROUND(SUM(value * (next_us - t_us))
                 / NULLIF(SUM(next_us - t_us), 0), 4)
             AS time_weighted_avg,
           ROUND(SUM(next_us - t_us) / 1000000.0 / 3600.0, 4) AS span_hours
    FROM stepped
    WHERE next_us IS NOT NULL
    GROUP BY user_id
    """,
)
def evt_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per user (step-function/LOCF semantics):
    each event's value holds until the next event, weighted by the
    exact microsecond interval — the TSDB aggregate where plain AVG
    is wrong whenever sampling is irregular (a value held for 2 hours
    must count 120x more than one held for a minute).

    Plan shape: one window exchange on user_id (lead), then a
    combinable agg on the same key — AQE collapses the second
    exchange since partitioning is preserved. Weights are exact
    integer microsecond deltas (unix_micros / epoch_us on both
    engines); the double sums divide out, rounded to 4 decimals."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = ev.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).where(F.col("next_us").isNotNull())
    dur = F.col("next_us") - F.col("t_us")
    # nullif guard on the divisor: a user whose >=2 events all share one
    # microsecond has sum(dur)=0, where Spark's non-ANSI divide yields
    # NULL but DuckDB's IEEE float divide yields NaN — nullif makes both
    # engines return NULL on that degenerate input.
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        F.round(
            F.sum(F.col("value") * dur) / F.nullif(F.sum(dur), F.lit(0)), 4
        ).alias("time_weighted_avg"),
        F.round(F.sum(dur) / 1000000.0 / 3600.0, 4).alias("span_hours"),
    )


# ---------------------------------------------------------------------------
# txt_entropy_filter — token-distribution entropy quality screen
# ---------------------------------------------------------------------------

_ENTROPY_MIN = 3.0  # bits; low-entropy docs are repetitive/degenerate


@query(
    "txt_entropy_filter",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             string_split(text, ' ') AS toks,
             list_distinct(string_split(text, ' ')) AS uniq
      FROM documents
    ), ent AS (
      SELECT doc_id, lang,
             -list_sum(list_transform(uniq, u ->
               (CAST(len(list_filter(toks, t -> t = u)) AS DOUBLE) / len(toks))
               * log2(CAST(len(list_filter(toks, t -> t = u)) AS DOUBLE) / len(toks))
             )) AS entropy_bits
      FROM d
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE entropy_bits >= {_ENTROPY_MIN}) AS BIGINT)
             AS n_pass,
           ROUND(AVG(entropy_bits), 4) AS avg_entropy
    FROM ent
    GROUP BY lang
    """,
)
def txt_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution entropy quality screen: per-doc Shannon
    entropy (bits) of the document's own token frequencies; docs
    below {t} bits are repetitive/degenerate (keyboard mash, template
    spam) — an entropy floor is a published LLM-corpus quality rule
    alongside the Gopher repetition fractions. Emits per-lang doc
    counts, pass counts, and mean entropy.

    Plan shape: entirely MAP-SIDE — the per-doc distribution is
    computed with nested HOFs over the token array (O(uniq·n) per
    doc, trivially small and embarrassingly parallel), so the only
    exchange is the final per-lang agg. No explode, no per-token
    shuffle, at any corpus size. Both engines evaluate the same
    lambda algebra; the log2 sums are rounded to 4 decimals.
    """.format(t=_ENTROPY_MIN)
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("toks"),
        F.array_distinct(F.split("text", " ")).alias("uniq"),
    )
    n = F.size("toks").cast("double")
    # compute each token's probability ONCE (transform to a p array),
    # then fold p*log2(p) — duplicating the O(n) count subexpression
    # inside log2 would double the dominant per-doc scan (Catalyst
    # does not CSE duplicated lambda subtrees)
    p_arr = F.transform(
        "uniq", lambda u: F.size(F.filter("toks", lambda t: t == u)).cast("double") / n
    )
    entropy = -F.aggregate(
        p_arr,
        F.lit(0.0),
        lambda acc, p: acc + p * F.log2(p),
    )
    ent = docs.select("lang", entropy.alias("entropy_bits"))
    return ent.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("entropy_bits") >= _ENTROPY_MIN).alias("n_pass"),
        F.round(F.avg("entropy_bits"), 4).alias("avg_entropy"),
    )


# ---------------------------------------------------------------------------
# evt_rfm_segments — recency/frequency/monetary segmentation
# ---------------------------------------------------------------------------


@query(
    "evt_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(ts) AS last_seen,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(value) AS monetary
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id
    ), scored AS (
      SELECT user_id, frequency, monetary,
             NTILE(5) OVER (ORDER BY last_seen, user_id) AS r_score,
             NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
             NTILE(5) OVER (ORDER BY monetary, user_id) AS m_score
      FROM per_user
    )
    SELECT CONCAT(CAST(r_score AS VARCHAR), CAST(f_score AS VARCHAR),
                  CAST(m_score AS VARCHAR)) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(SUM(monetary), 4) AS segment_value
    FROM scored
    GROUP BY 1
    """,
)
def evt_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-analytics operator:
    per user, recency (last purchase), frequency (purchase count),
    monetary (purchase value); each scored into quintiles (NTILE(5),
    user_id tie-break for determinism) and concatenated into a
    '555'-style segment; emits users and value per segment.

    r8 de-weak (verdict item 3; 4.69× → ~3.0× = the scan+agg floor):
    the registered plan is now the ARROW GATHER scorer — one per-user
    agg exchange, then the (small) user dimension gathers to a single
    partition where ONE ``mapInPandas`` pass computes all three
    quintiles via the exact NTILE closed form (0-based rank r,
    q = n//5, rem = n%5: bucket = r//(q+1) if r < rem·(q+1) else
    rem + (r − rem·(q+1))//q, then +1 — SQL NTILE's ceil-first split)
    over stable ``np.lexsort`` orders (user_id tie-break), and
    pre-aggregates the ≤125 segments in-batch. This replaces the
    three CHAINED single-partition JVM ntile sorts (serial Exchange
    SinglePartition + WindowExec each, ~0.6 s of the 1.42 s ×100
    total) with one narrow Arrow pass: ×100 A/B (BASELINE.md)
    chained 1.42 s / branch-join-with-checkpoint 1.00 s / gather
    0.89–1.00 s vs DuckDB 0.294 s; 0.89 s equals the measured
    scan+agg-only floor (rfm_agg_only, BASELINE.md), i.e. the
    ntile term is now ~0 and the residual is the purchase-scan +
    per-user-agg constant shared by every form. coalesce(1) instead
    of repartition(1) REJECTED by measurement (1.52 s — it collapses
    the agg's reduce side to one task). Rounding stays JVM-side
    (``F.round`` HALF_UP) for rounding-mode parity with the oracle.

    All forms are value-identical (cross-form equality pinned in
    tests at sf0.01 + sf0.1 and asserted at ×100 in the A/B), so the
    size gate below is a pure PERFORMANCE gate, never a parity one
    (the agg_grouping_sets precedent, not the agg_percentiles
    hazard): above ``_RFM_GATHER_MAX_EVENTS`` the single-partition
    gather would bottleneck one worker, so the plan falls back to
    the chained-window form; at 100M+ users the measured crossover
    is the unpivot/range-partition form (win_ntile_pct machinery) —
    r7 ×100 A/B kept it REJECTED at this scale (1.54 s: explode ×3
    + re-group outweigh parallelizing 150k-row sorts)."""
    from ..tables import parquet_nrows

    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    per_user = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("value").alias("monetary"),
    )
    nrows = parquet_nrows(sf_dir, "events")
    if nrows is not None and nrows <= _RFM_GATHER_MAX_EVENTS:
        seg = per_user.repartition(1).mapInPandas(
            _rfm_score_batches, "segment string, n_users long, segment_value double"
        )
        return seg.withColumn("segment_value", F.round("segment_value", 4))
    return _rfm_chained_plan(per_user)


# Above this events-row-count the user dimension is no longer a
# safe single-partition gather (one Arrow worker holds every user);
# the chained-window form takes over. Pure performance gate — the
# forms are pinned value-identical.
_RFM_GATHER_MAX_EVENTS = 50_000_000


def _rfm_score_batches(it):
    """mapInPandas scorer: exact NTILE(5) closed form per metric over
    stable lexsort (metric, user_id) orders; segments pre-aggregated
    in-batch (sums left unrounded — the caller rounds JVM-side)."""
    import numpy as np
    import pandas as pd

    parts = list(it)
    if not parts:
        return
    pdf = pd.concat(parts)
    n = len(pdf)
    if n == 0:
        return
    uid = pdf["user_id"].to_numpy()

    def ntile5(metric):
        idx = np.lexsort((uid, metric))
        rank = np.empty(n, dtype=np.int64)
        rank[idx] = np.arange(n)
        q, rem = divmod(n, 5)
        cut = rem * (q + 1)
        return (
            np.where(
                rank < cut, rank // (q + 1), rem + (rank - cut) // np.maximum(q, 1)
            )
            + 1
        )

    r = ntile5(pdf["last_seen"].to_numpy().astype("datetime64[us]").astype(np.int64))
    f = ntile5(pdf["frequency"].to_numpy())
    m = ntile5(pdf["monetary"].to_numpy())
    out = (
        pd.DataFrame({"seg": r * 100 + f * 10 + m, "monetary": pdf["monetary"].to_numpy()})
        .groupby("seg", sort=False)
        .agg(n_users=("monetary", "size"), segment_value=("monetary", "sum"))
        .reset_index()
    )
    out["segment"] = out["seg"].astype(str)
    yield out[["segment", "n_users", "segment_value"]]


def _rfm_chained_plan(per_user: DataFrame) -> DataFrame:
    """The pre-r8 registered form: three chained global ntile windows
    (each Exchange SinglePartition + sort). Above-gate fallback and
    the cross-form equality witness."""
    scored = per_user.select(
        "monetary",
        F.ntile(5).over(Window.orderBy("last_seen", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5).over(Window.orderBy("monetary", "user_id")).alias("m_score"),
    )
    return scored.groupBy(
        F.concat_ws(
            "", F.col("r_score"), F.col("f_score"), F.col("m_score")
        ).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("monetary"), 4).alias("segment_value"),
    )


# ---------------------------------------------------------------------------
# llm_bm25_topk — BM25 retrieval scoring for a fixed query
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY = ["spark", "join", "window"]  # fixed query terms
_BM25_TOPK = 20


@query(
    "llm_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             len(string_split(text, ' ')) AS dl
      FROM documents
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM d
    ), q(term) AS (
      VALUES {", ".join(f"('{t}')" for t in _BM25_QUERY)}
    ), tf AS (
      SELECT d.doc_id, d.dl, q.term,
             len(list_filter(d.toks, t -> t = q.term)) AS f
      FROM d CROSS JOIN q
    ), df AS (
      SELECT term, COUNT(*) FILTER (WHERE f > 0) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             SUM(
               ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.f * ({_BM25_K1} + 1))
               / (tf.f + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * tf.dl / stats.avgdl))
             ) AS score
      FROM tf JOIN df USING (term) CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, ROUND(score, 4) AS bm25
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def llm_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (Robertson/Sparck Jones) of the corpus
    against a fixed query, top-{k} by score — the lexical-retrieval
    operator used for training-data curation (finding domain-relevant
    documents) and RAG pipelines beside the cosine/ANN family.

    Plan shape: term frequencies are computed MAP-SIDE with an array
    HOF per query term (the query is a literal — no explode of the
    corpus, no per-token shuffle); document frequencies AND corpus
    stats (N, avgdl) ride ONE tiny aggregate broadcast back via a
    1-row crossJoin (r7: the separate stats agg re-executed the split
    subtree — DataFrame DAGs have no cross-consumer reuse — so
    merging it removes a full corpus pass and a broadcast job);
    final ranking is TakeOrderedAndProject, never a global sort.
    Score ties break on doc_id. At 100 TB this is ONE corpus pass:
    the narrow tf projection (ints only) is localCheckpoint'd, so
    the stats agg and the scoring projection both read the
    materialized intermediate instead of re-running the text scan +
    split + HOF filters (r7 ×100 A/B: 2.26 s re-execute → 1.37 s;
    ~1.3× vs DuckDB). A/B'd-and-rejected alternatives: space-count
    dl decoupling (2.47 s vs 2.18 s — adds a replace pass to the
    hot tf projection).

    idf uses the +1-inside-the-log BM25+ variant (always positive, no
    negative-idf edge for terms in >half the corpus — this synthetic
    corpus has exactly that property).""".format(k=_BM25_TOPK)
    # stage the split once (Catalyst does not CSE non-cheap exprs:
    # an inline size(split(..)) would re-split every row — the
    # round-6 staged-Projection rule)
    docs = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .select("doc_id", "toks", F.size("toks").alias("dl"))
    )
    # per-term tf columns, map-side (query is a literal). NB: the
    # lambda must be single-arg — a two-arg lambda is interpreted by
    # F.filter as the (element, index) form.
    def _tf(term):
        return F.size(F.filter("toks", lambda t: t == F.lit(term)))

    tf_cols = [_tf(term).alias(f"f_{i}") for i, term in enumerate(_BM25_QUERY)]
    # MATERIALIZE the narrow tf projection (5 int columns — no toks,
    # no text): both consumers (the df/stats agg and the scoring
    # projection) would otherwise re-execute the text scan + split +
    # HOF filters, since DataFrame DAGs have no cross-consumer reuse.
    # r7 ×100 A/B: re-execute 2.26 s, localCheckpoint 1.37 s, cache
    # 1.33 s — checkpoint chosen (no executor-storage residency to
    # unpersist after the query returns). At 100 TB this is the
    # classic narrow-intermediate materialization: ints-only, ~2% of
    # the text payload, spill-safe.
    tfd = docs.select("doc_id", "dl", *tf_cols).localCheckpoint(eager=False)
    # per-term document frequencies + corpus stats: ONE tiny agg row,
    # broadcast back (see docstring — merging stats here saves a
    # whole corpus pass)
    df_row = tfd.agg(
        *[
            F.count_if(F.col(f"f_{i}") > 0).alias(f"df_{i}")
            for i in range(len(_BM25_QUERY))
        ],
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    joined = tfd.crossJoin(F.broadcast(df_row))
    score = None
    for i in range(len(_BM25_QUERY)):
        f, dfi = F.col(f"f_{i}"), F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5))
        )
        term_score = (
            idf
            * (f * (_BM25_K1 + 1))
            / (
                f
                + _BM25_K1
                * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
            )
        )
        score = term_score if score is None else score + term_score
    return (
        joined.select("doc_id", score.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
        .select("doc_id", F.round("score", 4).alias("bm25"))
    )


# ---------------------------------------------------------------------------
# geo_trip_length — per-user path length over consecutive points
# ---------------------------------------------------------------------------


@query(
    "geo_trip_length",
    oracle="""
    WITH pts AS (
      SELECT user_id, ts, event_id,
             value AS x,
             CAST(json_extract_string(props, '$.k') AS INTEGER) AS y
      FROM events
    ), legs AS (
      SELECT user_id,
             sqrt(power(x - LAG(x) OVER w, 2) + power(y - LAG(y) OVER w, 2))
               AS leg
      FROM pts
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(COUNT(leg) AS BIGINT) AS n_legs,
           ROUND(SUM(leg), 4) AS total_dist,
           ROUND(MAX(leg), 4) AS max_leg
    FROM legs
    WHERE leg IS NOT NULL
    GROUP BY user_id
    """,
)
def geo_trip_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user path length: euclidean distance between consecutive
    event points ((value, props.k) space, (ts, event_id)-ordered),
    summed per user with leg count and longest leg — the reference's
    core trip-telemetry shape (route length from breadcrumb points,
    [P high] SURVEY §3.1) on the declared numeric coordinate plane.

    Plan shape: one window exchange on user_id (two lags ride the
    same sort), distances map-side, then a combinable agg on the same
    key — AQE elides the second exchange. sqrt/power on identical
    doubles agree cross-engine; sums rounded to 4."""
    ev = with_json_field(
        load(spark, sf_dir, "events"), "y", "props", "k", "int"
    ).select("user_id", "ts", "event_id", F.col("value").alias("x"), "y")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    leg = F.sqrt(
        F.pow(F.col("x") - F.lag("x").over(w), 2)
        + F.pow(F.col("y") - F.lag("y").over(w), 2)
    )
    legs = ev.select("user_id", leg.alias("leg")).where(F.col("leg").isNotNull())
    return legs.groupBy("user_id").agg(
        F.count("leg").alias("n_legs"),
        F.round(F.sum("leg"), 4).alias("total_dist"),
        F.round(F.max("leg"), 4).alias("max_leg"),
    )


# ---------------------------------------------------------------------------
# evt_dau_wau_rolling — rolling active-user counts
# ---------------------------------------------------------------------------


@query(
    "evt_dau_wau_rolling",
    oracle="""
    WITH pairs AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), spine AS (
      SELECT DISTINCT day FROM pairs
    ), dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY day
    ), contrib AS (
      SELECT pairs.day + CAST(o.off AS INTEGER) AS target, pairs.user_id
      FROM pairs CROSS JOIN (SELECT UNNEST(generate_series(0, 6)) AS off) o
    ), wau AS (
      SELECT target AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
      FROM contrib
      WHERE target IN (SELECT day FROM spine)
      GROUP BY target
    )
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def evt_dau_wau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active-user metrics: daily active users (DAU), 7-day
    rolling distinct actives (WAU, window ending on the day), and the
    DAU/WAU stickiness ratio — the standard growth dashboard triple.

    r14 optimization round — INTERVAL-COVER rewrite (guide §2.3/§2.4:
    shuffle fewer bytes, remove the fan-out; the collect_set-fold
    house pattern of evt_gap_islands/evt_cohort_retention). The old
    form fanned every (day, user) pair out ×7 and distinct-counted
    per target day, AND re-executed the (day, user) dedup subtree in
    three branches (DataFrame DAGs have no cross-consumer reuse —
    the llm_bm25_topk finding; the plan held THREE events scans).
    WAU(t) = #users with ≥1 active day in [t-6, t] is exactly the
    number of per-user merged [d, d+6] cover intervals containing t,
    so instead: per user, fold the sorted distinct-day array into
    merged intervals (array ≤ calendar days — bounded), emit
    (start, +1) / (end+1, -1) deltas, and read WAU off a running sum
    over the calendar. The corpus-sized work is now ONE scan + ONE
    (day, user) dedup exchange (localCheckpoint'd, shared by the DAU
    and interval branches) + one user-keyed exchange of the deduped
    pairs; the ×7 replication and the second distinct-aggregate are
    gone. The final running sum is an UNPARTITIONED window — safe
    here only because its input is calendar-bounded (delta days +
    spine days, ≤ a few hundred rows at any corpus size).

    ×100 A/B (same session, 5 hot runs each): DuckDB 2.998 s, old
    fan-out form 5.021 s (1.67×), this form 3.143 s (1.05×) —
    value-identical on the full ×100 corpus; cross-form equality is
    also pinned in tests (driver corpus + synthetic gap/adjacent
    interval edges). Adjacent intervals need no merge: their
    (b+1, −1)/(a=b+1, +1) deltas cancel in the per-day sum; only
    overlapping ones (next day ≤ current end) fold together."""
    pairs = _dau_wau_pairs(spark, sf_dir).localCheckpoint(eager=False)
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    days = pairs.groupBy("user_id").agg(
        F.array_sort(F.collect_set("day")).alias("ds")
    )
    empty = F.array().cast("array<struct<s:date,e:date>>")
    ivs = F.aggregate(
        "ds",
        empty,
        lambda acc, d: F.when(
            (F.size(acc) == 0) | (d > F.element_at(acc, -1)["e"]),
            F.concat(
                acc,
                F.array(F.struct(d.alias("s"), F.date_add(d, 6).alias("e"))),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.date_add(d, 6).alias("e"),
                    )
                ),
            )
        ),
    )
    deltas = (
        days.select(F.explode(ivs).alias("iv"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("iv.s").alias("day"), F.lit(1).alias("dlt")),
                    F.struct(
                        F.date_add("iv.e", 1).alias("day"),
                        F.lit(-1).alias("dlt"),
                    ),
                )
            ).alias("x")
        )
        .groupBy(F.col("x.day").alias("day"))
        .agg(F.sum("x.dlt").alias("dlt"))
    )
    merged = deltas.join(dau, "day", "full_outer").select(
        "day", F.coalesce("dlt", F.lit(0)).alias("dlt"), "dau"
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = merged.withColumn("wau", F.sum("dlt").over(w)).where(
        F.col("dau").isNotNull()
    )
    return out.select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
    )


def _dau_wau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (day, user) dedup for evt_dau_wau_rolling and its twin."""
    return (
        load(spark, sf_dir, "events")
        .select(F.col("ts").cast("date").alias("day"), "user_id")
        .distinct()
    )


def _dau_wau_fanout_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 ×7 fan-out + count_distinct form, kept as the
    cross-form equality witness for the interval-cover rewrite
    (measured 1.67× vs the rewrite's 1.05× at ×100 — see the
    registered docstring)."""
    pairs = _dau_wau_pairs(spark, sf_dir)
    spine = pairs.select("day").distinct()
    dau = pairs.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = pairs.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
        "user_id",
    ).select(F.date_add("day", F.col("off")).alias("day"), "user_id")
    wau = (
        contrib.join(spine, "day", "left_semi")
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau").cast("double") / F.col("wau"), 4).alias("stickiness"),
    )


# ---------------------------------------------------------------------------
# dq_dp_noise_counts — deterministic differential-privacy publication
# ---------------------------------------------------------------------------

_DP_EPSILON = 1.0  # Laplace scale b = sensitivity/epsilon = 1/epsilon


@query(
    "dq_dp_noise_counts",
    oracle=f"""
    WITH cells AS (
      SELECT CONCAT(CAST(CAST(FLOOR(value / 50) AS BIGINT) AS VARCHAR), '_',
                    CAST(CAST(FLOOR(CAST(json_extract_string(props, '$.k') AS INTEGER) / 25.0)
                         AS BIGINT) AS VARCHAR)) AS cell_id,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
      GROUP BY 1
    ), noised AS (
      SELECT cell_id, n,
             (CAST(('0x' || substr(md5(cell_id), 1, 15)) AS BIGINT)
              / 1152921504606846976.0) - 0.5 AS u
      FROM cells
    )
    SELECT cell_id,
           ROUND(n + (-1.0 / {_DP_EPSILON}) * sign(u) * ln(1 - 2 * abs(u)), 4)
             AS noisy_count
    FROM noised
    """,
)
def dq_dp_noise_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy style noisy publication of per-cell trip
    counts — the reference's privacy mandate (publish aggregated
    dockless counts without exposing individual trips, [P high]
    SURVEY §3.1) as an operator: grid-cell counts + Laplace(1/ε)
    noise via inverse-CDF sampling.

    The noise draw is DETERMINISTIC: u = hash60(cell_id)/2^60 - 0.5
    (the cross-engine md5-derived hash), noise = -(1/ε)·sign(u)·
    ln(1-2|u|) — both engines compute bit-identical u and the same
    closed-form inverse CDF, so the key is hash-checkable. A
    production deployment swaps the hash for a seeded RNG (or the
    hash of a secret salt || cell_id, which keeps idempotent
    re-publication — the same release never emits two different
    counts for one cell, a real DP-deployment property).

    Plan shape: one corpus-sized agg exchange on the INTEGER bucket
    pair (vb, kb) — hashing/probing two longs through the 10M-row
    hash-agg beats building and probing a per-row concat string
    (r7 A/B: string-key form 1.73 s, int-pair form below) — then
    cell_id is materialized over the aggregated cells and a second
    ~|cells|-row re-group merges any NULL-collision strings
    (concat_ws skips NULLs, so (3,NULL) and (NULL,3) both render
    "3"; the re-group keeps the output exactly the string-keyed
    semantics at any data). The noise is a scalar projection over
    the aggregated cells."""
    from ..functions.hashing import portable_hash60

    ev = with_json_field(load(spark, sf_dir, "events"), "_kj", "props", "k", "int")
    k = F.col("_kj")
    cells = (
        ev.groupBy(
            F.floor(F.col("value") / 50).alias("vb"),
            F.floor(k / 25.0).cast("long").alias("kb"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy(
            F.concat_ws(
                "_", F.col("vb").cast("string"), F.col("kb").cast("string")
            ).alias("cell_id")
        )
        .agg(F.sum("n").alias("n"))
    )
    u = (portable_hash60("cell_id") / F.lit(float(2**60))) - F.lit(0.5)
    noise = (F.lit(-1.0 / _DP_EPSILON)) * F.signum(u) * F.log(1 - 2 * F.abs(u))
    return cells.select(
        "cell_id", F.round(F.col("n") + noise, 4).alias("noisy_count")
    )
