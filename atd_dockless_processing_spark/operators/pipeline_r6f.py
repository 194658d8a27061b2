"""Round-6 breadth extensions, sixth batch — SURVEY.md §2.25.

Three capability bridges: the SCD2 temporal (as-of effectivity
range) dimension join — THE warehouse fact-to-slowly-changing-dim
pattern, joining facts to the version effective at transaction
time; ROUGE-style clipped n-gram overlap between paired documents —
the eval-contamination / near-dup REPORTING metric beside the dedup
operators; and image-embedding similarity over real decoded pixels
— the bridge from the multimodal decode family into the
embedding/ANN family (decode → pooled feature vector → top-k by
exact integer dot product). Reference parity per SURVEY §0 ([P]
tags as the checkout is empty).

House exactness rules: integer cores (band sums, clipped counts,
micro-ratios via integer div); shared expression trees only at
output boundaries; deterministic declared tie-breaks on every
ranking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load

# ---------------------------------------------------------------------------
# join_scd2_temporal — facts joined to the dim version effective AS OF
# ---------------------------------------------------------------------------


@query(
    "join_scd2_temporal",
    oracle="""
    WITH versions AS (
      SELECT o_custkey AS custkey, o_orderkey AS version_id,
             CAST(o_orderdate AS DATE) AS eff_from
      FROM orders WHERE o_custkey < 30 AND o_orderkey % 3 = 0
    ), dim AS (
      SELECT custkey, version_id, eff_from,
             COALESCE(LEAD(eff_from) OVER (PARTITION BY custkey
                                           ORDER BY eff_from, version_id),
                      DATE '9999-12-31') AS eff_to
      FROM versions
    ), facts AS (
      SELECT o_custkey AS custkey, o_orderkey AS fact_id,
             CAST(o_orderdate AS DATE) AS fact_date, o_totalprice
      FROM orders WHERE o_custkey < 30
    ), j AS (
      SELECT f.custkey, f.fact_id, f.o_totalprice, d.version_id
      FROM facts f LEFT JOIN dim d
        ON f.custkey = d.custkey
       AND f.fact_date >= d.eff_from AND f.fact_date < d.eff_to
    )
    SELECT custkey,
           CAST(COUNT(*) AS BIGINT) AS n_facts,
           CAST(SUM(CASE WHEN version_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_matched,
           CAST(COUNT(DISTINCT version_id) AS BIGINT) AS n_versions_hit,
           ROUND(CAST(SUM(CASE WHEN version_id IS NOT NULL
                               THEN CAST(o_totalprice AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE), 4)
             AS sum_matched_price
    FROM j GROUP BY custkey
    """,
)
def join_scd2_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 TEMPORAL dimension join — the warehouse as-of pattern
    ([P high]: every fact-to-slowly-changing-dim join asks "which
    version of the dimension was effective when this fact
    happened?"; the reference's device registry and zone definitions
    both change over time, and joining today's dim to last year's
    trips is the classic silent corruption). Dim = SCD2 effectivity
    ranges built with the snk_scd2 lead() machinery from a SUBSET of
    versioning events (every 3rd order); facts = all of those
    customers' orders, LEFT joined to the version whose
    [eff_from, eff_to) half-open range covers the fact date — facts
    before the first version stay unmatched (counted), and
    zero-width ranges (same-day versions) match nothing by the
    half-open declaration.

    Plan shape: the dim build is one window exchange on the business
    key; the temporal join is an EQUI join on custkey with the range
    as a residual predicate (never a cross/theta join), so it
    shuffles exactly like the plain key join and each fact probes
    only its key's few versions. At 100 TB the dim side is
    dim-sized — broadcast — and the fact side streams."""
    orders = load(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    versions = orders.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("version_id"),
        F.col("o_orderdate").cast("date").alias("eff_from"),
    )
    w = Window.partitionBy("custkey").orderBy("eff_from", "version_id")
    dim = versions.withColumn(
        "eff_to",
        F.coalesce(F.lead("eff_from").over(w), F.lit("9999-12-31").cast("date")),
    )
    facts = orders.select(
        F.col("o_custkey").alias("f_custkey"),
        F.col("o_orderkey").alias("fact_id"),
        F.col("o_orderdate").cast("date").alias("fact_date"),
        "o_totalprice",
    )
    j = facts.join(
        F.broadcast(dim),
        (F.col("f_custkey") == F.col("custkey"))
        & (F.col("fact_date") >= F.col("eff_from"))
        & (F.col("fact_date") < F.col("eff_to")),
        "left",
    )
    dec = "decimal(18,4)"
    return j.groupBy(F.col("f_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_facts"),
        F.sum(F.when(F.col("version_id").isNotNull(), 1).otherwise(0)).alias(
            "n_matched"
        ),
        F.count_distinct("version_id").alias("n_versions_hit"),
        F.round(
            F.sum(
                F.when(
                    F.col("version_id").isNotNull(),
                    F.col("o_totalprice").cast(dec),
                ).otherwise(F.lit(0).cast(dec))
            ).cast("double"),
            4,
        ).alias("sum_matched_price"),
    )


# ---------------------------------------------------------------------------
# llm_rouge_overlap — clipped bigram overlap between paired documents
# ---------------------------------------------------------------------------


@query(
    "llm_rouge_overlap",
    oracle="""
    WITH t AS (
      SELECT source, doc_id, string_split(text, ' ') AS tok
      FROM documents
    ), g AS (
      SELECT source, doc_id,
             CASE WHEN len(tok) >= 2
                  THEN list_transform(generate_series(1, len(tok) - 1),
                                      i -> tok[i] || ' ' || tok[i + 1])
                  ELSE [] END AS gr
      FROM t
    ), pairs AS (
      SELECT source, doc_id AS a_id, gr AS ga,
             LEAD(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b_id,
             LEAD(gr) OVER (PARTITION BY source ORDER BY doc_id) AS gb
      FROM g
    ), scored AS (
      SELECT a_id, b_id, len(ga) AS n_a, len(gb) AS n_b,
             CAST(COALESCE(list_sum(list_transform(
               list_distinct(ga),
               x -> least(len(list_filter(ga, y -> y = x)),
                          len(list_filter(gb, y -> y = x))))), 0) AS BIGINT)
               AS ov
      FROM pairs WHERE b_id IS NOT NULL
    )
    SELECT a_id, b_id,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b, ov,
           CAST((1000 * ov) // NULLIF(n_a, 0) AS BIGINT) AS p_milli,
           CAST((1000 * ov) // NULLIF(n_b, 0) AS BIGINT) AS r_milli
    FROM scored
    """,
)
def llm_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2-style CLIPPED bigram overlap between consecutive
    same-source document pairs — the eval-contamination / near-dup
    REPORTING metric beside the dedup operators ([P high]: "how much
    of candidate B's text re-uses reference A?" is the question both
    eval-suite decontamination reports and summarization metrics
    ask; the dedup keys decide KEEP/DROP, this one reports the
    continuous score). Clipped counting per ROUGE: each distinct
    bigram contributes min(count_A, count_B) — a repeated bigram
    can't claim more credit than the reference holds. Integer
    precision/recall in milli units (NULLIF-guarded divisions,
    hazard rule 3).

    r14 registered scoring — sorted two-pointer merge, linear per
    pair: the pre-r14 HOF scanned both arrays once per DISTINCT gram
    (O(d·(n_a+n_b)) string compares per pair — the ×100
    decomposition read scoring at ~33 s of the 66 s total). The
    clipped multiset intersection of two SORTED arrays is a single
    linear merge: equal heads → count and advance both, else advance
    the lexicographically smaller. `array_sort` runs once map-side
    per document (before the pairing window; same UTF8 binary
    ordering as the merge's `<`/`=`), and Σ min(count_A, count_B) is
    order-independent, so ov is value-identical — pinned against the
    quadratic twin. Isolated-process ×100 A/B (fresh process per
    form, 5 hot runs, 3 epochs): merge 37.6/58.0/37.8 s (the 58 a
    one-epoch outlier; in-process readings 37.3/42.0 s agree with
    the 37–42 band) vs quadratic 72.6/68.0/62.2 s vs DuckDB
    37.8/36.1/35.2 s — the ~33 s scoring term over the ~33 s pairing
    floor drops ~4×, total ~1.7× faster, ~1.0–1.1× vs the oracle.
    (A/B'd alternatives that LOST: building grams after the window
    from lead(text) — 84 s, the double gram build dominates;
    OPTIMIZATION_r14.md; scripts/ab_rouge_forms.py at commit 37ae0cc
    carries all four forms.)

    r15 registered gram build — token split HOISTED out of the
    lambda: higher-order functions are interpreted (no whole-stage
    codegen, no cross-iteration subexpression elimination), so the
    r14 form's ``split(text, ' ')[i]`` re-ran the FULL split once per
    element access — O(n_tokens · len) char work per document, and
    the real substance of what r14 measured as a "33 s pairing floor
    shared with the oracle" (DuckDB materializes ``tok`` once; Spark
    did not). Projecting ``tok = split(text, ' ')`` in its own Select
    (CollapseProject keeps it: tok is referenced 4×, split is
    non-cheap) makes every lambda access a bound-reference array
    lookup. Gram-build-only isolated probe at ×100
    (OPTIMIZATION_r15.md; scripts/ab_gram_hoist.py at commit 37ae0cc,
    noop sink): inline 29.2 s vs hoisted
    2.49 s vs DuckDB 2.28 s — 11.7× on the build term. Same strings
    by construction (identical expression applied to the same split;
    hash-identity verified over the full ×100 corpus), and the
    quadratic twin below keeps the INLINE build, so the existing
    cross-form pin witnesses the hoist too.

    Plan shape: bigrams built + sorted map-side per document (no
    corpus explode — the txt_ngram_topk sequence guard for 1-token
    docs); pairing is one lead() window on (source, doc_id); the
    merge is a per-pair linear HOF. At 100 TB against a FIXED
    reference set, the same scoring runs with the reference grams
    broadcast."""
    g = (
        load(spark, sf_dir, "documents")
        .select("source", "doc_id", F.split("text", " ").alias("tok"))
        .select("source", "doc_id", F.array_sort(_bigrams_from("tok")).alias("gr"))
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = g.select(
        F.col("doc_id").alias("a_id"),
        F.col("gr").alias("ga"),
        F.lead("doc_id").over(w).alias("b_id"),
        F.lead("gr").over(w).alias("gb"),
    ).where(F.col("b_id").isNotNull())
    scored = pairs.select(
        "a_id",
        "b_id",
        F.size("ga").cast("long").alias("n_a"),
        F.size("gb").cast("long").alias("n_b"),
        F.expr(
            # two-pointer merge over the sorted arrays; the sequence
            # is an iteration budget (≤ n_a+n_b steps), the struct
            # accumulator carries both cursors. sequence(1, 0) on an
            # empty-pair budget descends [1, 0] — harmless: the
            # exhausted-cursor arm keeps acc unchanged either way.
            "aggregate(sequence(1, size(ga) + size(gb)), "
            "named_struct('i', 1, 'j', 1, 'ov', 0L), "
            "(acc, _) -> CASE "
            "WHEN acc.i > size(ga) OR acc.j > size(gb) THEN acc "
            "WHEN element_at(ga, acc.i) = element_at(gb, acc.j) "
            "  THEN named_struct('i', acc.i + 1, 'j', acc.j + 1, "
            "                    'ov', acc.ov + 1L) "
            "WHEN element_at(ga, acc.i) < element_at(gb, acc.j) "
            "  THEN named_struct('i', acc.i + 1, 'j', acc.j, 'ov', acc.ov) "
            "ELSE named_struct('i', acc.i, 'j', acc.j + 1, 'ov', acc.ov) "
            "END, acc -> acc.ov)"
        ).alias("ov"),
    )
    return scored.select(
        "a_id",
        "b_id",
        "n_a",
        "n_b",
        "ov",
        F.expr("(1000 * ov) div nullif(n_a, 0)").alias("p_milli"),
        F.expr("(1000 * ov) div nullif(n_b, 0)").alias("r_milli"),
    )


def _bigrams_from(tok_col: str):
    """Map-side bigram array from an ALREADY-PROJECTED token array
    column (r15 split hoist — see llm_rouge_overlap docstring), empty
    (never NULL) for 0/1-token docs — the txt_ngram_topk sequence
    guard."""
    return F.when(
        F.size(tok_col) >= 2,
        F.expr(
            f"transform(sequence(0, size({tok_col}) - 2), "
            f"i -> concat({tok_col}[i], ' ', {tok_col}[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigrams(col: str):
    """The pre-r15 INLINE bigram build — ``split`` re-evaluated inside
    the lambda (O(n·len) per doc; kept only for the quadratic twin so
    the cross-form equality pin also witnesses the r15 hoist)."""
    return F.when(
        F.size(F.split(col, " ")) >= 2,
        F.expr(
            f"transform(sequence(0, size(split({col}, ' ')) - 2), "
            f"i -> concat(split({col}, ' ')[i], ' ', "
            f"split({col}, ' ')[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _rouge_quadratic_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 scoring form — per-distinct-gram filter scans
    (O(d·(n_a+n_b)) per pair) over UNSORTED gram arrays. Kept as the
    cross-form equality witness for the registered sorted-merge plan
    (isolated ×100 epochs: quadratic 62.2–72.6 s vs merge
    37.6–37.8 s typical)."""
    g = load(spark, sf_dir, "documents").select(
        "source", "doc_id", _bigrams("text").alias("gr")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    pairs = g.select(
        F.col("doc_id").alias("a_id"),
        F.col("gr").alias("ga"),
        F.lead("doc_id").over(w).alias("b_id"),
        F.lead("gr").over(w).alias("gb"),
    ).where(F.col("b_id").isNotNull())
    scored = pairs.select(
        "a_id",
        "b_id",
        F.size("ga").cast("long").alias("n_a"),
        F.size("gb").cast("long").alias("n_b"),
        F.coalesce(
            F.expr(
                "aggregate(array_distinct(ga), 0L, (acc, x) -> acc + "
                "least(size(filter(ga, y -> y = x)), "
                "size(filter(gb, y -> y = x))))"
            ),
            F.lit(0),
        ).alias("ov"),
    )
    return scored.select(
        "a_id",
        "b_id",
        "n_a",
        "n_b",
        "ov",
        F.expr("(1000 * ov) div nullif(n_a, 0)").alias("p_milli"),
        F.expr("(1000 * ov) div nullif(n_b, 0)").alias("r_milli"),
    )


# ---------------------------------------------------------------------------
# mm_image_embed_sim — pooled pixel embedding + exact top-k similarity
# ---------------------------------------------------------------------------


@query(
    "mm_image_embed_sim",
    oracle="""
    WITH g AS (
      SELECT doc_id, text, n_chars AS L,
             (n_chars % 64) + 1 AS w,
             (n_chars % 48) + 1 AS h,
             ((3 * ((n_chars % 64) + 1) + 3) // 4) * 4 AS stride
      FROM documents
    ), px AS (
      SELECT g.doc_id,
             CAST((8 * r.k) // g.h AS INTEGER) AS band,
             ascii(substr(g.text,
                          CAST((r.k * g.stride + c.k) % g.L AS INTEGER) + 1,
                          1)) AS b
      FROM g CROSS JOIN range(48) r(k) CROSS JOIN range(192) c(k)
      WHERE r.k < g.h AND c.k < 3 * g.w
    ), emb AS (
      SELECT doc_id, band, CAST(SUM(b) AS BIGINT) AS s
      FROM px GROUP BY doc_id, band
    ), probe AS (
      SELECT band, s FROM emb
      WHERE doc_id = (SELECT MIN(doc_id) FROM documents)
    ), dots AS (
      SELECT e.doc_id, CAST(SUM(e.s * p.s) AS BIGINT) AS dot
      FROM emb e JOIN probe p ON e.band = p.band
      WHERE e.doc_id <> (SELECT MIN(doc_id) FROM documents)
      GROUP BY e.doc_id
    ), ranked AS (
      SELECT doc_id, dot,
             ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS rk
      FROM dots
    )
    SELECT doc_id, dot, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def mm_image_embed_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-embedding similarity over REAL decoded pixels — the
    bridge from the multimodal decode family into the embedding/ANN
    family ([P med]: perceptual image dedup and near-dup search pool
    decoded pixels into a small vector, then rank by similarity;
    this is that pipeline end-to-end with a deterministic pooled
    embedding). Embedding = 8 horizontal-band pixel sums over the
    stride-trimmed BMP buffer (band = (8·row) div h — balanced for
    any height); similarity = EXACT integer dot product against the
    min-doc_id probe image; top-5 with the declared (dot DESC,
    doc_id) tie-break. No floats anywhere — the ranking is
    bit-identical across engines, partitionings, and retries (a
    cosine variant differs only by two norms; the integer core is
    the point).

    The decode is the real thing: struct-unpack headers, trim stride
    padding, one numpy reshape+sum per band — the oracle re-derives
    every band sum from the encode closed form over the bounded
    48×192 grid, so a wrong stride, band boundary, or padding slip
    flips the hash. Plan shape: stateless Arrow mapInPandas emits
    (doc, band, sum) rows (zero shuffle), the 8-row probe
    broadcasts, one combinable dot-product agg + TakeOrdered top-5.
    At 100 TB this is the exact-rerank stage of llm_ann_* —
    candidates come from the LSH/IVF keys, this scores them."""
    import struct as _struct
    from collections.abc import Iterator as _It

    import numpy as _np
    import pandas as _pd

    from .multimodal import _bmp_payload

    payload = _bmp_payload(load(spark, sf_dir, "documents"))

    def embed(batches: _It[_pd.DataFrame]) -> _It[_pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did, blob in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(blob)
                off = _struct.unpack_from("<I", b, 10)[0]
                w, h = _struct.unpack_from("<ii", b, 18)
                stride = ((3 * w + 3) // 4) * 4
                buf = _np.frombuffer(b, _np.uint8, stride * h, off).reshape(
                    h, stride
                )[:, : 3 * w].astype(_np.int64)
                band = (8 * _np.arange(h)) // h
                for bi in range(8):
                    rows.append((int(did), bi, int(buf[band == bi].sum())))
            yield _pd.DataFrame(rows, columns=["doc_id", "band", "s"])

    emb = payload.mapInPandas(embed, schema="doc_id long, band int, s long")
    probe_id = load(spark, sf_dir, "documents").agg(
        F.min("doc_id").alias("pid")
    )
    probe = (
        emb.join(F.broadcast(probe_id), emb.doc_id == F.col("pid"))
        .select(F.col("band").alias("p_band"), F.col("s").alias("p_s"))
    )
    dots = (
        emb.join(F.broadcast(probe_id.select("pid")), emb.doc_id == F.col("pid"), "left_anti")
        .join(F.broadcast(probe), F.col("band") == F.col("p_band"))
        .groupBy("doc_id")
        .agg(F.sum(F.col("s") * F.col("p_s")).alias("dot"))
    )
    top = dots.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("dot").desc(), F.col("doc_id"))),
    ).where(F.col("rk") <= 5)
    return top.select("doc_id", "dot", F.col("rk").cast("long").alias("rk"))
