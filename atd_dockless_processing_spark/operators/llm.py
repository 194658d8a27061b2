"""LLM-data-pipeline operators — SURVEY.md §2.11 (north-star
extensions: dedup, similarity search, text analysis, vector columns).

Scale design notes (the point of these at 100 TB):
- exact dedup: hash-groupBy / window-keep-first — one shuffle on the
  dedup key (here the text hash), map-side combinable.
- near-dup (MinHash-LSH): shingle -> K minhashes via xxhash64 with
  fixed seeds -> band signatures -> self-join on (band, signature)
  buckets -> exact-Jaccard verify on candidates only. The self-join
  is on bucket keys, so cost is sum of bucket sizes squared, not
  O(n^2) over the corpus. Deterministic: no random seeds anywhere.
  The signature, first-agreeing-band, size-ratio and Jaccard SQL
  builders are ``dedup_ann``'s, shared with the char-n-gram keys.
- ANN/cosine: brute-force top-k against a broadcast query vector
  (baseline); kNN-join prunes via LSH/IVF in a real deployment — the
  candidate-pair pattern is identical to MinHash banding.
- vectors are plain array<float> columns next to relational columns —
  "multimodal" columns ride the same DataFrame machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60, portable_hash60_sql
from ..registry import query
from ..session import sql_over
from ..tables import load, rows_below
from .dedup_ann import (
    _MINHASH_K,
    _as_double,
    _cos,
    _dot,
    _embedding_matrix,
    _first_agreeing_band,
    _jaccard,
    _minhash_sig,
    _norm,
    _size_ratio_ok,
)
from .text import _bigrams_from


@query(
    "llm_dedup_exact",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
    GROUP BY lang
    """,
)
def llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate text removal (keep min doc_id), survivors per
    lang. Generalizes the reference's dedup-by-trip-id ([P high]).

    Implemented as groupBy(text) + min_by(lang, doc_id) rather than a
    window row_number: the aggregate gets map-side partial combine
    (the shuffle carries one row per distinct text, not every row)
    and skips the per-partition sort — the right shape at 100 TB,
    where you'd additionally pre-hash: group on xxhash64(text) and
    compare full text only within colliding hashes."""
    return sql_over(spark, _DEDUP_EXACT_SQL, documents=load(spark, sf_dir, "documents"))


_DEDUP_EXACT_SQL = """
SELECT lang, count(1) AS n_docs
FROM (SELECT text, min_by(lang, doc_id) AS lang FROM {documents} GROUP BY text)
GROUP BY lang
"""


@query(
    "llm_token_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_tokens,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY lang
    """,
)
def llm_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc count / avg token count / avg chars (ext:
    text-quality scoring input)."""
    return sql_over(spark, _TOKEN_STATS_SQL, documents=load(spark, sf_dir, "documents"))


_TOKEN_STATS_SQL = """
SELECT lang, count(1) AS n_docs,
       round(avg(size(split(text, ' '))), 4) AS avg_tokens,
       round(avg(n_chars), 4) AS avg_chars
FROM {documents}
GROUP BY lang
"""


@query(
    "llm_term_topk",
    oracle="""
    WITH tf AS (
      SELECT lang, UNNEST(string_split(text, ' ')) AS term
      FROM documents
    ), counted AS (
      SELECT lang, term, COUNT(*) AS freq
      FROM tf GROUP BY lang, term
    ), ranked AS (
      SELECT lang, term, freq,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY freq DESC, term) AS rn
      FROM counted
    )
    SELECT lang, term, CAST(freq AS BIGINT) AS freq, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 5
    """,
)
def llm_term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language (explode -> count -> window rank,
    ties broken by term; ext)."""
    d = load(spark, sf_dir, "documents")
    counted = (
        d.select("lang", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), "term")
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select("lang", "term", "freq", "rn")
    )


@query(
    "llm_text_classify",
    oracle="""
    SELECT CASE WHEN contains(text, 'join') OR contains(text, 'merge') THEN 'relational'
                WHEN contains(text, 'stream') OR contains(text, 'window') THEN 'streaming'
                WHEN contains(text, 'scan') THEN 'storage'
                ELSE 'other' END AS doc_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def llm_text_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-rule text classifier (CASE over contains) -> class
    counts (ext: text analysis; the deterministic stand-in for a
    model-based classifier UDF)."""
    d = load(spark, sf_dir, "documents")
    t = F.col("text")
    cls = (
        F.when(t.contains("join") | t.contains("merge"), "relational")
        .when(t.contains("stream") | t.contains("window"), "streaming")
        .when(t.contains("scan"), "storage")
        .otherwise("other")
    )
    return d.groupBy(cls.alias("doc_class")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "llm_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 0
    ), scored AS (
      SELECT vec_id, label,
             ROUND(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qv)
               / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                        list_transform(embedding, x -> CAST(x AS DOUBLE))))
                  * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM embeddings, q
      WHERE vec_id <> 0
    )
    SELECT vec_id, label, cos_sim
    FROM scored
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against query vector vec_id=0
    (similarity-search baseline, ext). ADAPTIVE scoring strategy
    (round-6 de-weak, BASELINE.md dot-product A/B):

    - below ``_COSINE_ARROW_MIN_ROWS`` (bench/driver scale): the
      zip_with/aggregate HOF — best JVM-side strategy, no Python in
      the plan, wins when per-batch Arrow transfer would dominate;
    - from it on, or when the count is unknown (the ×100 /
      production regime): ``mapInArrow``
      numpy scoring — the embedding column's Arrow list buffer is
      reshaped (-1, dim) WITHOUT per-row boxing, one float64 BLAS
      matrix-vector product scores the whole batch, and only each
      batch's local top-10 crosses back to the JVM (a row in the
      global top-10 is necessarily in its batch's top-10), so the
      global TakeOrderedAndProject sorts ≤10 rows per batch.

    The corpus size comes from the parquet footers (metadata-only,
    no job). Both paths produce identical rounded scores (asserted
    cross-path in tests); at 100 TB the same scoring runs after an
    LSH/IVF candidate prune (llm_ann_*)."""
    if not rows_below("llm_cosine_topk", sf_dir, "embeddings", _COSINE_ARROW_MIN_ROWS):
        return _cosine_topk_arrow(spark, sf_dir)
    return sql_over(spark, _COSINE_TOPK_SQL, embeddings=load(spark, sf_dir, "embeddings"))


_COSINE_TOPK_SQL = f"""
WITH emb AS (
  SELECT vec_id, label, {_as_double("embedding")} AS v
  FROM {{embeddings}}
), q AS (
  SELECT v AS qv FROM emb WHERE vec_id = 0
)
SELECT /*+ BROADCAST(q) */ vec_id, label, round({_cos("v", "qv")}, 4) AS cos_sim
FROM (SELECT * FROM emb WHERE vec_id != 0) CROSS JOIN q
ORDER BY cos_sim DESC, vec_id
LIMIT 10
"""


# The cosine family (llm_cosine_topk, llm_knn_join, llm_vector_quantize,
# llm_ann_hyperplane) takes its HOF form below this embeddings-row-count.
_COSINE_ARROW_MIN_ROWS = 100_000


def _cosine_topk_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batch numpy scoring path of ``llm_cosine_topk`` (large
    corpora). float32→float64 cast matches the JVM/oracle CAST; the
    float64 matrix product and norms agree with the sequential HOF
    fold after ROUND(..,4) (asserted in tests on the full sf
    corpus)."""
    import numpy as np
    import pyarrow as pa

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    q_rows = emb.where(F.col("vec_id") == 0).select("embedding").collect()
    out_schema = "vec_id bigint, label int, cos_sim double"
    if not q_rows:
        # vec_id=0 absent: the HOF path broadcasts an empty query
        # side and yields zero rows — match it instead of raising
        # IndexError (round-6 ADVICE cross-path divergence)
        return spark.createDataFrame([], out_schema)
    q = np.asarray(q_rows[0][0], dtype=np.float64)
    qn = np.sqrt(q @ q)

    def score(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids, mat = _embedding_matrix(b)
            dots = mat @ q
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cos = np.round(dots / (norms * qn), 4)
            keep = ids != 0
            idx = np.flatnonzero(keep)
            # batch-local top-10 under the global order (cos desc,
            # vec_id asc): lexsort on (-cos, vec_id)
            order = np.lexsort((ids[idx], -cos[idx]))[:10]
            sel = idx[order]
            labels = np.asarray(
                b.column(b.schema.get_field_index("label")), dtype=np.int32
            )
            yield pa.record_batch(
                [
                    pa.array(ids[sel], type=pa.int64()),
                    pa.array(labels[sel], type=pa.int32()),
                    pa.array(cos[sel], type=pa.float64()),
                ],
                names=["vec_id", "label", "cos_sim"],
            )

    scored = emb.mapInArrow(score, out_schema)
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(10)


@query(
    "llm_knn_join",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id % 25 = 0 AND vec_id < 500
    ), pairs AS (
      SELECT query_id, v.vec_id AS neighbor_id,
             ROUND(list_dot_product(ve, qv)
                   / (sqrt(list_dot_product(ve, ve)) * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
      FROM v JOIN q ON v.vec_id <> q.query_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM pairs
    )
    SELECT query_id, neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def llm_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN join: for 20 fixed query vectors (vec_id % 25 == 0, < 500),
    top-3 cosine neighbors (ext). Query side broadcast; candidate
    scoring is a broadcast nested-loop, ranked per query. At 100 TB
    the candidate set comes from LSH bucketing instead of the full
    corpus — the rank/verify tail is identical.

    ADAPTIVE like llm_cosine_topk (round-6 legacy sweep): below the
    Arrow threshold, the staged HOF form — both norms staged BEFORE
    the join so they evaluate once per vector, not once per pair
    (the un-staged form re-derived _norm(ve) 20x per vector); at or
    above it, mapInArrow numpy — each Arrow batch scores (n,dim) @
    (dim,20) as ONE BLAS matrix product and emits only batch-local
    top-3 per query (<=60 rows/batch), so the per-query rank window
    sorts a metadata-sized stream instead of 20 corpus-size
    partitions."""
    if not rows_below("llm_knn_join", sf_dir, "embeddings", _COSINE_ARROW_MIN_ROWS):
        return _knn_join_arrow(spark, sf_dir)
    return sql_over(spark, _KNN_JOIN_SQL, embeddings=load(spark, sf_dir, "embeddings"))


_KNN_JOIN_SQL = f"""
WITH emb AS (
  SELECT vec_id, ve, {_norm("ve")} AS nrm
  FROM (SELECT vec_id, {_as_double("embedding")} AS ve FROM {{embeddings}}) AS emb
), q AS (
  SELECT vec_id AS query_id, ve AS qv, nrm AS qnrm
  FROM emb WHERE vec_id % 25 = 0 AND vec_id < 500
)
SELECT query_id, neighbor_id, cos_sim, rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM (
    SELECT /*+ BROADCAST(q) */ query_id, vec_id AS neighbor_id,
           round({_dot("ve", "qv")} / (nrm * qnrm), 4) AS cos_sim
    FROM emb JOIN q ON vec_id != query_id
  )
)
WHERE rnk <= 3
"""


def _knn_join_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batch numpy path of ``llm_knn_join`` (large corpora).
    One float64 (n,dim)@(dim,m) BLAS product per batch; batch-local
    top-3 per query under the global order (rounded cos desc,
    neighbor_id asc) necessarily contains each query's global top-3,
    so the final window ranks <=3*m rows per batch."""
    import numpy as np
    import pyarrow as pa

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_rows = (
        emb.where((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 500))
        .select("vec_id", "embedding")
        .collect()
    )
    out_schema = "query_id bigint, neighbor_id bigint, cos_sim double"
    if not q_rows:
        # empty query set: HOF-path parity (empty join result), not
        # a reshape error on a zero-row matrix (round-6 ADVICE)
        return spark.createDataFrame(
            [], out_schema + ", rnk int"
        )
    q_rows.sort(key=lambda r: r[0])
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in q_rows], dtype=np.float64).T  # (dim, m)
    qn = np.sqrt(np.einsum("ij,ij->j", qmat, qmat))

    def score(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids, mat = _embedding_matrix(b)
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            cos = np.round((mat @ qmat) / (nrm[:, None] * qn[None, :]), 4)
            oq, on, oc = [], [], []
            for j in range(len(qids)):
                valid = np.flatnonzero(ids != qids[j])
                order = np.lexsort((ids[valid], -cos[valid, j]))[:3]
                sel = valid[order]
                oq.extend([qids[j]] * len(sel))
                on.extend(ids[sel].tolist())
                oc.extend(cos[sel, j].tolist())
            yield pa.record_batch(
                [
                    pa.array(oq, type=pa.int64()),
                    pa.array(on, type=pa.int64()),
                    pa.array(oc, type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cos_sim"],
            )

    pairs = emb.mapInArrow(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


@query(
    "llm_centroid_per_label",
    oracle="""
    SELECT label, CAST(i - 1 AS INTEGER) AS dim,
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) AS centroid_val
    FROM embeddings, range(1, 9) t(i)
    GROUP BY label, i
    """,
)
def llm_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (elementwise mean) of the first 8 dims via
    posexplode + two-key agg (ext: multimodal column reduction).
    DuckDB ordinality is 1-based vs posexplode 0-based -> pos-1
    (SURVEY §7 hard-part #2)."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.slice("embedding", 1, 8)).alias("dim", "val")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(F.round(F.avg(F.col("val").cast("double")), 4).alias("centroid_val"))
    )


@query(
    "llm_vector_norm_filter",
    oracle="""
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(nrm), 4) AS avg_norm
    FROM (
      SELECT label,
             sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ) t
    WHERE nrm >= 0.5 AND nrm < 1.5
    GROUP BY label
    """,
)
def llm_vector_norm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm per vector, band filter, count per label (ext:
    embedding hygiene filtering — drop zero/denormal/blown-up
    vectors before indexing).

    Band [0.5, 1.5): the synthetic embeddings are unit-normalized
    (norms 1.0 +/- 1e-7), so this keeps the healthy corpus and would
    drop genuinely anomalous vectors; the norm computation itself is
    verified cross-engine through avg_norm at 4 decimals. The
    previous [3.5, 6.0) band matched zero rows at every SF — a
    vacuous 0=0 hash pass (round-2 verdict). The band edges sit far
    from the data so FP summation-order differences between engines
    cannot flip a row across the boundary."""
    return sql_over(
        spark, _VECTOR_NORM_FILTER_SQL, embeddings=load(spark, sf_dir, "embeddings")
    )


_VECTOR_NORM_FILTER_SQL = f"""
SELECT label, count(1) AS n_vecs, round(avg(nrm), 4) AS avg_norm
FROM (SELECT label, {_norm(_as_double("embedding"))} AS nrm FROM {{embeddings}})
WHERE nrm >= 0.5D AND nrm < 1.5D
GROUP BY label
"""


# ---------------------------------------------------------------------------
# Heavy LLM ops (SURVEY §7 M5)
# ---------------------------------------------------------------------------

_JACCARD_T = 0.8


@query(
    "llm_dedup_near_minhash",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))), 4) AS jaccard
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
    """,
)
def llm_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH over distinct tokens,
    verified by exact Jaccard >= 0.8 (ext; the flagship scale
    operator). Pipeline: distinct tokens -> K=16 deterministic
    minhashes (xxhash64 with per-hash salt column, no randomness) ->
    16 bands x 1 row -> self-join on (band, signature) buckets ->
    exact-Jaccard verification on candidates only.

    The oracle is the O(n^2) exact-Jaccard join (fine at 500 docs).
    Hash-equivalence requires banding recall 1.0 above the threshold:
    with 16 bands of 1 row, P(miss | J>=0.8) = (1-J)^16 <= 6.6e-12
    per pair — zero misses even over millions of qualifying pairs
    (8x2 banding measurably missed a J=0.8 boundary pair on this
    corpus). r=1 trades bucket selectivity for exact-grade recall;
    on a production corpus with a long similarity tail you'd pick
    (b, r) from the target threshold curve instead. At 100 TB the O(n^2) verify disappears: cost is
    sum-of-bucket-sizes^2, and the exact check runs only on bucketed
    candidates.
    """
    return sql_over(
        spark,
        _minhash_sql(_minhash_verify_sql("pairs", "d")),
        documents=load(spark, sf_dir, "documents"),
    )


# Each band's bucket key is the xxhash64 of its one minhash. The band
# rows are exploded from an array of (band, bsig) structs (the n-gram
# key posexplodes a band-key array instead): both are registered
# plans, so one generator for both would be a plan change.
_MINHASH_BAND_STRUCTS = ", ".join(
    f"struct({b} AS band, xxhash64(sig[{b}]) AS bsig)" for b in range(_MINHASH_K)
)


def _minhash_sql(out: str) -> str:
    """Stages 1-4 of llm_dedup_near_minhash as CTEs over
    ``{documents}``, followed by the statement ``out``, which reads
    them: ``d`` (doc_id, toks) the distinct tokens, and ``pairs``
    (doc_a, doc_b) the candidates of the bucket self-join, exactly one
    row per pair.

    SLIM banding: only (doc_id, n_t, sig, band, bsig) crosses the
    quadratic bucket join; token arrays re-attach after pair emission
    (wide rows through the band join were measured unusable on this
    dense-similarity corpus — buckets hold a large corpus fraction, so
    the join output is ~all-pairs-sized).

    CANONICAL-BAND emission replaces pair dedup: the up-to-16 copies
    of a pair land in DIFFERENT (band, bsig) shuffle partitions, so a
    dropDuplicates has no map-side partial effect (at the x100
    rehearsal its exchange alone exceeded 80 GB of spill disk). Each
    side carries its 16-long signature (128 B) instead, and a pair is
    emitted only from its first agreeing band."""
    return f"""
WITH d AS (
  SELECT doc_id, array_distinct(split(text, ' ')) AS toks FROM {{documents}}
), banded AS (
  SELECT doc_id, n_t, sig, bk.band AS band, bk.bsig AS bsig
  FROM (
    SELECT doc_id, n_t, sig, explode(array({_MINHASH_BAND_STRUCTS})) AS bk
    FROM (SELECT doc_id, size(toks) AS n_t, {_minhash_sig("toks")} AS sig FROM d)
  )
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      AND {_size_ratio_ok("a.n_t", "b.n_t", _JACCARD_T)}
  WHERE a.band = {_first_agreeing_band("a.sig", "b.sig", 1)}
)
{out}"""


def _minhash_verify_sql(pairs: str, d: str, broadcast_b: bool = False) -> str:
    """Exact-Jaccard verify of the candidate pairs ``pairs`` against
    the token table ``d``: re-attach token arrays by doc_id, keep pairs
    with J >= T. Token re-attach UNHINTED by default: d is corpus-sized
    (auto-broadcast at test SF, shuffled hash join on doc_id at 100 TB
    over many executors' disks). ``broadcast_b=True`` is the SINGLE-BOX
    ×100 shape (--sink rehearsal): the doc_b attach becomes a broadcast
    hash join, so the wide (pair + toks_a) intermediate STREAMS from
    the doc_a join through verify to the sink without ever entering an
    exchange — the one box's ~80 GB shuffle disk sees only the slim
    pair rows, never the ~KB-wide token-attached rows (which at ~300M
    true pairs exceed any single disk by design)."""
    hint = "/*+ BROADCAST(db) */ " if broadcast_b else ""
    jac = _jaccard("toks_a", "toks_b", "size(toks_a)", "size(toks_b)")
    return f"""
SELECT doc_a, doc_b, round(jaccard_raw, 4) AS jaccard
FROM (
  SELECT {hint}*, {jac} AS jaccard_raw
  FROM {pairs}
  JOIN (SELECT doc_id AS doc_a, toks AS toks_a FROM {d}) USING (doc_a)
  JOIN (SELECT doc_id AS doc_b, toks AS toks_b FROM {d}) AS db USING (doc_b)
)
WHERE jaccard_raw >= {_JACCARD_T!r}D"""


def _minhash_candidates(spark: SparkSession, sf_dir: str):
    """``(pairs, d)`` of ``_minhash_sql`` as frames, so the ×100
    rehearsal (scripts/scale_rehearsal_llm.py --sink) can compose the
    verify stage with a distributed parquet sink."""
    docs = load(spark, sf_dir, "documents")
    return tuple(
        sql_over(spark, _minhash_sql(f"SELECT * FROM {cte}"), documents=docs)
        for cte in ("pairs", "d")
    )


def _minhash_verify(pairs, d, broadcast_b: bool = False):
    """``_minhash_verify_sql`` over the frames of ``_minhash_candidates``."""
    return sql_over(
        d.sparkSession, _minhash_verify_sql("{pairs}", "{d}", broadcast_b), pairs=pairs, d=d
    )


@query(
    "llm_tfidf_topk",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), n_docs AS (
      SELECT COUNT(*) AS n FROM corpus
    ), tf AS (
      SELECT doc_id, UNNEST(toks) AS term FROM corpus
    ), tfc AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), scored AS (
      SELECT t.doc_id, t.term,
             ROUND(t.tf * (LN((n.n + 1.0) / (d.df + 1.0)) + 1.0), 4) AS tfidf
      FROM tfc t JOIN df d USING (term) CROSS JOIN n_docs n
      WHERE t.doc_id IN (0, 1, 2, 3, 5, 8, 13, 21, 34, 55)
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 3
    """,
)
def llm_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed: ln((N+1)/(df+1))+1) top-3 terms for 10 fixed
    doc_ids (ext: document fingerprinting). DF statistics computed
    over the FULL corpus (shuffle on term, map-side combinable), then
    joined to the 10 probe docs — the scale shape for featurizing a
    corpus against global statistics. The corpus size N enters the
    plan as a broadcast single-row aggregate (crossJoin), not a
    driver-side count(): one Spark job, one corpus scan, exactly like
    the oracle's CROSS JOIN n_docs.

    r14 optimization round — DF via per-doc ``array_distinct`` then a
    PLAIN combinable count, replacing ``countDistinct(doc_id)`` after
    the explode (guide §2.3 "aggregate before you shuffle"). The
    countDistinct form shipped every distinct (term, doc_id) pair
    through TWO exchanges (partial-distinct then count); dedup'ing
    terms INSIDE each document first makes (term, doc_id) unique by
    construction, so a plain count partial collapses map-side to
    ~vocabulary size and ONE exchange carries (term, partial_count).
    df(term) = #docs containing term either way — exact, and pinned:
    same-session ×100 A/B, value-identical 30 rows, DuckDB 2.765 s,
    countDistinct form 3.473 s (1.26×), this form **1.160 s (0.42×,
    Spark 2.4× faster)**."""
    probe_ids = [0, 1, 2, 3, 5, 8, 13, 21, 34, 55]
    d = load(spark, sf_dir, "documents")
    tf = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    n_docs = d.agg(F.count(F.lit(1)).alias("_n_docs"))
    tfc = tf.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dt = d.select(
        F.explode(F.array_distinct(F.split("text", " "))).alias("term")
    )
    df = dt.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("_n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0
    scored = (
        tfc.where(F.col("doc_id").isin(probe_ids))
        .join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "term", F.round(F.col("tf") * idf, 4).alias("tfidf")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------


@query(
    "llm_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(doc_id) AS min_id,
           MAX(doc_id) AS max_id
    FROM documents
    WHERE {portable_hash60_sql("'smp_' || CAST(doc_id AS VARCHAR)")} % 10 < 2
    GROUP BY lang
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% per-stratum sample: keep rows whose
    md5-derived key hash lands in 2 of 10 buckets; per-lang survivor
    stats. Unlike df.sample()/sampleBy() (seeded RNG over partition
    layout → changes when partitioning changes), a content-hash gate
    is layout-independent and idempotent across re-runs — the
    training-data analogue of the reference's idempotent upserts
    ([P high]). Pure filter: no shuffle beyond the final tiny agg."""
    d = load(spark, sf_dir, "documents")
    keep = (
        portable_hash60(F.concat(F.lit("smp_"), F.col("doc_id").cast("string"))) % 10 < 2
    )
    return d.where(keep).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination (n-gram overlap)
# ---------------------------------------------------------------------------

_CONTAM_N = 4  # n-gram order; 4 yields non-empty overlap on the synthetic corpus


@query(
    "llm_contamination_ngram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    ng AS (
      SELECT doc_id,
             array_to_string(list_slice(t, st, st + {_CONTAM_N - 1}), ' ') AS g
      FROM toks,
           unnest(generate_series(1, greatest(len(t) - {_CONTAM_N - 1}, 0))) AS u(st)
    ),
    ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 97 = 0),
    tr AS (SELECT DISTINCT doc_id, g FROM ng WHERE doc_id % 97 != 0)
    SELECT tr.doc_id AS contam_doc,
           CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
    FROM tr JOIN ev USING (g)
    GROUP BY tr.doc_id
    """,
)
def llm_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag training documents sharing any
    4-gram with a held-out eval slice (doc_id % 97 == 0 — the
    deterministic stand-in for a benchmark set). The standard
    contamination screen LLM pipelines run before training (n-gram
    overlap a la GPT-2/3 dedup appendix).

    Scale shape: n-gram expansion is a map-side fan-out inside the
    scan stage; per-side DISTINCT is map-combinable; the join is on
    the n-gram key. Eval sets are tiny relative to the corpus (KBs of
    benchmarks vs 100 TB of train), so at scale the eval n-gram set
    is BROADCAST and the whole screen is shuffle-free except the
    final per-doc count; n-grams would be xxhash64-compressed to 8
    bytes before the join (hash left out here only so the DuckDB
    oracle stays bit-identical)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("t")
    )
    ng = d.where(F.size("t") >= _CONTAM_N).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {_CONTAM_N - 1}),"
                f" st -> array_join(slice(t, st, {_CONTAM_N}), ' '))"
            )
        ).alias("g"),
    )
    ev = ng.where(F.col("doc_id") % 97 == 0).select("g").distinct()
    tr = ng.where(F.col("doc_id") % 97 != 0).distinct()
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy(F.col("doc_id").alias("contam_doc"))
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


# ---------------------------------------------------------------------------
# Dataset-mixture reweighting
# ---------------------------------------------------------------------------


@query(
    "llm_dataset_mixture",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE
             {portable_hash60_sql("'mix_' || CAST(doc_id AS VARCHAR)")} % 10 <
             CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 8 ELSE 10 END
           ) AS BIGINT) AS n_kept,
           ROUND(CAST(COUNT(*) FILTER (WHERE
             {portable_hash60_sql("'mix_' || CAST(doc_id AS VARCHAR)")} % 10 <
             CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 8 ELSE 10 END
           ) AS DOUBLE) / COUNT(*), 4) AS kept_share
    FROM documents
    GROUP BY lang
    """,
)
def llm_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture reweighting: downsample over-represented
    sources to hit a target language mix (en halved, zh at 80%,
    tails kept whole) via the same layout-independent md5 bucket
    gate as `llm_stratified_sample` — idempotent across re-runs,
    unlike seeded sample(). This is the mixture-weighting step every
    multi-source LLM corpus build runs (e.g. up/down-weighting web
    vs books vs code).

    One map-combinable agg, one shuffle on lang; the gate itself is
    a pure projection evaluated inside the scan stage, so at 100 TB
    the kept subset never materializes — downstream stages read
    `WHERE kept` straight off the filter."""
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 5)
        .when(F.col("lang") == "zh", 8)
        .otherwise(10)
    )
    keep = (
        portable_hash60(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 10
        < rate
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(keep).alias("n_kept"),
        F.round(F.count_if(keep).cast("double") / F.count(F.lit(1)), 4).alias(
            "kept_share"
        ),
    )


# ---------------------------------------------------------------------------
# Unigram-LM quality score
# ---------------------------------------------------------------------------


@query(
    "llm_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT SUM(c) AS n FROM freq)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           ROUND(AVG(LN(CAST(c AS DOUBLE) / n)), 4) AS lm_score
    FROM tok JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model quality score: per-document mean token
    log-probability under the corpus unigram distribution — the
    CCNet-style LM quality filter (documents of rare/garbled tokens
    score low and get dropped before training).

    Scale shape: the frequency table is vocabulary-sized (millions of
    rows at web scale, MBs — broadcast), so scoring is scan → explode
    → broadcast-join → one per-doc agg shuffle. The corpus total is
    folded in via a 1-row crossJoin of an aggregate, NOT a
    driver-side count() (no extra job, no collect)."""
    tok = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    scored = tok.join(F.broadcast(freq), "w").crossJoin(F.broadcast(tot))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_toks"),
        F.round(F.avg(F.log(F.col("c").cast("double") / F.col("n"))), 4).alias(
            "lm_score"
        ),
    )


# ---------------------------------------------------------------------------
# End-to-end corpus-cleaning funnel
# ---------------------------------------------------------------------------

_FUN_Q_T = 0.65  # quality threshold (txt_quality_score formula)
_FUN_LEN_LO, _FUN_LEN_HI = 20, 80  # token-count band


@query(
    "llm_corpus_funnel",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id, lang,
             len(string_split(text,' ')) AS n_toks,
             len(list_distinct(string_split(text,' '))) AS n_uniq,
             len(list_filter(string_split(text,' '), t -> t IN ('the','a'))) AS n_stop,
             length(text) AS n_len
      FROM documents
    ), m AS (
      SELECT lang,
             {portable_hash60_sql("'mix_' || CAST(doc_id AS VARCHAR)")} % 10 <
               CASE lang WHEN 'en' THEN 5 WHEN 'zh' THEN 8 ELSE 10 END AS mix_ok,
             n_toks BETWEEN {_FUN_LEN_LO} AND {_FUN_LEN_HI} AS len_ok,
             0.4*(CAST(n_uniq AS DOUBLE)/n_toks)
             + 0.3*(1.0 - CAST(n_stop AS DOUBLE)/n_toks)
             + 0.3*least(CAST(n_len-n_toks+1 AS DOUBLE)/n_toks/8.0, 1.0)
               >= {_FUN_Q_T} AS q_ok
      FROM feat
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_ingested,
           CAST(COUNT(*) FILTER (WHERE mix_ok) AS BIGINT) AS n_mix,
           CAST(COUNT(*) FILTER (WHERE mix_ok AND len_ok) AS BIGINT) AS n_len,
           CAST(COUNT(*) FILTER (WHERE mix_ok AND len_ok AND q_ok) AS BIGINT) AS n_clean
    FROM m GROUP BY lang
    """,
)
def llm_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-cleaning funnel — the north-star composition
    a pretraining data pipeline runs as ONE pass: mixture gate
    (llm_dataset_mixture's md5 bucket downsampling) -> token-length
    band -> quality threshold (txt_quality_score's formula), with
    per-language survivor counts after each CUMULATIVE stage. The
    funnel report is how pipeline owners audit where documents die.

    Single scan, all stage predicates evaluated as map-side
    expressions in one whole-stage-codegen pass, one map-combinable
    agg shuffle on lang — adding a funnel stage costs zero extra
    passes over 100 TB (contrast with materializing per-stage
    intermediate tables)."""
    toks = F.split("text", " ")
    n_toks = F.size(toks).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    n_stop = F.expr("size(filter(split(text, ' '), t -> t IN ('the', 'a')))").cast(
        "double"
    )
    avg_tok_len = (F.length("text") - n_toks + 1) / n_toks
    quality = (
        F.lit(0.4) * (n_uniq / n_toks)
        + F.lit(0.3) * (F.lit(1.0) - n_stop / n_toks)
        + F.lit(0.3) * F.least(avg_tok_len / 8.0, F.lit(1.0))
    )
    rate = (
        F.when(F.col("lang") == "en", 5).when(F.col("lang") == "zh", 8).otherwise(10)
    )
    mix_ok = (
        portable_hash60(F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 10
        < rate
    )
    len_ok = (F.size(toks) >= _FUN_LEN_LO) & (F.size(toks) <= _FUN_LEN_HI)
    q_ok = quality >= _FUN_Q_T
    m = load(spark, sf_dir, "documents").select(
        "lang", mix_ok.alias("mix_ok"), len_ok.alias("len_ok"), q_ok.alias("q_ok")
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_ingested"),
        F.count_if(F.col("mix_ok")).alias("n_mix"),
        F.count_if(F.col("mix_ok") & F.col("len_ok")).alias("n_len"),
        F.count_if(F.col("mix_ok") & F.col("len_ok") & F.col("q_ok")).alias("n_clean"),
    )


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
    # MATERIALIZE the narrow tf projection (5 int columns — no toks,
    # no text): both consumers (the df/stats agg and the scoring
    # projection) would otherwise re-execute the text scan + split +
    # HOF filters, since DataFrame DAGs have no cross-consumer reuse.
    # r7 ×100 A/B: re-execute 2.26 s, localCheckpoint 1.37 s, cache
    # 1.33 s — checkpoint chosen (no executor-storage residency to
    # unpersist after the query returns). At 100 TB this is the
    # classic narrow-intermediate materialization: ints-only, ~2% of
    # the text payload, spill-safe.
    docs = load(spark, sf_dir, "documents")
    tfd = sql_over(spark, _BM25_TF_SQL, documents=docs).localCheckpoint(eager=False)
    return sql_over(spark, _BM25_SCORE_SQL, tfd=tfd)


# per-term tf columns, map-side (the query is a literal), over the
# split staged once (Catalyst does not CSE non-cheap exprs: an inline
# size(split(..)) would re-split every row — the round-6
# staged-Projection rule)
_BM25_TF_SQL = f"""
SELECT doc_id, dl,
       {", ".join(
           f"size(filter(toks, x_{i} -> x_{i} = '{t}')) AS f_{i}" for i, t in enumerate(_BM25_QUERY)
       )}
FROM (
  SELECT doc_id, toks, size(toks) AS dl
  FROM (SELECT doc_id, split(text, ' ') AS toks FROM {{documents}})
)
"""


def _bm25_term(i: int) -> str:
    """Term ``i``'s BM25 contribution over the tf row and the corpus stats."""
    idf = f"ln(1.0D + (n_docs - df_{i} + 0.5D) / (df_{i} + 0.5D))"
    return (
        f"{idf} * (f_{i} * {_BM25_K1 + 1}D)"
        f" / (f_{i} + (dl * {_BM25_B}D / avgdl + {1 - _BM25_B}D) * {_BM25_K1}D)"
    )


# per-term document frequencies + corpus stats: ONE tiny agg row,
# broadcast back (see llm_bm25_topk — merging stats here saves a whole
# corpus pass)
_BM25_SCORE_SQL = f"""
SELECT doc_id, round(score, 4) AS bm25
FROM (
  SELECT /*+ BROADCAST(s) */ doc_id,
         {" + ".join(f"({_bm25_term(i)})" for i in range(len(_BM25_QUERY)))} AS score
  FROM {{tfd}}
  CROSS JOIN (
    SELECT {"".join(f"count_if(f_{i} > 0) AS df_{i}, " for i in range(len(_BM25_QUERY)))}
           count(1) AS n_docs, avg(dl) AS avgdl
    FROM {{tfd}}
  ) s
  ORDER BY score DESC, doc_id
  LIMIT {_BM25_TOPK}
)
"""


# ---------------------------------------------------------------------------
# llm_importance_resample — quality-weighted deterministic resampling
# ---------------------------------------------------------------------------

# acceptance test as PURE INTEGER arithmetic: keep doc iff
#   u < w  with  u = h/2^48,  w = min(n_chars, 500)/500
# <=> h * 500 < min(n_chars, 500) * 2^48        (exact, no FP anywhere)
_RS_H_SPARK = "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
_RS_H_DUCK = "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
_RS_KEEP = "({h} * 500 < LEAST(n_chars, 500) * 281474976710656)"


@query(
    "llm_importance_resample",
    oracle=f"""
    WITH scored AS (
      SELECT source, n_chars,
             CASE WHEN {_RS_KEEP.format(h=_RS_H_DUCK)} THEN 1 ELSE 0 END AS kept
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(CAST(SUM(LEAST(n_chars, 500)) AS BIGINT) AS DOUBLE)
             / (500.0e0 * COUNT(*)) AS expected_rate,
           CAST(SUM(kept) AS DOUBLE) / COUNT(*) AS actual_rate
    FROM scored
    GROUP BY source
    """,
)
def llm_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance resampling — the data-mixing
    primitive behind quality-filtered corpus construction ([P med]:
    sampling documents with probability proportional to a quality
    weight is how public pipelines reweight toward higher-quality
    text without hard cutoffs). Weight = min(n_chars, 500)/500 (the
    length-capped quality proxy); each doc keeps a deterministic
    md5-uniform draw u = h/2^48 and survives iff u < w.

    The acceptance test is rearranged to PURE INTEGER arithmetic
    (h*500 < min(n_chars,500)*2^48), so the Bernoulli draw has ZERO
    floating-point hazard and the decision is reproducible across
    engines, retries, and partitionings — the property a training
    pipeline needs for dataset versioning. Report per source:
    n_docs, n_kept, expected vs actual acceptance rate (each ONE
    IEEE division of exact integers — bit-identical, no ROUND).

    Plan shape: scan -> codegen hash+compare (no shuffle) -> one
    combinable agg on source. Embarrassingly parallel at 100 TB; the
    kept subset would be written straight out with the same map-side
    predicate (filter pushes into the scan stage)."""
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        "n_chars",
        F.expr(_RS_KEEP.format(h=_RS_H_SPARK)).cast("int").alias("kept"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("kept").alias("n_kept"),
        (
            F.sum(F.least("n_chars", F.lit(500))).cast("double")
            / (F.lit(500.0) * F.count(F.lit(1)))
        ).alias("expected_rate"),
        (F.sum("kept").cast("double") / F.count(F.lit(1))).alias("actual_rate"),
    )


# ---------------------------------------------------------------------------
# llm_shard_assign — deterministic training-shard assignment + balance audit
# ---------------------------------------------------------------------------

_SHARDS = 32
_SHARD_H_SPARK = (
    "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10) AS BIGINT)"
)
_SHARD_H_DUCK = (
    "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)"
)


@query(
    "llm_shard_assign",
    oracle=f"""
    WITH assigned AS (
      SELECT ({_SHARD_H_DUCK}) % {_SHARDS} AS shard, n_chars
      FROM documents
    ), per AS (
      SELECT shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM assigned GROUP BY shard
    )
    SELECT shard, n_docs, total_chars,
           CAST(total_chars AS DOUBLE)
             / SUM(total_chars) OVER () AS char_share,
           CAST(total_chars AS DOUBLE) * {_SHARDS}
             / SUM(total_chars) OVER () AS balance_ratio
    FROM per
    """,
)
def llm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit — the
    step between a curated corpus and a distributed training job
    ([P med]: data loaders consume fixed shard files; the assignment
    must be reproducible across pipeline retries and the audit must
    prove no shard is hot). Shard = md5(doc_id) mod 32 (the house
    integer-exact hash — reproducible everywhere, unlike
    partition-id-based assignment which changes with parallelism);
    report per shard: docs, chars, char share, and balance ratio
    (share × n_shards — 1.0 is perfect balance).

    Exactness: counts/sums integer; share and balance are divisions
    of exact integers over a window total of exact integers —
    same-tree IEEE, no ROUND. Plan shape: codegen hash (no shuffle)
    -> ONE combinable 32-cell agg -> 32-row window arithmetic. The
    actual shard WRITE would be `.repartition(32, shard).write` —
    same derivation, the exchange replaces the agg."""
    d = load(spark, sf_dir, "documents")
    assigned = d.select(
        (F.expr(_SHARD_H_SPARK) % _SHARDS).alias("shard"), "n_chars"
    )
    per = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    w = Window.partitionBy()
    tot = F.sum("total_chars").over(w)
    return per.select(
        "shard",
        "n_docs",
        "total_chars",
        (F.col("total_chars").cast("double") / tot).alias("char_share"),
        (F.col("total_chars").cast("double") * _SHARDS / tot).alias(
            "balance_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# llm_doc_sample_per_source — reproducible per-stratum top-k-by-hash sample
# ---------------------------------------------------------------------------


@query(
    "llm_doc_sample_per_source",
    oracle="""
    WITH h AS (
      SELECT source, doc_id,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS hk
      FROM documents
    ), r AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY source ORDER BY hk, doc_id) AS rk
      FROM h
    )
    SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, hk
    FROM r WHERE rk <= 3
    """,
)
def llm_doc_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible per-source document sample: the k smallest
    md5-hash documents of each source stratum ([P med]: eyeball /
    audit samples of a training corpus must be STABLE across reruns,
    partitionings, and engines — TABLESAMPLE and rand() are none of
    those). The hash rank IS the sample: k=3 per source, tie-broken
    by doc_id (unreachable for md5 but declared).

    The 60-bit hash-prefix integer is the house portable hash
    (hazard rule 9: hex via md5 on identical bytes, engine-local
    hex->int). Plan shape: one window exchange on source; the window
    state is the running top-k only in principle — Spark's
    row_number materializes the partition, so the 100 TB form swaps
    row_number for the rank-filter pushdown (groupBy(source) +
    min_by(struct, k)) when strata are huge; for audit-sample k and
    realistic per-source volumes the window is the simpler plan."""
    h = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hk"),
    )
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        h.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select("source", "rk", "doc_id", "hk")
    )


# ---------------------------------------------------------------------------
# llm_train_val_split — deterministic stratified corpus splitting
# ---------------------------------------------------------------------------


@query(
    "llm_train_val_split",
    oracle="""
    WITH h AS (
      SELECT lang, n_chars,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % 100 AS bucket
      FROM documents
    ), s AS (
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val'
                  ELSE 'test' END AS split,
             n_chars
      FROM h
    ), g AS (
      SELECT lang, split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM s GROUP BY lang, split
    )
    SELECT lang, split, n_docs, n_chars,
           CAST((1000000 * n_chars) // SUM(n_chars) OVER (PARTITION BY lang)
                AS BIGINT) AS ppm_of_lang
    FROM g
    """,
)
def llm_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit — the corpus-side
    contract beside shard assignment ([P high]: a training corpus
    split must be a PURE FUNCTION of the document id, reproducible
    across reruns, engines, and partitionings — rand()-based splits
    are none of those, and leakage between re-materialized splits is
    a real eval bug). Split = md5 60-bit prefix mod 100 → 80/10/10;
    per (lang, split): docs, chars, and the split's ppm share of the
    language's chars (integer div — exact).

    Plan shape: codegen hash + ONE combinable (lang, split) agg +
    a window over the ≤|langs|×3 summary. The ppm numerator
    (1e6·chars) stays within int64 up to ~9e12 chars per language;
    the 100 TB form lifts to DECIMAL(38,0) — same query. The hash is
    hazard-rule-9 portable (hex prefix → engine-local int)."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    g = docs.select("lang", split.alias("split"), "n_chars").groupBy(
        "lang", "split"
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    return g.withColumn(
        "ppm_of_lang",
        F.expr("(1000000 * n_chars) div sum(n_chars) over (partition by lang)"),
    )


# ---------------------------------------------------------------------------
# llm_curriculum_order — token-budgeted curriculum prefix
# ---------------------------------------------------------------------------


@query(
    "llm_curriculum_order",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(text, ' ')) AS tokens,
             (1000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
               // length(text) AS score_milli
      FROM documents
    ), ordered AS (
      SELECT *,
             SUM(tokens) OVER (ORDER BY score_milli DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens,
             SUM(tokens) OVER () AS total_tokens
      FROM scored
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(tokens) AS BIGINT) AS tokens_kept,
           CAST(MIN(score_milli) AS BIGINT) AS min_score_milli
    FROM ordered
    WHERE 2 * cum_tokens <= total_tokens
    GROUP BY lang
    """,
)
def llm_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted curriculum prefix — the corpus scheduling
    contract beside split and shard assignment ([P med]: curriculum
    training consumes the HIGHEST-QUALITY half (or epoch budget) of
    the corpus first; the cut must be deterministic and total-order
    stable or two runs train on different data). Quality = integer
    milli-ratio of alphabetic chars (the quality-score family's
    integer core); the curriculum keeps documents in (score DESC,
    doc_id) order while twice the running token sum stays within the
    corpus total — an exact integer prefix predicate, no FP
    anywhere.

    Plan shape: codegen scoring map-side, then a single-partition
    running-sum window over the GLOBAL order — inherent to a total
    order over the whole corpus, but the windowed rows are the slim
    (id, lang, 2 ints) projection, not text. At 100 TB the
    production form buckets by score band first (band totals give
    each band's cumulative offset — the same two-pass trick as
    srt_topk_global) and runs this window within the boundary band
    only; declared semantics identical."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("tokens"),
        F.expr(
            "(1000 * length(regexp_replace(text, '[^A-Za-z]', ''))) "
            "div length(text)"
        ).alias("score_milli"),
    )
    w = (
        Window.orderBy(F.col("score_milli").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = docs.select(
        "doc_id",
        "lang",
        "tokens",
        "score_milli",
        F.sum("tokens").over(w).alias("cum_tokens"),
        F.sum("tokens").over(
            Window.partitionBy()
        ).alias("total_tokens"),
    )
    return (
        ordered.where(2 * F.col("cum_tokens") <= F.col("total_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("tokens").alias("tokens_kept"),
            F.min("score_milli").alias("min_score_milli"),
        )
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


_MIX_BUDGET = 10_000  # total documents the resampled mix should hold


@query(
    "llm_temperature_mixture",
    oracle=f"""
    WITH per AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1000000 + 0.5)
                  AS BIGINT) AS w_fixed
      FROM documents GROUP BY lang
    ), tot AS (SELECT SUM(w_fixed) AS tw FROM per)
    SELECT lang, n_docs, w_fixed,
           ROUND(CAST(w_fixed AS DOUBLE) / CAST(tw AS DOUBLE), 6) AS share,
           CAST(floor((CAST(w_fixed AS DOUBLE) / CAST(tw AS DOUBLE))
                      * {_MIX_BUDGET} + 0.5) AS BIGINT) AS target_docs
    FROM per, tot
    """,
)
def llm_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling plan (α = 0.5): the
    multilingual-corpus balancing technique ([P high] — sampling
    languages proportional to n^α flattens the head so low-resource
    languages are not drowned; the α=0.5 square-root form is the
    standard published choice). Per-language doc counts → weight
    n^0.5 → normalized share → integer target at a fixed budget.

    Cross-engine exactness: sqrt is a correctly-rounded IEEE op
    (hazard #6) so both engines produce the identical double; the
    weight is then staged to FIXED POINT (floor(sqrt·10⁶ + 0.5) — the
    shared half-away tree, hazard #14) so the normalizing sum is an
    exact integer sum (never a double accumulation whose order could
    differ, and never a double→DECIMAL cast, hazard #8); share and
    target are single correctly-rounded div/mul on identical inputs.
    Plan: one documents scan with a map-side-combinable count agg
    (the exchange carries ~one row per language), a 1-row total
    attached by broadcast cross-join — the same shape at 100 TB."""
    per = (
        load(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            "n_docs",
            F.floor(
                F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("w_fixed"),
        )
    )
    tot = per.agg(F.sum("w_fixed").alias("tw"))
    share = F.col("w_fixed").cast("double") / F.col("tw").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "w_fixed",
            F.round(share, 6).alias("share"),
            F.floor(share * F.lit(float(_MIX_BUDGET)) + F.lit(0.5))
            .cast("long")
            .alias("target_docs"),
        )
    )


_BPE_TOPK = 10


@query(
    "llm_bpe_merge_step",
    oracle=f"""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents, unnest(string_split(text, ' ')) t(w)
      WHERE length(w) >= 2
      GROUP BY w
    ), pairs AS (
      SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substr(word, CAST(i AS INTEGER), 2)))
               AS pair,
             c
      FROM words
    ), agg AS (
      SELECT pair, CAST(SUM(c) AS BIGINT) AS n_pairs FROM pairs GROUP BY pair
    )
    SELECT pair, n_pairs, CAST(rnk AS INTEGER) AS rnk FROM (
      SELECT pair, n_pairs,
             ROW_NUMBER() OVER (ORDER BY n_pairs DESC, pair) AS rnk
      FROM agg
    ) WHERE rnk <= {_BPE_TOPK}
    """,
)
def llm_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE merge iteration over the corpus — the inner loop of
    tokenizer vocabulary induction (Sennrich'16), distributed: count
    every adjacent character pair inside every word occurrence and
    rank; the rank-1 pair is this iteration's merge (applying it is a
    map-side replace, and the next iteration re-runs this plan over
    the re-tokenized corpus).

    Scale shape — the reason BPE training survives 100 TB: BOTH agg
    exchanges collapse to VOCABULARY size map-side, never corpus
    size. The word count's partial agg reduces the token stream to
    distinct words per partition before the shuffle; the pair count
    then runs over the (word, count) summary — at any corpus size
    the shuffled bytes are O(|vocab|), and pair application is
    embarrassingly parallel. Integer counts end-to-end, ties broken
    lexicographically — cross-engine exact with no float hazard.

    Words shorter than 2 symbols carry no pair (both engines filter
    them BEFORE pair generation — Spark's sequence(1, 0) would
    otherwise produce a DESCENDING [1, 0] range, hazard: never feed
    sequence() an empty-range request)."""
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
        "c",
    )
    agg = pairs.groupBy("pair").agg(F.sum("c").cast("long").alias("n_pairs"))
    w = Window.orderBy(F.desc("n_pairs"), "pair")
    return (
        agg.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= _BPE_TOPK)
        .select("pair", "n_pairs", "rnk")
    )
