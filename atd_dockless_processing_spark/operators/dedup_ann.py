"""Near-duplicate detection + approximate-nearest-neighbor search —
the training-data-pipeline extensions beyond the token MinHash key
(``llm.llm_dedup_near_minhash``): SimHash, character-n-gram Jaccard,
embedding-cosine near-dup, IVF-bucketed and random-hyperplane ANN,
and the keys built on near-dup pairs (connected-component clusters,
keep list, URL canonicalization, cluster-blocked semantic dedup).

Two families of math are written here once, as Spark SQL text
builders, and each key of either family, here and in ``llm``, builds
its plan from one SQL text:
- MinHash-LSH banding: ``_minhash_sig`` (the 16 salted minhashes),
  ``_first_agreeing_band`` (canonical-band emission, through
  ``first_eq_band_sql``), ``_size_ratio_ok`` and ``_jaccard``.
- vector math: ``_as_double``, ``_dot``, ``_norm``, ``_cos``,
  ``_sq_dist``, ``_mean_vector``.

Scale design (the 100 TB story for each):
- SimHash: per-doc 32-bit signature is a pure map (one pass, no
  shuffle); candidate generation is a self-join on (band, band-bits)
  buckets — pigeonhole guarantees recall 1.0 for hamming <= BANDS-1,
  so the verify step (cheap ``bit_count(xor)``) only sees bucketed
  pairs. Cost: sum of bucket sizes squared, never O(n^2) corpus-wide.
- n-gram Jaccard: exact verify here is blocked per ``lang`` (the
  natural shard key); large blocks prune candidates by MinHash-LSH
  over the n-gram sets (the banding builders above, shared with the
  token key), with the exact Jaccard as the verify tail.
- embedding near-dup / IVF ANN: the corpus side is partitioned by
  coarse-quantizer cell (here: label-derived centroids), so a probe
  touches one partition's posting list instead of the corpus — the
  same partition-pruning shape Spark applies to partitioned parquet.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60_spark_sql, portable_hash60_sql
from ..registry import query
from ..session import sql_over, temp_views
from ..tables import load, rows_below

def first_eq_band_sql(eq_at, n_bands: int) -> str:
    """First band index j in [0, n_bands) where ``eq_at(j)`` (the
    band-``j`` condition as Spark SQL text) holds, else -1 — as a
    short-circuiting scalar ``CASE WHEN`` chain.

    Canonical-band emission filters the LSH bucket join's output on
    ``a.band = first matching band``. Building that via
    ``array_position(zip_with(a.sig, b.sig, eq), true)`` allocates
    two ArrayData per CANDIDATE row (pre-filter, ~16x the pair
    count), which measured 2.8x slower than the whole r3 pipeline at
    the x10 rehearsal. A nested CASE chain stays in whole-stage
    codegen with zero allocation and stops at the first true
    comparison — expected cost ~2 scalar compares per row instead of
    2 array builds + a 16-element scan.
    """
    expr = "-1"
    for j in reversed(range(n_bands)):
        expr = f"CASE WHEN {eq_at(j)} THEN {j} ELSE {expr} END"
    return expr


# MinHash-LSH banding as Spark SQL text, the one spelling the token
# (``llm.llm_dedup_near_minhash``) and char-n-gram (``llm_dedup_ngram``
# and the cluster keys) near-dup plans compose: signature, canonical
# first band, size-ratio prune and exact-Jaccard verify.

_MINHASH_K = 16  # minhashes per set (xxhash64, fixed salts 0..15)


def _minhash_sig(col: str) -> str:
    """The ``_MINHASH_K`` minhashes of the string array ``col``: per
    fixed salt, the least ``xxhash64`` over the elements
    (deterministic, no random seeds)."""
    salts = ", ".join(map(str, range(_MINHASH_K)))
    return f"transform(array({salts}), x_7 -> array_min(transform({col}, y_7 -> xxhash64(y_7, x_7))))"


def _first_agreeing_band(a: str, b: str, rows_per_band: int) -> str:
    """First band on which signatures ``a`` and ``b`` agree in every
    component, else -1. Emitting a bucket-joined pair only from this
    band emits it once (no pair-dedup exchange), and drops pairs that
    met only through a band-key hash collision."""
    r = rows_per_band
    return first_eq_band_sql(
        lambda j: " AND ".join(f"{a}[{j * r + k}] = {b}[{j * r + k}]" for k in range(r)),
        _MINHASH_K // r,
    )


def _size_ratio_ok(na: str, nb: str, t: float) -> str:
    """Set sizes ``na``, ``nb`` can reach Jaccard ``t``: J >= t implies
    min/max >= t."""
    return f"CAST(least({na}, {nb}) AS DOUBLE) >= greatest({na}, {nb}) * {t!r}D"


def _jaccard(a: str, b: str, na: str, nb: str) -> str:
    """Exact Jaccard |a∩b| / (|a|+|b|−|a∩b|) of the distinct arrays
    ``a``, ``b`` of sizes ``na``, ``nb``."""
    inter = f"CAST(size(array_intersect({a}, {b})) AS DOUBLE)"
    return f"{inter} / (CAST({na} + {nb} AS DOUBLE) - {inter})"


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 4 bands x 8 bits: recall 1.0 for hamming <= 3
_HAMMING_T = 3


def _simhash32_spark_sql(hs: str) -> str:
    """32-bit SimHash of an array<long> of token hashes ``hs`` as Spark
    SQL text: bit i is set iff the majority of token hashes have bit i
    set."""
    fp = "CAST(0 AS BIGINT)"
    for i in range(_SIMHASH_BITS):
        ones = f"size(filter({hs}, x_6 -> (shiftright(x_6, {i}) & 1) = 1))"
        fp += f" + CASE WHEN {ones} * 2 > size({hs}) THEN {1 << i} ELSE 0 END"
    return fp


def _simhash32_sql(hs_expr: str) -> str:
    terms = [
        f"(CASE WHEN 2 * len(list_filter({hs_expr}, h -> ((h >> {i}) & 1) = 1))"
        f" > len({hs_expr}) THEN {1 << i} ELSE 0 END)"
        for i in range(_SIMHASH_BITS)
    ]
    return "(" + " + ".join(terms) + ")"


_SIMHASH_ORACLE = f"""
    WITH d AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            t -> {portable_hash60_sql('t')}) AS hs
      FROM documents
    ), fp AS (
      SELECT doc_id, {_simhash32_sql('hs')} AS f FROM d
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= {_HAMMING_T}
"""


@query("llm_dedup_simhash", oracle=_SIMHASH_ORACLE)
def llm_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via frequency-weighted 32-bit SimHash,
    hamming <= 3.

    Pipeline: tokens WITH multiplicity (weighted vote — distinct-set
    simhash saturates on this shared-vocabulary corpus; measured) ->
    portable 60-bit hash -> per-bit majority vote -> 32-bit
    fingerprint -> LSH banding (4 bands x 8 bits; pigeonhole: any
    pair with hamming <= 3 agrees on >= 1 band, so banding recall is
    exactly 1.0 and the result hash-matches the O(n^2) oracle) ->
    bit_count(xor) verify on candidates only. The whole pipeline is
    JVM-side expressions — no Python UDF.
    """
    return sql_over(spark, _SIMHASH_SQL, documents=load(spark, sf_dir, "documents"))


_SIMHASH_BAND_BITS = _SIMHASH_BITS // _SIMHASH_BANDS
_SIMHASH_BAND_MASK = (1 << _SIMHASH_BAND_BITS) - 1


def _simhash_band(f: str, b: int) -> str:
    return f"(shiftright({f}, {b * _SIMHASH_BAND_BITS}) & {_SIMHASH_BAND_MASK})"


_SIMHASH_BAND_STRUCTS = ", ".join(
    f"struct({b} AS band, {_simhash_band('f', b)} AS bval)" for b in range(_SIMHASH_BANDS)
)
# Canonical-band emission (see llm_dedup_near_minhash): copies of a
# pair land in different (band, bval) shuffle partitions, so a pair
# dedup cannot partial-combine map-side; each pair is emitted only
# from the FIRST band on which the fingerprints agree (both
# fingerprints are already in the row; zero extra width).
_SIMHASH_FIRST_BAND = first_eq_band_sql(
    lambda j: f"{_simhash_band('a.f', j)} = {_simhash_band('b.f', j)}", _SIMHASH_BANDS
)
_SIMHASH_SQL = f"""
WITH d AS (
  SELECT doc_id, transform(split(text, ' '), x_5 -> {portable_hash60_spark_sql("x_5")}) AS hs
  FROM {{documents}}
), fp AS (
  SELECT doc_id, {_simhash32_spark_sql("hs")} AS f FROM d
), banded AS (
  SELECT doc_id, f, bk.band AS band, bk.bval AS bval
  FROM (
    SELECT doc_id, f, explode(array({_SIMHASH_BAND_STRUCTS})) AS bk FROM fp
  )
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.f AS fa, b.f AS fb
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a.doc_id < b.doc_id
  WHERE a.band = {_SIMHASH_FIRST_BAND}
)
SELECT doc_a, doc_b, CAST(bit_count(fa ^ fb) AS INT) AS hamming
FROM cand WHERE bit_count(fa ^ fb) <= {_HAMMING_T}
"""


# ---------------------------------------------------------------------------
# Character n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

_NGRAM_N = 3
_NGRAM_T = 0.8
# The registered band shape is 8 bands x 2 rows (r13); why, and the
# recall of the pinned 16x1 twin: ``_ngram_sql``.
_NGRAM_MH_R = 2
_NGRAM_BLOCK_T = 64  # blocks larger than this take the banded path


@query(
    "llm_dedup_ngram",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - {_NGRAM_N - 1}, 1)),
               i -> substr(text, CAST(i AS INTEGER), {_NGRAM_N}))) AS grams
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))), 4)
             AS ngram_jaccard
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
          / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= {_NGRAM_T}
    """,
)
def llm_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by character-3-gram Jaccard >= 0.8,
    blocked by ``lang`` (the natural shard key — cross-language char
    n-gram dups are not meaningful). The n-gram set is built with
    higher-order functions (sequence + transform + substring), fully
    JVM-side.

    HYBRID candidate plan, routed per block by block size (computed
    in-plan: groupBy(lang).count + broadcast join — no driver-side
    action). All gates are recall-1.0 at J >= 0.8, so the result
    hash-matches the O(n^2) oracle:

    - blocks with > 64 docs (the default at scale — at 100 TB
      every real block is on this path): MinHash-LSH banding over the
      gram sets, K=16 deterministic minhashes regrouped 8 bands x 2
      rows (the PRODUCTION shape; see ``_ngram_sql``); bucket
      self-join carries only (doc_id, lang, n_g, sig, band, bsig);
      canonical-band emission instead of a pair dedup; gram arrays
      re-attached to surviving candidates.
    - blocks with <= 64 docs: slim within-lang self-join
      (brute force) — cheaper than banding when the whole block fits
      a few bucket-joins' worth of pairs anyway.
    Both paths share the size-ratio prefilter (J >= T implies
    min/max set size >= T) and one exact-Jaccard verify tail.

    Measured crossover on this corpus (PLANS.md): the dense synthetic
    documents make band buckets hold ~20% of a block, so banding only
    wins once the block is big enough that all-pairs quadratic cost
    overtakes the ~3x candidate inflation — threshold 64 puts
    sf0.001 blocks (~10 docs) on brute force and sf0.01+ blocks
    (>=100 docs) on the banded default, so both paths stay covered by
    the correctness gate.

    The key, the candidate plan (``ngram_candidate_pairs``), the
    verify tail (``ngram_verified_pairs``) and the cluster keys' pair
    plan (``_ngram_pairs``) are all spelled by ``_ngram_sql`` and
    ``_ngram_verify_sql``."""
    return sql_over(
        spark,
        _ngram_sql(
            _NGRAM_T,
            "SELECT doc_a, doc_b, round(ngram_jaccard, 4) AS ngram_jaccard"
            f" FROM ({_ngram_verify_sql('pairs', 'd', _NGRAM_T)})",
        ),
        documents=load(spark, sf_dir, "documents"),
    )


def _ngram_verify_sql(pairs: str, d: str, threshold: float) -> str:
    """Exact-Jaccard VERIFY tail over the candidate pairs ``pairs``
    (doc_a, doc_b, na, nb) and the gram table ``d`` (doc_id, grams):
    re-attaches each side's gram set by doc_id (auto-broadcast at test
    SF, shuffle at scale — unhinted, a broadcast hint would ship the
    corpus everywhere) and keeps pairs with Jaccard >= ``threshold``;
    selects (doc_a, doc_b, ngram_jaccard[double, unrounded])."""
    jac = _jaccard("grams_a", "grams_b", "na", "nb")
    return f"""
SELECT doc_a, doc_b, {jac} AS ngram_jaccard
FROM {pairs}
JOIN (SELECT doc_id AS doc_a, grams AS grams_a FROM {d}) USING (doc_a)
JOIN (SELECT doc_id AS doc_b, grams AS grams_b FROM {d}) USING (doc_b)
WHERE {jac} >= {threshold!r}D"""


def _ngram_sql(
    threshold: float,
    out: str,
    block_t: int = _NGRAM_BLOCK_T,
    rows_per_band: int = _NGRAM_MH_R,
) -> str:
    """The hybrid near-dup CANDIDATE plan over char-3-gram sets as CTEs
    over ``{documents}``, followed by the statement ``out``, which
    reads them:

    - ``d``: (doc_id, lang, grams);
    - ``pairs``: (doc_a, doc_b, na, nb) candidates, size-ratio
      prefiltered; blocks with <= ``block_t`` docs via within-lang
      brute-force self-join (slim rows), larger blocks via MinHash
      banding (registered default: the production 8x2 shape, r13)
      with canonical-band emission (one emission per pair, no dedup
      exchange). A band's bucket key is the xxhash64 of its
      ``rows_per_band`` minhashes; the canonical-band gate compares
      the components, which also screens out bucket-key collisions.

    Recall discipline: the banded path's per-true-pair miss bound over
    the FIXED xxhash64 salts is (1-J)^16 at ``rows_per_band=1``
    (6.6e-12 at 0.80) and (1-J²)^8 at the registered ``=2`` default
    (2.8e-4 at exactly 0.80, 4.6e-3 at 0.70) — but recall on a GIVEN
    corpus is deterministic, not a per-run coin flip, and the driver's
    exact all-pairs oracles hash-check every registered key that
    consumes this plan, so a miss cannot pass silently. The 8x2 shape
    is measured verified-pair EXACT vs the oracle on both sweep
    corpora at both thresholds (r13 probe + the pinned twin test).

    Candidate volume vs band shape (WHY 8x2 is the registered
    default, r13 / VERDICT r12 item 4): with r=1 bands a random pair
    collides with probability ~b·E[J_random] — a quadratic floor of
    ~16·E[J]·n²/2 per block even on a low-density corpus (measured:
    3.8% of pairs at E[J]≈2e-3, r9 rehearsal; 142 s by x10 on the
    rehearsal corpus, ~9.4e8 candidates extrapolated at x100).
    ``rows_per_band=2`` (same 16 minhashes, 8 bands of 2) squares the
    random-collision rate to ~8·E[J]² (831-974x fewer candidates at
    that density) and is measured SUBLINEAR-in-docs through x100
    (31.6 s — BASELINE.md "Low-density dedup rehearsal"). At a true
    100 TB corpus the next rungs on the same ladder are r=3+ bands
    and lang/length blocking, which only shrink the same E[J]^r
    floor. Both shapes measured x1/x10/x100 in BASELINE.md."""
    r = rows_per_band
    ratio_ok = _size_ratio_ok("a.n_g", "b.n_g", threshold)
    band_keys = (
        f"transform(array({', '.join(map(str, range(_MINHASH_K // r)))}),"
        f" x_8 -> xxhash64({', '.join(f'sig[x_8 * {r} + {k}]' for k in range(r))}))"
    )
    # The band rows are posexploded from one band-key array (the
    # token key explodes an array of structs instead): both are
    # registered plans, so one generator for both would be a plan
    # change.
    return f"""
WITH d AS (
  SELECT doc_id, lang, array_distinct(transform(sequence(1, greatest(length(text) - {_NGRAM_N - 1}, 1)), i -> substring(text, i, {_NGRAM_N}))) AS grams
  FROM {{documents}}
), sizes AS (
  SELECT lang, count(1) AS n_lang FROM d GROUP BY lang
), slim AS (
  SELECT /*+ BROADCAST(sizes) */ *
  FROM (SELECT doc_id, lang, size(grams) AS n_g FROM d) JOIN sizes USING (lang)
), small AS (
  SELECT * FROM slim WHERE n_lang <= {block_t}
), banded AS (
  SELECT doc_id, lang, n_g, sig, posexplode({band_keys}) AS (band, bsig)
  FROM (
    SELECT doc_id, lang, size(grams) AS n_g, {_minhash_sig("grams")} AS sig
    FROM (
      SELECT /*+ BROADCAST(s) */ *
      FROM d JOIN (SELECT * FROM sizes WHERE n_lang > {block_t}) AS s USING (lang)
    )
  )
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_g AS na, b.n_g AS nb
  FROM small a JOIN small b ON a.lang = b.lang AND a.doc_id < b.doc_id AND {ratio_ok}
  UNION ALL
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_g AS na, b.n_g AS nb
  FROM banded a JOIN banded b
    ON a.lang = b.lang AND a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      AND {ratio_ok}
  WHERE a.band = {_first_agreeing_band("a.sig", "b.sig", r)}
)
{out}"""


def ngram_verified_pairs(d: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """``_ngram_verify_sql`` over the frames ``d`` and ``pairs`` of
    ``ngram_candidate_pairs``: (doc_a, doc_b, ngram_jaccard)."""
    return sql_over(
        d.sparkSession, _ngram_verify_sql("{pairs}", "{d}", threshold), pairs=pairs, d=d
    )


def ngram_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    block_t: int = _NGRAM_BLOCK_T,
    rows_per_band: int = _NGRAM_MH_R,
):
    """``(d, pairs)`` of ``_ngram_sql`` as frames, for a verify tail of
    the caller's (``ngram_verified_pairs``, the rehearsal's candidate
    counts)."""
    docs = load(spark, sf_dir, "documents")
    return tuple(
        sql_over(
            spark,
            _ngram_sql(threshold, f"SELECT * FROM {cte}", block_t, rows_per_band),
            documents=docs,
        )
        for cte in ("d", "pairs")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup + IVF ANN
# ---------------------------------------------------------------------------

_COS_T = 0.45
_EMB_DIM = 64  # fixed by the data model (FIXTURES.md; oracle uses range(1,65))


# Vector math over array<double> columns as Spark SQL text, the one
# spelling every HOF-form key composes. Lambda variables are named
# x_N/y_N/z_N as PySpark names its own; a builder used inside another
# lambda's body gets names that lambda does not use. ``0D`` is the
# double zero the folds start from (``0.0`` is a decimal in Spark SQL).
# A CTE that stages a column in an inner tier (``ve``, then its norm)
# aliases that tier with the CTE's own name: Catalyst's CollapseProject
# counts a column's uses per qualifier, so under two qualifiers a
# staged HOF column is inlined and evaluated twice.


def _as_double(arr: str) -> str:
    """``arr`` cast element-wise to array<double>."""
    return f"transform({arr}, x_0 -> CAST(x_0 AS DOUBLE))"


def _zip_sum(a: str, b: str, term: str) -> str:
    """Sum over the element pairs (``x_1`` of ``a``, ``y_1`` of ``b``)
    of ``term``, folded in element order from 0."""
    return f"aggregate(zip_with({a}, {b}, (x_1, y_1) -> {term}), 0D, (x_2, y_2) -> x_2 + y_2)"


def _dot(a: str, b: str) -> str:
    """Dot product via zip_with + aggregate HOFs — measured the best
    JVM-side strategy (BASELINE.md round-5 A/B at x1 and x100):
    an unrolled 64-term scalar chain generates one huge codegen
    method the JIT refuses to compile (2x SLOWER than the HOF at
    x100), and an Arrow-vectorized numpy pandas_udf wins only at
    x100 scale (0.41 s vs 0.61 s) while losing 2x at bench scale.
    Brute-force scoring is the declared BASELINE op anyway — at
    100 TB similarity search runs the IVF/LSH keys (llm_ann_ivf,
    llm_ann_hyperplane), where this dot evaluates only the pruned
    candidate set."""
    return _zip_sum(a, b, "x_1 * y_1")


def _norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (x_3, y_3) -> x_3 + y_3 * y_3))"


def _cos(a: str, b: str) -> str:
    return f"{_dot(a, b)} / ({_norm(a)} * {_norm(b)})"


def _sq_dist(x: str, c: str) -> str:
    """Squared L2 distance as |x|^2 + |c|^2 - 2 x.c (one dot per pair
    once the two self-dots are staged)."""
    return f"{_dot(x, x)} + {_dot(c, c)} - {_dot(x, c)} * 2"


def _mean_vector(vec: str, dim: int = _EMB_DIM) -> str:
    """Aggregate: the per-dimension ``avg`` of ``vec`` reassembled into
    an array — ONE map-side-combinable shuffle carrying (key, ``dim``
    partials), vs posexplode's ``dim``x row explosion + 2 shuffles."""
    return "array(" + ", ".join(f"avg({vec}[{i}])" for i in range(dim)) + ")"


def _embedding_matrix(b):
    """``(vec_id, (n, dim) float64 matrix)`` of one Arrow embeddings
    batch for the ``mapInArrow`` scorers: the list column's contiguous
    values buffer is reshaped without per-row boxing."""
    import numpy as np
    import pyarrow as pa

    col = b.column(b.schema.get_field_index("embedding"))
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    mat = np.asarray(col.flatten(), dtype=np.float64).reshape(b.num_rows, -1)
    ids = np.asarray(b.column(b.schema.get_field_index("vec_id")), dtype=np.int64)
    return ids, mat


def ball_cover_stages(v: DataFrame, cos_t: float, dim: int):
    """The ball-cover near-dup machinery, reusable at any threshold
    (the scale rehearsal drives it at a production T=0.9 — see
    scripts/rehearsal_embedding_gate.py and BASELINE.md §LLM).

    Input ``v``: (vec_id, label, ve) where ``label`` is the cell
    assignment (any coarse quantizer). Returns (probes, candidates,
    pairs): the gated probe replicas, the candidate pairs BEFORE the
    exact cosine verify (for pruning-factor measurement), and the
    verified qualifying pairs.
    """
    spark = v.sparkSession
    with temp_views(spark, v=v) as names:
        return tuple(
            spark.sql(_ball_cover_sql(cos_t, dim, stage).format(**names))
            for stage in ("probes", "candidates", "pairs")
        )


def _ball_cover_sql(cos_t: float, dim: int, stage: str) -> str:
    """The ball-cover stages over ``{v}`` as one SQL text selecting
    ``stage``. Norms are per VECTOR (n rows), not per PAIR; the
    unit-normalized copy vh drives the geometric gate, raw ve drives
    the exact cosine (identical expression to the oracle for
    FP-rounding parity). ``cells`` has nlist rows (cell, cvec,
    radius); the probe cross join is n x nlist, linear not quadratic,
    and the candidate join is an equi-join on cell id."""
    radius_gate = math.sqrt(2.0 - 2.0 * cos_t)  # R on the unit sphere
    d_to_cell = f"sqrt({_zip_sum('vh', 'cvec', '(x_1 - y_1) * (x_1 - y_1)')})"
    cos = f"{_dot('a_ve', 'b_ve')} / (a_nrm * b_nrm)"
    return f"""
WITH vn AS (
  SELECT vec_id, label, ve, nrm, transform(ve, x_4 -> x_4 / nrm) AS vh
  FROM (SELECT vec_id, label, ve, {_norm("ve")} AS nrm FROM {{v}} AS vn) AS vn
), cent AS (
  SELECT label AS cell, {_mean_vector("vh", dim)} AS cvec FROM vn GROUP BY label
), rad AS (
  SELECT cell, max(d) AS radius
  FROM (SELECT /*+ BROADCAST(cent) */ cell, {d_to_cell} AS d FROM vn JOIN cent ON label = cell)
  GROUP BY cell
), cells AS (
  SELECT * FROM cent JOIN rad USING (cell)
), probes AS (
  SELECT /*+ BROADCAST(cells) */ vec_id AS a_id, ve AS a_ve, nrm AS a_nrm, cell
  FROM vn CROSS JOIN cells
  WHERE {d_to_cell} <= {radius_gate!r}D + radius + 1.0E-6D
), members AS (
  SELECT vec_id AS b_id, ve AS b_ve, nrm AS b_nrm, label AS cell FROM vn
), candidates AS (
  SELECT * FROM probes JOIN members USING (cell) WHERE a_id < b_id
), pairs AS (
  SELECT a_id AS vec_a, b_id AS vec_b, round({cos}, 4) AS cos_sim
  FROM candidates WHERE {cos} >= {cos_t!r}D
)
SELECT * FROM {stage}
"""


@query(
    "llm_dedup_embedding",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_dot_product(a.ve, b.ve)
                 / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))), 4)
             AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.ve, b.ve)
          / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve))) >= {_COS_T}
    """,
)
def llm_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.45; this
    synthetic corpus' max pairwise cosine is ~0.51, so the threshold
    selects the genuine near-dup tail).

    Scale plan — CELL-BLOCKED with a ball-cover recall-1.0 bound, not
    all-pairs. cos(x,y) >= T on the unit sphere is Euclidean
    d(x̂,ŷ) <= R = sqrt(2-2T). Cells = the label column (the same
    coarse quantizer ``llm_ann_ivf`` uses); per cell we take the
    centroid c and radius(c) = max member distance. Triangle
    inequality: a qualifying pair (x,y) has
    d(x̂, c_cell(y)) <= d(x̂,ŷ) + d(ŷ, c_cell(y)) <= R + radius(c),
    so replicating every vector to each cell within R + radius(c)
    (+1e-6 FP slack — widening only, so recall stays exactly 1.0 and
    precision is restored by the exact verify) makes the candidate
    join an EQUI-JOIN on cell id: replicated probes x members, a<b,
    exact cosine verify. Each qualifying pair is emitted exactly once
    (only via x -> cell(y) under a.vec_id < b.vec_id), so no dedup
    pass. On this dense synthetic corpus (T=0.45 => R~1.05, cells
    wide) the gate degenerates to near-full replication — but the
    plan SHAPE is the 100 TB one: at a production dedup threshold
    (T>=0.9 => R<=0.45) on cluster-structured data, replication ~1
    and each vector meets only its neighborhood cells' posting lists
    (MEASURED at ×10 with T=0.9: see BASELINE.md §LLM — replication
    1.000×, 62× candidate pruning vs all-pairs, recall 1.0 against a
    cluster-blocked exact truth). The oracle stays the O(n^2) exact
    join —
    recall 1.0 means identical output. Machinery shared via
    :func:`ball_cover_stages`."""
    v = load(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "label", f"{_as_double('embedding')} AS ve"
    )
    _, _, pairs = ball_cover_stages(v, _COS_T, _EMB_DIM)
    return pairs


@query(
    "llm_ann_ivf",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), cent_dims AS (
      SELECT label, i, AVG(ve[i]) AS cv
      FROM v, range(1, 65) t(i)
      GROUP BY label, i
    ), cent AS (
      SELECT label AS clabel, array_agg(cv ORDER BY i) AS cvec
      FROM cent_dims GROUP BY label
    ), q AS (
      SELECT vec_id AS query_id, ve AS qv FROM v WHERE vec_id % 100 = 0
    ), assigned AS (
      SELECT query_id, qv, clabel,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY list_dot_product(qv, cvec)
                        / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cvec, cvec)))
                        DESC, clabel) AS rn
      FROM q CROSS JOIN cent
    ), probe AS (
      SELECT query_id, qv, clabel FROM assigned WHERE rn = 1
    ), cands AS (
      SELECT p.query_id, p.clabel AS probe_label, v.vec_id AS neighbor_id,
             ROUND(list_dot_product(v.ve, p.qv)
                   / (sqrt(list_dot_product(v.ve, v.ve)) * sqrt(list_dot_product(p.qv, p.qv))), 4)
               AS cos_sim
      FROM probe p JOIN v ON v.label = p.clabel AND v.vec_id <> p.query_id
    ), ranked AS (
      SELECT query_id, probe_label, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cands
    )
    SELECT query_id, CAST(probe_label AS INTEGER) AS probe_label,
           neighbor_id, cos_sim, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
)
def llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbor: coarse quantizer =
    per-label centroid (a deterministic one-step Lloyd assignment —
    nlist=10), nprobe=1, exact cosine top-3 within the probed cell.

    This is the scale path for similarity search: the corpus is
    partitioned by centroid cell (posting lists), a query scores
    10 centroids instead of the corpus, then scans exactly one cell.
    On a cluster the cells are physical partitions (partitionBy on
    cell id), so the probe is partition pruning; centroids and probe
    assignments are broadcast. Brute-force baseline for recall
    comparison is ``llm_cosine_topk``/``llm_knn_join``."""
    return sql_over(spark, _ANN_IVF_SQL, embeddings=load(spark, sf_dir, "embeddings"))


# The oracle's range(1,65) unnest computes the same centroid values.
_ANN_IVF_SQL = f"""
WITH emb AS (
  SELECT vec_id, label, {_as_double("embedding")} AS ve FROM {{embeddings}}
), cent AS (
  SELECT label AS clabel, {_mean_vector("ve")} AS cvec FROM emb GROUP BY label
), q AS (
  SELECT vec_id AS query_id, ve AS qv FROM emb WHERE vec_id % 100 = 0
), probe AS (
  SELECT query_id, qv, clabel
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, clabel) AS rn
    FROM (SELECT /*+ BROADCAST(cent) */ *, {_cos("qv", "cvec")} AS ccos FROM q CROSS JOIN cent)
  )
  WHERE rn = 1
), cands AS (
  SELECT /*+ BROADCAST(probe) */ query_id, CAST(clabel AS INT) AS probe_label,
         vec_id AS neighbor_id, round({_cos("ve", "qv")}, 4) AS cos_sim
  FROM emb JOIN probe ON label = clabel AND vec_id != query_id
)
SELECT query_id, probe_label, neighbor_id, cos_sim, rnk
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM cands
)
WHERE rnk <= 3
"""


_IVF_SEED_MIX = 2654435761  # Knuth multiplicative hash constant


def ivf_scaled_plan(
    spark: SparkSession, sf_dir: str, nlist: int, query_mod: int = 100
) -> DataFrame:
    """IVF ANN with a SIZED quantizer — the production-scaling form of
    ``llm_ann_ivf`` (r8 verdict item 5: the registered key's fixed
    nlist=10 label quantizer makes the ×100 rehearsal quadratic BY
    CONFIG; this plan sizes nlist ∝ √n so probe work is O(n^1.5),
    the true IVF asymptotic).

    Quantizer: ``nlist`` seed vectors chosen by a deterministic
    multiplicative-hash order over vec_id (corpus-spread, replica-
    shift-proof — a modulus rule would collapse onto one id per
    replica on the shifted-key rehearsal corpus). Seeds are BOUNDED
    driver metadata (nlist×64 doubles ≤ √n rows — the ≤20-query-
    vector collect precedent, documented cap). Assignment is one
    Arrow ``mapInPandas`` pass: each batch scores (batch,64)@(64,
    nlist) against the L2-normalized seed matrix and takes the
    argmax (ties broken toward the smaller cell id by numpy argmax's
    first-max rule, matching the SQL ``ORDER BY cos DESC, cell``
    tie-break); vectors and their norms pass through so the probe
    join needs no second corpus scan or re-derivation (staged-norm
    rule). Probe: queries (vec_id % query_mod == 0, nprobe=1) are a
    bounded broadcast side; candidates = equi-join on cell id, exact
    cosine, top-3 per query via rank window.

    nprobe=1 with a refined quantizer trades recall for probe size —
    the honest ANN trade; recall@3 vs the exact brute-force top-3 is
    measured by ``scripts/rehearsal_ivf_scaled.py`` and recorded in
    BASELINE/SCALE. One-shot total work (assign n·nlist + probe
    nq·n/nlist, nq = n/query_mod) is minimized at nlist ≈ √nq;
    index-amortized deployments (build once, query forever) size
    nlist ≈ √n. Both are ∝ √n on this corpus shape.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_as_double("embedding")).alias("ve")
    )
    h = F.pmod(F.col("vec_id") * F.lit(_IVF_SEED_MIX), F.lit(2**31))
    seed_rows = (
        emb.withColumn("h", h).orderBy("h", "vec_id").limit(nlist).select("ve").collect()
    )
    seeds = np.array([r["ve"] for r in seed_rows], dtype=np.float64)
    seeds_n = seeds / np.linalg.norm(seeds, axis=1, keepdims=True)

    def assign(it):
        import pandas as pd

        for pdf in it:
            if not len(pdf):
                continue
            mat = np.array(pdf["ve"].tolist(), dtype=np.float64)
            norms = np.linalg.norm(mat, axis=1)
            # cosine argmax == dot argmax against UNIT seeds after
            # dividing by the row norm (row norm is per-vector
            # constant, so it cannot change the argmax — but keep it
            # for the emitted norm column)
            cell = (mat @ seeds_n.T).argmax(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "ve": pdf["ve"],
                    "vnorm": norms,
                    "cell": cell.astype(np.int32),
                }
            )

    # Barrier: the probe join references `assigned` on BOTH sides
    # (corpus + query subset), and a self-join of a derived frame has
    # NO DAG reuse — without the checkpoint the Arrow assignment pass
    # (corpus matmul + transfer) executes twice plus once more for
    # the broadcast side (r6 lesson; llm_bm25_topk precedent).
    assigned = emb.mapInPandas(
        assign, "vec_id long, ve array<double>, vnorm double, cell int"
    ).localCheckpoint(eager=False)
    q = assigned.where(F.col("vec_id") % query_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("ve").alias("qv"),
        F.col("vnorm").alias("qnorm"),
        F.col("cell").alias("qcell"),
    )

    # Probe = COGROUP BY CELL + per-cell BLAS (the production IVF
    # shape: posting lists are partitions, a probe scores one cell's
    # members as a single (members,64)@(64,cell_queries) product and
    # emits ONLY each query's top-3 — no per-candidate row stream
    # exists anywhere in the plan). The broadcast-join + HOF-dot +
    # rank-window alternative was MEASURED and replaced: 8.9M
    # lambda-fold cosines cost ~12 s of the 13 s ×100 total; this
    # form emits ≤ 3·nq rows straight out of the Arrow worker.
    # Ranking matches the window form exactly: scores rounded to 4dp
    # BEFORE ranking, ties broken by neighbor_id asc (np.lexsort on
    # (id, -cos) == ORDER BY cos DESC, id).
    def probe(members, queries):
        import numpy as np  # noqa: F811 (worker-side import)
        import pandas as pd

        if not len(members) or not len(queries):
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "cell": pd.Series(dtype="int32"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "cos_sim": pd.Series(dtype="float64"),
                    "rnk": pd.Series(dtype="int32"),
                }
            )
        mat = np.array(members["ve"].tolist(), dtype=np.float64)
        mid = members["vec_id"].to_numpy()
        mn = members["vnorm"].to_numpy()
        qmat = np.array(queries["qv"].tolist(), dtype=np.float64)
        qid = queries["query_id"].to_numpy()
        qn = queries["qnorm"].to_numpy()
        sims = np.round((mat @ qmat.T) / np.outer(mn, qn), 4)
        out = []
        cell = int(members["cell"].iloc[0])
        for j in range(len(qid)):
            col = sims[:, j].copy()
            col[mid == qid[j]] = -np.inf  # self-match excluded
            top = np.lexsort((mid, -col))[: min(3, len(mid) - 1)]
            for r, t in enumerate(top, start=1):
                out.append((int(qid[j]), cell, int(mid[t]), float(col[t]), r))
        return pd.DataFrame(
            out, columns=["query_id", "cell", "neighbor_id", "cos_sim", "rnk"]
        )

    return (
        assigned.groupby("cell")
        .cogroup(q.groupby("qcell"))
        .applyInPandas(
            probe,
            "query_id long, cell int, neighbor_id long, cos_sim double, rnk int",
        )
    )


@query(
    "llm_vector_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), scaled AS (
      SELECT vec_id, ve,
             127.0 / list_max(list_transform(ve, x -> abs(x))) AS sc
      FROM v
    ), quant AS (
      SELECT vec_id, ve, sc,
             list_transform(ve, x -> round(x * sc)) AS qv
      FROM scaled
    ), q0 AS (
      SELECT qv AS q_q, sc AS sc_q, ve AS ve_q FROM quant WHERE vec_id = 0
    ), scored AS (
      SELECT a.vec_id,
             list_dot_product(a.qv, q0.q_q) / (a.sc * q0.sc_q)
               / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(q0.ve_q, q0.ve_q)))
               AS approx_cos,
             list_dot_product(a.ve, q0.ve_q)
               / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(q0.ve_q, q0.ve_q)))
               AS exact_cos
      FROM quant a, q0
      WHERE a.vec_id <> 0
    )
    SELECT vec_id, ROUND(approx_cos, 4) AS approx_cos, ROUND(exact_cos, 4) AS exact_cos,
           ROUND(abs(approx_cos - exact_cos), 4) AS quant_err
    FROM scored
    ORDER BY ROUND(approx_cos, 4) DESC, vec_id
    LIMIT 10
    """,
)
def llm_vector_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of embeddings: per-vector symmetric
    scale (127/max|x|), quantized dot product rescaled back, compared
    against the exact cosine (top-10 vs query vec_id=0, with the
    quantization error surfaced).

    The 100 TB rationale: int8 vectors cut the similarity-search
    working set 4x (memory AND shuffle bytes); the rescaled dot
    product is exact enough for candidate generation, with exact
    re-scoring only on the top-k — this operator measures exactly
    that error. ADAPTIVE like ``llm_cosine_topk`` (round-6 legacy
    sweep: the original single-Project form re-evaluated the HOF dot
    subtrees up to 3x per row — Catalyst does not CSE non-cheap
    expressions — and measured 19.3x DuckDB at x100): below the
    Arrow threshold the staged-Projection HOF plan (one tier per
    reused non-cheap column, each dot evaluated once); at/above it,
    ``mapInArrow`` numpy — quantization, both dot products and the
    norms are three BLAS ops per Arrow batch, and only each batch's
    local top-10 crosses back (batch-local top-10 under the global
    order contains the global top-10). round() half-away-from-zero
    agrees between Spark, DuckDB, and the numpy copysign/floor
    form."""
    from .llm import _COSINE_ARROW_MIN_ROWS

    if not rows_below("llm_vector_quantize", sf_dir, "embeddings", _COSINE_ARROW_MIN_ROWS):
        return _vector_quantize_arrow(spark, sf_dir)
    return sql_over(
        spark, _VECTOR_QUANTIZE_SQL, embeddings=load(spark, sf_dir, "embeddings")
    )


# Staged projections: every reused non-cheap column gets its own tier
# so each HOF evaluates exactly once per row.
_VECTOR_QUANTIZE_SQL = f"""
WITH quant AS (
  SELECT vec_id, ve, sc, nrm, transform(ve, x_4 -> round(x_4 * sc, 0)) AS qv
  FROM (
    SELECT vec_id, ve, 127.0D / array_max(transform(ve, x_4 -> abs(x_4))) AS sc,
           {_norm("ve")} AS nrm
    FROM (SELECT vec_id, {_as_double("embedding")} AS ve FROM {{embeddings}}) AS quant
  ) AS quant
), q0 AS (
  SELECT qv AS q_q, sc AS sc_q, ve AS ve_q, nrm AS nrm_q FROM quant WHERE vec_id = 0
), raw AS (
  SELECT vec_id, dq / (sc * sc_q) / denom AS approx, de / denom AS exact
  FROM (
    SELECT /*+ BROADCAST(q0) */ vec_id, sc, sc_q, nrm * nrm_q AS denom,
           {_dot("qv", "q_q")} AS dq, {_dot("ve", "ve_q")} AS de
    FROM (SELECT * FROM quant WHERE vec_id != 0) CROSS JOIN q0
  )
)
SELECT vec_id, round(approx, 4) AS approx_cos, round(exact, 4) AS exact_cos,
       round(abs(approx - exact), 4) AS quant_err
FROM raw
ORDER BY approx_cos DESC, vec_id
LIMIT 10
"""


def _vector_quantize_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batch numpy path of ``llm_vector_quantize`` (large
    corpora). Quantization rounds half-away-from-zero via
    copysign(floor(|v| + 0.5)) — for |v| <= 127 every k+0.5 is an
    exact double, so this is bit-identical to Spark's BigDecimal
    HALF_UP and DuckDB's round(); the final 4-decimal rounding uses
    np.round per the llm_cosine_topk precedent (cross-path equality
    asserted in tests on the full sf corpus)."""
    import numpy as np
    import pyarrow as pa

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_rows = emb.where(F.col("vec_id") == 0).select("embedding").collect()
    if not q_rows:
        # vec_id=0 absent: HOF-path parity (empty broadcast side →
        # zero rows), not IndexError (round-6 ADVICE)
        return spark.createDataFrame(
            [], "vec_id bigint, approx_cos double, exact_cos double, quant_err double"
        )
    ve0 = np.asarray(q_rows[0][0], dtype=np.float64)
    sc_q = 127.0 / np.max(np.abs(ve0))
    q_q = np.copysign(np.floor(np.abs(ve0 * sc_q) + 0.5), ve0 * sc_q)
    nrm_q = np.sqrt(ve0 @ ve0)

    out_schema = "vec_id bigint, approx_cos double, exact_cos double, quant_err double"

    def score(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids, mat = _embedding_matrix(b)
            sc = 127.0 / np.max(np.abs(mat), axis=1)
            scaled = mat * sc[:, None]
            qv = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled)
            denom = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * nrm_q
            approx = (qv @ q_q) / (sc * sc_q) / denom
            exact = (mat @ ve0) / denom
            a4 = np.round(approx, 4)
            e4 = np.round(exact, 4)
            err = np.round(np.abs(approx - exact), 4)
            idx = np.flatnonzero(ids != 0)
            order = np.lexsort((ids[idx], -a4[idx]))[:10]
            sel = idx[order]
            yield pa.record_batch(
                [
                    pa.array(ids[sel], type=pa.int64()),
                    pa.array(a4[sel], type=pa.float64()),
                    pa.array(e4[sel], type=pa.float64()),
                    pa.array(err[sel], type=pa.float64()),
                ],
                names=["vec_id", "approx_cos", "exact_cos", "quant_err"],
            )

    scored = emb.mapInArrow(score, out_schema)
    return scored.orderBy(F.col("approx_cos").desc(), "vec_id").limit(10)


@query(
    "llm_kmeans_step",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), c0 AS (
      SELECT label AS cid, array_agg(cv ORDER BY i) AS cvec FROM (
        SELECT label, i, AVG(ve[i]) AS cv FROM v, range(1, 65) t(i) GROUP BY label, i
      ) GROUP BY label
    ), a1 AS (
      SELECT vec_id, ve, cid, d2, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT v.vec_id, v.ve, c0.cid,
               list_dot_product(ve, ve) + list_dot_product(cvec, cvec)
                 - 2 * list_dot_product(ve, cvec) AS d2
        FROM v CROSS JOIN c0
      )
    ), asg1 AS (
      SELECT vec_id, ve, cid FROM a1 WHERE rn = 1
    ), c1 AS (
      SELECT cid, array_agg(cv ORDER BY i) AS cvec FROM (
        SELECT cid, i, AVG(ve[i]) AS cv FROM asg1, range(1, 65) t(i) GROUP BY cid, i
      ) GROUP BY cid
    ), a2 AS (
      SELECT vec_id, cid, d2, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      FROM (
        SELECT g.vec_id, c1.cid,
               list_dot_product(g.ve, g.ve) + list_dot_product(c1.cvec, c1.cvec)
                 - 2 * list_dot_product(g.ve, c1.cvec) AS d2
        FROM asg1 g CROSS JOIN c1
      )
    )
    SELECT CAST(cid AS INTEGER) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(AVG(d2), 4) AS avg_sq_dist
    FROM a2 WHERE rn = 1
    GROUP BY cid
    """,
)
def llm_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd iteration of k-means (k=10) on the embeddings:
    deterministic init from per-label centroids, assign (squared-L2
    argmin, tie-break by cluster id), recompute centroids, reassign —
    then report cluster sizes and mean squared distance (inertia/n).

    The iterative-algorithm shape on DataFrames: each iteration is
    assign (broadcast k centroids, argmin via window) + update (k x
    dim map-side-combinable aggregate). At 100 TB you cache() the
    assigned DataFrame per iteration and checkpoint() every few
    rounds to truncate plan lineage; centroids (k x 64 doubles)
    always fit in a broadcast. Distance uses
    |x|^2 + |c|^2 - 2 x.c so the per-pair work is one dot product."""

    return sql_over(spark, _KMEANS_STEP_SQL, embeddings=load(spark, sf_dir, "embeddings"))


def _kmeans_assign_sql(vecs: str, cent: str) -> str:
    """Assign step: each vector of ``vecs`` to its nearest centroid of
    ``cent`` (broadcast), as (vec_id, ve, cid, d2)."""
    return f"""
  SELECT vec_id, ve, cid, d2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM (SELECT /*+ BROADCAST({cent}) */ *, {_sq_dist("ve", "cvec")} AS d2
          FROM {vecs} CROSS JOIN {cent})
  )
  WHERE rn = 1"""


_KMEANS_STEP_SQL = f"""
WITH v AS (
  SELECT vec_id, label, {_as_double("embedding")} AS ve FROM {{embeddings}}
), c0 AS (
  SELECT label AS cid, {_mean_vector("ve")} AS cvec FROM v GROUP BY label
), asg1 AS ({_kmeans_assign_sql("v", "c0")}
), c1 AS (
  SELECT cid, {_mean_vector("ve")} AS cvec FROM asg1 GROUP BY cid
), asg2 AS ({_kmeans_assign_sql("(SELECT vec_id, ve FROM asg1)", "c1")}
)
SELECT CAST(cid AS INT) AS cluster_id, count(1) AS n_vecs, round(avg(d2), 4) AS avg_sq_dist
FROM asg2
GROUP BY CAST(cid AS INT)
"""


# ---------------------------------------------------------------------------
# Dedup-cluster resolution: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_CLUSTER_T = 0.70  # lower than the pair op's 0.8: clusters, not merges

_PAIR_SQL = f"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               generate_series(1, greatest(length(text) - {_NGRAM_N - 1}, 1)),
               i -> substr(text, CAST(i AS INTEGER), {_NGRAM_N}))) AS grams
      FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
            >= {_CLUSTER_T}
    )
"""


def _ngram_pairs(
    spark: SparkSession, sf_dir: str, threshold: float, rows_per_band: int = _NGRAM_MH_R
) -> DataFrame:
    """Char-3-gram Jaccard >= threshold near-dup pairs (doc_a, doc_b),
    lang-blocked: ``llm_dedup_ngram``'s hybrid banded plan
    (``_ngram_sql``) at the caller's threshold."""
    return sql_over(
        spark,
        _ngram_sql(
            threshold,
            f"SELECT doc_a, doc_b FROM ({_ngram_verify_sql('pairs', 'd', threshold)})",
            rows_per_band=rows_per_band,
        ),
        documents=load(spark, sf_dir, "documents"),
    )


def min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components over an undirected (doc_a, doc_b) pair
    frame via iterative min-label propagation; returns (node, label)
    with label = min doc_id in the component. ``localCheckpoint`` per
    superstep cuts lineage; the only driver-side work is one bounded
    convergence count per iteration (the canonical iterative-graph
    shape — at 100 TB swap in large-star/small-star, SoCC'14, same
    join+agg primitive, O(log n) supersteps)."""
    edges = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("t")).unionByName(
        pairs.select(F.col("doc_b").alias("s"), F.col("doc_a").alias("t"))
    )
    edges = edges.localCheckpoint(eager=True)  # pairs computed once, not per superstep
    labels = (
        edges.select(F.col("s").alias("node")).distinct().withColumn("label", F.col("node"))
    ).localCheckpoint(eager=True)
    for _ in range(32):  # >= diameter of any plausible dup cluster
        msgs = edges.join(labels, edges["s"] == labels["node"]).select(
            F.col("t").alias("node"), "label"
        )
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)  # cut lineage per superstep
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@query(
    "llm_dedup_clusters",
    oracle=_PAIR_SQL
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
    comp AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n)
    SELECT cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list_sort(list(doc_id)), ',') AS member_ids
    FROM comp GROUP BY cluster_id
    """,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cluster resolution: connected components over the
    near-dup pair graph (char-3-gram Jaccard >= 0.7, lang-blocked) via
    iterative min-label propagation; cluster id = min doc_id in the
    component. This is the step after any pairwise near-dup op — a
    training-data pipeline keeps one doc per CLUSTER, not per pair
    (A~B, B~C must collapse A,B,C together even when A!~C).

    Oracle is DuckDB's recursive-CTE transitive closure — a genuinely
    different algorithm computing the same fixpoint."""
    pairs = _ngram_pairs(spark, sf_dir, _CLUSTER_T)
    labels = min_label_components(pairs)
    # member_ids serialized with array_join (mirrored by the oracle's
    # array_to_string): pandas-based comparison harnesses cannot hash
    # array cells (numpy arrays are unhashable)
    return labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(F.sort_array(F.collect_list("node")), ",").alias("member_ids"),
    ).select(F.col("label").alias("cluster_id"), "n_docs", "member_ids")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH ANN (sign-of-dot-product signatures)
# ---------------------------------------------------------------------------

_N_PLANES = 16
_HAM_T = 4  # candidate gate: signature hamming distance <= 4 of 16
_N_QUERIES = 5


def _rademacher(i: int, j: int) -> float:
    """Deterministic ±1 hyperplane entry from md5 — no RNG anywhere,
    so Spark and the oracle share the exact same planes as literals."""
    h = hashlib.md5(f"hp_{i}_{j}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


_PLANES = [[_rademacher(i, j) for j in range(_EMB_DIM)] for i in range(_N_PLANES)]


def _sig_spark_sql(ve: str) -> str:
    """16-bit signature as Spark SQL text: bit i = (ve . plane_i >= 0)."""
    sig = "CAST(0 AS BIGINT)"
    for i, plane in enumerate(_PLANES):
        arr = "array(" + ", ".join(f"{v}D" for v in plane) + ")"
        sig += f" + CASE WHEN {_dot(ve, arr)} >= 0 THEN {1 << i} ELSE 0 END"
    return sig


def _sig_sql() -> str:
    terms = []
    for i, plane in enumerate(_PLANES):
        arr = "[" + ", ".join(str(v) for v in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(ve, {arr}) >= 0 THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


@query(
    "llm_ann_hyperplane",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ),
    s AS (SELECT vec_id, ve, {_sig_sql()} AS sig FROM v),
    q AS (
      SELECT vec_id AS query_id, ve AS qv, sig AS qsig
      FROM s WHERE vec_id < {_N_QUERIES}
    ),
    cand AS (
      SELECT query_id, s.vec_id AS neighbor_id,
             ROUND(list_dot_product(s.ve, qv)
                   / (sqrt(list_dot_product(s.ve, s.ve)) * sqrt(list_dot_product(qv, qv))),
                   4) AS cos_sim
      FROM s JOIN q
        ON s.vec_id <> q.query_id
       AND bit_count(xor(s.sig, q.qsig)) <= {_HAM_T}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cos_sim
    FROM ranked WHERE rnk <= 3
    """,
)
def llm_ann_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (Charikar'02): 16-bit
    sign-of-dot-product signature per vector (±1 hyperplanes derived
    from md5 — deterministic, shared with the oracle as literals),
    candidates gated on signature hamming <= 4, exact-cosine rerank
    top-3 per query. Complements llm_ann_ivf (coarse-quantizer cells)
    with the other classic ANN family (binary sketches). Approximate
    by design — the oracle replicates the same approximation, so
    results hash-match exactly. Signatures are a pure map (no
    shuffle) and the candidate join is banded on the signature, so
    probe cost follows bucket sizes, not corpus size.

    ADAPTIVE (round-6 legacy sweep; same switch as llm_cosine_topk):
    the 16 signature dots are HOF folds — 32M lambda-driven dots at
    ×100 measured 15.3× DuckDB's native list_dot_product — so at or
    above the Arrow threshold a mapInArrow path computes signatures
    via ONE BLAS dgemm guarded by a rigorous forward-error
    certificate (r7; see the in-body comment): any row whose |dot|
    falls inside the provable BLAS-vs-fold divergence bound reruns
    the bit-exact sequential fold, so the sign gate remains EXACTLY
    the HOF gate while the bulk runs at matmul speed (the r6 form ran
    the exact fold for EVERY row — 64 vectorized passes, 3.12× at
    ×100). Gated candidates rerank with the exact fold; only
    batch-local top-3 per query cross back."""
    from .llm import _COSINE_ARROW_MIN_ROWS

    if not rows_below("llm_ann_hyperplane", sf_dir, "embeddings", _COSINE_ARROW_MIN_ROWS):
        return _ann_hyperplane_arrow(spark, sf_dir)
    return sql_over(
        spark, _ANN_HYPERPLANE_SQL, embeddings=load(spark, sf_dir, "embeddings")
    )


_ANN_HYPERPLANE_SQL = f"""
WITH s AS (
  SELECT vec_id, ve, {_sig_spark_sql("ve")} AS sig
  FROM (SELECT vec_id, {_as_double("embedding")} AS ve FROM {{embeddings}}) AS s
), q AS (
  SELECT vec_id AS query_id, ve AS qv, sig AS qsig FROM s WHERE vec_id < {_N_QUERIES}
), cand AS (
  SELECT /*+ BROADCAST(q) */ query_id, vec_id AS neighbor_id,
         round({_cos("ve", "qv")}, 4) AS cos_sim
  FROM s JOIN q ON vec_id != query_id AND bit_count(sig ^ qsig) <= {_HAM_T}
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cos_sim
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
  FROM cand
)
WHERE rnk <= 3
"""


def _fold_dot(mat, vec):
    """Sequential-fold dot products of every row of ``mat`` (n, dim)
    with ``vec`` — the same per-element products and the same
    addition ORDER as the JVM HOF fold aggregate(zip_with(a,b,x*y),
    0.0, s+v), so results are bit-identical doubles (a BLAS matmul
    reorders the sums)."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for d in range(mat.shape[1]):
        acc += mat[:, d] * vec[d]
    return acc


def _ann_hyperplane_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batch numpy path of ``llm_ann_hyperplane`` (large
    corpora). Signatures, norms, and rerank dots all use the exact
    sequential fold (see _fold_dot) so the sign gate and the rounded
    cosines are bit-identical to the HOF path; the hamming gate is a
    16-bit popcount table lookup."""
    import numpy as np
    import pyarrow as pa

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planes = np.asarray(_PLANES, dtype=np.float64)  # (16, dim)
    weights = (1 << np.arange(_N_PLANES, dtype=np.int64))
    pop = np.asarray([bin(x).count("1") for x in range(1 << _N_PLANES)], dtype=np.int64)

    q_rows = sorted(
        emb.where(F.col("vec_id") < _N_QUERIES).collect(), key=lambda r: r[0]
    )
    qids = np.asarray([r[0] for r in q_rows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in q_rows], dtype=np.float64)  # (m, dim)
    qsig = np.asarray(
        [
            int(sum(w for w, p in zip(weights, planes) if _fold_dot(qv[None, :], p)[0] >= 0))
            for qv in qmat
        ],
        dtype=np.int64,
    )
    qnrm = np.sqrt([_fold_dot((qv * qv)[None, :], np.ones(len(qv)))[0] for qv in qmat])

    out_schema = "query_id bigint, neighbor_id bigint, cos_sim double"

    def score(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            ids, mat = _embedding_matrix(b)
            # signature dots via ONE BLAS dgemm plus a RIGOROUS
            # error-bound gate (r7, replaces the 64-pass exact d-loop
            # at 3.12×): for ANY summation order the computed dot
            # satisfies |comp - true| <= gamma * sum|a_i b_i| with
            # gamma = dim*u/(1-dim*u), u = 2^-53 (Higham 3.5) — both
            # the BLAS product and the HOF fold individually. So when
            # |blas| > 2*gamma*(|mat|@|planes|) the TRUE dot (hence
            # the fold) provably shares its sign; only rows failing
            # that certificate — none in the synthetic corpus, a
            # measure-zero sliver in general — rerun the bit-exact
            # sequential fold. The sign gate stays EXACTLY the HOF
            # gate, now at dgemm speed.
            pt = planes.T  # (dim, 16)
            dim = mat.shape[1]
            sacc = mat @ pt  # (n, 16) BLAS
            u = 2.0 ** -53
            gamma = dim * u / (1 - dim * u)
            absb = np.abs(mat) @ np.abs(pt)
            unsafe = np.flatnonzero(
                (np.abs(sacc) <= 2 * gamma * absb).any(axis=1)
            )
            for r in unsafe:
                sacc[r] = _fold_dot(
                    np.ascontiguousarray(planes), mat[r]
                )
            sig = ((sacc >= 0) * weights).sum(axis=1)
            # norms feed only the 4dp-ROUNDED cosine (no gate):
            # einsum's reordered sum differs from the fold by ~1 ulp,
            # tie at the rounding boundary is measure-zero — the
            # llm_cosine_topk precedent, pinned by the cross-path test
            nrm = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            oq, on, oc = [], [], []
            for j in range(len(qids)):
                ham = pop[np.bitwise_xor(sig, qsig[j])]
                cand = np.flatnonzero((ham <= _HAM_T) & (ids != qids[j]))
                if cand.size == 0:
                    continue
                dots = _fold_dot(mat[cand], qmat[j])
                cos = np.round(dots / (nrm[cand] * qnrm[j]), 4)
                order = np.lexsort((ids[cand], -cos))[:3]
                sel = cand[order]
                oq.extend([qids[j]] * len(sel))
                on.extend(ids[sel].tolist())
                oc.extend(cos[order].tolist())
            if oq:
                yield pa.record_batch(
                    [
                        pa.array(oq, type=pa.int64()),
                        pa.array(on, type=pa.int64()),
                        pa.array(oc, type=pa.float64()),
                    ],
                    names=["query_id", "neighbor_id", "cos_sim"],
                )

    cand = emb.mapInArrow(score, out_schema)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"), "cos_sim")
    )


# ---------------------------------------------------------------------------
# llm_dedup_keep_list — cluster-representative selection
# ---------------------------------------------------------------------------


def _keep_list_oracle() -> str:
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

    Plan shape: the pair plan is llm_dedup_ngram's hybrid banded plan
    at 0.7 (``_ngram_pairs``); components via min_label_components
    (bounded label propagation); the keep decision is a LEFT ANTI-shaped join of the corpus
    against the dropped set (clustered docs whose id != label) —
    corpus passes once. The oracle resolves the same fixpoint with a
    recursive CTE. At 100 TB the dropped set is the small side
    (dup fraction of the corpus) and broadcasts."""
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
# llm_dedup_url_canon — URL-canonicalization dedup
# ---------------------------------------------------------------------------


@query(
    "llm_dedup_url_canon",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Src' ELSE 'https://www.src' END)
             || CAST(doc_id % 5 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '.Example.COM' ELSE '.example.com' END)
             || '/p/' || CAST(doc_id % 500 AS VARCHAR)
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_campaign=y' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents
    ), canon AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   lower(regexp_extract(url, '^([^/]+//[^/?#]+)', 1))
                     || regexp_extract(url, '^[^/]+//[^/?#]+(.*)$', 1),
                   '#.*$', '', 'g'),
                 'utm_[^&#]*&?', '', 'g'),
               '[?&/]+$', '', 'g') AS curl
      FROM u
    )
    SELECT regexp_extract(curl, '^https://([^/]+)', 1) AS host,
           CAST(SUM(n_dups) AS BIGINT) AS n_urls,
           CAST(COUNT(*) AS BIGINT) AS n_canonical,
           CAST(SUM(survivor_id) AS BIGINT) AS survivor_id_sum
    FROM (
      SELECT curl, COUNT(*) AS n_dups, MIN(doc_id) AS survivor_id
      FROM canon
      GROUP BY curl
    )
    GROUP BY 1
    """,
)
def llm_dedup_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-pipeline step before
    any content dedup: the same page arrives as HTTP/HTTPS, cased
    hosts, trailing slashes, utm_* tracking params and fragments;
    canonicalize (lowercase scheme+authority, drop fragment, strip
    utm_* params, trim trailing separators) and keep the min-doc_id
    representative per canonical URL. Synthetic messy URLs are built
    deterministically from doc_id (the corpus has no URL column), so
    each canonical group collapses case/slash/param/fragment variants.

    All codegen regexp (Java regex and DuckDB RE2 agree on this
    subset, 'g'-flagged in the oracle to match Spark's replace-all);
    dedup is a two-level aggregate — groupBy(curl) keeps the min-doc_id
    representative (map-side combinable, same shape as llm_dedup_exact),
    then per-host rollup. ``survivor_id_sum`` pins WHICH doc survives
    each group, not merely how many (a count alone is derivable from
    n_canonical and would add no oracle power)."""
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS://WWW.Src")).otherwise(
            F.lit("https://www.src")
        ),
        (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
        F.lit("/p/"),
        (F.col("doc_id") % 500).cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 4 == 0, F.lit("?utm_source=x&utm_campaign=y")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    curl = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.concat(
                    F.lower(F.regexp_extract(url, r"^([^/]+//[^/?#]+)", 1)),
                    F.regexp_extract(url, r"^[^/]+//[^/?#]+(.*)$", 1),
                ),
                r"#.*$",
                "",
            ),
            r"utm_[^&#]*&?",
            "",
        ),
        r"[?&/]+$",
        "",
    )
    canon = d.select("doc_id", curl.alias("curl"))
    groups = canon.groupBy("curl").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("survivor_id"),
    )
    return groups.groupBy(
        F.regexp_extract("curl", r"^https://([^/]+)", 1).alias("host")
    ).agg(
        F.sum("n_dups").alias("n_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("survivor_id").alias("survivor_id_sum"),
    )


# ---------------------------------------------------------------------------
# llm_semdedup — cluster-blocked semantic (embedding) dedup
# ---------------------------------------------------------------------------

_SEM_T = 0.3  # cosine threshold; synthetic embeddings are near-random
# unit vectors (within-cluster cos: p50 0.001, p99 0.295, max 0.475 at
# sf0.01), so 0.3 marks the "suspiciously similar" tail — 176/500
# vectors removed at sf0.01, comfortably non-vacuous at every SF


@query(
    "llm_semdedup",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), c0 AS (
      SELECT label AS cid, array_agg(cv ORDER BY i) AS cvec FROM (
        SELECT label, i, AVG(ve[i]) AS cv FROM v, range(1, 65) t(i) GROUP BY label, i
      ) GROUP BY label
    ), asg AS (
      SELECT vec_id, ve, cid FROM (
        SELECT v.vec_id, v.ve, c0.cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
                 list_dot_product(ve, ve) + list_dot_product(cvec, cvec)
                   - 2 * list_dot_product(ve, cvec), cid) AS rn
        FROM v CROSS JOIN c0
      ) WHERE rn = 1
    ), removed AS (
      SELECT DISTINCT b.vec_id, b.cid
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.ve, b.ve)
            / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve)))
            >= {_SEM_T}
    )
    SELECT CAST(asg.cid AS INTEGER) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(COUNT(removed.vec_id) AS BIGINT) AS n_removed,
           CAST(COUNT(*) - COUNT(removed.vec_id) AS BIGINT) AS n_kept
    FROM asg LEFT JOIN removed
      ON asg.vec_id = removed.vec_id AND asg.cid = removed.cid
    GROUP BY 1
    """,
)
def llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public
    method): cluster the embeddings, then WITHIN each cluster drop
    every vector that has a lower-id neighbor above a cosine
    threshold — the representative-keeping rule made deterministic
    (keep-min-id, the same convention as llm_dedup_exact). Cluster
    assignment is the deterministic per-label-centroid argmin step
    shared with llm_kmeans_step.

    The whole point at 100 TB: candidate pairs are generated per
    CLUSTER (a self-join on cid), never corpus-wide — with k sized
    ~n/1000 the within-cluster quadratic is bounded, which is exactly
    how the published method scales, and the blocking key is an
    equi-join column so Spark shuffles each cluster to one place
    (skew-safe: cluster sizes are centroid-balanced). Plan shape
    (audited): the argmin assignment is MAP-SIDE — all k centroids
    ride one broadcast row and the nearest cid is an ``array_min``
    over a per-row (d2, cid) struct array, the ``geo_nearest_hub``
    pattern — so the corpus is never shuffled for assignment (the
    obvious crossJoin + row_number window would shuffle n·k rows);
    the removed-count groupBy rides the self-join's cid partitioning
    (no extra exchange). Reports per-cluster corpus/removed/kept
    counts; cosine/d2 values come from identical IEEE expression
    trees on both engines so the threshold compare cannot diverge."""
    return sql_over(spark, _SEMDEDUP_SQL, embeddings=load(spark, sf_dir, "embeddings"))


# All k centroids ride ONE broadcast row; the argmin by (d2, cid)
# struct ordering == the oracle's ROW_NUMBER(ORDER BY d2, cid). The
# removed vectors are counted per cluster straight from the pair
# stream: count(DISTINCT b.vec_id) per cid rides the join's cid
# partitioning — no standalone distinct exchange, no re-join against
# the corpus (b is removed iff ANY lower-id a matches).
_SEMDEDUP_SQL = f"""
WITH v AS (
  SELECT vec_id, label, {_as_double("embedding")} AS ve FROM {{embeddings}}
), cents AS (
  SELECT collect_list(struct(cid, cvec)) AS cents
  FROM (SELECT label AS cid, {_mean_vector("ve")} AS cvec FROM v GROUP BY label)
), asg AS (
  SELECT /*+ BROADCAST(cents) */ vec_id, ve,
         array_min(transform(cents, z_7 -> struct({_sq_dist("ve", "z_7.cvec")} AS d2,
                                                  z_7.cid AS cid))).cid AS cid
  FROM v CROSS JOIN cents
), flagged AS (
  SELECT a.cid AS cid, count(DISTINCT b.vec_id) AS n_removed
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE {_dot("a.ve", "b.ve")}
        / (sqrt({_dot("a.ve", "a.ve")}) * sqrt({_dot("b.ve", "b.ve")})) >= {_SEM_T}D
  GROUP BY a.cid
)
SELECT cluster_id, n_vecs, coalesce(n_removed, 0) AS n_removed,
       n_vecs - coalesce(n_removed, 0) AS n_kept
FROM (SELECT CAST(cid AS INT) AS cluster_id, count(1) AS n_vecs FROM asg GROUP BY CAST(cid AS INT))
LEFT JOIN (SELECT CAST(cid AS INT) AS cluster_id, n_removed FROM flagged) USING (cluster_id)
"""
