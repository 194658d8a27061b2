"""Near-duplicate detection + approximate-nearest-neighbor search —
the training-data-pipeline extensions beyond MinHash (which lives in
``llm.py``): SimHash, character-n-gram Jaccard, embedding-cosine
near-dup, IVF-bucketed and random-hyperplane ANN, and the keys built
on near-dup pairs (connected-component clusters, keep list, URL
canonicalization, cluster-blocked semantic dedup). The array-vector
helpers ``_dot``/``_norm``/``_as_double`` are defined here once.

Scale design (the 100 TB story for each):
- SimHash: per-doc 32-bit signature is a pure map (one pass, no
  shuffle); candidate generation is a self-join on (band, band-bits)
  buckets — pigeonhole guarantees recall 1.0 for hamming <= BANDS-1,
  so the verify step (cheap ``bit_count(xor)``) only sees bucketed
  pairs. Cost: sum of bucket sizes squared, never O(n^2) corpus-wide.
- n-gram Jaccard: exact verify here is blocked per ``lang`` (the
  natural shard key); at 100 TB the candidate prune is MinHash-LSH
  over the n-gram sets (same banding machinery as llm.py), with this
  operator as the verify tail.
- embedding near-dup / IVF ANN: the corpus side is partitioned by
  coarse-quantizer cell (here: label-derived centroids), so a probe
  touches one partition's posting list instead of the corpus — the
  same partition-pruning shape Spark applies to partitioned parquet.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60, portable_hash60_sql
from ..registry import query
from ..tables import load

def first_eq_band(eq_at, n_bands: int):
    """First band index j in [0, n_bands) where ``eq_at(j)`` holds,
    else -1 — as a short-circuiting scalar ``CASE WHEN`` chain.

    Canonical-band emission filters the LSH bucket join's output on
    ``a.band == first matching band``. Building that via
    ``array_position(zip_with(a.sig, b.sig, eq), True)`` allocates
    two ArrayData per CANDIDATE row (pre-filter, ~16x the pair
    count), which measured 2.8x slower than the whole r3 pipeline at
    the x10 rehearsal. A nested when-chain stays in whole-stage
    codegen with zero allocation and stops at the first true
    comparison — expected cost ~2 scalar compares per row instead of
    2 array builds + a 16-element scan.
    """
    expr = F.lit(-1)
    for j in reversed(range(n_bands)):
        expr = F.when(eq_at(j), F.lit(j)).otherwise(expr)
    return expr


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

_SIMHASH_BITS = 32
_SIMHASH_BANDS = 4  # 4 bands x 8 bits: recall 1.0 for hamming <= 3
_HAMMING_T = 3


def _bit_set(i: int):
    # single-param closure: a 2-arg lambda would be read by F.filter
    # as an (element, index) lambda, turning i into a Column
    return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1


def _simhash32(hs):
    """32-bit SimHash of an array<long> of token hashes: bit i is set
    iff the majority of token hashes have bit i set."""
    n = F.size(hs)
    fp = F.lit(0).cast("long")
    for i in range(_SIMHASH_BITS):
        ones = F.size(F.filter(hs, _bit_set(i)))
        fp = fp + F.when(ones * 2 > n, F.lit(1 << i)).otherwise(F.lit(0))
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
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.transform(F.split("text", " "), lambda t: portable_hash60(t)).alias("hs"),
    )
    fp = d.select("doc_id", _simhash32(F.col("hs")).alias("f"))
    band_bits = _SIMHASH_BITS // _SIMHASH_BANDS
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("f", b * band_bits).bitwiseAND(F.lit(mask)).alias("bval"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    banded = fp.select("doc_id", "f", F.explode(bands).alias("bk")).select(
        "doc_id", "f", F.col("bk.band").alias("band"), F.col("bk.bval").alias("bval")
    )
    a, b = banded.alias("a"), banded.alias("b")
    # canonical-band emission (see llm_dedup_near_minhash): copies of
    # a pair land in different (band, bval) shuffle partitions, so a
    # pair dedup cannot partial-combine map-side — emit each pair
    # only from the FIRST band on which the fingerprints agree (both
    # fingerprints are already in the row; zero extra width).
    fa, fb = F.col("a.f"), F.col("b.f")
    first_band = first_eq_band(
        lambda j: F.shiftright(fa, j * band_bits).bitwiseAND(F.lit(mask))
        == F.shiftright(fb, j * band_bits).bitwiseAND(F.lit(mask)),
        _SIMHASH_BANDS,
    )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(F.col("a.band") == first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.f").alias("fa"),
            F.col("b.f").alias("fb"),
        )
    )
    ham = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.where(ham <= _HAMMING_T)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
    )


# ---------------------------------------------------------------------------
# Character n-gram Jaccard near-dup
# ---------------------------------------------------------------------------

_NGRAM_N = 3
_NGRAM_T = 0.8
_NGRAM_MH_K = 16  # total gram minhashes (xxhash64, fixed salts 0..15)
# r13 (VERDICT r12 item 4): the REGISTERED band shape is now the
# production 8 bands x 2 rows — the 16x1 shape's per-block candidate
# floor is b*E[J_random]*n^2/2 (a quadratic term measured at 142 s by
# x10 on the low-density rehearsal corpus, extrapolated ~9.4e8
# candidates at x100), while 8x2 squares the random-collision rate
# (~8*E[J]^2), measured sublinear-in-docs through x100 (31.6 s,
# BASELINE.md "Low-density dedup rehearsal"). Recall on the fixed
# salts is DETERMINISTIC per corpus and oracle-checked: 8x2 is
# verified-pair EXACT vs the all-pairs oracle on both sweep corpora
# at both consumer thresholds (0.80/0.70); the 16x1 twin stays
# test-pinned (test_ngram_candidate_plan_cross_form_equality).
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
      gram sets, K=16 deterministic minhashes (xxhash64, salt=i),
      regrouped 8 bands x 2 rows (the PRODUCTION shape, registered
      default since r13 — sublinear-in-docs measured through x100;
      the 16x1 shape's b·E[J]·n²/2 random-collision floor is
      quadratic, and recall of 8x2 on the fixed salts is
      deterministic + oracle-exact on the sweep corpora, miss bound
      (1-J²)^8 ~ 2.8e-4 at exactly J=0.8); bucket self-join carries
      only (doc_id, n_g, band, bsig); pair dedup; gram arrays
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

    r9: the hybrid candidate plan is extracted as
    ``ngram_candidate_pairs`` and SHARED with the downstream cluster
    resolution keys (``llm_dedup_clusters``/``llm_dedup_keep_list``
    via ``_ngram_pairs``), which previously ran the
    brute-force self-join at every block size."""
    d, pairs = ngram_candidate_pairs(spark, sf_dir, _NGRAM_T)
    return ngram_verified_pairs(d, pairs, _NGRAM_T).select(
        "doc_a", "doc_b", F.round("ngram_jaccard", 4).alias("ngram_jaccard")
    )


def ngram_verified_pairs(d: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard VERIFY tail over candidate pairs — the second
    half of the shared plan whose first half is
    ``ngram_candidate_pairs`` (one definition for the registered
    keys, the cluster keys, and the rehearsal harness — r9 review
    finding #6: the join posture and union arithmetic must not drift
    between what ships and what gets measured). Re-attaches each
    side's gram set by doc_id (auto-broadcast at test SF, shuffle at
    scale) and keeps pairs with |A∩B| / (|A|+|B|−|A∩B|) >= threshold;
    returns (doc_a, doc_b, ngram_jaccard[double, unrounded])."""
    cand = pairs.join(
        d.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("grams_a")),
        "doc_a",
    ).join(
        d.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("grams_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    union = (F.col("na") + F.col("nb")).cast("double") - inter
    jac = inter / union
    return cand.where(jac >= threshold).select(
        "doc_a", "doc_b", jac.alias("ngram_jaccard")
    )


def ngram_candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float,
    block_t: int = _NGRAM_BLOCK_T,
    rows_per_band: int = _NGRAM_MH_R,
):
    """Shared hybrid near-dup CANDIDATE plan over char-3-gram sets
    (the llm_dedup_ngram machinery, threshold-parameterized for the
    cluster keys' 0.70). Returns ``(d, pairs)``:

    - ``d``: (doc_id, lang, grams) — for the caller's verify tail;
    - ``pairs``: (doc_a, doc_b, na, nb) candidates, size-ratio
      prefiltered; blocks with <= ``block_t`` docs via within-lang
      brute-force self-join (slim rows), larger blocks via MinHash
      banding (registered default: the production 8x2 shape, r13)
      with canonical-band emission (one emission per pair, no dedup
      exchange).

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
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(length(text) - {_NGRAM_N - 1}, 1)),"
            f" i -> substring(text, i, {_NGRAM_N}))"
        )
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "lang", grams.alias("grams"))
    sizes = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    slim = d.select("doc_id", "lang", F.size("grams").alias("n_g")).join(
        F.broadcast(sizes), "lang"
    )
    size_ratio_ok = (
        F.least(F.col("a.n_g"), F.col("b.n_g")).cast("double")
        >= threshold * F.greatest(F.col("a.n_g"), F.col("b.n_g"))
    )

    # --- small blocks: within-lang brute force over slim rows
    small = slim.where(F.col("n_lang") <= block_t)
    a, b = small.alias("a"), small.alias("b")
    small_pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & size_ratio_ok,
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n_g").alias("na"),
        F.col("b.n_g").alias("nb"),
    )

    # --- large blocks: MinHash banding over gram sets (16 minhashes
    # total: 8x2 registered shape since r13, 16x1 with rows_per_band=1)
    r = rows_per_band
    n_bands = _NGRAM_MH_K // r
    big = d.join(F.broadcast(sizes.where(F.col("n_lang") > block_t)), "lang")
    sig = F.transform(
        F.array(*[F.lit(i) for i in range(_NGRAM_MH_K)]),
        lambda i: F.array_min(F.transform(F.col("grams"), lambda g: F.xxhash64(g, i))),
    )
    # band signature: the band's single minhash at r=1, the xxhash of
    # the band's r-tuple otherwise (bucket key only — band equality in
    # the canonical-emission gate below compares the COMPONENTS)
    bands = F.transform(
        F.array(*[F.lit(j) for j in range(n_bands)]),
        lambda j: (
            F.col("sig")[j]
            if r == 1
            else F.xxhash64(*[F.col("sig")[j * r + k] for k in range(r)])
        ),
    )
    banded = (
        big.select(
            "doc_id", "lang", F.size("grams").alias("n_g"), sig.alias("sig")
        )
        .select(
            "doc_id",
            "lang",
            "n_g",
            "sig",
            F.posexplode(bands).alias("band", "bsig"),
        )
    )
    ba, bb = banded.alias("a"), banded.alias("b")
    # canonical-band emission (see llm_dedup_near_minhash): the first
    # band where every minhash COMPONENT agrees is exact — one
    # emission per pair, no pair-dedup exchange. The 16-long array
    # adds ~128 B to the banded row (not the multi-KB gram arrays the
    # slim-row rule bans). At r>1 the exploded bsig is a hash of the
    # band tuple, so the component equality below also screens out
    # xxhash bucket collisions.
    def _band_eq(j):
        eq = F.col("a.sig")[j * r] == F.col("b.sig")[j * r]
        for k in range(1, r):
            eq = eq & (F.col("a.sig")[j * r + k] == F.col("b.sig")[j * r + k])
        return eq

    first_true_band = first_eq_band(_band_eq, n_bands)
    big_pairs = (
        ba.join(
            bb,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ratio_ok,
        )
        .where(F.col("a.band") == first_true_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_g").alias("na"),
            F.col("b.n_g").alias("nb"),
        )
    )
    # The gram re-attach joins downstream are UNHINTED: d is the full
    # corpus (auto-broadcast at test SF, shuffled hash join on doc_id
    # at 100 TB — a broadcast hint would ship the corpus everywhere).
    return d, small_pairs.unionByName(big_pairs)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup + IVF ANN
# ---------------------------------------------------------------------------

_COS_T = 0.45
_EMB_DIM = 64  # fixed by the data model (FIXTURES.md; oracle uses range(1,65))


def _dot(a, b):
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
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


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
    import math

    # Norms per VECTOR (n rows), not per PAIR; unit-normalized copy
    # vh drives the geometric gate, raw ve drives the exact cosine
    # (identical expression to the oracle for FP-rounding parity).
    v = v.select(
        "vec_id", "label", "ve", _norm(F.col("ve")).alias("nrm")
    ).select(
        "vec_id", "label", "ve", "nrm",
        F.transform("ve", lambda x: x / F.col("nrm")).alias("vh"),
    )
    radius_gate = math.sqrt(2.0 - 2.0 * cos_t)  # R on the unit sphere

    cent = (
        v.groupBy("label")
        .agg(*[F.avg(F.col("vh")[i]).alias(f"c{i}") for i in range(dim)])
        .select(
            F.col("label").alias("cell"),
            F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("cvec"),
        )
    )

    def _d_to(cvec_col):
        return F.sqrt(
            F.aggregate(
                F.zip_with(F.col("vh"), cvec_col, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda s, x: s + x,
            )
        )

    rad = (
        v.join(F.broadcast(cent), v.label == cent.cell)
        .select("cell", _d_to(F.col("cvec")).alias("d"))
        .groupBy("cell")
        .agg(F.max("d").alias("radius"))
    )
    cells = cent.join(rad, "cell")  # nlist rows: (cell, cvec, radius)

    probes = (
        v.crossJoin(F.broadcast(cells))  # n x nlist, linear not quadratic
        .where(_d_to(F.col("cvec")) <= F.lit(radius_gate) + F.col("radius") + F.lit(1e-6))
        .select(
            F.col("vec_id").alias("a_id"),
            F.col("ve").alias("a_ve"),
            F.col("nrm").alias("a_nrm"),
            "cell",
        )
    )
    members = v.select(
        F.col("vec_id").alias("b_id"),
        F.col("ve").alias("b_ve"),
        F.col("nrm").alias("b_nrm"),
        F.col("label").alias("cell"),
    )
    cos = _dot(F.col("a_ve"), F.col("b_ve")) / (F.col("a_nrm") * F.col("b_nrm"))
    candidates = probes.join(members, ["cell"]).where(  # equi-join on cell id
        F.col("a_id") < F.col("b_id")
    )
    pairs = candidates.where(cos >= cos_t).select(
        F.col("a_id").alias("vec_a"),
        F.col("b_id").alias("vec_b"),
        F.round(cos, 4).alias("cos_sim"),
    )
    return probes, candidates, pairs


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
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("ve")
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
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("ve")
    )
    # Centroid = 64 per-dimension avg aggregates reassembled into an
    # array: ONE map-side-combinable shuffle carrying (label, 64
    # partials) — vs posexplode's 64x row explosion + 2 shuffles.
    # (The oracle's range(1,65) unnest computes the same values.)
    dim = _EMB_DIM
    cent = (
        emb.groupBy("label")
        .agg(*[F.avg(F.col("ve")[i]).alias(f"c{i}") for i in range(dim)])
        .select(
            F.col("label").alias("clabel"),
            F.array(*[F.col(f"c{i}") for i in range(dim)]).alias("cvec"),
        )
    )
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("ve").alias("qv")
    )
    cq_cos = _dot(F.col("qv"), F.col("cvec")) / (_norm(F.col("qv")) * _norm(F.col("cvec")))
    w_assign = Window.partitionBy("query_id").orderBy(F.desc("ccos"), "clabel")
    probe = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("ccos", cq_cos)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("query_id", "qv", "clabel")
    )
    cos = _dot(F.col("ve"), F.col("qv")) / (_norm(F.col("ve")) * _norm(F.col("qv")))
    cands = emb.join(
        F.broadcast(probe),
        (emb.label == probe.clabel) & (emb.vec_id != probe.query_id),
    ).select(
        "query_id",
        F.col("clabel").cast("int").alias("probe_label"),
        F.col("vec_id").alias("neighbor_id"),
        F.round(cos, 4).alias("cos_sim"),
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), "neighbor_id")
    return (
        cands.withColumn("rnk", F.row_number().over(w_rank))
        .where(F.col("rnk") <= 3)
        .select("query_id", "probe_label", "neighbor_id", "cos_sim", "rnk")
    )


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
        "vec_id", _as_double("embedding").alias("ve")
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
    from .llm import _COSINE_ARROW_MIN_ROWS, _embeddings_nrows

    if _embeddings_nrows(sf_dir) >= _COSINE_ARROW_MIN_ROWS:
        return _vector_quantize_arrow(spark, sf_dir)
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("ve")
    )
    # staged projections: every reused non-cheap Column gets its own
    # tier so each HOF evaluates exactly once per row
    scaled = v.select(
        "vec_id",
        "ve",
        (F.lit(127.0) / F.array_max(F.transform("ve", lambda x: F.abs(x)))).alias("sc"),
        _norm(F.col("ve")).alias("nrm"),
    )
    quant = scaled.select(
        "vec_id",
        "ve",
        "sc",
        "nrm",
        F.transform("ve", lambda x: F.round(x * F.col("sc"), 0)).alias("qv"),
    )
    q0 = quant.where(F.col("vec_id") == 0).select(
        F.col("qv").alias("q_q"), F.col("sc").alias("sc_q"), F.col("ve").alias("ve_q"),
        F.col("nrm").alias("nrm_q"),
    )
    a = quant.where(F.col("vec_id") != 0).crossJoin(F.broadcast(q0))
    dots = a.select(
        "vec_id",
        "sc",
        "sc_q",
        (F.col("nrm") * F.col("nrm_q")).alias("denom"),
        _dot(F.col("qv"), F.col("q_q")).alias("dq"),
        _dot(F.col("ve"), F.col("ve_q")).alias("de"),
    )
    raw = dots.select(
        "vec_id",
        (F.col("dq") / (F.col("sc") * F.col("sc_q")) / F.col("denom")).alias("approx"),
        (F.col("de") / F.col("denom")).alias("exact"),
    )
    scored = raw.select(
        "vec_id",
        F.round(F.col("approx"), 4).alias("approx_cos"),
        F.round(F.col("exact"), 4).alias("exact_cos"),
        F.round(F.abs(F.col("approx") - F.col("exact")), 4).alias("quant_err"),
    )
    return scored.orderBy(F.col("approx_cos").desc(), "vec_id").limit(10)


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
            n = b.num_rows
            if n == 0:
                continue
            col = b.column(b.schema.get_field_index("embedding"))
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            flat = np.asarray(col.flatten(), dtype=np.float64)
            mat = flat.reshape(n, -1)
            sc = 127.0 / np.max(np.abs(mat), axis=1)
            scaled = mat * sc[:, None]
            qv = np.copysign(np.floor(np.abs(scaled) + 0.5), scaled)
            denom = np.sqrt(np.einsum("ij,ij->i", mat, mat)) * nrm_q
            approx = (qv @ q_q) / (sc * sc_q) / denom
            exact = (mat @ ve0) / denom
            a4 = np.round(approx, 4)
            e4 = np.round(exact, 4)
            err = np.round(np.abs(approx - exact), 4)
            ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")), dtype=np.int64
            )
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

    def assign(vecs: DataFrame, cent: DataFrame) -> DataFrame:
        d2 = (
            _dot(F.col("ve"), F.col("ve"))
            + _dot(F.col("cvec"), F.col("cvec"))
            - 2 * _dot(F.col("ve"), F.col("cvec"))
        )
        w = Window.partitionBy("vec_id").orderBy("d2", "cid")
        return (
            vecs.crossJoin(F.broadcast(cent))
            .withColumn("d2", d2)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("vec_id", "ve", "cid", "d2")
        )

    def update(assigned: DataFrame) -> DataFrame:
        return (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("ve")[i]).alias(f"c{i}") for i in range(_EMB_DIM)])
            .select("cid", F.array(*[F.col(f"c{i}") for i in range(_EMB_DIM)]).alias("cvec"))
        )

    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("ve")
    )
    c0 = (
        v.groupBy(F.col("label").alias("cid"))
        .agg(*[F.avg(F.col("ve")[i]).alias(f"c{i}") for i in range(_EMB_DIM)])
        .select("cid", F.array(*[F.col(f"c{i}") for i in range(_EMB_DIM)]).alias("cvec"))
    )
    asg1 = assign(v, c0)
    c1 = update(asg1)
    asg2 = assign(asg1.select("vec_id", "ve"), c1)
    return (
        asg2.groupBy(F.col("cid").cast("int").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("d2"), 4).alias("avg_sq_dist"),
        )
    )


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
    spark: SparkSession, sf_dir: str, threshold: float,
    rows_per_band: int | None = None,
) -> DataFrame:
    """Char-3-gram Jaccard >= threshold near-dup pairs, lang-blocked.

    r9: candidates now come from the SHARED hybrid plan
    (``dedup_ann.ngram_candidate_pairs`` — small blocks brute-force,
    large blocks MinHash banding with canonical-band emission; the
    registered band shape is the production 8x2 since r13, see the
    shared plan's docstring).
    Through r8 this ran the brute-force slim self-join at EVERY block
    size, which is quadratic per lang block — fine on the sweep
    corpora, a scale-killer at 100k-doc blocks (the r9 low-density
    rehearsal measures both forms; equality pinned in
    tests/test_engine_units.py). Gram arrays re-attach by an unhinted
    doc_id join — auto-broadcast at test SF, shuffle at scale."""

    d, pairs = ngram_candidate_pairs(
        spark, sf_dir, threshold,
        rows_per_band=_NGRAM_MH_R if rows_per_band is None else rows_per_band,
    )
    return ngram_verified_pairs(d, pairs, threshold).select("doc_a", "doc_b")


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


def _sig_expr():
    """16-bit signature column: bit i = (v . plane_i >= 0)."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(_PLANES):
        lit_arr = F.array(*[F.lit(v) for v in plane])
        sig = sig + F.when(_dot(F.col("ve"), lit_arr) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
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
    from .llm import _COSINE_ARROW_MIN_ROWS, _embeddings_nrows

    if _embeddings_nrows(sf_dir) >= _COSINE_ARROW_MIN_ROWS:
        return _ann_hyperplane_arrow(spark, sf_dir)
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("ve")
    )
    s = v.select("vec_id", "ve", _sig_expr().alias("sig"))
    q = s.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("ve").alias("qv"),
        F.col("sig").alias("qsig"),
    )
    cand = s.join(
        F.broadcast(q),
        (F.col("vec_id") != F.col("query_id"))
        & (F.expr(f"bit_count(sig ^ qsig) <= {_HAM_T}")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(
            _dot(F.col("ve"), F.col("qv")) / (_norm(F.col("ve")) * _norm(F.col("qv"))), 4
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"), "cos_sim")
    )


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
            n = b.num_rows
            if n == 0:
                continue
            col = b.column(b.schema.get_field_index("embedding"))
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            mat = np.asarray(col.flatten(), dtype=np.float64).reshape(n, -1)
            ids = np.asarray(
                b.column(b.schema.get_field_index("vec_id")), dtype=np.int64
            )
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

    Plan shape: the pair plan is llm_dedup_ngram's slim self-join;
    components via min_label_components (bounded label propagation);
    the keep decision is a LEFT ANTI-shaped join of the corpus
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
    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double("embedding").alias("ve")
    )
    c0 = (
        v.groupBy(F.col("label").alias("cid"))
        .agg(*[F.avg(F.col("ve")[i]).alias(f"c{i}") for i in range(_EMB_DIM)])
        .select("cid", F.array(*[F.col(f"c{i}") for i in range(_EMB_DIM)]).alias("cvec"))
    )
    # all k centroids as ONE broadcast row; argmin by (d2, cid) struct
    # ordering == the oracle's ROW_NUMBER(ORDER BY d2, cid)
    cents = c0.agg(F.collect_list(F.struct("cid", "cvec")).alias("cents"))

    def d2_of(c):
        return (
            _dot(F.col("ve"), F.col("ve"))
            + _dot(c["cvec"], c["cvec"])
            - 2 * _dot(F.col("ve"), c["cvec"])
        )

    nearest = F.array_min(
        F.transform(
            "cents", lambda c: F.struct(d2_of(c).alias("d2"), c["cid"].alias("cid"))
        )
    )["cid"]
    asg = v.crossJoin(F.broadcast(cents)).select(
        "vec_id", "ve", nearest.alias("cid")
    )
    a = asg.alias("a")
    b = asg.alias("b")
    cos = _dot(F.col("a.ve"), F.col("b.ve")) / (
        F.sqrt(_dot(F.col("a.ve"), F.col("a.ve")))
        * F.sqrt(_dot(F.col("b.ve"), F.col("b.ve")))
    )
    # count REMOVED vectors per cluster directly from the pair stream:
    # count_distinct(b.vec_id) per cid rides the join's cid
    # partitioning — no standalone distinct exchange, no re-join
    # against the corpus (b is removed iff ANY lower-id a matches)
    flagged = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .where(cos >= _SEM_T)
        .groupBy(F.col("a.cid").alias("cid"))
        .agg(F.count_distinct(F.col("b.vec_id")).alias("n_removed"))
    )
    return (
        asg.groupBy(F.col("cid").cast("int").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .join(
            flagged.select(F.col("cid").cast("int").alias("cluster_id"), "n_removed"),
            "cluster_id",
            "left",
        )
        .select(
            "cluster_id",
            "n_vecs",
            F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            (F.col("n_vecs") - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
        )
    )
