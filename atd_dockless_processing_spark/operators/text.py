"""Text-analysis operators for training-data pipelines: language
identification, quality scoring, BPE-style tokenization, and document
fingerprinting — all pure JVM-side expressions over ``documents``
(no Python UDFs in the hot path), each hash-checked against a DuckDB
oracle running the identical formula.

All four are embarrassingly parallel single-pass maps followed by a
small aggregation — at 100 TB they pipeline inside one scan stage
with map-side partial aggregation; there is no join or wide shuffle
anywhere (the shuffle carries only (group-key, partial-agg) rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash60, portable_hash60_sql
from ..registry import query
from ..tables import load

# ---------------------------------------------------------------------------
# Token-array builders shared by the text, dedup and ROUGE keys
# ---------------------------------------------------------------------------


def _require_column_name(tok_col: str) -> None:
    """The builders interpolate ``tok_col`` into a higher-order-function
    lambda, which Spark interprets per element. A plain column name is a
    bound-reference lookup there; an expression such as
    ``split(text, ' ')`` would re-run once per element — the cost the
    r15 split hoist removed."""
    if not tok_col.isidentifier():
        raise ValueError(f"tok_col must name a projected column, got {tok_col!r}")


def _token_set(col):
    return F.array_distinct(F.split(col, " "))


def _bigrams_from(tok_col: str):
    """Map-side bigram array from an ALREADY-PROJECTED token array
    column (r15 split hoist — see llm_rouge_overlap docstring), empty
    (never NULL) for 0/1-token docs — the txt_ngram_topk sequence
    guard."""
    _require_column_name(tok_col)
    return F.when(
        F.size(tok_col) >= 2,
        F.expr(
            f"transform(sequence(0, size({tok_col}) - 2), "
            f"i -> concat({tok_col}[i], ' ', {tok_col}[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))


def _repetition_g2_from(tok_col: str) -> Column:
    """Guarded word-2-gram build from an ALREADY-PROJECTED token
    array column — the r15 split hoist (see llm_rouge_overlap: HOF
    lambdas are interpreted, so the inline form's
    ``element_at(split(text,' '), i)`` re-ran the full split per
    element, O(n·len) char work per doc; projecting the split once
    makes each access a bound-reference lookup). The INLINE build
    (``_repetition_g2``) stays on the quadratic twin so the cross-form equality pin
    witnesses the hoist as well as the run-length walk.

    1-token guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]) and
    element_at(..., 0) throws — DuckDB's generate_series(1, 0) is
    empty, so short docs must yield an empty gram array here too
    (r14d pin finding; the stock corpus min is 10 tokens, so this was
    a latent crash)."""
    _require_column_name(tok_col)
    return F.expr(
        f"IF(size({tok_col}) < 2, CAST(array() AS ARRAY<STRING>),"
        f" transform(sequence(1, size({tok_col}) - 1),"
        f" i -> concat(element_at({tok_col}, i), ' ',"
        f"             element_at({tok_col}, i + 1))))"
    ).alias("g2")


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------

# Word-unigram marker profiles. NOTE: the synthetic corpus shares one
# vocabulary across all langs (measured this session), so these
# profiles are deterministic stand-ins demonstrating the operator
# shape (profile-score -> argmax); on real text they would be the
# top discriminative n-grams per language.
_LANG_MARKERS = {
    "de": ("window", "batch", "group"),
    "en": ("the", "a", "fast"),
    "es": ("data", "row", "table"),
    "fr": ("merge", "sort", "join"),
    "zh": ("stream", "vector", "hash"),
}
_LANGS = sorted(_LANG_MARKERS)


def _score(markers):
    inlist = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter(split(text, ' '), t -> t IN ({inlist})))")


def _score_sql(markers):
    inlist = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({inlist})))"


def _argmax_case_sql():
    """Alphabetical first-wins argmax over the five scores (CASE with
    >= comparisons — identical tie-break semantics on both engines)."""
    clauses = []
    for i, lang in enumerate(_LANGS[:-1]):
        others = [f"s_{lang} >= s_{o}" for o in _LANGS if o != lang]
        clauses.append(f"WHEN {' AND '.join(others)} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{_LANGS[-1]}' END"


@query(
    "txt_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             {", ".join(f"{_score_sql(_LANG_MARKERS[lg])} AS s_{lg}" for lg in _LANGS)}
      FROM documents
    )
    SELECT lang, {_argmax_case_sql()} AS lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM scored
    GROUP BY 1, 2
    """,
)
def txt_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language identification: score each document
    against per-language marker-token profiles, predict the argmax
    (alphabetical first-wins tie-break), return the (actual,
    predicted) confusion-matrix counts.

    Plan (r11 marker-prefilter rewrite): the naive form runs FIVE
    full filter-HOF traversals of the token array (one per language
    score) — and since the five scores live in one projection, even
    staging the split leaves 5× the lambda work (measured: staging
    alone moved nothing, 2.680 → 2.579 s ×100). Instead the tokens
    are prefiltered ONCE against the union of all 15 marker tokens
    (marker sets are disjoint by construction) into a staged tiny
    array — most documents carry only a handful of markers — and the
    five per-language counts traverse that. One full traversal + five
    tiny ones: ×100 A/B 2.680 s → 1.566 s = **1.75×** vs the paired
    DuckDB 0.892 s (was 2.32×). The staged `__mk` column is its own
    projection tier so CollapseProject cannot re-inline the filter
    into the five consumers (no-CSE rule)."""
    all_markers = ", ".join(
        f"'{m}'" for lg in _LANGS for m in _LANG_MARKERS[lg]
    )
    d = load(spark, sf_dir, "documents").withColumn(
        "__mk", F.expr(f"filter(split(text, ' '), t -> t IN ({all_markers}))")
    )
    for lg in _LANGS:
        inlist = ", ".join(f"'{m}'" for m in _LANG_MARKERS[lg])
        d = d.withColumn(
            f"s_{lg}", F.expr(f"size(filter(__mk, t -> t IN ({inlist})))")
        )
    pred = F.expr(_argmax_case_sql())
    return (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_STOPWORDS = ("the", "a")


@query(
    "txt_quality_score",
    oracle=f"""
    WITH feat AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_toks,
             len(list_distinct(string_split(text, ' '))) AS n_uniq,
             len(list_filter(string_split(text, ' '),
                             t -> t IN ({", ".join(f"'{w}'" for w in _STOPWORDS)}))) AS n_stop,
             length(text) AS n_len
      FROM documents
    ), scored AS (
      SELECT lang,
             0.4 * (CAST(n_uniq AS DOUBLE) / n_toks)
             + 0.3 * (1.0 - CAST(n_stop AS DOUBLE) / n_toks)
             + 0.3 * least(CAST(n_len - n_toks + 1 AS DOUBLE) / n_toks / 8.0, 1.0)
               AS quality
      FROM feat
    )
    SELECT lang,
           CASE WHEN quality >= 0.72 THEN 'high'
                WHEN quality >= 0.55 THEN 'medium'
                ELSE 'low' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(AVG(quality), 4) AS avg_quality
    FROM scored
    GROUP BY 1, 2
    """,
)
def txt_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: type-token ratio, stopword ratio,
    and average token length combined into one score, bucketed into
    tiers — the deterministic analogue of a fasttext-style quality
    filter in a pretraining pipeline."""
    toks = F.split("text", " ")
    n_toks = F.size(toks).cast("double")
    n_uniq = F.size(F.array_distinct(toks)).cast("double")
    inlist = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_stop = F.expr(f"size(filter(split(text, ' '), t -> t IN ({inlist})))").cast("double")
    # chars excluding the n_toks-1 separator spaces, per token
    avg_tok_len = (F.length("text") - n_toks + 1) / n_toks
    quality = (
        F.lit(0.4) * (n_uniq / n_toks)
        + F.lit(0.3) * (F.lit(1.0) - n_stop / n_toks)
        + F.lit(0.3) * F.least(avg_tok_len / 8.0, F.lit(1.0))
    )
    tier = (
        F.when(quality >= 0.72, "high").when(quality >= 0.55, "medium").otherwise("low")
    )
    d = load(spark, sf_dir, "documents").select(
        "lang", quality.alias("quality"), tier.alias("tier")
    )
    return d.groupBy("lang", "tier").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


# ---------------------------------------------------------------------------
# BPE-style regex tokenization
# ---------------------------------------------------------------------------

_BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]+"


@query(
    "txt_token_bpe",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_PATTERN}'))) AS BIGINT) AS total_tokens,
           ROUND(AVG(len(regexp_extract_all(text, '{_BPE_PATTERN}'))), 4) AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def txt_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (alpha runs /
    digit runs / punctuation runs — the GPT-2 pre-tokenizer shape,
    simplified to the character classes both engines' regex dialects
    share). Per-language token totals for pretraining data budgeting.

    r14 optimization round, examined and left: an array-free count
    via ``regexp_count`` is ILLUSORY — RegExpCount is
    RuntimeReplaceable and Catalyst rewrites it to exactly
    ``size(regexp_extract_all(...))`` (verified in the physical
    plan), so the ×100 A/B read a pure wash (−4%/+4% across two
    epochs, 4.9–6.2 s abs). The cost is the java.util.regex matcher
    walk itself — the key's CLOSED-AS-CONSTANT-FACTOR surface
    (SCALE.md: 2.91×, flat absolute) — and no builtin spelling
    removes it."""
    toks = F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)
    d = load(spark, sf_dir, "documents").select("lang", F.size(toks).alias("nt"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.round(F.avg("nt"), 4).alias("avg_tokens"),
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (rolling hash)
# ---------------------------------------------------------------------------

_FP_MOD = 2147483647  # 2^31 - 1: acc*31 + h stays < 2^36, no overflow
_FP_BASE = 31


@query(
    "txt_fingerprint",
    oracle=f"""
    WITH hs AS (
      SELECT doc_id,
             list_transform(string_split(text, ' '),
                            t -> {portable_hash60_sql('t')} % {_FP_MOD}) AS hlist
      FROM documents
      WHERE doc_id < 25
    )
    SELECT doc_id,
           list_reduce(list_concat([CAST(0 AS BIGINT)], hlist),
                       (acc, h) -> (acc * {_FP_BASE} + h) % {_FP_MOD}) AS fingerprint
    FROM hs
    """,
)
def txt_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprint: polynomial rolling hash
    over the token-hash sequence (acc*31 + h mod 2^31-1) — the
    content-defined-chunking / shift-detection primitive. Unlike the
    set-based dedup signatures, token ORDER changes the fingerprint.
    Single-pass map, no shuffle."""
    hs = F.transform(
        F.split("text", " "), lambda t: portable_hash60(t) % _FP_MOD
    )
    fp = F.aggregate(
        hs,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * _FP_BASE + h) % _FP_MOD,
    )
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < 25)
    return d.select("doc_id", fp.alias("fingerprint"))


# ---------------------------------------------------------------------------
# Document chunking (context-window preparation)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24
_CHUNK_DOCS = 20


@query(
    "txt_chunk_docs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id < {_CHUNK_DOCS}
    ),
    starts AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, greatest(len(toks) - 1, 0), {_CHUNK_STRIDE})) AS st
      FROM d
    ),
    chunks AS (
      SELECT doc_id, CAST(st AS BIGINT) AS chunk_start,
             list_slice(toks, st + 1, st + {_CHUNK_SIZE}) AS chunk
      FROM starts
    )
    SELECT doc_id, chunk_start,
           CAST(len(chunk) AS INTEGER) AS n_tokens,
           chunk[1] AS first_tok,
           chunk[-1] AS last_tok
    FROM chunks
    """,
)
def txt_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 32 tokens, stride 24 —
    8-token overlap), the standard context-window preparation step in
    LLM training pipelines. One row in, ceil(n/stride) chunk rows out,
    entirely via JVM-side higher-order functions (sequence + explode +
    slice) — no Python in the loop; at 100 TB this is a pure map-side
    fan-out that pipelines inside the scan stage."""
    d = load(spark, sf_dir, "documents").where(F.col("doc_id") < _CHUNK_DOCS)
    d = d.select("doc_id", F.split("text", " ").alias("toks"))
    starts = d.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("toks") - 1, F.lit(0)),
                F.lit(_CHUNK_STRIDE),
            )
        ).alias("st"),
    )
    chunk = F.expr(f"slice(toks, st + 1, {_CHUNK_SIZE})")
    return starts.select(
        "doc_id",
        F.col("st").cast("long").alias("chunk_start"),
        F.size(chunk).alias("n_tokens"),
        F.element_at(chunk, 1).alias("first_tok"),
        F.element_at(chunk, -1).alias("last_tok"),
    )


# ---------------------------------------------------------------------------
# PII masking
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
_PHONE_RE = "\\+1-[0-9]{3}-[0-9]{4}-[0-9]{4}"


@query(
    "txt_pii_mask",
    oracle=f"""
    WITH pii AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call +1-512-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-'
                  || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS INTEGER) AS n_phones,
           substr(md5(regexp_replace(
             regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g')), 1, 8) AS masked_fp
    FROM pii
    """,
)
def txt_pii_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: mask emails and phone numbers with typed
    placeholder tokens and report per-doc redaction counts plus an
    md5 fingerprint of the masked text (proving both engines produce
    byte-identical redacted output). PII is injected deterministically
    from doc_id since the synthetic corpus has none — the masking
    path itself is exactly the production one.

    Pure projection (regex in whole-stage codegen, zero shuffles) —
    at 100 TB this runs inside the scan stage at I/O speed. The regex
    subset used is shared Java-regex/RE2 syntax so the oracle is
    bit-identical."""
    d = load(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1-512-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
    )
    masked = F.regexp_replace(
        F.regexp_replace(t, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.substring(F.md5(masked), 1, 8).alias("masked_fp"),
    )


# ---------------------------------------------------------------------------
# Repetition filter (Gopher-style duplicate-n-gram screens)
# ---------------------------------------------------------------------------

_REP_DUP_T = 0.30  # duplicate-2-gram fraction threshold
_REP_TOP_T = 0.10  # most-frequent-2-gram fraction threshold


@query(
    "txt_repetition_filter",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, lang,
             list_transform(generate_series(1, len(string_split(text,' ')) - 1),
               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) AS g2
      FROM documents
    ), m AS (
      SELECT lang,
             CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup2_frac,
             CAST(list_max(list_transform(list_distinct(g2),
                  x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) / len(g2) AS top2_frac
      FROM g
    )
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE dup2_frac > {_REP_DUP_T}
                                    OR top2_frac > {_REP_TOP_T}) AS BIGINT) AS n_flagged,
           ROUND(AVG(dup2_frac), 4) AS avg_dup2,
           ROUND(AVG(top2_frac), 4) AS avg_top2
    FROM m GROUP BY lang
    """,
)
def txt_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality screen in the style of the published
    Gopher/MassiveText filtering rules: per document, the fraction of
    word-2-grams that are duplicates and the fraction taken by the
    single most frequent 2-gram; a document exceeding either
    threshold (0.30 / 0.10) is flagged as repetitive boilerplate.
    Reported per language: doc counts, flag counts, average fractions.

    Everything stays per-row map-side work followed by ONE
    map-combinable agg on lang; at 100 TB this runs inside the scan
    stage like txt_pii_mask, cost bounded by document length, not
    corpus size.

    r14 registered plan — sorted run-length walk (the
    llm_rouge_overlap precedent, per-row instead of per-pair): the
    pre-r14 mode count ``array_max(transform(array_distinct(g2),
    x -> size(filter(g2, ...))))`` rescanned the whole gram array once
    per DISTINCT gram — O(d·n) string compares per row, quadratic in
    document length. Both per-doc statistics fall out of ONE
    ``array_sort`` + a linear ``aggregate`` walk: equal sorted
    neighbors extend a run, a new value starts one; max run length =
    max multiplicity and number of runs = distinct count — the SAME
    integers, so dup2_frac / top2_frac and every downstream aggregate
    are bit-identical (including the empty-g2 degenerate: NULL via
    the shared /0 → NULL division either way). Isolated-process ×100
    A/B (fresh process per form, 5 hot runs, 2 epochs): sorted
    33.897/32.900 s vs quadratic 46.816/48.820 s vs DuckDB 32.817 s —
    ~1.45× faster, ~1.0× vs the oracle (was 1.46×; the oracle keeps
    its quadratic list lambdas — its d·n is small at this doc length,
    which is why parity, not a rouge-sized gap, was the honest
    before-state). The quadratic form stays as
    ``_repetition_quadratic_twin``, equality-pinned (driver corpus +
    synthesized run-edge corpus).

    r15 — the gram build's token split is HOISTED into its own
    projection (see ``_repetition_g2_from``): the r14 form still
    re-ran ``split(text, ' ')`` once per element inside the
    interpreted transform lambda, which was most of the "~33 s ≈
    DuckDB parity" constant (DuckDB materializes ``t`` once). The
    twin keeps the inline build, so the pin witnesses the hoist."""
    m = _repetition_fracs_sorted(spark, sf_dir)
    return _repetition_tail(m)


def _repetition_g2() -> Column:
    """The pre-r15 INLINE word-2-gram build (split re-evaluated per
    element inside the lambda) — kept ONLY for
    ``_repetition_quadratic_twin`` so the equality pin covers the r15
    hoist; registered code uses ``_repetition_g2_from``. Same guard
    rationale as there."""
    return F.expr(
        "IF(size(split(text,' ')) < 2, CAST(array() AS ARRAY<STRING>),"
        " transform(sequence(1, size(split(text,' ')) - 1),"
        " i -> concat(element_at(split(text,' '), i), ' ',"
        "             element_at(split(text,' '), i + 1))))"
    ).alias("g2")


def _repetition_fracs_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (lang, dup2_frac, top2_frac) via the sorted run-length
    walk over hoisted-split grams (r15)."""
    d = (
        load(spark, sf_dir, "documents")
        .select("lang", F.split("text", " ").alias("tok"))
        .select("lang", _repetition_g2_from("tok"))
    )
    # one walk returns (best = max run length, nd = number of runs);
    # grams are never null (concat of split parts), so the x <=> prev
    # null-safe compare only ever sees NULL in the initial state
    rl = F.expr(
        "aggregate(array_sort(g2),"
        " struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best,"
        "        0L AS nd),"
        " (a, x) -> named_struct("
        "   'prev', x,"
        "   'run', IF(x <=> a.prev, a.run + 1, 1L),"
        "   'best', GREATEST(a.best, IF(x <=> a.prev, a.run + 1, 1L)),"
        "   'nd', a.nd + IF(x <=> a.prev, 0L, 1L)),"
        " a -> struct(a.best AS best, a.nd AS nd))"
    )
    w = d.select("lang", F.size("g2").cast("double").alias("n_g"), rl.alias("rl"))
    # nullif: an empty gram array (1-token doc) must yield NULL
    # fractions as DuckDB's x/0 does — under ANSI a bare /0 throws
    ng = F.nullif(F.col("n_g"), F.lit(0.0))
    dup2 = (F.col("n_g") - F.col("rl.nd").cast("double")) / ng
    top2 = F.col("rl.best").cast("double") / ng
    return w.select("lang", dup2.alias("dup2_frac"), top2.alias("top2_frac"))


def _repetition_quadratic_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-r14 quadratic-HOF form, kept as the cross-form equality
    witness for the registered sorted run-length plan (isolated ×100
    epochs: quadratic 46.816/48.820 s vs sorted 33.897/32.900 s)."""
    d = load(spark, sf_dir, "documents").select("lang", _repetition_g2())
    n_g = F.size("g2").cast("double")
    ng = F.nullif(n_g, F.lit(0.0))  # same empty-gram NULL path
    dup2 = (n_g - F.size(F.array_distinct("g2")).cast("double")) / ng
    top2 = (
        F.expr(
            "array_max(transform(array_distinct(g2),"
            " x -> size(filter(g2, y -> y = x))))"
        ).cast("double")
        / ng
    )
    m = d.select("lang", dup2.alias("dup2_frac"), top2.alias("top2_frac"))
    return _repetition_tail(m)


def _repetition_tail(m: DataFrame) -> DataFrame:
    """Shared per-lang aggregation tail, identical across both forms
    and the DuckDB oracle."""
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(
            (F.col("dup2_frac") > _REP_DUP_T) | (F.col("top2_frac") > _REP_TOP_T)
        ).alias("n_flagged"),
        F.round(F.avg("dup2_frac"), 4).alias("avg_dup2"),
        F.round(F.avg("top2_frac"), 4).alias("avg_top2"),
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
# txt_ngram_topk — corpus-wide bigram frequency top-k
# ---------------------------------------------------------------------------


@query(
    "txt_ngram_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), big AS (
      SELECT doc_id,
             UNNEST(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS bigram
      FROM toks
    )
    SELECT bigram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM big
    GROUP BY bigram
    ORDER BY n_occurrences DESC, bigram
    LIMIT 20
    """,
)
def txt_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bigram frequency top-k — the n-gram statistics
    pass of a training-data pipeline (phrase tables, boilerplate
    phrase detection, contamination shingle vocabularies all start
    here [P med]). Bigrams are built MAP-SIDE with a transform over
    the token array (no token explode followed by a self-join — the
    classic shuffle trap for n-gram construction), then one
    combinable count aggregate and a deterministic
    (count desc, bigram) top-20.

    Plan shape (r7 single-shuffle form): scan -> codegen
    split+transform -> per-doc RUN-LENGTH ENCODING of the sorted
    bigram array (array_sort + run-start indices via filter, then one
    struct per distinct in-doc bigram with its count — all HOFs,
    map-side, each tier staged in its own Project) -> explode ->
    ONE agg exchange on bigram (sum(c) = occurrences, count(*) =
    distinct docs, both combinable) -> TakeOrderedAndProject. The
    previous (bigram, doc) pre-agg form shuffled the distinct-pair
    stream TWICE (pair agg, then bigram agg); RLE produces exactly
    one row per distinct (bigram, doc) map-side, so the pair shuffle
    disappears — ×100 A/B: 7.43 -> 5.62 s, identical 20 rows. At
    100 TB bigram cardinality is bounded by vocabulary^2 in theory
    but Zipf in practice; a production variant adds a count-min
    prefilter (the agg_cms_heavy_hitters composition) before the
    exact pass. Integer-exact; the LIMIT boundary is tie-broken by
    bigram, so the result set is deterministic on both engines."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.when(
            F.size("t") >= 2,
            F.expr(
                "transform(sequence(0, size(t) - 2),"
                " i -> concat(t[i], ' ', t[i + 1]))"
            ),
        ).otherwise(F.array().cast("array<string>")).alias("bg"),
    )
    srt = bigrams.select("doc_id", F.array_sort("bg").alias("b"))
    # size guard: sequence(0, n) infers a NEGATIVE step for n < 0
    # (house hazard list #10), so an empty bigram array must map to an
    # empty index list, not [0, -1]
    starts = srt.select(
        "doc_id",
        "b",
        F.expr(
            "CASE WHEN size(b) = 0 THEN array()"
            " ELSE filter(sequence(0, size(b) - 1),"
            " i -> i = 0 or b[i] != b[i - 1]) END"
        ).alias("st"),
    )
    pairs = starts.select(
        F.explode(
            F.expr(
                "CASE WHEN size(st) = 0"
                " THEN CAST(array() AS array<struct<bigram:string,c:int>>)"
                " ELSE transform(sequence(0, size(st) - 1),"
                " j -> struct(b[st[j]] as bigram,"
                " (if(j + 1 < size(st), st[j + 1], size(b))) - st[j] as c)) END"
            )
        ).alias("p")
    ).select("p.bigram", "p.c")
    return (
        pairs.groupBy("bigram")
        .agg(
            F.sum("c").alias("n_occurrences"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.desc("n_occurrences"), "bigram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# txt_readability — Flesch reading-ease over integer text statistics
# ---------------------------------------------------------------------------


@query(
    "txt_readability",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             LENGTH(string_split_regex(TRIM(text), '\s+')) AS n_words,
             GREATEST(LENGTH(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences,
             LENGTH(regexp_extract_all(LOWER(text), '[aeiou]+'))
               AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / NULLIF(n_words, 0))
             AS flesch
    FROM t
    """,
)
def txt_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease scoring per document — the classic
    text-quality feature beside length/stopword ratios ([P med]:
    readability is a standard training-corpus quality dimension).
    Components are INTEGER text statistics (regex word split,
    sentence-terminator runs, vowel-group syllable proxy — the
    codec-free syllable estimator), and the score is ONE shared
    IEEE expression tree (two divisions, two multiplies, two
    subtractions — all correctly rounded, no ROUND needed; hazard
    rule 6). NULLIF guards the empty-text division on both engines.

    Plan shape: pure map-side codegen over the documents scan, zero
    shuffle, per-doc output. At 100 TB this runs at scan speed —
    regexp_extract_all is the only non-trivial cost and stays in the
    JVM."""
    txt = F.col("text")
    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.trim(txt), r"\s+")).cast("long").alias("n_words"),
        F.greatest(
            F.size(F.regexp_extract_all(txt, F.lit(r"[.!?]+"), 0)), F.lit(1)
        )
        .cast("long")
        .alias("n_sentences"),
        F.size(F.regexp_extract_all(F.lower(txt), F.lit(r"[aeiou]+"), 0))
        .cast("long")
        .alias("n_syllables"),
    )
    return t.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_sentences"))
            - F.lit(84.6)
            * (
                F.col("n_syllables").cast("double")
                / F.nullif(F.col("n_words"), F.lit(0))
            )
        ).alias("flesch"),
    )


# ---------------------------------------------------------------------------
# txt_dedup_paragraphs — within-document chunk deduplication
# ---------------------------------------------------------------------------


@query(
    "txt_dedup_paragraphs",
    oracle="""
    WITH c AS (
      SELECT lang, string_split(text, '. ') AS ch FROM documents
    ), d AS (
      SELECT lang,
             len(ch) AS n_chunks,
             len(list_distinct(ch)) AS n_unique,
             list_sum(list_transform(ch, x -> length(x))) AS all_chars,
             list_sum(list_transform(list_distinct(ch), x -> length(x)))
               AS uniq_chars
      FROM c
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n_chunks - n_unique) AS BIGINT) AS n_removed,
           CAST(SUM(all_chars - uniq_chars) AS BIGINT) AS chars_saved,
           CAST(SUM(CASE WHEN n_unique < n_chunks THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_with_dups
    FROM d GROUP BY lang
    """,
)
def txt_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document chunk deduplication report — the intra-doc
    curation transform beside the corpus-level dedup family ([P
    high]: scraped pages repeat nav/boilerplate sentences INSIDE one
    document; "dedup" in a production corpus pipeline means both
    across documents — llm_dedup_* — and within them, and this
    measures what the within pass removes). Chunks = sentence-ish
    '. ' splits; per doc the duplicate chunk count and the exact
    characters a first-occurrence-keep rewrite would save; per lang
    the rollup. All integers; the metrics are ORDER-FREE (counts and
    length sums over the chunk multiset/set), so no dependence on
    either engine's distinct-ordering.

    Plan shape: pure map-side HOFs (split, distinct, two length
    folds) + ONE combinable agg — no explode, no shuffle of chunk
    rows; scan-speed at 100 TB like the rest of the txt family. The
    split and array_distinct are STAGED one Project each (the
    Catalyst-CSE rule: the naive form re-split every document 4× —
    ×100 A/B 1.00 → 0.63 s)."""
    t1 = load(spark, sf_dir, "documents").select(
        "lang", F.split("text", "\\. ").alias("ch")
    )
    t2 = t1.select("lang", "ch", F.array_distinct("ch").alias("ud"))
    d = t2.select(
        "lang",
        F.size("ch").alias("n_chunks"),
        F.size("ud").alias("n_unique"),
        F.expr("aggregate(ch, 0L, (a, x) -> a + length(x))").alias("all_chars"),
        F.expr("aggregate(ud, 0L, (a, x) -> a + length(x))").alias("uniq_chars"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chunks").alias("n_chunks"),
        F.sum(F.col("n_chunks") - F.col("n_unique")).alias("n_removed"),
        F.sum(F.col("all_chars") - F.col("uniq_chars")).alias("chars_saved"),
        F.sum(
            F.when(F.col("n_unique") < F.col("n_chunks"), 1).otherwise(0)
        ).alias("n_docs_with_dups"),
    )
