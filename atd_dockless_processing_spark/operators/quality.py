"""Data-quality operators (dq_*).

The validate step of the reference's trip-ingest ETL ([P high],
SURVEY §3.1) generalized into audit reports: constraint and key
checks (range, PK uniqueness, FK orphans, freshness), distribution
profiles and drift (profile, PSI, Benford, skew), table checksums and
differentially private count publication. Each report is one or a
few combinable aggregations over the audited table, hash-checked
against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.json_fast import with_json_field
from ..registry import query
from ..session import sql_over
from ..tables import load


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


# ---------------------------------------------------------------------------
# dq_profile_table — one-pass multi-column data profile
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["o_orderstatus", "o_orderpriority", "o_orderdate", "o_custkey", "o_totalprice"]


@query(
    "dq_profile_table",
    oracle=" UNION ALL ".join(
        f"""
        SELECT '{c}' AS col_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
        FROM orders
        """
        for c in _PROFILE_COLS
    ),
)
def dq_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass multi-column data profile (row count / null count /
    exact distinct cardinality per column) — the schema-drift and
    data-quality screen every ingest pipeline runs before publishing
    ([P med]; generalizes the reference's pre-publication sanity
    checks, and the profiling step of a training-data intake).

    Scale shape: one union branch PER COLUMN, each a
    groupBy(col).count() (map-side combinable — the exchange carries
    the column's distinct values, not the rows) folded to a single
    profile row. Each branch's scan is column-pruned to ONE parquet
    column. The original one-pass multi-distinct agg was A/B'd and
    REJECTED at ×100 (BASELINE.md legacy batch 4): Catalyst plans k
    distinct aggregates with Expand ×(k+1) — every row replicated 6×
    into the distinct-hash shuffle — and measured 7.2 s vs 2.1 s for
    this form (the oracle's naive per-column UNION ALL is the same
    plan family, 5 pruned scans)."""
    return sql_over(spark, _PROFILE_SQL, orders=load(spark, sf_dir, "orders"))


_PROFILE_SQL = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS col_name, sum(cnt) AS n_rows,
           coalesce(sum(CASE WHEN v IS NULL THEN cnt END), 0) AS n_null,
           count_if(v IS NOT NULL) AS n_distinct
    FROM (SELECT {c} AS v, count(1) AS cnt FROM {{orders}} GROUP BY {c})
    """
    for c in _PROFILE_COLS
)


# ---------------------------------------------------------------------------
# dq_psi_drift — population-stability-index drift report
# ---------------------------------------------------------------------------

# Laplace-smoothed bin share and PSI contribution, shared verbatim
# between the Spark expressions and the oracle so the ln() inputs are
# bit-identical doubles (the llm_unigram_logprob precedent: identical
# input + rounding makes cross-engine ln safe in practice). ROUND 5,
# not 6: a last-ulp JVM-StrictMath-vs-libm ln difference only flips
# the rounded value when the true value sits within ~1 ulp of a
# x.xxxx5 boundary, and widening the boundary spacing 10x cuts that
# residual flake probability 10x (round-6 ADVICE item).
_PSI_P = "((CAST({c} AS DOUBLE) + 0.5e0) / (CAST({t} AS DOUBLE) + 4e0))"
_PSI_CONTRIB = (
    "ROUND(({pa} - {pb}) * ln({pa} / {pb}), 5)"
)


@query(
    "dq_psi_drift",
    oracle="""
    WITH binned AS (
      SELECT LEAST(CAST(FLOOR(value / 70e0) AS INT), 7) AS bin,
             user_id % 2 AS cohort
      FROM events
    ), cells AS (
      SELECT s.bin,
             CAST(COALESCE(SUM(CASE WHEN b.cohort = 0 THEN 1 END), 0)
                  AS BIGINT) AS cnt_ref,
             CAST(COALESCE(SUM(CASE WHEN b.cohort = 1 THEN 1 END), 0)
                  AS BIGINT) AS cnt_cur
      FROM range(8) s(bin) LEFT JOIN binned b ON b.bin = s.bin
      GROUP BY s.bin
    ), tot AS (
      SELECT SUM(cnt_ref) AS t_ref, SUM(cnt_cur) AS t_cur FROM cells
    ), contrib AS (
      SELECT c.bin, c.cnt_ref, c.cnt_cur,
             CAST({contrib} AS DECIMAL(18,5)) AS contrib_d
      FROM cells c CROSS JOIN tot
    )
    SELECT bin, cnt_ref, cnt_cur,
           CAST(contrib_d AS DOUBLE) AS contrib,
           CAST(SUM(contrib_d) OVER () AS DOUBLE) AS psi_total
    FROM contrib
    """.format(
        contrib=_PSI_CONTRIB.format(
            pa=_PSI_P.format(c="c.cnt_ref", t="tot.t_ref"),
            pb=_PSI_P.format(c="c.cnt_cur", t="tot.t_cur"),
        )
    ),
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report between two cohorts —
    the go/no-go screen a production pipeline runs before publishing a
    refreshed dataset (and a training pipeline runs between corpus
    snapshots): bin the metric, compare Laplace-smoothed bin shares,
    PSI = sum((p_ref - p_cur) * ln(p_ref / p_cur)). Cohorts here are
    the deterministic user_id parity split; bins are a fixed-width
    8-bucket grid over `value` with an open top bucket and an 8-row
    spine so structurally-empty bins still contribute (smoothing makes
    them finite). The per-bin contribution is rounded to 5 and summed
    as exact DECIMAL(18,5) (surfaced as DOUBLE — DuckDB's decimal
    lands in pandas as float64, Spark's as object, so the dtype-
    strict compare needs a common type), making psi_total order-free
    and identical on both engines.

    Scale shape: ONE pass over events — bin+cohort derived in
    codegen, a single combinable 16-cell aggregate, then all
    remaining arithmetic happens on the 8-row result (spine join,
    totals, window sum are driver-trivial). At 100 TB this is a
    full-scan + one 16-row shuffle; nothing grows with data."""
    binned = load(spark, sf_dir, "events").select(
        F.least(F.floor(F.col("value") / F.lit(70.0)).cast("int"), F.lit(7)).alias(
            "bin"
        ),
        (F.col("user_id") % 2).alias("cohort"),
    )
    counted = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("cohort") == 0, 1)).alias("raw_ref"),
        F.sum(F.when(F.col("cohort") == 1, 1)).alias("raw_cur"),
    )
    spine = spark.range(8).select(F.col("id").cast("int").alias("bin"))
    cells = spine.join(counted, "bin", "left").select(
        "bin",
        F.coalesce("raw_ref", F.lit(0)).alias("cnt_ref"),
        F.coalesce("raw_cur", F.lit(0)).alias("cnt_cur"),
    )
    # cohort totals as window sums over the 8-row cells — keeps the
    # whole query ONE lineage (a separate agg branch re-executed the
    # events scan: measured 2 scans in the audited plan)
    w = Window.partitionBy()
    contrib = cells.withColumn("t_ref", F.sum("cnt_ref").over(w)).withColumn(
        "t_cur", F.sum("cnt_cur").over(w)
    ).select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.expr(
            _PSI_CONTRIB.format(
                pa=_PSI_P.format(c="cnt_ref", t="t_ref"),
                pb=_PSI_P.format(c="cnt_cur", t="t_cur"),
            )
        )
        .cast("decimal(18,5)")
        .alias("contrib_d"),
    )
    return contrib.select(
        "bin",
        "cnt_ref",
        "cnt_cur",
        F.col("contrib_d").cast("double").alias("contrib"),
        F.sum("contrib_d").over(w).cast("double").alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# dq_benford_digits — first-digit distribution vs Benford expectation
# ---------------------------------------------------------------------------

# log10(1 + 1/d) as shared literals (identical decimal text parses to
# the identical IEEE double on both engines — no transcendental is
# evaluated at query time).
_BENFORD = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {v}e0" for d, v in _BENFORD.items())
    + " END"
)


@query(
    "dq_benford_digits",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), counted AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
    ), tot AS (SELECT SUM(n) AS total FROM counted)
    SELECT digit, n,
           CAST(n AS DOUBLE) / total AS share,
           {_BENFORD_CASE} AS expected,
           ROUND(POWER(CAST(n AS DOUBLE) - total * ({_BENFORD_CASE}), 2)
                 / (total * ({_BENFORD_CASE})), 6) AS chi2_contrib
    FROM counted CROSS JOIN tot
    """,
)
def dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit screen over order totals —
    the fraud/data-fabrication detector ([P med]: first-digit
    distribution tests are the standard forensic screen for invented
    monetary values; a pipeline runs it as a data-quality gate on
    financial columns). First digit extracted by STRING inspection of
    the integer part (no log10 at query time — the transcendental
    lives only in the Benford constants, which are shared decimal
    literals parsing to identical doubles), counts exact, share one
    IEEE division, chi-square contribution the same shared expression
    tree on both engines rounded to 6.

    Plan shape: scan (only o_totalprice read) -> codegen digit ->
    ONE combinable 9-cell aggregate -> 9-row arithmetic. At 100 TB:
    a full scan and a 9-row shuffle — nothing else grows."""
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    counted = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    expected = F.expr(_BENFORD_CASE)
    total = F.sum("n").over(w)
    return counted.select(
        "digit",
        "n",
        (F.col("n").cast("double") / total).alias("share"),
        expected.alias("expected"),
        F.round(
            F.pow(F.col("n").cast("double") - total * expected, 2)
            / (total * expected),
            6,
        ).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# dq_pk_uniqueness — primary-key uniqueness audit across the catalog
# ---------------------------------------------------------------------------

_PK_TABLES = [
    ("orders", ["o_orderkey"]),
    ("customer", ["c_custkey"]),
    ("lineitem", ["l_orderkey", "l_linenumber"]),
    ("events", ["event_id"]),
    ("documents", ["doc_id"]),
]


def _pk_audit_sql(tbl: str, keys: list[str]) -> str:
    kexpr = ", ".join(keys)
    return f"""
    SELECT '{tbl}' AS tbl,
           CAST(SUM(m) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_keys,
           CAST(MAX(m) AS BIGINT) AS max_mult
    FROM (SELECT COUNT(*) AS m FROM {tbl} GROUP BY {kexpr})
    """


@query(
    "dq_pk_uniqueness",
    oracle=" UNION ALL ".join(
        _pk_audit_sql(t, ks) for t, ks in _PK_TABLES
    ),
)
def dq_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the catalog — the first
    dq gate of any warehouse load ([P high]: the reference's intake
    dedups on trip id before anything else; this is the report that
    says whether it must). Per declared PK (including lineitem's
    COMPOSITE key): row count, distinct-key count, duplicated-key
    count, max multiplicity — all integers, one row per table.

    Plan shape: per table ONE combinable groupBy on the key (map-
    side partials collapse unique keys immediately) + a second agg
    over the per-key counts; the five audits are independent subtrees
    under one union (they run as parallel stages). At 100 TB each
    audit is the same single exchange its table's dedup would need
    anyway — this is the cheapest possible form of the question.

    r14 optimization round (guide §2.3 narrower types / shuffle
    fewer bytes): lineitem — the one COMPOSITE key, and the heaviest
    audit since a PK groupBy cannot map-side combine (every row is
    its own group, all rows ship) — groups on ONE packed long,
    ``l_orderkey*8 + l_linenumber``, instead of (bigint, int). The
    packing is injective on any TPC-H-shaped corpus: the spec fixes
    l_linenumber ∈ 1..7 at EVERY scale factor, and ×8 cannot
    overflow bigint below orderkey 2^60 (100 TB ≈ 2^39). The key
    never appears in the output (only per-key counts do), so the
    result is bit-identical — pinned against the composite-key twin
    in tests, and a corpus that ever violated the line-number bound
    would fail the declared composite-GROUP-BY oracle's hash gate
    VISIBLY, not silently. Isolated-process ×100 A/B (fresh process
    per form, 5 hot runs, 2 epochs): packed 6.792/5.480 s vs
    composite 13.281/7.271 s — the UnsafeRow the exchange carries
    drops from two 8-byte-aligned fields to one."""
    return _pk_audit(spark, sf_dir, pack_lineitem=True)


def _pk_uniqueness_composite_twin(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pre-r14 form: lineitem groups on the raw composite
    (l_orderkey, l_linenumber) pair. Kept as the cross-form equality
    witness for the registered packed-long form (isolated ×100
    epochs: composite 13.281/7.271 s vs packed 6.792/5.480 s)."""
    return _pk_audit(spark, sf_dir, pack_lineitem=False)


def _pk_audit(
    spark: SparkSession, sf_dir: str, pack_lineitem: bool
) -> DataFrame:
    def group_keys(tbl: str, keys: list[str]) -> str:
        if pack_lineitem and tbl == "lineitem":
            return "l_orderkey * 8 + l_linenumber"
        return ", ".join(keys)

    text = " UNION ALL ".join(
        f"""
        SELECT '{tbl}' AS tbl, n_rows, n_keys, n_dup_keys, max_mult
        FROM (
          SELECT sum(m) AS n_rows, count(1) AS n_keys,
                 sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS n_dup_keys, max(m) AS max_mult
          FROM (SELECT count(1) AS m FROM {{{tbl}}} GROUP BY {group_keys(tbl, keys)})
        )
        """
        for tbl, keys in _PK_TABLES
    )
    frames = {tbl: load(spark, sf_dir, tbl) for tbl, _ in _PK_TABLES}
    return sql_over(spark, text, **frames)


# ---------------------------------------------------------------------------
# dq_freshness — per-type data-freshness audit (lag vs corpus head)
# ---------------------------------------------------------------------------


@query(
    "dq_freshness",
    oracle="""
    WITH e AS (
      SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS eu FROM events
    ), g AS (
      SELECT MAX(eu) AS gmax FROM e
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST((g.gmax - MAX(eu)) // 60000000 AS BIGINT) AS lag_min,
           CAST(SUM(CASE WHEN eu > g.gmax - 86400000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_last24h
    FROM e, g
    GROUP BY event_type, g.gmax
    """,
)
def dq_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit — the dq gate beside PK uniqueness ([P
    high]: the reference's cron ETL must detect a provider whose
    feed has silently stalled; "how far behind the corpus head is
    each source?" is that alarm). Per event type: row count, minutes
    of lag behind the GLOBAL max timestamp, and rows within the 24 h
    before that head.

    Timezone-immune by construction: all timestamp math is a
    within-engine DIFFERENCE of epoch-µs integers (session-offset
    terms cancel), with integer div to minutes (hazard rule 10) —
    the key holds under the driver's un-pinned session. Plan shape:
    one tiny global-max agg broadcast into one combinable per-type
    agg; two scans today, one with a pre-known head at 100 TB."""
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("eu")
    )
    gmax = ev.agg(F.max("eu").alias("gmax"))
    return (
        ev.crossJoin(F.broadcast(gmax))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("(first(gmax) - max(eu)) div 60000000").alias("lag_min"),
            F.sum(
                F.when(F.col("eu") > F.col("gmax") - 86400000000, 1).otherwise(0)
            ).alias("n_last24h"),
        )
    )


# ---------------------------------------------------------------------------
# dq_fk_orphans — referential-integrity (foreign-key orphan) audit
# ---------------------------------------------------------------------------

# (label, child table, child key, parent table, parent key)
_FK_EDGES = [
    ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("events->customer", "events", "user_id", "customer", "c_custkey"),
]


def _fk_oracle() -> str:
    parts = []
    for label, ct, ck, pt, pk in _FK_EDGES:
        parts.append(f"""
        SELECT '{label}' AS fk,
               CAST((SELECT COUNT(*) FROM {ct}) AS BIGINT) AS n_child,
               CAST((SELECT COUNT(*) FROM {ct}
                     WHERE {ck} NOT IN (SELECT {pk} FROM {pt})) AS BIGINT)
                 AS n_orphan_rows,
               CAST((SELECT COUNT(DISTINCT {ck}) FROM {ct}
                     WHERE {ck} NOT IN (SELECT {pk} FROM {pt})) AS BIGINT)
                 AS n_orphan_keys""")
    return " UNION ALL ".join(parts)


@query("dq_fk_orphans", oracle=_fk_oracle())
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the declared FK graph —
    the other half of the intake dq gate beside `dq_pk_uniqueness`
    ([P high]: a provider feed referencing unknown devices/zones is
    the classic silent join-loss bug; the reference joins trips to
    census tracts and device registries, and rows that match nothing
    simply vanish from an inner join). Per FK edge: child rows,
    orphan rows (no parent), distinct orphan keys. The audited edges
    include one EXPECTED-dirty edge (events.user_id → customer) so
    the report demonstrably distinguishes clean from violated.

    Plan shape: per edge one LEFT ANTI join on the key + a 1-row
    count agg — at 100 TB each anti join is the same exchange the
    downstream equi-join needs anyway (or a broadcast when the
    parent's key column is dim-sized), and the six audits are
    independent parallel subtrees under one union. No FK key column
    beyond the join key is read (column pruning to 1-2 columns per
    scan)."""
    tbls = dict.fromkeys(t for _, ct, _, pt, _ in _FK_EDGES for t in (ct, pt))
    frames = {t: load(spark, sf_dir, t) for t in tbls}
    return sql_over(spark, _FK_SQL, **frames)


_FK_SQL = " UNION ALL ".join(
    f"""
    SELECT '{label}' AS fk, n_child, n_orphan_rows, n_orphan_keys
    FROM (SELECT count(1) AS n_child FROM {{{ct}}})
    CROSS JOIN (
      SELECT count(1) AS n_orphan_rows, count(DISTINCT k) AS n_orphan_keys
      FROM (SELECT {ck} AS k FROM {{{ct}}})
      LEFT ANTI JOIN (SELECT DISTINCT {pk} AS k FROM {{{pt}}}) USING (k)
    )
    """
    for label, ct, ck, pt, pk in _FK_EDGES
)


# ---------------------------------------------------------------------------
# dq_skew_report — join/group key skew diagnostics
# ---------------------------------------------------------------------------

# (label, table, key column)
_SKEW_COLS = [
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
    ("events.event_type", "events", "event_type"),
]


def _skew_oracle() -> str:
    parts = []
    for label, tbl, col in _SKEW_COLS:
        parts.append(f"""
        SELECT '{label}' AS key_col, n_rows, n_keys, max_mult,
               CAST((1000000 * top10) // n_rows AS BIGINT) AS top10_share_ppm,
               CAST((1000 * max_mult * n_keys) // n_rows AS BIGINT) AS skew_milli
        FROM (
          SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                 CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(MAX(c) AS BIGINT) AS max_mult,
                 CAST(SUM(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS BIGINT)
                   AS top10
          FROM (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC) AS rk
            FROM (SELECT COUNT(*) AS c FROM {tbl} GROUP BY {col})
          )
        )""")
    return " UNION ALL ".join(parts)


@query("dq_skew_report", oracle=_skew_oracle())
def dq_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/group-key SKEW diagnostics — the pre-flight report behind
    every 100 TB shuffle decision ([P high] for the scale story: a
    key whose hottest value holds a material share of the table
    makes the plain hash-shuffle join a straggler; whether to salt,
    broadcast, or rely on AQE's skew-join split is decided from
    EXACTLY these figures, and flying blind is how 1000-executor
    jobs stall on one task). Per audited key column: rows, distinct
    keys, max multiplicity, the top-10 keys' ppm share of rows, and
    skew_milli = hottest/average in milli units (1000 = perfectly
    uniform).

    All integers (top-10 share is tie-safe: the sum of the 10
    largest COUNTS is invariant under which tied keys rank 10th).
    Plan shape: per column ONE combinable key-groupBy (the same
    exchange the real join would pay) + a window/agg over the
    per-key count summary; five independent parallel subtrees under
    a union. At 100 TB this runs on the key columns only (1-column
    scans) or rides a sample."""
    frames = {t: load(spark, sf_dir, t) for t in dict.fromkeys(t for _, t, _ in _SKEW_COLS)}
    return sql_over(spark, _SKEW_SQL, **frames)


_SKEW_SQL = " UNION ALL ".join(
    f"""
    SELECT '{label}' AS key_col, n_rows, n_keys, max_mult,
           (1000000 * top10) div n_rows AS top10_share_ppm,
           (1000 * max_mult * n_keys) div n_rows AS skew_milli
    FROM (
      SELECT sum(c) AS n_rows, count(1) AS n_keys, max(c) AS max_mult,
             sum(CASE WHEN rk <= 10 THEN c ELSE 0 END) AS top10
      FROM (
        SELECT c, row_number() OVER (ORDER BY c DESC) AS rk
        FROM (SELECT count(1) AS c FROM {{{tbl}}} GROUP BY {col})
      )
    )
    """
    for label, tbl, col in _SKEW_COLS
)


# ---------------------------------------------------------------------------
# dq_table_checksum — cross-engine table checksum (migration validation)
# ---------------------------------------------------------------------------


@query(
    "dq_table_checksum",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(('0x' || substr(md5(
                 COALESCE(CAST(o_orderkey AS VARCHAR), '<NULL>') || '|' ||
                 COALESCE(CAST(o_custkey  AS VARCHAR), '<NULL>') || '|' ||
                 COALESCE(o_orderstatus, '<NULL>') || '|' ||
                 COALESCE(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), '<NULL>') || '|' ||
                 COALESCE(strftime(o_orderdate, '%Y-%m-%d'), '<NULL>')
               ), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive per-group TABLE CHECKSUM — the
    migration/replication validation step: after copying a table
    between systems, both sides compute SUM(md5-prefix of a
    canonicalized row rendering) per group and compare (a checksum,
    unlike COUNT, catches value corruption; per-status grouping
    localizes a mismatch). The canonical rendering pins the
    cross-engine hazards explicitly: integers via plain casts,
    DOUBLES as integer cents (float->string rendering is not
    portable), DATES through an explicit format (neither engine's
    default timestamp rendering is), NULLS via an explicit
    ``<NULL>`` sentinel per field (Spark's concat_ws silently DROPS
    null fields and their separators — 'a'|NULL|'b' would collide
    with a genuine 'a|b' — while DuckDB's ``||`` nulls the whole
    rendering and drops the row from the SUM; the sentinel makes
    both engines render the same unambiguous bytes, r10
    second-review finding #3), '|' field separator, md5 (both
    engines) with the first 8 hex chars as the summed word — the
    identical bytes hash on both engines by construction, verified
    value-equal here against DuckDB's independent implementation.

    Plan: one scan, per-row JVM md5 (codegen), one combinable
    SUM/COUNT exchange — embarrassingly parallel at any scale, the
    agg_groupby_q1 family."""
    o = load(spark, sf_dir, "orders")
    sent = F.lit("<NULL>")
    canon = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), sent),
        F.coalesce(F.col("o_custkey").cast("string"), sent),
        F.coalesce(F.col("o_orderstatus"), sent),
        F.coalesce(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), sent
        ),
        F.coalesce(F.date_format("o_orderdate", "yyyy-MM-dd"), sent),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("long")
    return (
        o.select("o_orderstatus", h.alias("h"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("h").alias("checksum"),
        )
    )


@query(
    "dq_constraint_report",
    oracle="""
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(*) FILTER (l_quantity <= 0 OR l_quantity > 50) AS BIGINT)
        AS bad_quantity,
      CAST(COUNT(*) FILTER (l_discount < 0 OR l_discount > 0.1) AS BIGINT)
        AS bad_discount,
      CAST(COUNT(*) FILTER (l_shipdate IS NULL) AS BIGINT) AS null_shipdate,
      CAST(COUNT(*) FILTER (l_extendedprice <= 0) AS BIGINT) AS bad_price,
      CAST((SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
        AS orphan_lineitems
    FROM lineitem
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality report: range violations, null checks,
    and referential-integrity orphans — the reference's row-at-a-time
    validation filters ([P high]) generalized into a single scan of
    conditional aggregates plus one anti-join. This is the
    assert-before-publish gate of an ETL pipeline: at 100 TB the
    conditional counts ride ONE scan (no per-rule passes), and the
    RI check is a broadcast/shuffle anti-join, not a lookup loop."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    orphans = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("orphan_lineitems"))
    report = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            F.when((F.col("l_quantity") <= 0) | (F.col("l_quantity") > 50), 1).otherwise(0)
        ).alias("bad_quantity"),
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1).otherwise(0)
        ).alias("bad_discount"),
        F.sum(F.when(F.col("l_shipdate").isNull(), 1).otherwise(0)).alias("null_shipdate"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias("bad_price"),
    )
    return report.crossJoin(orphans)
