"""SQL-surface operators (sql_*).

The engine's SQL surface, mostly reached through ``spark.sql`` text:
TPC-H Q6, correlated and lateral subqueries,
recursive CTEs, SQL scripting, pipe syntax, EXECUTE IMMEDIATE,
IDENTIFIER(), SQL functions, session variables, lateral column
aliases and GROUP BY ALL. Each key pins the entry surface; the
relational work behind it compiles to plan families already measured
at ×100 (SCALE.md), so the scale posture is inherited from the plan,
not the syntax. Temp views are uuid-scoped so concurrent and
repeated runs never collide.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..tables import load


_CORR_SQL_T = """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_max_orders
    FROM {orders} o
    WHERE o_totalprice = (SELECT MAX(o2.o_totalprice)
                          FROM {orders} o2
                          WHERE o2.o_custkey = o.o_custkey)
    GROUP BY o_orderpriority
"""


@query("sql_correlated_subquery", oracle=_CORR_SQL_T.format(orders="orders"))
def sql_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders that are their customer's maximum, counted per priority
    — the correlated-scalar-subquery semantics, registered as the
    PRODUCTION single-exchange plan (r10, VERDICT r9 item 6, the
    agg_distinct_count bitmap-swap policy): window max over custkey
    with an unbounded frame, filter, small re-agg. MAX (not AVG)
    keeps the comparison FP-exact — the compared value is an actual
    member of the group, so equality is bitwise on both engines.

    Measured at ×100 (r7 rehearsal): window form 1.37 s = 1.08× vs
    DuckDB 1.27 s; the correlated-SQL surface (Catalyst decorrelates
    via RewriteCorrelatedScalarSubquery into agg + self-join, two
    orders scans) measured 2.38 s = 1.87×, and collect_list+HOF was
    REJECTED at 3.45 s (struct-array materialization tax). The SQL
    surface itself — the decorrelation demo — is preserved as the
    test-pinned twin ``corr_decorrelated_sql_form`` (equality pinned
    in test_corr_subquery_window_rewrite_equality; the registered/
    demo arrangement is the REVERSE of r7-r9)."""
    return _corr_max_window_form(spark, sf_dir)


def corr_decorrelated_sql_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The correlated scalar-subquery SQL surface (the registered key
    through r9): Catalyst decorrelates it into an aggregate + join —
    no per-row subquery execution in the plan. Kept as the test-pinned
    decorrelation demo after the r10 promotion of the window form to
    the registered plan.

    The temp view is uuid-scoped (like sql_tpch_q6) so a concurrent
    session's view named 'orders' is never clobbered; spark.sql
    resolves the view eagerly at analysis, so the immediate drop
    keeps the returned DataFrame valid."""
    import uuid as _uuid

    v = f"orders_corr_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(v)
    out = spark.sql(_CORR_SQL_T.format(orders=v))
    spark.catalog.dropTempView(v)
    return out


@query(
    "sql_scripting",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(6084 AS BIGINT) AS cube_sum
    FROM orders GROUP BY 1
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 / SQL:2023 PSM): a BEGIN…END compound
    with DECLAREd variables and a WHILE loop (Σ i³ for i=1..12 =
    (12·13/2)² = 6084 — the loop result is verifiable in closed
    form), whose final statement projects the loop accumulator
    alongside a real aggregate over orders. Pins the procedural SQL
    entry surface: variable scoping, iteration, and that the script
    returns its LAST statement's DataFrame. The oracle folds the
    closed form as a constant — any drift in loop semantics
    (off-by-one, variable shadowing) flips the hash. The scripting
    conf is runtime-settable; the uuid-scoped view keeps concurrent
    sessions from clobbering each other (sql_tpch_q6 pattern)."""
    import uuid as _uuid

    spark.conf.set("spark.sql.scripting.enabled", "true")
    v = f"orders_script_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(v)
    out = spark.sql(
        f"""
        BEGIN
          DECLARE i INT DEFAULT 1;
          DECLARE acc BIGINT DEFAULT 0;
          WHILE i <= 12 DO
            SET acc = acc + i * i * i;
            SET i = i + 1;
          END WHILE;
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_orders,
                 acc AS cube_sum
          FROM {v} GROUP BY o_orderpriority;
        END
        """
    )
    spark.catalog.dropTempView(v)
    return out


def _corr_max_window_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production rewrite of sql_correlated_subquery: 'rows equal to
    their group's max' as ONE exchange — window max over custkey,
    filter, small re-agg. Exact: the compared value is a member of
    the group (bitwise equality, no FP arithmetic)."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    w = Window.partitionBy("o_custkey")
    return (
        o.withColumn("mx", F.max("o_totalprice").over(w))
        .where(F.col("o_totalprice") == F.col("mx"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_max_orders"))
    )


_LATERAL_SQL_T = """
    SELECT n.n_name, l.c_custkey, l.c_acctbal
    FROM {nation} n,
    LATERAL (
      SELECT c_custkey, c_acctbal FROM {customer} c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) l
"""


@query(
    "sql_lateral_topn",
    oracle=_LATERAL_SQL_T.format(nation="nation", customer="customer"),
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join through the SQL entry point: per
    nation, the top-2 customers by account balance (custkey
    tie-break). Catalyst decorrelates the ORDER BY + LIMIT lateral
    subquery (DecorrelateInnerQuery) into a partitioned rank — the
    same single-shuffle window shape as win_topk_per_group, with no
    per-outer-row re-execution; identical SQL runs on both engines.
    Views are uuid-scoped to avoid clobbering same-named views in a
    shared session (see sql_correlated_subquery)."""
    import uuid as _uuid

    tag = _uuid.uuid4().hex[:8]
    vn, vc = f"nation_lat_{tag}", f"customer_lat_{tag}"
    load(spark, sf_dir, "nation").createOrReplaceTempView(vn)
    load(spark, sf_dir, "customer").createOrReplaceTempView(vc)
    out = spark.sql(_LATERAL_SQL_T.format(nation=vn, customer=vc))
    spark.catalog.dropTempView(vn)
    spark.catalog.dropTempView(vc)
    return out


# ---------------------------------------------------------------------------
# sql_recursive_cte — WITH RECURSIVE hierarchy traversal
# ---------------------------------------------------------------------------


@query(
    "sql_recursive_cte",
    oracle="""
    WITH d AS (
      SELECT DISTINCT user_id,
             CASE WHEN user_id = 0 THEN 0
                  ELSE CAST(FLOOR(LOG2(user_id)) AS INTEGER) + 1 END AS depth
      FROM events
    )
    SELECT d.depth,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(e.value), 4) AS sum_value
    FROM events e JOIN d ON e.user_id = d.user_id
    GROUP BY 1
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4's ``WITH RECURSIVE``): traverse the
    implicit referral tree parent(u) = u DIV 2 rooted at user 0 and
    compute each user's GENERATION DEPTH iteratively — the
    hierarchy/graph-reachability query class (org charts, referral
    chains, BOM explosions) that previously needed the driver-side
    iteration llm_dedup_clusters hand-rolls. The engine unrolls the
    recursion into iterative joins; state per step is one generation
    of the tree, so depth bounds the iteration count (log2 of the
    user space here).

    The oracle computes the SAME depths via the closed form
    floor(log2(u)) + 1 — a genuinely different (non-iterative)
    algorithm agreeing on the fixpoint, which is exactly what a
    recursive-query check should pin. Per-depth user/event/value
    rollup joins the events fact back on the derived dimension.

    PRECONDITION (tested in test_engine_units.py): the recursion
    assigns a depth only to users whose FULL parent chain
    (u DIV 2 repeatedly) exists in events, while the closed form
    covers every distinct user unconditionally — the two agree iff
    the user_id space is DENSE (every u DIV 2 ancestor present).
    The driver testdata generates user_id as dense 0..N-1 at every
    sf; on gappy data the recursive side would silently drop
    orphaned subtrees and the check would (correctly) go red."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("ev_rcte")
    ev.select("user_id").distinct().createOrReplaceTempView("users_rcte")
    return spark.sql(
        """
        WITH RECURSIVE d(user_id, depth) AS (
          SELECT CAST(0 AS BIGINT), 0
          UNION ALL
          SELECT u.user_id, d.depth + 1
          FROM users_rcte u JOIN d ON u.user_id DIV 2 = d.user_id
          WHERE u.user_id > 0
        )
        SELECT d.depth,
               COUNT(DISTINCT e.user_id) AS n_users,
               COUNT(*) AS n_events,
               ROUND(SUM(e.value), 4) AS sum_value
        FROM ev_rcte e JOIN d ON e.user_id = d.user_id
        GROUP BY d.depth
        """
    )


# ---------------------------------------------------------------------------
# sql_pipe_syntax — Spark 4.0 SQL pipe operators
# ---------------------------------------------------------------------------


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE SYNTAX (Spark 4.0, SQL pipe operators): the Q1
    pricing-summary shape authored as a linear `FROM … |> WHERE …
    |> AGGREGATE … GROUP BY …` chain instead of nested clauses.
    Pipe stages are pure syntax — the parser folds them into the
    SAME logical plan as the clause form (one pushed filter, one
    partial+final hash aggregate; plan identity with agg_groupby_q1's
    DataFrame form is pinned in tests), so this key certifies the
    entry surface: stage ordering, `AGGREGATE … GROUP BY` aliasing,
    and that computed aggregate aliases survive to the result schema.
    View name is uuid-scoped so concurrent runs never collide
    (sql_tpch_q6 pattern); ROUND(…, 4) for FP-sum parity with the
    DuckDB oracle as in Q1."""
    view = f"lineitem_pipe_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    out = spark.sql(f"""
        FROM {view}
        |> WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |> AGGREGATE ROUND(SUM(l_quantity), 4) AS sum_qty,
                     ROUND(SUM(l_extendedprice * (1 - l_discount)), 4)
                       AS sum_disc_price,
                     CAST(COUNT(*) AS BIGINT) AS n_items
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, sum_qty, sum_disc_price,
                  n_items
    """)
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# sql_exec_immediate — EXECUTE IMMEDIATE parameterized SQL (Spark 4.0)
# ---------------------------------------------------------------------------


@query(
    "sql_exec_immediate",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
    GROUP BY o_orderpriority
    """,
)
def sql_exec_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTE IMMEDIATE (Spark 4.0): SQL-from-a-string with `?`
    positional parameters bound via USING — the dynamic-SQL entry
    surface (metadata-driven reporting, multi-tenant templates)
    beside sql_scripting's procedural one. The parameters are BOUND,
    not interpolated: the date literals travel as typed values
    through the parameter channel, which is the injection-safe
    contract this key certifies (plus that the inner statement's
    aliases survive to the result schema).

    The inner statement is a quarter-window priority count over
    orders (TPC-H Q4's shape minus the EXISTS) — one pushed range
    filter, one hash aggregate; scale posture inherited from that
    plan family."""
    view = f"orders_exec_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(view)
    inner = (
        f"SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        f"ROUND(SUM(o_totalprice), 4) AS total_price "
        f"FROM {view} WHERE o_orderdate >= ? AND o_orderdate < ? "
        f"GROUP BY o_orderpriority"
    )
    out = spark.sql(
        "EXECUTE IMMEDIATE :stmt USING TIMESTAMP '1996-01-01', "
        "TIMESTAMP '1996-04-01'",
        args={"stmt": inner},
    )
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# sql_identifier_clause — IDENTIFIER(:param) safe dynamic identifiers
# ---------------------------------------------------------------------------


@query(
    "sql_identifier_clause",
    oracle="""
    SELECT o_orderpriority AS group_key,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(AVG(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY 1
    """,
)
def sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER clause (Spark 3.4+): the TABLE and the GROUP-BY
    COLUMN both arrive as bound parameters through `IDENTIFIER(:p)` —
    the injection-safe way to template identifiers (the complement of
    sql_exec_immediate, which parameterizes VALUES; identifiers can
    never be value parameters, and string-concatenated SQL is the
    anti-pattern this clause retires). IDENTIFIER resolves the
    parameter AS an identifier at parse time — a malformed or
    multi-part-smuggling string fails resolution rather than
    rewriting the query.

    The templated statement is a single-key hash aggregate; scale
    posture inherited from that family (binding is driver-side
    only). Parameter LIVENESS (a different column parameter changes
    the grouping) is pinned in tests."""
    view = f"orders_ident_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(view)
    out = spark.sql(
        """
        SELECT IDENTIFIER(:col) AS group_key,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               ROUND(AVG(o_totalprice), 4) AS avg_price
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:col)
        """,
        args={"tbl": view, "col": "o_orderpriority"},
    )
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# sql_create_function — SQL-defined scalar UDF (CREATE FUNCTION ... RETURN)
# ---------------------------------------------------------------------------


@query(
    "sql_create_function",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 4) AS disc_total,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-DEFINED FUNCTION (`CREATE TEMPORARY FUNCTION … RETURNS …
    RETURN expr`, Spark 3.4+/4.x SQL UDFs): the discounted-price
    expression captured once as a catalog object and reused in an
    aggregate — the SQL-native rung of the UDF ladder, and the ONLY
    rung with zero runtime tax: Catalyst INLINES the body at analysis
    time — no function node survives to the optimized plan, no Python
    worker, no serialization (the production answer to 'wrap shared
    business logic'; inlining goes through an alias-introducing
    Project, so the plan is expression-EQUIVALENT to the in-place
    arithmetic, pinned in tests). The oracle inlines the same
    expression; a drift in inlining semantics (argument substitution,
    null handling) flips the hash.

    Function name is uuid-scoped (temporary functions are
    session-global — the sql_tpch_q6 concurrency discipline applies
    to the function catalog too). Scale posture: identical to
    agg_groupby_q1's scan+hash-agg family, by construction."""
    tag = _uuid.uuid4().hex[:8]
    fname, view = f"disc_price_{tag}", f"li_fn_{tag}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    spark.sql(
        f"CREATE OR REPLACE TEMPORARY FUNCTION {fname}(p DOUBLE, d DOUBLE) "
        f"RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    out = spark.sql(f"""
        SELECT l_returnflag,
               ROUND(SUM({fname}(l_extendedprice, l_discount)), 4)
                 AS disc_total,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM {view}
        GROUP BY l_returnflag
    """)
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# sql_session_variable — DECLARE VARIABLE / SET VAR cross-statement state
# ---------------------------------------------------------------------------


@query(
    "sql_session_variable",
    oracle="""
    WITH cut AS (SELECT FLOOR(AVG(l_quantity)) AS c FROM lineitem)
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           ROUND(SUM(l_extendedprice), 4) AS price_above
    FROM lineitem, cut
    WHERE l_quantity > c
    GROUP BY l_linestatus
    """,
)
def sql_session_variable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SESSION VARIABLES (Spark 4.0 `DECLARE VARIABLE` / `SET VAR`):
    a data-derived scalar (FLOOR of the mean quantity — floored so
    the cross-statement compare is INTEGER-exact, immune to the two
    engines' AVG association order) is computed in one statement,
    parked in a session variable, and consumed as a filter bound in a
    later statement — the cross-STATEMENT state surface beside
    sql_scripting's intra-script variables and sql_exec_immediate's
    per-call parameters. The oracle folds the same bound as a CTE.

    Variable and view names are uuid-scoped (variables are
    session-global) and the variable is DROPped on exit. Scale
    posture: two plans from the scan+agg family; the variable is
    driver-side state, zero executor cost."""
    tag = _uuid.uuid4().hex[:8]
    vname, view = f"qty_cut_{tag}", f"li_var_{tag}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    spark.sql(f"DECLARE OR REPLACE VARIABLE {vname} DOUBLE DEFAULT 0.0")
    try:
        spark.sql(
            f"SET VAR {vname} = (SELECT FLOOR(AVG(l_quantity)) FROM {view})"
        )
        out = spark.sql(f"""
            SELECT l_linestatus,
                   CAST(COUNT(*) AS BIGINT) AS n_above,
                   ROUND(SUM(l_extendedprice), 4) AS price_above
            FROM {view}
            WHERE l_quantity > {vname}
            GROUP BY l_linestatus
        """)
        # materialization must happen while the variable exists? No —
        # the bound is substituted at ANALYSIS time into the plan; the
        # DROP below cannot un-resolve an analyzed DataFrame. Pinned in
        # tests (drop-then-collect).
        return out
    finally:
        spark.sql(f"DROP TEMPORARY VARIABLE IF EXISTS {vname}")
        spark.catalog.dropTempView(view)


# ---------------------------------------------------------------------------
# sql_lateral_column_alias — reference a SELECT alias in the same list
# ---------------------------------------------------------------------------


@query(
    "sql_lateral_column_alias",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(net), 4) AS net_total,
           ROUND(SUM(gross), 4) AS gross_total,
           ROUND(SUM(gross - net), 4) AS tax_total
    FROM (
      SELECT l_returnflag,
             l_extendedprice * (1 - l_discount) AS net,
             net * (1 + l_tax) AS gross
      FROM lineitem
    )
    GROUP BY l_returnflag
    """,
)
def sql_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIASES (Spark 3.4+; DuckDB supports the same
    reference style): a SELECT item referencing an alias defined
    EARLIER IN THE SAME LIST (`net` → `gross = net * (1+tax)`),
    killing the nest-a-subquery-per-derivation pattern. The analyzer
    rewrites the chain into nested Projects, so the optimized plan
    is identical to the hand-nested form — a pure resolution-surface
    key; the chain crossing ROW level into the aggregate (SUM(net),
    SUM(gross - net)) exercises both resolution scopes.

    Exactness: the same expression TREE evaluates on both engines
    (the oracle writes the identical chain), sums round at 4. Plan:
    one scan + one hash agg — agg_groupby_q1's family."""
    view = f"li_lca_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    out = spark.sql(f"""
        SELECT l_returnflag,
               ROUND(SUM(net), 4) AS net_total,
               ROUND(SUM(gross), 4) AS gross_total,
               ROUND(SUM(gross - net), 4) AS tax_total
        FROM (
          SELECT l_returnflag,
                 l_extendedprice * (1 - l_discount) AS net,
                 net * (1 + l_tax) AS gross
          FROM {view}
        )
        GROUP BY l_returnflag
    """)
    spark.catalog.dropTempView(view)
    return out


# ---------------------------------------------------------------------------
# sql_group_by_all — GROUP BY ALL resolution (Spark 3.4+)
# ---------------------------------------------------------------------------

_GBA_SQL_T = """
    SELECT o_orderstatus,
           CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM {orders}
    GROUP BY ALL
"""


@query("sql_group_by_all", oracle=_GBA_SQL_T.format(orders="orders"))
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` through the SQL entry point: the analyzer
    derives the grouping set from every non-aggregate select item —
    here a plain column AND a computed expression (YEAR), pinning
    that expression items group by their expression, not their alias.
    The oracle runs the IDENTICAL text on DuckDB, so the key also
    pins that the two engines' ALL-resolution rules agree on this
    shape (a resolution divergence flips the row count, not just
    values). SUM in integer cents: at scale a grouped double SUM is
    association-order FP noise across engines' partition orders,
    well above the hash compare's exactness (the agg_grouping_flags
    rationale; r10 second-review finding #2). Plan: the same
    single-exchange partial+final hash aggregate as agg_groupby_q1 —
    pure analyzer surface, measured plan family. Views are
    uuid-scoped (sql_tpch_q6 pattern)."""
    v = f"orders_gba_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "orders").createOrReplaceTempView(v)
    out = spark.sql(_GBA_SQL_T.format(orders=v))
    spark.catalog.dropTempView(v)
    return out


@query(
    "sql_tpch_q6",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 THROUGH THE SQL ENTRY POINT: temp view + spark.sql
    text — demonstrating that the engine's second API surface (SQL)
    compiles to the identical Catalyst plan as the DataFrame calls
    (same pushdown, same codegen). View name is uuid-scoped so
    concurrent/repeated runs never collide."""
    import uuid as _uuid

    view = f"lineitem_{_uuid.uuid4().hex[:8]}"
    load(spark, sf_dir, "lineitem").createOrReplaceTempView(view)
    return spark.sql(f"""
        SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM {view}
        WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """)
