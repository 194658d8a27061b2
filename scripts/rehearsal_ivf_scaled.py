"""Honest non-quadratic x100 row for the IVF ANN family (r8 verdict
item 5): run ``ivf_scaled_plan`` (nlist ~ sqrt(nq), seed-hash
quantizer, Arrow assignment, nprobe=1) against the SAME algorithm in
DuckDB SQL on the replicated corpus, and measure recall@3 of the
Spark result against the exact brute-force top-3 (numpy BLAS,
driver-side truth only).

The registered ``llm_ann_ivf`` key (fixed nlist=10 label quantizer,
hash-green vs its oracle at sf0.01) is deliberately untouched — this
is the production-scaling posture measurement.

Usage: python scripts/rehearsal_ivf_scaled.py [--mult 100] [--runs 5]
       [--nlist N] (default round(sqrt(n / 100)))
"""
from __future__ import annotations

import math
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import numpy as np  # noqa: E402
from selfcheck import duck_con  # noqa: E402

from atd_dockless_processing_spark.operators.dedup_ann import (  # noqa: E402
    _IVF_SEED_MIX,
    ivf_scaled_plan,
)
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from atd_dockless_processing_spark.tables import load, parquet_nrows  # noqa: E402

QUERY_MOD = 100


def duck_sql(nlist: int) -> str:
    return f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), seeds AS (
      SELECT ve AS sv, ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell
      FROM (SELECT vec_id, ve, (vec_id * {_IVF_SEED_MIX}) % 2147483648 AS h
            FROM v ORDER BY h, vec_id LIMIT {nlist})
    ), assigned AS (
      SELECT vec_id, ve, cell FROM (
        SELECT v.vec_id, v.ve, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_dot_product(v.ve, s.sv)
                          / (sqrt(list_dot_product(v.ve, v.ve))
                             * sqrt(list_dot_product(s.sv, s.sv))) DESC,
                          s.cell) AS rn
        FROM v CROSS JOIN seeds s) WHERE rn = 1
    ), q AS (
      SELECT vec_id AS query_id, ve AS qv, cell AS qcell
      FROM assigned WHERE vec_id % {QUERY_MOD} = 0
    ), cands AS (
      SELECT q.query_id, a.cell, a.vec_id AS neighbor_id,
             ROUND(list_dot_product(a.ve, q.qv)
                   / (sqrt(list_dot_product(a.ve, a.ve))
                      * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim
      FROM q JOIN assigned a ON a.cell = q.qcell AND a.vec_id <> q.query_id
    )
    SELECT query_id, cell, neighbor_id, cos_sim, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
      FROM cands) WHERE rnk <= 3
    """


def exact_top3(out: str) -> dict[int, set[int]]:
    """Driver-side numpy truth: exact cosine top-3 per query."""
    tbl = duck_con(out).execute(
        "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id"
    ).fetch_arrow_table()
    ids = tbl["vec_id"].to_numpy()
    mat = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    qmask = ids % QUERY_MOD == 0
    qids, qmat = ids[qmask], mat_n[qmask]
    truth: dict[int, set[int]] = {}
    B = 256
    for s in range(0, len(qids), B):
        sims = mat_n @ qmat[s : s + B].T  # (n, b)
        for j in range(sims.shape[1]):
            col = sims[:, j].copy()
            col[ids == qids[s + j]] = -np.inf
            # top-3 by (cos desc, neighbor_id asc): argsort on
            # (-cos, id) via lexsort
            top = np.lexsort((ids, -np.round(col, 4)))[:3]
            truth[int(qids[s + j])] = set(int(ids[t]) for t in top)
    return truth


def main() -> None:
    argv = sys.argv
    mult = int(argv[argv.index("--mult") + 1]) if "--mult" in argv else 100
    runs = int(argv[argv.index("--runs") + 1]) if "--runs" in argv else 5
    out = str(REPO / ".scratch" / f"scale_x{mult}")
    n = parquet_nrows(out, "embeddings")
    nlist = (
        int(argv[argv.index("--nlist") + 1])
        if "--nlist" in argv
        else max(4, round(math.sqrt(n / QUERY_MOD)))
    )
    print(f"# n={n} nq~{n // QUERY_MOD} nlist={nlist}")

    spark = get_spark("rehearsal-ivf")
    load(spark, out, "embeddings").count()  # warm page cache

    def spark_fn():
        return ivf_scaled_plan(spark, out, nlist, QUERY_MOD)

    got = spark_fn().toPandas()
    times = []
    for _ in range(runs):
        df = spark_fn()
        df._jdf.queryExecution().executedPlan()
        t0 = time.perf_counter()
        df.toPandas()
        times.append(time.perf_counter() - t0)
    s_t = statistics.median(times)

    con = duck_con(out)
    con.execute("SET threads TO 4")
    sql = duck_sql(nlist)
    con.execute(sql).fetchall()
    dts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        dts.append(time.perf_counter() - t0)
    d_t = statistics.median(dts)

    truth = exact_top3(out)
    hit = tot = 0
    for qid, grp in got.groupby("query_id"):
        want = truth[int(qid)]
        hit += len(want & set(int(x) for x in grp["neighbor_id"]))
        tot += len(want)
    recall = hit / tot if tot else float("nan")
    print(
        f"| ann ivf scaled x{mult} (nlist={nlist}, nprobe=1) "
        f"| {d_t:.3f} s | {s_t:.3f} s | {s_t / d_t:.2f}x | recall@3 {recall:.3f} |"
    )


if __name__ == "__main__":
    main()
