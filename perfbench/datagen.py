"""Seeded input generator for the benchmark.

Two layers of inputs, both written under the benchmark's own work
directory:

- ``base``: a synthetic sf0.1 star schema with the driver tables'
  schemas and value domains (FIXTURES.md §A). It comes from a fixed
  generator seed, so every run and every checkout sees the same base.
- ``x<mult>``: ``mult`` key-shifted replicas of the base tables that
  carry keys, in the manner of ``scripts/scale_rehearsal.py``
  (``REPL``/``SPANS``): replica ``r`` adds ``r * SPAN + offset[r]`` to
  the key columns, so joins stay inside one replica and replicas never
  collide. The run seed picks ``offset[r]`` and the row order of the
  written files.

Each layer is reused while its marker (seed, replica count, generator
version, base signature) matches; a reuse still checks the parquet
footers, so a damaged input set is rebuilt instead of served.
``check`` is that reuse check alone: it generates nothing.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = "1"
BASE_SEED = 42
SPAN = 10_000_000

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
BASE_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
# table -> key columns shifted per replica; columns in one family share
# a shift so fact->fact and fact->dim joins stay inside a replica
REPL = {
    "lineitem": {"l_orderkey": "order"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "customer": {"c_custkey": "cust"},
    "events": {"user_id": "user"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}
FAMILIES = ("order", "cust", "user", "doc", "vec")
# dimension tables copied through at base size
STATIC = ("region", "nation", "supplier", "part")
# part files per replicated table: enough row groups for every core
N_FILES = {"lineitem": 16, "events": 8, "orders": 8}

_TS = pa.timestamp("us")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream table"
    " the value vector window"
).split()


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86_400_000_000, _TS)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def make_base(seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The synthetic sf0.1 tables, in memory. Deterministic in ``seed``."""
    rng = np.random.default_rng(seed)
    n = BASE_ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], k.size),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": pa.array(rng.integers(0, 25, k.size), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, k.size), 2),
    })
    k = np.arange(n["part"])
    adj = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "spring", "widget", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(k, pa.int64()),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in
                            zip(rng.integers(0, 8, k.size), rng.integers(0, 8, k.size))]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], k.size),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], k.size),
        "p_size": pa.array(rng.integers(1, 51, k.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
    })
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k.size), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k.size),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, k.size), 2),
        "o_orderdate": _days(rng, k.size, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], k.size),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    m = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, m))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), pa.int64()),
        "ts": pa.array(ts, _TS),
        "user_id": pa.array(rng.integers(0, 1500, m), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)]),
    })
    m = n["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), c)])
             for c in rng.integers(10, 101, m)]
    for i in range(8):  # a few exact duplicates, as in the driver tables
        texts[m - 1 - i] = texts[i]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], m,
                      p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": _pick(rng, [f"src{i}" for i in range(20)], m),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    m, dim = n["embeddings"], 64
    vec = rng.normal(0.0, 1.0, (m, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.reshape(-1), dim)
        .cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), pa.int32()),
    })
    return out


def offsets(seed: int, mult: int) -> dict[str, list[int]]:
    """Per-family key shift of every replica. Replica 0 keeps the base
    keys (``llm_cosine_topk`` queries ``vec_id = 0``); replica ``r``
    shifts by ``r * SPAN`` plus a seeded offset below ``SPAN / 2``,
    which keeps replicas disjoint because no base key reaches
    ``SPAN / 2``."""
    rng = np.random.default_rng([seed, 1])
    return {
        f: [0] + [r * SPAN + int(o) for r, o in
                  enumerate(rng.integers(0, SPAN // 2, mult - 1), start=1)]
        for f in FAMILIES
    }


def replicate(base: pa.Table, table: str, seed: int, mult: int) -> pa.Table:
    """``mult`` key-shifted copies of ``base``, rows in seeded order."""
    shifts = offsets(seed, mult)
    t = pa.concat_tables([base] * mult)
    rep = np.repeat(np.arange(mult), base.num_rows)
    for col, fam in REPL[table].items():
        delta = np.asarray(shifts[fam], np.int64)[rep]
        keys = base.column(col).to_numpy()
        shifted = np.tile(keys, mult) + delta
        t = t.set_column(t.schema.get_field_index(col), col, pa.array(shifted, pa.int64()))
    rng = np.random.default_rng([seed, 2, TABLES.index(table)])
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _write_parts(t: pa.Table, out: Path, n_files: int, pool) -> None:
    out.mkdir(parents=True)
    step = -(-t.num_rows // n_files)
    jobs = [
        pool.submit(pq.write_table, t.slice(i * step, step),
                    str(out / f"part-{i:05d}.parquet"), row_group_size=256 * 1024)
        for i in range(n_files)
    ]
    for j in jobs:
        j.result()


def footer_rows(path: Path) -> int:
    """Row count of a parquet file or directory of part files, from
    footers only."""
    if path.is_dir():
        return sum(pq.ParquetFile(p).metadata.num_rows for p in sorted(path.glob("*.parquet")))
    return pq.ParquetFile(path).metadata.num_rows


def _signature(d: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(d.rglob("*.parquet")):
        st = p.stat()
        h.update(f"{p.relative_to(d)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:16]


def _marker_ok(d: Path, want: dict, expect_rows: dict[str, int]) -> bool:
    try:
        got = json.loads((d / "MARKER.json").read_text())
        if {k: got.get(k) for k in want} != want or got.get("sig") != _signature(d):
            return False
        return all(footer_rows(d / f"{t}.parquet") == r for t, r in expect_rows.items())
    except (OSError, ValueError, pa.ArrowException):
        return False


def _publish(tmp: Path, final: Path, marker: dict) -> None:
    marker = dict(marker, sig=_signature(tmp))
    (tmp / "MARKER.json").write_text(json.dumps(marker, sort_keys=True))
    shutil.rmtree(final, ignore_errors=True)
    tmp.rename(final)


def _spec(work: Path, seed: int, mult: int) -> tuple[Path, dict, dict[str, int]]:
    """Directory, marker and footer row counts of the input set for
    ``seed`` and ``mult`` (``mult == 1``: the base tables)."""
    if mult == 1:
        return (work / "base_sf0.1", {"version": GENERATOR_VERSION, "base_seed": BASE_SEED},
                BASE_ROWS)
    want = {"version": GENERATOR_VERSION, "seed": seed, "mult": mult,
            "base_sig": _signature(work / "base_sf0.1")}
    return work / f"x{mult}", want, {t: mult * BASE_ROWS[t] for t in REPL}


def check(work: Path, seed: int, mult: int) -> Path:
    """The directory of the input set for ``seed`` and ``mult``, after
    the reuse check (marker and parquet footers). Raises if the set is
    missing or damaged: this generates nothing."""
    d, want, expect = _spec(work, seed, mult)
    if not _marker_ok(d, want, expect):
        raise RuntimeError(f"input set {d} is missing or does not match its marker")
    return d


def ensure_base(work: Path) -> tuple[Path, float]:
    """Write the base sf0.1 tables once per work directory. Returns the
    directory and the seconds spent generating (0 when reused)."""
    d, want, expect = _spec(work, BASE_SEED, 1)
    if _marker_ok(d, want, expect):
        return d, 0.0
    t0 = time.perf_counter()
    tmp = work / "base_sf0.1.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for name, t in make_base().items():
        pq.write_table(t, str(tmp / f"{name}.parquet"))
    _publish(tmp, d, want)
    return d, time.perf_counter() - t0


def ensure_scaled(work: Path, base_dir: Path, seed: int, mult: int) -> tuple[Path, float]:
    """Write the ``mult``-replica input set for ``seed`` (replacing any
    other seed's set, so one set is kept). Checks from the footers that
    every replicated table holds exactly ``mult`` times its base rows.
    Returns the directory and the seconds spent (0 when reused)."""
    d, want, expect = _spec(work, seed, mult)
    if _marker_ok(d, want, expect):
        return d, 0.0
    t0 = time.perf_counter()
    tmp = work / f"x{mult}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    with ThreadPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
        for name in REPL:
            base = pq.read_table(str(base_dir / f"{name}.parquet"))
            _write_parts(replicate(base, name, seed, mult), tmp / f"{name}.parquet",
                         N_FILES.get(name, 4), pool)
    for name in STATIC:
        shutil.copy(base_dir / f"{name}.parquet", tmp / f"{name}.parquet")
    for name, rows in expect.items():
        got = footer_rows(tmp / f"{name}.parquet")
        if got != rows:
            raise RuntimeError(f"{name}: footers hold {got} rows, expected {rows}")
    _publish(tmp, d, want)
    return d, time.perf_counter() - t0


def main(argv: list[str]) -> None:
    """``datagen.py WORK_DIR SEED MULT``: ensure the base tables and, for
    MULT > 1, the MULT-replica set for SEED; print the input directory
    and the seconds spent as one JSON line."""
    work, seed, mult = Path(argv[0]), int(argv[1]), int(argv[2])
    base, gen_s = ensure_base(work)
    out = {"data": str(base), "gen_s": gen_s}
    if mult > 1:
        data, scaled_s = ensure_scaled(work, base, seed, mult)
        out.update(data=str(data), gen_s=gen_s + scaled_s)
    print(json.dumps(out))


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
