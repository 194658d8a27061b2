"""The generator is deterministic per seed, keeps replicas disjoint and
joinable, and checks its output from the parquet footers."""

import numpy as np
import pyarrow as pa
import pytest

import datagen


@pytest.fixture(scope="module")
def base():
    return datagen.make_base()


def test_base_is_deterministic_and_sized(base):
    again = datagen.make_base()
    for name, rows in datagen.BASE_ROWS.items():
        assert base[name].num_rows == rows
        assert base[name].equals(again[name])


def test_offsets_depend_on_seed_only():
    assert datagen.offsets(3, 4) == datagen.offsets(3, 4)
    assert datagen.offsets(3, 4) != datagen.offsets(4, 4)
    for shifts in datagen.offsets(3, 4).values():
        assert shifts[0] == 0  # replica 0 keeps vec_id 0 for llm_cosine_topk
        for r, shift in enumerate(shifts[1:], start=1):
            assert r * datagen.SPAN <= shift < r * datagen.SPAN + datagen.SPAN // 2


def test_replicas_are_seeded_disjoint_and_joinable(base):
    orders = datagen.replicate(base["orders"], "orders", seed=7, mult=3)
    assert orders.equals(datagen.replicate(base["orders"], "orders", seed=7, mult=3))
    assert not orders.equals(datagen.replicate(base["orders"], "orders", seed=8, mult=3))
    assert orders.num_rows == 3 * base["orders"].num_rows
    keys = orders.column("o_orderkey").to_numpy()
    assert len(np.unique(keys)) == len(keys)

    lineitem = datagen.replicate(base["lineitem"], "lineitem", seed=7, mult=3)
    customer = datagen.replicate(base["customer"], "customer", seed=7, mult=3)
    # every fact row still finds its dimension row inside its replica
    assert set(lineitem.column("l_orderkey").to_numpy()) <= set(keys)
    assert set(orders.column("o_custkey").to_numpy()) <= set(
        customer.column("c_custkey").to_numpy())


def test_replica_rows_are_a_permutation(base):
    ev = datagen.replicate(base["events"], "events", seed=1, mult=2)
    assert sorted(ev.column("event_id").to_pylist()) == sorted(
        base["events"].column("event_id").to_pylist() * 2)
    assert ev.column("event_id").to_pylist() != base["events"].column("event_id").to_pylist() * 2


def test_ensure_writes_checks_and_reuses(tmp_path):
    base_dir, base_s = datagen.ensure_base(tmp_path)
    assert base_s > 0
    assert datagen.ensure_base(tmp_path) == (base_dir, 0.0)

    data, gen_s = datagen.ensure_scaled(tmp_path, base_dir, seed=5, mult=2)
    assert gen_s > 0
    for name in datagen.REPL:
        assert datagen.footer_rows(data / f"{name}.parquet") == 2 * datagen.BASE_ROWS[name]
    assert datagen.ensure_scaled(tmp_path, base_dir, seed=5, mult=2) == (data, 0.0)

    assert datagen.check(tmp_path, seed=5, mult=2) == data
    assert datagen.check(tmp_path, seed=0, mult=1) == base_dir
    with pytest.raises(RuntimeError):
        datagen.check(tmp_path, seed=6, mult=2)

    # a damaged set fails the check and is rebuilt, not served
    victim = sorted((data / "orders.parquet").glob("*.parquet"))[0]
    victim.unlink()
    with pytest.raises(RuntimeError):
        datagen.check(tmp_path, seed=5, mult=2)
    assert datagen.ensure_scaled(tmp_path, base_dir, seed=5, mult=2)[1] > 0

    # another seed replaces the set
    assert datagen.ensure_scaled(tmp_path, base_dir, seed=6, mult=2)[1] > 0


def test_schema_matches_driver_tables(base):
    ts = pa.timestamp("us")
    assert base["orders"].schema.field("o_orderdate").type == ts
    assert base["events"].schema.field("ts").type == ts
    assert base["embeddings"].schema.field("embedding").type == pa.list_(pa.float32())
    assert base["nation"].schema.field("n_nationkey").type == pa.int32()
