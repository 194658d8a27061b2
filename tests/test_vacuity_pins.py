"""De-vacuation pins (r14, VERDICT r13 item 6).

The driver's hash gate compares engine vs oracle on the CURRENT corpus;
for keys whose result set exists only when the data happens to contain
the phenomenon (duplicates, funnel completers, near-identical names,
contaminated n-grams, orphan FKs, in-band values), a regenerated corpus
can make both sides legitimately empty/degenerate — a vacuous pass that
would hide a broken operator. Each pin here synthesizes a corpus where
the phenomenon is GUARANTEED present, re-runs BOTH the registered
engine query and its DuckDB oracle on that corpus through the same
pandas canonicalizer the driver hashes, and asserts the phenomenon was
actually detected (non-empty / strictly-collapsed), following the
join_anti pin (test_oracle_parity.py).

Keys audited but NOT pinned here, with reasons:
- llm_dedup_url_canon, src_json_corrupt: the phenomenon is derived
  from doc_id arithmetic inside the query itself — structurally
  present for any corpus with enough rows.
- near-dup family (minhash/simhash/ngram/embedding/semdedup):
  test_ngram_candidate_plan_cross_form_equality and the banding
  property tests already fail LOUDLY (assert non-empty) if the corpus
  loses its near-dup pairs — not a silent vacuous pass.
- evt_cusum_changepoint, evt_rebalance_detect, evt_outlier_mad: the
  fold/walk is exercised by any data; outputs are per-entity values,
  not existence-of-phenomenon sets.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))

from selfcheck import duck_con, norm_pdf  # noqa: E402

from atd_dockless_processing_spark import ORACLES, QUERIES, tables  # noqa: E402


def _append_like(src: str, out: Path, extra: pd.DataFrame) -> None:
    """Copy the parquet at ``src`` to ``out`` with ``extra`` rows
    appended, cast to the SOURCE file's exact arrow schema (keeps the
    ts physical encoding whatever the corpus generation used)."""
    t = pq.read_table(src)
    add = pa.Table.from_pandas(
        extra, schema=t.schema, preserve_index=False
    )
    pq.write_table(pa.concat_tables([t, add]), out)


def _oracle(corpus: Path, key: str) -> pd.DataFrame:
    con = duck_con(str(corpus))
    try:
        return con.execute(ORACLES[key]).df()
    finally:
        con.close()


def _compare(spark, corpus: Path, key: str) -> list:
    """Engine vs oracle on the synthesized corpus through the driver's
    canonicalizer; returns the normalized engine rows."""
    s_cols, s_rows = norm_pdf(QUERIES[key](spark, str(corpus)).toPandas())
    o_cols, o_rows = norm_pdf(_oracle(corpus, key))
    assert s_cols == o_cols, f"{key}: column names differ"
    assert s_rows == o_rows, f"{key}: values differ on synthesized corpus"
    return s_rows


def test_dedup_exact_collapses_synthesized_duplicates(spark, sf_dir, tmp_path):
    """llm_dedup_exact: the stock corpus's duplicate density is a
    generator accident (the VERDICT's named example: dups could be 0
    after regeneration, making the gate dup-free and vacuous). Append
    exact-text duplicates with HIGHER doc_ids and a DIFFERENT lang:
    the survivor count must collapse them (total rows > sum of
    survivors) and min_by(lang, doc_id) must keep the ORIGINAL lang."""
    corpus = tmp_path / "dup_corpus"
    corpus.mkdir()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    seed = docs.head(3).copy()
    max_id = int(docs["doc_id"].max())
    dups = pd.concat([seed, seed]).reset_index(drop=True)
    dups["doc_id"] = [max_id + i for i in range(1, len(dups) + 1)]
    dups["lang"] = "zz"  # must NOT survive: doc_id ordering wins
    _append_like(
        f"{sf_dir}/documents.parquet", corpus / "documents.parquet", dups
    )

    # normalized rows are in SORTED column order: (lang, n_docs)
    rows = _compare(spark, corpus, "llm_dedup_exact")
    survivors = sum(int(r[1].split(":")[1]) for r in rows)
    assert survivors == docs["text"].nunique(), "dups must collapse"
    assert survivors < len(docs) + len(dups), "nothing was deduplicated"
    assert not any(r[0] == "'zz'" for r in rows), "later-doc_id lang survived"


def test_funnel_counts_synthesized_completers(spark, sf_dir, tmp_path):
    """evt_funnel: completion of signup->click->purchase is a corpus
    accident (1-row summary; all-zero under regen = vacuous). Inject
    three users completing the funnel IN ORDER and one user whose
    purchase precedes the click (must count in no purchase stage)."""
    corpus = tmp_path / "funnel_corpus"
    corpus.mkdir()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    u0 = int(ev["user_id"].max())
    t0 = pd.Timestamp("2024-06-01 00:00:00")
    h = pd.Timedelta(hours=1)
    rows = []
    eid = 10_000_000
    for i in range(1, 4):  # completers
        for j, et in enumerate(("signup", "click", "purchase")):
            rows.append((eid, t0 + j * h, u0 + i, et, 1.0, "{}"))
            eid += 1
    # out-of-order user: purchase BEFORE click
    rows += [
        (eid, t0, u0 + 4, "signup", 1.0, "{}"),
        (eid + 1, t0 + h, u0 + 4, "purchase", 1.0, "{}"),
        (eid + 2, t0 + 2 * h, u0 + 4, "click", 1.0, "{}"),
    ]
    extra = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    _append_like(f"{sf_dir}/events.parquet", corpus / "events.parquet", extra)

    # sorted columns: (n_click_after, n_purchase_after, n_signup)
    (row,) = _compare(spark, corpus, "evt_funnel")
    n_purchase = int(row[1].split(":")[1])
    assert n_purchase >= 3, "injected completers must be counted"


def test_levenshtein_matches_synthesized_near_names(spark, tmp_path):
    """fn_levenshtein: pairs under the edit-12 threshold within a
    brand block exist only if the generator happens to produce
    near-identical names. Synthesize a part table with known
    near-pairs and one far-off name; the result must be non-empty,
    exclude the far name, and hash-match the oracle."""
    corpus = tmp_path / "lev_corpus"
    corpus.mkdir()
    names = [
        "steel blue tan spring",
        "steel blue tan string",  # dist 2 from #0
        "steel blue tin spring",  # dist 1 from #0
        "xq zv wk yj pq mn bt ld rs ce fg hu",  # far from all (>12)
    ]
    part = pd.DataFrame(
        {
            "p_partkey": pd.array(range(1, len(names) + 1), dtype="int64"),
            "p_name": names,
            "p_brand": "Brand#1",
            "p_type": "STANDARD",
            "p_size": pd.array([1] * len(names), dtype="int32"),
            "p_retailprice": 100.0,
        }
    )
    part.to_parquet(corpus / "part.parquet", index=False)

    # sorted columns: (edit_dist, name_a, name_b)
    rows = _compare(spark, corpus, "fn_levenshtein")
    assert rows, "near-identical names must produce pairs"
    flat = "|".join(r[1] + r[2] for r in rows)
    assert "xq zv" not in flat, "far name must be filtered by the threshold"


def test_contamination_flags_synthesized_shared_ngram(spark, tmp_path):
    """llm_contamination_ngram: a train document sharing a 4-gram with
    the doc_id%97==0 eval split exists only by textual accident.
    Synthesize one eval doc (doc_id 97) and train docs with/without
    its 4-gram; the contaminated doc must be flagged, the clean one
    not, and the result must hash-match the oracle."""
    corpus = tmp_path / "contam_corpus"
    corpus.mkdir()
    shared = "alpha beta gamma delta"
    docs = pd.DataFrame(
        {
            "doc_id": pd.array([97, 5, 11], dtype="int64"),
            "text": [
                f"prefix {shared} suffix tokens here",
                f"unrelated opening {shared} closing words",
                "completely different content with no overlap at all",
            ],
            "lang": "en",
            "source": "synthetic",
            "n_chars": pd.array([0, 0, 0], dtype="int64"),
        }
    )
    docs.to_parquet(corpus / "documents.parquet", index=False)

    rows = _compare(spark, corpus, "llm_contamination_ngram")
    flagged = {int(r[0].split(":")[1]) for r in rows}
    assert 5 in flagged, "doc sharing the eval 4-gram must be flagged"
    assert 11 not in flagged, "clean doc must not be flagged"


def test_contamination_handles_short_docs(spark, tmp_path):
    """llm_contamination_ngram on docs with tokens < n (VERDICT r14
    item 5 / next-round item 3): Spark's ``sequence(1, 0)`` is
    DESCENDING, so an UNGUARDED 4-gram build would crash on short
    docs via ``slice(t, 0, 4)``. The registered plan filters
    ``size(t) >= 4`` before the transform (present since the key
    landed, e585ca5) — this pin proves the guard holds on 1/2/3-token
    and empty docs on BOTH the train and eval (doc_id % 97 == 0)
    sides, with oracle parity, so a future refactor cannot
    reintroduce the crash silently."""
    corpus = tmp_path / "contam_short_corpus"
    corpus.mkdir()
    shared = "alpha beta gamma delta"
    docs = pd.DataFrame(
        {
            "doc_id": pd.array([0, 97, 194, 1, 2, 3, 4, 5, 6], dtype="int64"),
            "text": [
                "solo",                      # eval, 1 token
                "two tokens",                # eval, 2 tokens
                f"{shared} epsilon",          # eval, 5 tokens
                "x",                          # train, 1 token
                "x y",                        # train, 2 tokens
                "x y z",                      # train, 3 tokens
                shared,                       # train, exactly n tokens (hit)
                f"pre {shared} post",         # train, hit
                "",                           # empty text
            ],
            "lang": "en",
            "source": "synthetic",
            "n_chars": pd.array([0] * 9, dtype="int64"),
        }
    )
    docs.to_parquet(corpus / "documents.parquet", index=False)

    rows = _compare(spark, corpus, "llm_contamination_ngram")
    flagged = {int(r[0].split(":")[1]) for r in rows}
    assert flagged == {4, 5}, "only the >=4-token overlap docs flag"


def test_theta_range_bands_on_synthesized_values(spark, tmp_path):
    """join_theta_range: which bands receive events depends entirely
    on the value distribution (2 rows on the stock corpus; 0 rows =
    vacuous if the scale shifts). Synthesize values hitting exactly
    three of the four bands (boundary-inclusive lo, exclusive hi) and
    require those three rows, hash-equal to the oracle."""
    corpus = tmp_path / "theta_corpus"
    corpus.mkdir()
    vals = [-5.0, 0.0, 50.0, 99.999, 100.0, 500.0]  # neg, low x3, mid x2
    ev = pd.DataFrame(
        {
            "event_id": pd.array(range(1, len(vals) + 1), dtype="int64"),
            "ts": pd.Timestamp("2024-06-01"),
            "user_id": pd.array([1] * len(vals), dtype="int64"),
            "event_type": "view",
            "value": vals,
            "props": "{}",
        }
    )
    ev.to_parquet(corpus / "events.parquet", index=False)

    # sorted columns: (band, n_events, sum_value)
    rows = _compare(spark, corpus, "join_theta_range")
    assert {r[0] for r in rows} == {"'neg'", "'low'", "'mid'"}, rows


@pytest.mark.parametrize(
    "key", ["stm_watermark_dedup", "stm_dedup_within_watermark"]
)
def test_streaming_dedup_drops_synthesized_duplicates(
    spark, sf_dir, tmp_path, key
):
    """Streaming dedup keys: the stock corpus's event_ids are globally
    UNIQUE (verified at sf0.01/sf0.001), so dropDuplicates removes
    nothing and the driver gate never exercises the dedup semantics —
    the vacuity is present TODAY, not just under regeneration. Append
    re-ingested copies of existing events (same event_id, same ts —
    inside any watermark) and require the deduped counts to match the
    COUNT(DISTINCT) oracle, i.e. strictly fewer than the raw rows.
    The keys stage the corpus's events under ``.scratch`` once per
    corpus path, and a ``tmp_path`` corpus is never seen again, so the
    staged copy is removed on exit."""
    corpus = tmp_path / f"sdup_{key[-9:]}"
    corpus.mkdir()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    dups = ev.head(25).copy()  # same event_id/ts: an idempotent re-pull
    _append_like(f"{sf_dir}/events.parquet", corpus / "events.parquet", dups)

    staged = Path(tables.corpus_scratch("stream_events", str(corpus)))
    try:
        rows = _compare(spark, corpus, key)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    assert not staged.exists()
    n_unique = sum(int(r[1].split(":")[1]) for r in rows)
    assert n_unique == len(ev), "dedup must drop the re-ingested copies"


def test_fk_orphans_counts_synthesized_orphans(spark, sf_dir, tmp_path):
    """dq_fk_orphans: every orphan count is 0 on the stock corpus
    (including the events->customer edge — verified), so the NOT-IN
    audit logic passes vacuously, exactly like pre-pin join_anti.
    Synthesize events rows whose user_id exceeds every c_custkey and
    require the events->customer edge to count them, hash-equal to
    the oracle."""
    corpus = tmp_path / "orphan_corpus"
    corpus.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        shutil.copy(f"{sf_dir}/{t}.parquet", corpus / f"{t}.parquet")
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    max_ck = int(cust["c_custkey"].max())
    extra = pd.DataFrame(
        {
            "event_id": pd.array(range(20_000_000, 20_000_009), dtype="int64"),
            "ts": pd.Timestamp("2024-06-01"),
            "user_id": pd.array(
                [max_ck + 1 + (i % 3) for i in range(9)], dtype="int64"
            ),
            "event_type": "view",
            "value": 1.0,
            "props": "{}",
        }
    )
    _append_like(f"{sf_dir}/events.parquet", corpus / "events.parquet", extra)

    # sorted columns: (fk, n_child, n_orphan_keys, n_orphan_rows)
    rows = _compare(spark, corpus, "dq_fk_orphans")
    edge = {r[0].strip("'"): r for r in rows}
    orphan_keys = int(edge["events->customer"][2].split(":")[1])
    orphan_rows = int(edge["events->customer"][3].split(":")[1])
    assert orphan_rows == 9 and orphan_keys == 3


def test_constraint_report_counts_synthesized_violations(
    spark, sf_dir, tmp_path
):
    """dq_constraint_report: on TPC-H-consistent data every violation
    counter is 0 (quantities 1..50, discounts 0..0.1, no null
    shipdates, positive prices, no orphan lineitems) — the detection
    logic passes vacuously TODAY. Append one lineitem row violating
    all five constraints at once and require each counter to go
    nonzero, hash-equal to the oracle."""
    corpus = tmp_path / "viol_corpus"
    corpus.mkdir()
    shutil.copy(f"{sf_dir}/orders.parquet", corpus / "orders.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    bad = pd.DataFrame(
        {
            "l_orderkey": pd.array(
                [int(li["l_orderkey"].max()) + 999_983], dtype="int64"
            ),  # orphan: beyond every o_orderkey
            "l_partkey": pd.array([1], dtype="int64"),
            "l_suppkey": pd.array([1], dtype="int64"),
            "l_linenumber": pd.array([1], dtype="int32"),
            "l_quantity": [999.0],  # > 50
            "l_extendedprice": [-5.0],  # <= 0
            "l_discount": [0.5],  # > 0.1
            "l_tax": [0.0],
            "l_returnflag": ["N"],
            "l_linestatus": ["O"],
            "l_shipdate": [pd.NaT],  # null shipdate
        }
    )
    _append_like(
        f"{sf_dir}/lineitem.parquet", corpus / "lineitem.parquet", bad
    )

    # sorted columns: (bad_discount, bad_price, bad_quantity, n_rows,
    # null_shipdate, orphan_lineitems)
    (row,) = _compare(spark, corpus, "dq_constraint_report")
    counts = [int(v.split(":")[1]) for v in row]
    bad_disc, bad_price, bad_qty, _n, null_ship, orphans = counts
    assert (
        bad_disc >= 1
        and bad_price >= 1
        and bad_qty >= 1
        and null_ship >= 1
        and orphans >= 1
    ), counts


def test_pk_uniqueness_counts_synthesized_dup_key(spark, sf_dir, tmp_path):
    """dq_pk_uniqueness: the four SINGLE-column PKs (orders, customer,
    events, documents) are genuinely unique on the stock corpus, so
    their n_dup_keys == 0 and a broken GROUP-BY-count audit would pass
    vacuously for them. (lineitem's compound PK actually HAS duplicate
    (l_orderkey, l_linenumber) pairs in the generated corpus — that
    edge is non-vacuous already and is left corpus-defined here.)
    Duplicate one orders row (same o_orderkey) and require the orders
    row of the report to count it, hash-equal to the oracle."""
    corpus = tmp_path / "dup_pk_corpus"
    corpus.mkdir()
    for t in ("customer", "lineitem", "events", "documents"):
        shutil.copy(f"{sf_dir}/{t}.parquet", corpus / f"{t}.parquet")
    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    _append_like(
        f"{sf_dir}/orders.parquet", corpus / "orders.parquet", o.head(1)
    )

    # sorted columns: (max_mult, n_dup_keys, n_keys, n_rows, tbl)
    rows = _compare(spark, corpus, "dq_pk_uniqueness")
    by_tbl = {r[4].strip("'"): r for r in rows}
    assert int(by_tbl["orders"][1].split(":")[1]) == 1  # n_dup_keys
    assert int(by_tbl["orders"][0].split(":")[1]) == 2  # max_mult
    for t in ("customer", "events", "documents"):
        assert int(by_tbl[t][1].split(":")[1]) == 0


def test_pk_packed_lineitem_key_matches_composite_twin(
    spark, sf_dir, tmp_path
):
    """dq_pk_uniqueness r14 rewrite pin: the registered form groups
    lineitem on ONE packed long (l_orderkey*8 + l_linenumber,
    injective while l_linenumber stays in 0..7 — the corpus generator
    emits 1..7) instead of the (bigint, int) composite pair, narrowing
    the dominant exchange. Equality vs the composite-key twin on the
    driver corpus, then on a synthesized corpus stressing the packing:
    (k0+1, 2) and (k0+2, 1) are DISTINCT pairs that a broken ×1
    packing would collide into one key (both sum to k0+3), line
    numbers sit at both range edges (1 and 7), and (k0+5, 7) appears
    twice — a genuine composite dup the packed key must still count
    exactly once. Oracle-hash-equal on the synthesized corpus too."""
    from atd_dockless_processing_spark.operators.quality import (
        _pk_uniqueness_composite_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["dq_pk_uniqueness"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _pk_uniqueness_composite_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "packed_pk_corpus"
    corpus.mkdir()
    for t in ("customer", "orders", "events", "documents"):
        shutil.copy(f"{sf_dir}/{t}.parquet", corpus / f"{t}.parquet")
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    k0 = int(li["l_orderkey"].max())
    extra = li.head(4).copy().reset_index(drop=True)
    extra["l_orderkey"] = pd.array(
        [k0 + 1, k0 + 2, k0 + 5, k0 + 5], dtype="int64"
    )
    extra["l_linenumber"] = pd.array([2, 1, 7, 7], dtype="int32")
    _append_like(
        f"{sf_dir}/lineitem.parquet", corpus / "lineitem.parquet", extra
    )

    _compare(spark, corpus, "dq_pk_uniqueness")  # oracle-hash parity
    twin_syn = sorted(
        map(
            tuple,
            _pk_uniqueness_composite_twin(spark, str(corpus)).collect(),
        )
    )
    reg_syn = sorted(
        map(tuple, QUERIES["dq_pk_uniqueness"](spark, str(corpus)).collect())
    )
    assert reg_syn == twin_syn

    # raw row order: (tbl, n_rows, n_keys, n_dup_keys, max_mult)
    base_li = next(r for r in reg if r[0] == "lineitem")
    syn_li = next(r for r in reg_syn if r[0] == "lineitem")
    # +4 rows; +3 distinct keys (the ×1-collision pair stays TWO keys);
    # +1 dup key (the doubled (k0+5, 7) pair).
    assert syn_li[1] == base_li[1] + 4
    assert syn_li[2] == base_li[2] + 3
    assert syn_li[3] == base_li[3] + 1


def test_od_matrix_int_components_match_stringkey_twin(
    spark, sf_dir, tmp_path
):
    """geo_od_matrix r14 rewrite pin: the registered form groups on
    the four LONG cell components and formats the cell strings only
    per surviving group; the pre-r14 form grouped on per-row-built
    strings. Equality vs the string-key twin on the driver corpus,
    then on a synthesized corpus exercising the one path the stock
    corpus never does — rows whose props carry NO 'k' (NULL → the
    'x' cell component on both engines): six such rows share one
    (0_x, 0_x) cell, so they must survive the k>=5 suppression as
    exactly one row with n_trips == 6. Oracle-hash parity on the
    synthesized corpus guards the Spark-vs-DuckDB NULL-concat
    divergence the COALESCE exists for."""
    from atd_dockless_processing_spark.operators.geo import (
        _od_matrix_stringkey_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["geo_od_matrix"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _od_matrix_stringkey_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "od_nullk_corpus"
    corpus.mkdir()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet")
    e0 = int(ev["event_id"].max())
    e0 -= e0 % 5  # keep appended event_ids ≡ 0 (mod 5): d2 stays k-only
    extra = ev.head(6).copy().reset_index(drop=True)
    extra["event_id"] = pd.array(
        [e0 + 5 * i for i in range(1, 7)], dtype="int64"
    )
    extra["user_id"] = pd.array([7] * 6, dtype="int64")  # % 7 == 0
    extra["value"] = [10.0] * 6  # floor(10/50) = 0 for o1 and d1
    extra["props"] = ["{}"] * 6  # NO 'k' → NULL → the 'x' component
    _append_like(
        f"{sf_dir}/events.parquet", corpus / "events.parquet", extra
    )

    _compare(spark, corpus, "geo_od_matrix")  # oracle-hash parity
    reg_syn = sorted(
        map(tuple, QUERIES["geo_od_matrix"](spark, str(corpus)).collect())
    )
    twin_syn = sorted(
        map(tuple, _od_matrix_stringkey_twin(spark, str(corpus)).collect())
    )
    assert reg_syn == twin_syn
    xrow = [r for r in reg_syn if r[0] == "0_x" and r[1] == "0_x"]
    assert len(xrow) == 1 and xrow[0][2] == 6, xrow


def test_bbox_join_zones_on_synthesized_points(spark, tmp_path):
    """geo_bbox_join: zone membership depends entirely on the
    (value, props.k) point distribution — the theta-range shape.
    Synthesize points hitting three of the four zones (boundary
    semantics: >= lo, < hi) and require exactly those zone rows,
    hash-equal to the oracle."""
    corpus = tmp_path / "bbox_corpus"
    corpus.mkdir()
    pts = [(10.0, 10), (150.0, 50), (150.0, 99), (50.0, 75)]
    ev = pd.DataFrame(
        {
            "event_id": pd.array(range(1, len(pts) + 1), dtype="int64"),
            "ts": pd.Timestamp("2024-06-01"),
            "user_id": pd.array([1] * len(pts), dtype="int64"),
            "event_type": "view",
            "value": [x for x, _ in pts],
            "props": [f'{{"k": {y}}}' for _, y in pts],
        }
    )
    ev.to_parquet(corpus / "events.parquet", index=False)

    # sorted columns: (n_points, zone)
    rows = _compare(spark, corpus, "geo_bbox_join")
    zones = {r[1] for r in rows}
    assert zones == {"'downtown'", "'east'", "'west'"}, rows


def test_gini_hist_form_matches_rank_twin(spark, sf_dir, tmp_path):
    """agg_gini r14 rewrite pin: the registered form derives
    Σ i·xᵢ from the (priority, cents) histogram via exact rank-block
    sums c·C + c(c+1)/2; the pre-r14 form ranked every row with a
    5-partition window. Equality vs the rank twin on the driver
    corpus, then on a synthesized corpus engineered for the block
    arithmetic's edges the stock corpus (~unique prices) barely
    exercises: a new priority class holding REAL tie blocks (5 rows
    at one price, 3 at a lower one, 1 alone — blocks of c>1 where
    the c(c+1)/2 term and the cbefore offset both matter), a
    zero-cents row (block at the rank-order head), and a second new
    single-row class (n=1 → gini 0, the degenerate tail). Oracle-
    hash parity on the synthesized corpus guards the lift + DECIMAL
    accumulation cross-engine."""
    from atd_dockless_processing_spark.operators.aggregates import (
        _gini_rank_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["agg_gini"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _gini_rank_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "gini_ties_corpus"
    corpus.mkdir()
    od = pd.read_parquet(f"{sf_dir}/orders.parquet")
    k0 = int(od["o_orderkey"].max()) + 1
    extra = od.head(11).copy().reset_index(drop=True)
    extra["o_orderkey"] = pd.array(range(k0, k0 + 11), dtype="int64")
    extra["o_orderpriority"] = ["9-TIES"] * 10 + ["9-SOLO"]
    # 9-TIES: tie blocks 5×100.00 + 3×50.00 + 1×200.00 + 1×0.00;
    # 9-SOLO: one row (n=1, gini must be exactly 0 on both engines)
    extra["o_totalprice"] = [100.0] * 5 + [50.0] * 3 + [200.0, 0.0, 77.77]
    _append_like(
        f"{sf_dir}/orders.parquet", corpus / "orders.parquet", extra
    )

    rows = _compare(spark, corpus, "agg_gini")  # oracle-hash parity
    reg_syn = sorted(
        map(tuple, QUERIES["agg_gini"](spark, str(corpus)).collect())
    )
    twin_syn = sorted(
        map(tuple, _gini_rank_twin(spark, str(corpus)).collect())
    )
    assert reg_syn == twin_syn
    ties = [r for r in reg_syn if r[0] == "9-TIES"]
    solo = [r for r in reg_syn if r[0] == "9-SOLO"]
    assert len(ties) == 1 and ties[0][1] == 10, ties
    assert len(solo) == 1 and solo[0][1] == 1 and solo[0][3] == 0.0, solo
    assert len(rows) == len(reg_syn) == 7  # 5 stock classes + 2 new


def test_rouge_merge_form_matches_quadratic_twin(spark, sf_dir, tmp_path):
    """llm_rouge_overlap r14 rewrite pin: the registered form scores
    each pair with a linear two-pointer merge over map-side-SORTED
    gram arrays; the pre-r14 form scanned both arrays per distinct
    gram. Equality vs the quadratic twin on the driver corpus, then
    on a synthesized corpus engineered for the merge's edges: a pair
    where CLIPPING binds in both directions ("a b"×3 vs ×2 and
    "b a"×2 vs ×1 → ov must be 3, not 5), an identical-text pair
    (ov = n), a 1-token doc (empty gram array → ov 0, NULL p_milli
    via the nullif guard), and a disjoint pair (ov 0). Oracle-hash
    parity on the synthesized corpus guards the sorted-merge vs
    DuckDB clipped-list semantics."""
    from atd_dockless_processing_spark.operators.llm import (
        _rouge_quadratic_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["llm_rouge_overlap"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _rouge_quadratic_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "rouge_edge_corpus"
    corpus.mkdir()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d0 = int(docs["doc_id"].max()) + 1
    texts = [
        "a b a b a b",    # "a b"x3, "b a"x2
        "a b a b x",      # "a b"x2, "b a"x1, "b x"x1 -> pair ov 3
        "same same text", # identical pair: ov = 2
        "same same text",
        "solo",           # 1-token: empty grams -> ov 0, p_milli NULL
        "q r s q r",      # vs prev: ov 0 (disjoint)
    ]
    extra = pd.DataFrame(
        {
            "doc_id": pd.array(range(d0, d0 + len(texts)), dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "synth-rouge",
            "n_chars": pd.array(
                [len(t) for t in texts], dtype="int64"
            ),
        }
    )
    _append_like(
        f"{sf_dir}/documents.parquet", corpus / "documents.parquet", extra
    )

    _compare(spark, corpus, "llm_rouge_overlap")  # oracle-hash parity
    reg_syn = {
        (r["a_id"], r["b_id"]): r.asDict()
        for r in QUERIES["llm_rouge_overlap"](spark, str(corpus)).collect()
    }
    twin_syn = {
        (r["a_id"], r["b_id"]): r.asDict()
        for r in _rouge_quadratic_twin(spark, str(corpus)).collect()
    }
    assert reg_syn == twin_syn
    assert reg_syn[(d0, d0 + 1)]["ov"] == 3  # clipped, not 5
    assert reg_syn[(d0 + 2, d0 + 3)]["ov"] == 2  # identical pair
    solo = reg_syn[(d0 + 4, d0 + 5)]
    assert solo["n_a"] == 0 and solo["ov"] == 0 and solo["p_milli"] is None


def test_corr_cov_units_form_matches_decimal_twin(spark, sf_dir, tmp_path):
    """agg_corr_cov r14 rewrite pin: the registered form computes the
    six exact power sums in long-unit arithmetic (floor(x·1e4+0.5)
    lift, per-row long products, hi/lo split sums at 2^32, exact
    decimal reconstruction post-agg); the pre-r14 form summed decimal
    products directly. Equality vs the decimal twin on the driver
    corpus, then on a synthesized corpus engineered for the split
    arithmetic's edges: a new flag holding TEN rows at the domain-max
    price (104999.91 → uy² ≈ 1.10e18 each, Σ ≈ 1.1e19 — an UNSPLIT
    long sum of pyy would wrap 2^63 here, so the hi/lo split is
    provably load-bearing), mixed with minimum-domain rows (qty 1,
    price 0.01 — lift exactness at the small end) so the group keeps
    nonzero variance. Oracle-hash parity on the synthesized corpus
    guards the lift + reconstruction cross-engine."""
    from atd_dockless_processing_spark.operators.aggregates import (
        _corr_cov_decimal_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["agg_corr_cov"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _corr_cov_decimal_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "corr_units_corpus"
    corpus.mkdir()
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    k0 = int(li["l_orderkey"].max()) + 1
    extra = li.head(13).copy().reset_index(drop=True)
    extra["l_orderkey"] = pd.array(range(k0, k0 + 13), dtype="int64")
    extra["l_returnflag"] = ["Z"] * 13
    extra["l_quantity"] = [50.0] * 10 + [1.0, 1.0, 7.0]
    extra["l_extendedprice"] = [104999.91] * 10 + [0.01, 900.68, 77.77]
    _append_like(
        f"{sf_dir}/lineitem.parquet", corpus / "lineitem.parquet", extra
    )

    rows = _compare(spark, corpus, "agg_corr_cov")  # oracle-hash parity
    reg_syn = sorted(
        map(tuple, QUERIES["agg_corr_cov"](spark, str(corpus)).collect())
    )
    twin_syn = sorted(
        map(tuple, _corr_cov_decimal_twin(spark, str(corpus)).collect())
    )
    assert reg_syn == twin_syn
    z = [r for r in reg_syn if r[0] == "Z"]
    assert len(z) == 1 and z[0][1] == 13 and z[0][2] is not None, z
    assert len(rows) == len(reg_syn) == 4  # 3 stock flags + Z


def test_corr_cov_dispatches_decimal_twin_past_row_bound(spark, sf_dir, monkeypatch):
    """agg_corr_cov picks its form from the lineitem footer count: the
    long-unit form below ``_CORR_COV_UNITS_MAX_ROWS``, the decimal twin
    at or past it and when the count is unknown (a ``file:`` URI, whose
    footers are left to Spark). Forcing the bound to 0 dispatches the
    twin, whose values equal the long-unit result on sf0.01. The
    default dispatch is the long-unit form, so the pin above compares
    two different plans."""
    from atd_dockless_processing_spark.operators import aggregates

    sf01 = str(Path(sf_dir).with_name("sf0.01"))

    def is_units(df) -> bool:
        return "4294967296" in df._jdf.queryExecution().optimizedPlan().toString()

    units = QUERIES["agg_corr_cov"](spark, sf01)
    assert is_units(units)
    monkeypatch.setattr(aggregates, "_CORR_COV_UNITS_MAX_ROWS", 0)
    wide = QUERIES["agg_corr_cov"](spark, sf01)
    assert not is_units(wide)
    got = sorted(map(tuple, wide.collect()))
    assert got == sorted(map(tuple, units.collect())) and len(got) == 3
    monkeypatch.undo()
    assert not is_units(QUERIES["agg_corr_cov"](spark, f"file://{sf01}"))


def test_ab_runner_checks_corr_cov_twin(sf_dir):
    """scripts/ab.py smoke: each form in its own process, one JSON line
    per form, and --check reports the registered agg_corr_cov and its
    decimal twin value-identical."""
    import json
    import subprocess

    repo = Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, "scripts/ab.py", "--sf", sf_dir, "--runs", "1",
         "--check", "agg_corr_cov",
         "atd_dockless_processing_spark.operators.aggregates:_corr_cov_decimal_twin"],
        capture_output=True, text=True, cwd=str(repo), timeout=600,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-2000:])
    recs = [json.loads(line) for line in r.stdout.splitlines() if line.startswith("{")]
    assert [rec.get("form") for rec in recs[:2]] == [
        "agg_corr_cov",
        "atd_dockless_processing_spark.operators.aggregates:_corr_cov_decimal_twin",
    ]
    assert all(rec["rows"] == 3 and rec["median_s"] > 0 for rec in recs[:2])
    # one run: the whole call is its plan build plus its fetch
    assert all(rec["whole_median_s"] >= rec["median_s"] and rec["build_median_s"] > 0
               for rec in recs[:2])
    assert recs[2]["identical"] is True


def test_repetition_sorted_form_matches_quadratic_twin(spark, sf_dir, tmp_path):
    """txt_repetition_filter r14 rewrite pin: the registered form
    derives max 2-gram multiplicity and distinct count from ONE
    array_sort + linear run-length walk; the pre-r14 form rescanned
    the gram array per distinct gram (O(d·n) per row). Equality vs the
    quadratic twin on the driver corpus, then on a synthesized corpus
    engineered for the walk's edges the stock corpus (min 10 tokens,
    near-unique grams) barely exercises: a heavy-repetition doc (one
    gram ×4 — the run extends across the whole array), an interleaved
    doc whose equal grams are NON-adjacent pre-sort ("b a b a c c" —
    sorting is what makes the run-length walk correct), an all-distinct
    doc (every run length 1), and a 1-token doc (empty g2 → NULL
    fractions via the shared /0 path on BOTH engines — verified
    NULL/NULL cross-engine before pinning). Oracle-hash parity on the
    synthesized corpus guards the sorted-walk vs DuckDB's quadratic
    list lambdas."""
    from atd_dockless_processing_spark.operators.text import (
        _repetition_quadratic_twin,
    )

    reg = sorted(
        map(tuple, QUERIES["txt_repetition_filter"](spark, str(sf_dir)).collect())
    )
    twin = sorted(
        map(tuple, _repetition_quadratic_twin(spark, str(sf_dir)).collect())
    )
    assert reg == twin and reg

    corpus = tmp_path / "rep_runs_corpus"
    corpus.mkdir()
    dd = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d0 = int(dd["doc_id"].max()) + 1
    texts = [
        "spam spam spam spam spam",  # one gram x4: dup2 0.75, top2 1.0
        "b a b a c c",  # non-adjacent equal grams pre-sort
        "a b c d e",  # all distinct: top2 = 1/4
        "solo",  # empty g2: NULL fractions on both engines
    ]
    extra = dd.head(4).copy().reset_index(drop=True)
    extra["doc_id"] = pd.array(range(d0, d0 + 4), dtype="int64")
    extra["lang"] = ["xx"] * 4  # a fresh lang so the group is pure
    extra["text"] = texts
    extra["n_chars"] = pd.array([len(t) for t in texts], dtype="int64")
    _append_like(
        f"{sf_dir}/documents.parquet", corpus / "documents.parquet", extra
    )

    rows = _compare(spark, corpus, "txt_repetition_filter")  # oracle parity
    reg_syn = sorted(
        map(tuple, QUERIES["txt_repetition_filter"](spark, str(corpus)).collect())
    )
    twin_syn = sorted(
        map(tuple, _repetition_quadratic_twin(spark, str(corpus)).collect())
    )
    assert reg_syn == twin_syn
    xx = [r for r in reg_syn if r[0] == "xx"]
    # 4 docs; the NULL-fraction solo doc must not flag; spam (0.75/1.0)
    # and the all-distinct doc (top2 0.25) and the interleaved doc
    # (top2 0.4) all exceed a threshold
    assert len(xx) == 1 and xx[0][1] == 4 and xx[0][2] == 3, xx
    assert any("xx" in str(r) for r in rows)  # canonicalized row strings
