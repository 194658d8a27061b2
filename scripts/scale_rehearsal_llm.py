"""LLM-pipeline scale rehearsal: engine-path scaling on replicated docs.

The dedup/pipeline operators cannot be rehearsed like the SQL shapes
in scale_rehearsal.py — their DuckDB oracles are deliberately O(n^2)
all-pairs (fine at 500 docs, impossible at x100). What matters for
the 100 TB story is that the ENGINE path (MinHash-banded / df-
threshold / window-packing) scales ~linearly in corpus size. This
script measures exactly that: replicate sf0.1's documents xN with

- shifted doc_ids (disjoint id spaces), and
- per-replica token suffixes (`tok` -> `tok_rN`), so cross-replica
  Jaccard is 0: each replica keeps the original within-replica
  near-dup structure and contributes a LINEAR number of dup pairs
  (naive replication would create groups of N identical docs and a
  QUADRATIC pair blowup that no dedup design could survive).

Then run the engine QUERIES (not the oracles) scan-based at each
multiplier and print a markdown row per shape with the x-factor
between successive scales (1.0x per 10x data = perfectly linear;
sublinear factors mean fixed overhead still amortizing).

Usage: python scripts/scale_rehearsal_llm.py [--mults 1,10,100] [--runs 3]
           [--shapes key1,key2]  (registry keys; default all)
           [--lowdensity]    r9 verdict item 4: rehearse on the
                             LOW-DENSITY corpus (~0.1% true near-dups,
                             the real training-data regime) instead of
                             the pathological 24%-dense suffixed
                             corpus. Every token is doc-unique-suffixed
                             (cross-doc Jaccard 0 by construction), and
                             every 1000th doc gets ONE high-Jaccard
                             twin (text minus its last token) — so true
                             pairs are ~0.1% of docs and grow LINEARLY
                             with the corpus. Default shapes: the three
                             minhash-gated verify keys whose x10/x100
                             behavior was previously asserted, not
                             measured (llm_dedup_ngram,
                             llm_dedup_keep_list, llm_dedup_clusters).
           [--shuffle N]     shuffle partitions for the run (default 32)
           [--smj]           force sort-merge joins (spill-friendly)
           [--skip-warmup]   skip the warm-up execution (one-shot runs)
           [--sink]          minhash endgame (round-6 verdict item 7):
                             candidates -> exact verify with the doc_b
                             token attach BROADCAST -> verified pairs
                             written straight to a partitioned parquet
                             sink. The wide token-attached rows stream
                             map-side from the doc_a join to the sink
                             without entering an exchange, so the one
                             box's shuffle disk only ever holds slim
                             pair rows (the ~300M-pair x KB-wide
                             shuffle that killed the r5 x100 attempt
                             never exists). Single-shape, one-shot
                             timing (no warm-up).

Spill note (round-4 -> round-5): the session default is shuffled HASH
join (preferSortMergeJoin=false — faster for the bench shapes), but a
hash join's per-partition build map cannot spill; on the x100 minhash
band join one 8 GB JVM OOMs. --smj + --shuffle 1024 turns the band
join into a sort-merge join (sorts spill to disk) over partitions
small enough that per-task state fits — the exact configuration a
1000-executor cluster would run with, where the same plan spreads
those partitions across machines.
"""

from __future__ import annotations

import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from atd_dockless_processing_spark import QUERIES  # noqa: E402
from atd_dockless_processing_spark.session import get_spark  # noqa: E402
from atd_dockless_processing_spark.tables import load  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
SHAPES = {
    "minhash near-dup (banded LSH)": "llm_dedup_near_minhash",
    "exact dedup (groupBy text)": "llm_dedup_exact",
    "boilerplate strip (df-threshold)": "txt_boilerplate_strip",
    "sequence packing (window cumsum)": "llm_pack_sequences",
    "corpus funnel (one-pass gates)": "llm_corpus_funnel",
    # round-6 completion: the rest of the dedup family on the SAME
    # suffixed corpus (cross-replica Jaccard 0 — linear true-pair
    # growth; the naive scale_rehearsal replication would create
    # groups of N identical docs and a quadratic blowup)
    "simhash near-dup (4x8-bit bands)": "llm_dedup_simhash",
    "ngram jaccard near-dup (minhash-gated)": "llm_dedup_ngram",
    "url canonical dedup": "llm_dedup_url_canon",
    "keep-list dedup (minhash-gated)": "llm_dedup_keep_list",
    "dedup clusters (connected components)": "llm_dedup_clusters",
}


def build(spark, mult: int) -> str:
    import os

    out = REPO / ".scratch" / f"scale_llm_x{mult}"
    dst = out / "documents.parquet"
    # source-freshness marker: rebuild replicas when the base corpus
    # regenerates (same staleness class as the stream stagings)
    marker = out / "src_mtime"
    src_sig = str(os.stat(f"{BASE_SF}/documents.parquet").st_mtime_ns)
    fresh = (
        (dst / "_SUCCESS").exists()
        and marker.exists()
        and marker.read_text().strip() == src_sig
    )
    if not fresh:
        # fan the 1-row-group source across many small map tasks BEFORE
        # the xN explode: at x100 a coarse partition holds its whole
        # slice's replicas in one task's heap (measured: GCLocker
        # storms + lost spill files on an 8 GB JVM). 4*mult slivers
        # keep each task at ~1/400th of the replicated corpus.
        docs = (
            load(spark, BASE_SF, "documents")
            .repartition(max(32, 4 * mult))
            .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        )
        docs = (
            docs.withColumn("doc_id", F.col("doc_id") + F.col("_rep").cast("long") * 10_000_000)
            .withColumn(
                "text",
                F.when(F.col("_rep") == 0, F.col("text")).otherwise(
                    F.array_join(
                        F.transform(
                            F.split("text", " "),
                            lambda t: F.concat_ws("_", t, F.col("_rep").cast("string")),
                        ),
                        " ",
                    )
                ),
            )
            .drop("_rep")
        )
        n_files = max(8, min(64, mult))
        docs.repartition(n_files).write.mode("overwrite").parquet(str(dst))
        marker.write_text(src_sig)
    return str(out)


LOWDENSITY_SHAPES = {
    "ngram jaccard near-dup (0.1% density)": "llm_dedup_ngram",
    "keep-list dedup (0.1% density)": "llm_dedup_keep_list",
    "dedup clusters (0.1% density)": "llm_dedup_clusters",
}

_TWIN_OFFSET = 1_000_000_000  # twin ids live far above any replica id


def build_lowdensity(spark, mult: int) -> str:
    """Replicated corpus in the REAL training-data regime for the
    CHAR-3-GRAM keys: ~0.1% true near-dups instead of the 24%-dense
    pathological base.

    The base corpus's long natural-language texts saturate the tiny
    char-3-gram space, so EVERY pair looks similar (that's the 24%
    density). The discriminative regime for a 3-gram Jaccard metric is
    SHORT, HIGH-ENTROPY texts: here each doc's text is rebuilt as 12
    'words' of base64(md5(doc_id, i)) — ~24-char words over a
    65-symbol alphabet, so a doc carries ~300 distinct grams out of
    ~270k possible and E[J_random] ≈ 5e-4 (most random pairs share
    zero grams). Every 1000th doc emits one TWIN (same words minus the
    last → J ≈ 0.9, above both thresholds), id-offset into a disjoint
    range. True pairs ≈ docs/1000, linear in the multiplier; banded
    candidates ≈ E[J_random]·n²/2 per block — the quantity whose
    'verify is linear in candidates' claim this rehearsal measures."""
    import os

    out = REPO / ".scratch" / f"scale_llm_lowdens_x{mult}"
    dst = out / "documents.parquet"
    marker = out / "src_mtime"
    # version prefix = corpus DESIGN generation (v3 = short
    # high-entropy texts, '=' padding stripped); BUMP THE PREFIX in
    # lockstep with any design change below or the marker will
    # silently match a stale corpus
    src_sig = "v3:" + str(os.stat(f"{BASE_SF}/documents.parquet").st_mtime_ns)
    fresh = (
        (dst / "_SUCCESS").exists()
        and marker.exists()
        and marker.read_text().strip() == src_sig
    )
    if not fresh:
        docs = (
            load(spark, BASE_SF, "documents")
            .select("doc_id", "lang", "source")
            .repartition(max(32, 4 * mult))
            .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
        )
        # '=' padding stripped: every 16-byte base64 ends '==', and
        # those universal grams put a shared gram in EVERY doc pair
        # (measured: 251k band candidates at x1 vs ~18k without)
        words = lambda n: F.transform(  # noqa: E731
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: F.replace(
                F.base64(
                    F.unhex(
                        F.md5(
                            F.concat_ws(
                                "_",
                                F.col("doc_id").cast("string"),
                                i.cast("string"),
                            )
                        )
                    )
                ),
                F.lit("="),
                F.lit(""),
            ),
        )
        uniq = (
            docs.withColumn(
                "doc_id",
                F.col("doc_id") + F.col("_rep").cast("long") * 10_000_000,
            )
            .withColumn("text", F.array_join(words(12), " "))
            .drop("_rep")
        )
        twins = (
            uniq.where(F.col("doc_id") % 1000 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(_TWIN_OFFSET))
            # rebuild from the TWIN's pre-offset identity: words() uses
            # doc_id, so recompute with 11 of the original 12 words
            .withColumn(
                "text",
                F.array_join(
                    F.slice(F.split("text", " "), 1, 11),
                    " ",
                ),
            )
        )
        n_files = max(8, min(64, mult))
        (
            uniq.unionByName(twins)
            # keep the table self-consistent after the text rewrite
            .withColumn("n_chars", F.length("text").cast("long"))
            .repartition(n_files)
            .write.mode("overwrite")
            .parquet(str(dst))
        )
        marker.write_text(src_sig)
    return str(out)


def run_lowdensity(spark, mults, runs) -> None:
    """Low-density measurement (r8 VERDICT item 4): per multiplier,
    report band-candidate counts for the registered 16x1 shape and
    the production 8x2 shape, verified-pair counts (must equal the
    twin count), and hot key timings for both shapes — so 'verify is
    linear in candidates' is a measured claim and the two shapes'
    candidate floors are priced side by side. The registered r=1
    shape is SKIPPED above --mults 10 (its ~b·E[J]·n²/2 random-
    collision floor reaches ~1e9 candidates at x100 on this corpus —
    priced by extrapolation in BASELINE.md; the r=2 shape is the
    config that scale runs)."""
    import time as _time

    from pyspark.sql import DataFrame  # noqa: F401

    from atd_dockless_processing_spark.operators.dedup_ann import (
        _CLUSTER_T,
        _ngram_pairs,
        min_label_components,
        ngram_candidate_pairs,
        ngram_verified_pairs,
    )

    def verify_tail(d, pairs, threshold):
        # the SHARED production verify tail — the rehearsal must
        # measure the plan that ships, not a local copy of it
        return ngram_verified_pairs(d, pairs, threshold).select("doc_a", "doc_b")

    def key_plans(sf_dir, r):
        ngram = lambda: verify_tail(  # noqa: E731
            *ngram_candidate_pairs(spark, sf_dir, 0.8, rows_per_band=r), 0.8
        ).count()

        def clusters():
            pairs = _ngram_pairs(spark, sf_dir, _CLUSTER_T, rows_per_band=r)
            labels = min_label_components(pairs)
            return labels.groupBy("label").count().count()

        def keep_list():
            pairs = _ngram_pairs(spark, sf_dir, _CLUSTER_T, rows_per_band=r)
            labels = min_label_components(pairs)
            dropped = labels.where(F.col("node") != F.col("label"))
            return dropped.count()

        return {"ngram": ngram, "clusters": clusters, "keep_list": keep_list}

    print("| mult | docs | r | candidates | verified | ngram | clusters | keep_list |")
    print("|---|---|---|---|---|---|---|---|")
    for m in mults:
        sf_dir = build_lowdensity(spark, m)
        n_docs = load(spark, sf_dir, "documents").count()
        for r in (1, 2):
            if r == 1 and m > 10:
                print(f"| x{m} | {n_docs} | 16x1 | SKIPPED (~b·E[J]·n²/2 — see notes) | | | | |")
                continue
            d, pairs = ngram_candidate_pairs(spark, sf_dir, 0.8, rows_per_band=r)
            n_cand = pairs.count()
            n_ver = verify_tail(d, pairs, 0.8).count()
            cells = []
            for name, fn in key_plans(sf_dir, r).items():
                cells.append(f"{timed(fn, runs):.2f} s")
            shape = "16x1" if r == 1 else "8x2"
            print(
                f"| x{m} | {n_docs} | {shape} | {n_cand:,} | {n_ver} | "
                + " | ".join(cells)
                + " |",
                flush=True,
            )


def timed(fn, runs: int, warmup: bool = True) -> float:
    if warmup:
        fn()
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def main() -> None:
    argv = sys.argv[1:]
    mults = (
        [int(x) for x in argv[argv.index("--mults") + 1].split(",")]
        if "--mults" in argv
        else [1, 10, 100]
    )
    runs = int(argv[argv.index("--runs") + 1]) if "--runs" in argv else 3
    lowdensity = "--lowdensity" in argv
    shapes = LOWDENSITY_SHAPES if lowdensity else SHAPES
    if "--shapes" in argv:
        keep = set(argv[argv.index("--shapes") + 1].split(","))
        shapes = {lbl: k for lbl, k in shapes.items() if k in keep}
    spark = get_spark("scale-rehearsal-llm")
    spark.conf.set("spark.sql.adaptive.enabled", "true")  # production config
    if "--shuffle" in argv:
        spark.conf.set(
            "spark.sql.shuffle.partitions", argv[argv.index("--shuffle") + 1]
        )
        # honor the explicit partition count: AQE's coalescer sizes
        # partitions on MAP-OUTPUT bytes, which is blind to the band
        # join's ~1000x output fan-out — it collapsed 1024 requested
        # partitions back to ~13 fat tasks (measured r5), recreating
        # the exact per-task state blowup --shuffle exists to avoid
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    if "--smj" in argv:
        # sort-merge joins spill; the session's shuffled-hash default
        # cannot (build map is in-memory) — required for x100 minhash
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    warmup = "--skip-warmup" not in argv

    if lowdensity:
        run_lowdensity(spark, mults, runs)
        return

    dirs = {m: build(spark, m) for m in mults}

    if "--sink" in argv:
        from atd_dockless_processing_spark.operators.llm import (
            _minhash_candidates,
            _minhash_verify,
        )

        print("| mult | wall | verified pairs | sink |")
        print("|---|---|---|---|")
        for m in mults:
            out = str(REPO / ".scratch" / f"minhash_verified_x{m}")
            t0 = time.perf_counter()
            pairs, d = _minhash_candidates(spark, dirs[m])
            verified = _minhash_verify(pairs, d, broadcast_b=True)
            (
                verified.withColumn("pb", F.pmod(F.xxhash64("doc_a"), F.lit(64)))
                .write.mode("overwrite")
                .partitionBy("pb")
                .parquet(out)
            )
            wall = time.perf_counter() - t0
            n = spark.read.parquet(out).count()
            print(f"| x{m} | {wall:.1f} s | {n:,} | {out} |")
        return
    hdr = " | ".join(f"x{m}" for m in mults)
    print(f"| shape | {hdr} | step factors (per 10x data) |")
    print("|---|" + "---|" * (len(mults) + 1))
    for label, key in shapes.items():
        ts = []
        for m in mults:
            sf_dir = dirs[m]

            # Materialize via count(), not toPandas(): the dedup
            # shapes emit output proportional to the true near-dup
            # pair count (~30M pairs at x100), and collecting that to
            # one driver OOMs an 8g heap — at scale, pair output goes
            # to a sink, never to the driver. count() still executes
            # the full plan (the verify filter cannot be pruned).
            def run():
                QUERIES[key](spark, sf_dir).count()

            ts.append(timed(run, runs, warmup=warmup))
        cells = " | ".join(f"{t:.2f} s" for t in ts)
        steps = " ".join(
            f"{ts[i + 1] / ts[i]:.1f}x" for i in range(len(ts) - 1)
        )
        print(f"| {label} | {cells} | {steps} |")


if __name__ == "__main__":
    main()
