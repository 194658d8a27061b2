"""Table loading helpers for the driver-provided parquet tables.

Tables and schemas are fixed (FIXTURES.md §A); one parquet file per
table per scale-factor directory (TESTDATA.md). At 100 TB each
"file" becomes a partitioned parquet dataset — ``spark.read.parquet``
is unchanged, and filters/projections push down to row groups.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

REPO_ROOT = Path(__file__).resolve().parent.parent
SCRATCH = REPO_ROOT / ".scratch"


# Optional table provider (catalog indirection): harnesses can serve
# alternative physical representations of the logical tables — e.g.
# bench.py registers repartitioned+cached DataFrames so post-scan
# stages parallelize past the single-row-group parquet files. Query
# code is unchanged: same logical tables, different physical source.
_PROVIDER = None


def set_table_provider(provider) -> None:
    global _PROVIDER
    _PROVIDER = provider


def provider_active() -> bool:
    """True while a table provider is installed. Layout machinery
    (ensure_* builders AND their availability/dispatch probes) must
    treat this as 'the logical tables are NOT the on-disk files right
    now': a layout must neither be BUILT from provider rows under the
    disk source's signature nor SERVED in place of provider rows
    (r10 review findings #4/#1 — one shared predicate so the rule
    lands everywhere at once, the stage_scratch argument)."""
    return _PROVIDER is not None


def events_ts_to_timestamp(df: DataFrame) -> DataFrame:
    """Normalize an ``events`` frame's ``ts`` column to TimestampType.

    The physical parquet encoding of ``events.ts`` has varied across
    testdata generations — TIMESTAMP(NANOS) (which Spark 4 reads as a
    raw long under ``spark.sql.legacy.parquet.nanosAsLong``) and
    TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ when not UTC-adjusted,
    TIMESTAMP when adjusted). Dispatch on the dtype actually read
    instead of assuming one encoding, so an environment flip is a
    no-op rather than an engine-wide failure:

    - LongType (legacy nanos): integer ``div 1000`` to µs, then
      ``timestamp_micros``. Integer division is lossless for
      µs-precise data and matches DuckDB's CAST truncation; plain
      double division would not be (2024 epoch-nanos ~ 1.7e18 > 2^53).
    - TimestampNTZType: cast to TIMESTAMP — wall-clock identity
      because the session timezone is pinned to UTC (session.py).
    - TimestampType: already correct, cast is a no-op.
    """
    from pyspark.sql import types as T

    dt = df.schema["ts"].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table (``events.ts`` normalized to TimestampType
    via :func:`events_ts_to_timestamp`, whatever its physical encoding)."""
    if _PROVIDER is not None:
        df = _PROVIDER(spark, sf_dir, name)
        if df is not None:
            return df
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        return events_ts_to_timestamp(df)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def parquet_nrows(sf_dir: str, name: str):
    """Exact row count of ``{sf_dir}/{name}.parquet`` (plain file or
    directory-of-files) from parquet FOOTERS — metadata-only, no Spark
    job. Returns ``None`` (with a visible warning) when the path isn't
    local plain parquet — object-store dirs, test-injected providers —
    so callers choose their own safe default instead of silently
    treating the corpus as empty (round-6 ADVICE on
    ``_embeddings_nrows``)."""
    import os
    import warnings

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        return pq.ParquetFile(path).metadata.num_rows
    except Exception as exc:  # non-POSIX path / provider-served table
        warnings.warn(
            f"parquet_nrows({path}): footer read failed ({exc!r}); "
            "caller falls back to its size-unknown path"
        )
        return None


def scratch_dir(*parts: str) -> str:
    p = SCRATCH.joinpath(*parts)
    p.parent.mkdir(parents=True, exist_ok=True)
    return str(p)


def source_signature(path: str) -> str:
    """Freshness signature of a source parquet path, shared by every
    staleness marker in the package (stage_scratch, the Q5 bucketed
    layout). For a DIRECTORY the signature enumerates every contained
    file's (name, mtime_ns, size) — an in-place rewrite of one part
    file does not bump the directory's own mtime/size, so a dir-level
    stat would silently serve stale staged data (r8 ADVICE #1, r9
    review finding #1; mirrors ``parquet_nrows``'s isdir branch). An
    unstatable path (moved testdata, provider-served sf_dir) yields a
    NONCE signature — never equal to any stored marker, even one
    written while the source was equally unstatable — so callers
    rebuild (cheap stagings) or decline to install (expensive
    layouts, via ``signature_unavailable``) instead of trusting a
    marker they cannot re-verify."""
    import os

    try:
        if os.path.isdir(path):
            # recursive walk (r9 ADVICE #1): a nested/partitioned source
            # (key=.../part.parquet) rewritten in place changes neither
            # the subdirectory's stat nor the top-level listing, so a
            # one-level listdir would keep serving a stale marker. Flat
            # directories produce the same entries as before (files at
            # rel ".", no prefix).
            def _raise(exc: OSError) -> None:
                # an unreadable subdir must poison the signature (->
                # UNAVAILABLE nonce below), not be silently skipped —
                # a skipped subtree would freeze the marker while its
                # contents change (r10 review finding #2)
                raise exc

            entries: list[str] = []
            # followlinks: a symlinked partition dir's CONTENTS are
            # part of the source's freshness, same as a real subdir;
            # the visited set bounds symlink cycles (and de-dups two
            # links to the same dir) — without it a cycle re-walks
            # until ENAMETOOLONG on every dispatch probe (r10 review
            # finding #5)
            seen: set[tuple[int, int]] = set()
            for root, dirnames, filenames in os.walk(
                path, onerror=_raise, followlinks=True
            ):
                pruned = []
                for d in sorted(dirnames):
                    st = os.stat(os.path.join(root, d))
                    if (st.st_dev, st.st_ino) not in seen:
                        seen.add((st.st_dev, st.st_ino))
                        pruned.append(d)
                dirnames[:] = pruned
                rel = os.path.relpath(root, path)
                prefix = "" if rel == "." else rel + "/"
                for f in sorted(filenames):
                    st = os.stat(os.path.join(root, f))
                    entries.append(f"{prefix}{f}:{st.st_mtime_ns}:{st.st_size}")
            return f"[{';'.join(entries)}]"
        st = os.stat(path)
        return f"{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return "UNAVAILABLE:" + os.urandom(8).hex()


def signature_unavailable(sig: str) -> bool:
    """True when ``source_signature`` could not stat the source —
    freshness is untrackable, so expensive cached layouts must not be
    (re)installed against it."""
    return "UNAVAILABLE:" in sig


def stage_scratch(name: str, sf_dir: str, src_table: str, build_fn) -> str:
    """Source-freshness-markered scratch staging, shared by every
    operator that derives a staged input dataset from a driver table
    (src_schema_merge, fn_geojson_route, src_partition_prune, …).

    ``build_fn(indir)`` materializes the staged dataset into ``indir``
    (cleared beforehand); the staging is reused until the source
    ``{sf_dir}/{src_table}.parquet`` changes (``source_signature``
    marker: per-file (name, mtime_ns, size) for directory-shaped
    sources — testdata regenerations AND in-place part-file rewrites
    re-stage, repeat runs don't; an unstatable source never matches,
    so staging degrades to rebuild-per-call instead of raising or
    serving stale rows). Keeping ONE copy of the stat/marker/clear/
    build sequence means a staleness-rule fix lands everywhere at
    once instead of drifting per operator. (The streaming stager
    ``_stream_events`` keeps its own inode-based freshness check: it
    hard-links the source rather than deriving from it.)
    """
    import os
    import shutil

    base = scratch_dir(name, sf_dir.strip("/").replace("/", "_"))
    indir = f"{base}/in"
    marker = f"{base}/src_mtime"
    # While a table provider is installed, build_fn derives the staging
    # from PROVIDER rows, not the on-disk source — reusing or signing it
    # with the disk source's signature would keep serving provider rows
    # after the provider is gone (r10 ADVICE #1: the same hazard
    # provider_active() guards in ensure_tumbling_us_layout /
    # ensure_q5_bucketed_layout, applied to the shared helper itself).
    # Degrade to rebuild-per-call with no marker, and drop any marker a
    # prior non-provider run left so the next plain run re-stages too.
    if provider_active():
        shutil.rmtree(indir, ignore_errors=True)
        try:
            os.remove(marker)
        except OSError:
            pass
        build_fn(indir)
        return indir
    src_sig = source_signature(f"{sf_dir}/{src_table}.parquet")
    if os.path.isdir(indir) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == src_sig:
                return indir
    shutil.rmtree(indir, ignore_errors=True)
    build_fn(indir)
    with open(marker, "w") as fh:
        fh.write(src_sig)
    return indir
