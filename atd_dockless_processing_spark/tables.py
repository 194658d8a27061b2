"""Table loading helpers for the driver-provided parquet tables.

Tables and schemas are fixed (FIXTURES.md §A); one parquet file per
table per scale-factor directory (TESTDATA.md). At 100 TB each
"file" becomes a partitioned parquet dataset — ``spark.read.parquet``
is unchanged, and filters/projections push down to row groups.
"""

from __future__ import annotations

import re
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
    (``Layout.ensure`` AND its availability/dispatch probes) must
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


def marker_matches(marker, sig: str) -> bool:
    """The freshness marker file ``marker`` holds ``sig``. The one
    marker read in the package: a marker that is missing, or deleted
    between a caller's existence check and this read (another
    session's cleanup racing the probe), reads as "no match" — the
    caller rebuilds or falls back to its ad hoc plan, never raises
    out of query dispatch (r12 ADVICE #3)."""
    try:
        return Path(marker).read_text() == sig
    except OSError:
        return False


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
    # provider_active() guards in Layout.ensure, applied to the shared
    # helper itself).
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
    if os.path.isdir(indir) and marker_matches(marker, src_sig):
        return indir
    shutil.rmtree(indir, ignore_errors=True)
    build_fn(indir)
    with open(marker, "w") as fh:
        fh.write(src_sig)
    return indir


class Layout:
    """One session-persistent physical layout of driver tables: data
    files under ``.scratch/{tag}/{sf_dir}`` written once per corpus,
    plus a freshness marker holding the signature of the source parquet
    they were built from. ONE body for the disk half of every layout
    (the bucketed join layouts in operators/joins.py, the µs-staged
    events layout in operators/events.py), so a guard fix lands in all
    of them at once (r12 review finding #3). Layouts register in
    ``registry.LAYOUTS``; ``scripts/build_layouts.py`` is the one place
    that builds them, and registered keys only probe ``available``.

    Every probe declines (ad hoc plan, never raising) while a table
    provider is active — checked FIRST, before any filesystem work, so
    the provider-served bench pays nothing — when a data file set is
    incomplete (no ``_SUCCESS``), and when the marker is missing,
    stale, unreadable or matches an unstatable source (a nonce
    signature matches nothing).

    ``writer(spark, sf_dir, *paths)`` writes the data files, one path
    per source table; layouts that also keep catalog state subclass
    and override :meth:`write` and :meth:`available`."""

    def __init__(self, tag: str, label: str, sources: tuple[str, ...], writer=None):
        self.tag = tag
        self.label = label
        self.sources = sources
        self._writer = writer

    @staticmethod
    def catalog_tag(sf_dir: str) -> str:
        """``sf_dir`` as a catalog-identifier fragment. EVERY
        non-identifier char is replaced, not just "/" and "." — a
        corpus path with a hyphen made saveAsTable throw
        ParseException (r13); the historical dirs only ever held / and
        ., so existing table names are unchanged."""
        return re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.strip("/"))

    def base(self, sf_dir: str) -> str:
        return scratch_dir(self.tag, sf_dir.strip("/").replace("/", "_"))

    def names(self, sf_dir: str) -> list[str]:
        """One data-file-set name under :meth:`base` per source."""
        return [f"{t}.parquet" for t in self.sources]

    def paths(self, sf_dir: str) -> list[str]:
        base = self.base(sf_dir)
        return [f"{base}/{n}" for n in self.names(sf_dir)]

    def marker(self, sf_dir: str) -> Path:
        return Path(self.base(sf_dir), ".src_sig")

    def src_sig(self, sf_dir: str) -> str:
        """Freshness signature of the layout's sources: one source
        signs bare, several are each prefixed with their table name
        (the marker formats existing layouts were built with, so they
        stay valid)."""
        sigs = [source_signature(f"{sf_dir}/{t}.parquet") for t in self.sources]
        if len(sigs) == 1:
            return sigs[0]
        return ";".join(f"{t}:{sig}" for t, sig in zip(self.sources, sigs))

    def _disk_valid(self, sf_dir: str) -> bool:
        """Every data file set complete AND the marker matching the
        current source signature (the walk is recomputed per probe BY
        DESIGN: freshness beats the O(source files) stat cost)."""
        return all(
            Path(p, "_SUCCESS").exists() for p in self.paths(sf_dir)
        ) and marker_matches(self.marker(sf_dir), self.src_sig(sf_dir))

    def available(self, spark: SparkSession, sf_dir: str) -> bool:
        """The layout is provably current for ``sf_dir`` and may be
        dispatched to. NEVER true while a table provider is active:
        the provider IS the logical tables right now, and the disk
        layout would silently shadow its rows (r10 second-review
        finding #1)."""
        return not provider_active() and self._disk_valid(sf_dir)

    def write(self, spark: SparkSession, sf_dir: str) -> None:
        self._writer(spark, sf_dir, *self.paths(sf_dir))

    def ensure(self, spark: SparkSession, sf_dir: str) -> None:
        """Build the layout unless it is already available. Idempotent
        per sf_dir; rebuilt when the source parquet changed. Declines
        while a provider is active (a layout built from provider rows
        would be signed with the disk source's signature — r10 review
        finding #4) and on an unstatable source (the marker could
        never match, so every call would rebuild and nothing would
        ever dispatch — r9 review finding #3). The sources are signed
        BEFORE the build, so a source regenerated mid-build is never
        signed by the stale layout."""
        if provider_active():
            return
        sig = self.src_sig(sf_dir)
        if signature_unavailable(sig) or self.available(spark, sf_dir):
            return
        self.write(spark, sf_dir)
        self.marker(sf_dir).write_text(sig)
