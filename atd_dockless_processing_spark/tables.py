"""Table loading helpers for the driver-provided parquet tables.

Tables and schemas are fixed (FIXTURES.md §A); one parquet file per
table per scale-factor directory (TESTDATA.md). At 100 TB each
"file" becomes a parquet dataset — a directory of part files — and
filters/projections push down to row groups.

Table loads and the package's staged-file reads take their schema
from one cached footer pass (:func:`footer_schema`, which
:func:`parquet_nrows` shares): pyarrow reads it from the parquet
footers and :func:`read_parquet` hands it to ``spark.read.schema``,
so a load runs no Spark job. Spark's own schema inference runs one
job per read, even for a single file.
"""

from __future__ import annotations

import json
import logging
import os
import re
import shutil
import uuid
from contextlib import contextmanager
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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
    """Load one driver table: the provider's frame when one is
    installed, else :func:`read_parquet` of ``{sf_dir}/{name}.parquet``
    (schema from the footers, no Spark job). ``events.ts`` is
    normalized to TimestampType via :func:`events_ts_to_timestamp`,
    whatever its physical encoding."""
    if _PROVIDER is not None:
        df = _PROVIDER(spark, sf_dir, name)
        if df is not None:
            return df
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        return events_ts_to_timestamp(df)
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


# Dispatch records: one structured record per decision a run should
# be able to explain, with the key or path, the decision and the reason.
DISPATCH = logging.getLogger("atd_dockless_processing_spark.dispatch")


def decided(key: str, decision: str, reason: str) -> None:
    """The one dispatch record of a physical form ``key`` chose while
    its plan was built."""
    extra = {"key": key, "decision": decision, "reason": reason}
    DISPATCH.info("%s: %s (%s)", key, decision, reason, extra=extra)


# Spark-written files carry their Spark schema as JSON under this
# footer key, and Spark's inference takes it over the parquet types.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_NULLABLE_KEYS = ("nullable", "containsNull", "valueContainsNull")
_PLAIN = {
    "BOOLEAN": T.BooleanType(),
    "INT32": T.IntegerType(),
    "INT64": T.LongType(),
    "FLOAT": T.FloatType(),
    "DOUBLE": T.DoubleType(),
}
_SIGNED_INT = {
    ("INT32", 8): T.ByteType(),
    ("INT32", 16): T.ShortType(),
    ("INT32", 32): T.IntegerType(),
    ("INT64", 64): T.LongType(),
}


class _Footers(NamedTuple):
    """One read of a parquet path's footers: the row count summed over
    every data file (``None`` when a footer will not open), and the
    schema every data file shares (the parquet schema plus any Spark
    schema JSON) or the reason there is none."""

    nrows: int | None
    schema: object = None  # pyarrow.parquet.ParquetSchema
    spark_json: bytes | None = None
    reason: str | None = None


_FOOTERS: dict[str, tuple[str, _Footers]] = {}


def _read_footers(path: str) -> _Footers:
    """Read every data file's footer under ``path``. Data files are
    Spark's: names starting with ``_`` or ``.`` are skipped, in the
    top directory and below it. A URI (``s3a://``, ``file:``) or a glob
    pattern is left to Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if re.match(r"[A-Za-z][\w+.-]*:", path) or any(c in path for c in "{}[]*?\\"):
        return _Footers(None, reason="URI or glob path")
    files, reason = [path], None
    if os.path.isdir(path):
        files = []
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            if dirs:
                reason = "subdirectories (partition discovery)"
            if any(n.startswith(("_metadata", "_common_metadata")) for n in names):
                reason = "summary metadata file"
            files += [
                os.path.join(root, n)
                for n in sorted(names)
                if not n.startswith(("_", "."))
            ]
    try:
        metas = [pq.read_metadata(f) for f in files]
    except (OSError, pa.ArrowException) as exc:
        return _Footers(None, reason=f"footer will not open: {exc!r}")
    nrows = sum(m.num_rows for m in metas)
    if reason is not None or not metas:
        return _Footers(nrows, reason=reason or "no data files")
    first, *rest = metas
    spark_json = (first.metadata or {}).get(_SPARK_SCHEMA_KEY)
    told = _schema_told(first)
    if any(_schema_told(m) != told for m in rest):
        return _Footers(nrows, reason="data files' footers disagree")
    return _Footers(nrows, first.schema, spark_json)


def _schema_told(meta):
    """What one data file's footer tells of the Spark schema: its Spark
    schema JSON (which Spark takes over the parquet types) with every
    field nullable, as a file source makes them, else its parquet
    schema. Spark-written files that differ only in nullability (a
    literal column in one, a nullable one in another) tell one schema."""
    spark_json = (meta.metadata or {}).get(_SPARK_SCHEMA_KEY)
    if spark_json is None:
        return meta.schema
    try:
        return _as_nullable(json.loads(spark_json))
    except ValueError:
        return spark_json


def _footers(path: str) -> _Footers:
    """:func:`_read_footers`, cached on :func:`source_signature`: an
    in-place rewrite is read again, an unstatable path every time."""
    sig = source_signature(path)
    hit = _FOOTERS.get(path)
    if hit is None or hit[0] != sig:
        hit = (sig, _read_footers(path))
        _FOOTERS[path] = hit
    return hit[1]


def _as_nullable(node):
    """A Spark schema's JSON with every field, array element and map
    value nullable, as Spark's file sources make them."""
    if isinstance(node, list):
        return [_as_nullable(v) for v in node]
    if not isinstance(node, dict):
        return node
    return {
        k: True if k in _NULLABLE_KEYS else v if k == "metadata" else _as_nullable(v)
        for k, v in node.items()
    }


def _leaf_type(col, conf_on) -> T.DataType | None:
    """The Spark type inference gives one primitive parquet column,
    from the type actually read; ``None`` for a type not mapped here."""
    phys = col.physical_type
    logical = json.loads(col.logical_type.to_json())
    kind = logical["Type"]
    if kind == "None":
        return _PLAIN.get(phys)
    if kind == "Int" and logical["isSigned"]:
        return _SIGNED_INT.get((phys, logical["bitWidth"]))
    if kind == "Date" and phys == "INT32":
        return T.DateType()
    if kind == "String" and phys == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Decimal":
        digits = {
            "INT32": 9,
            "INT64": 18,
            "BYTE_ARRAY": 38,
            "FIXED_LEN_BYTE_ARRAY": min(38, len(str(2 ** (8 * col.length - 1) - 1)) - 1),
        }
        if 0 <= col.scale <= col.precision <= digits.get(phys, 0):
            return T.DecimalType(col.precision, col.scale)
        return None
    if kind == "Timestamp" and phys == "INT64":
        if logical["timeUnit"] in ("milliseconds", "microseconds"):
            if logical["isAdjustedToUTC"] or not conf_on(
                "spark.sql.parquet.inferTimestampNTZ.enabled"
            ):
                return T.TimestampType()
            return T.TimestampNTZType()
        if conf_on("spark.sql.legacy.parquet.nanosAsLong"):
            return T.LongType()
    return None


def _to_spark(spark: SparkSession, footers: _Footers) -> T.StructType | str:
    """The schema Spark's inference gives ``footers``, or the reason
    it cannot be told from them. Spark JSON in the footer wins, as in
    Spark; otherwise each top-level column must be a mapped primitive
    or a standard 3-level LIST of one."""
    if footers.reason is not None:
        return footers.reason
    if footers.spark_json is not None:
        try:
            return T.StructType.fromJson(_as_nullable(json.loads(footers.spark_json)))
        except (ValueError, KeyError, TypeError) as exc:
            return f"Spark schema JSON will not parse: {exc!r}"
    import pyarrow as pa

    confs: dict[str, bool] = {}

    def conf_on(key: str) -> bool:
        if key not in confs:
            confs[key] = str(spark.conf.get(key)).lower() == "true"
        return confs[key]

    schema = footers.schema
    fields = []
    for i, field in enumerate(schema.to_arrow_schema()):
        col = schema.column(i)
        is_list = pa.types.is_list(field.type) or pa.types.is_large_list(field.type)
        if is_list:
            elem = field.type.value_field.name
            mid = col.path[len(field.name) + 1 : -len(elem) - 1]
            shaped = (
                col.max_repetition_level == 1
                and col.path == f"{field.name}.{mid}.{elem}"
                and "." not in mid
                and mid not in ("array", f"{field.name}_tuple")
            )
        else:
            shaped = col.max_repetition_level == 0 and col.path == field.name
        if not shaped or pa.types.is_nested(field.type) and not is_list:
            return f"column {field.name!r}: unmapped shape {field.type}"
        dtype = _leaf_type(col, conf_on)
        if dtype is None:
            return f"column {field.name!r}: unmapped {col.physical_type} {col.logical_type}"
        if is_list:
            dtype = T.ArrayType(dtype, True)
        fields.append(T.StructField(field.name, dtype, True))
    if not fields:
        return "no columns"
    return T.StructType(fields)


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The Spark schema ``spark.read.parquet(path)`` would infer, read
    from the parquet footers with no Spark job; ``None`` (with one
    dispatch record) when the footers cannot tell it: a type not
    mapped here, a URI or glob path, a partitioned or disagreeing
    directory, or a footer that will not open. The confs inference
    reads (``inferTimestampNTZ``, ``nanosAsLong``) are read from
    ``spark`` on every call, so a conf change is honoured."""
    got = _to_spark(spark, _footers(path))
    if isinstance(got, str):
        DISPATCH.info(
            "parquet schema of %s: inferring read (%s)",
            path,
            got,
            extra={"path": path, "decision": "inferring read", "reason": got},
        )
        return None
    return got


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """:func:`footer_schema`, or Spark's inferred schema when the
    footers cannot tell it."""
    schema = footer_schema(spark, path)
    return schema if schema is not None else spark.read.parquet(path).schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` given the :func:`footer_schema`, so
    the read runs no schema-inference job; the inferring read when the
    footers cannot tell the schema. The relation is the same either
    way."""
    schema = footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def parquet_nrows(sf_dir: str, name: str) -> int | None:
    """Exact row count of ``{sf_dir}/{name}.parquet`` (plain file or
    directory of part files), summed over the data files' FOOTERS of
    the same cached pass :func:`footer_schema` reads — metadata-only,
    no Spark job. ``None`` when the footers cannot tell it (a URI, a
    footer that will not open), so a caller never treats an unknown
    corpus as empty."""
    return _footers(f"{sf_dir}/{name}.parquet").nrows


def rows_below(key: str, sf_dir: str, table: str, bound: int) -> bool:
    """True only when the footers of ``{sf_dir}/{table}.parquet`` count
    fewer than ``bound`` rows, so ``key`` may take its small-input
    form. An unknown count is False: the key takes the form that holds
    at any size. The one row-count gate of the package; it writes one
    dispatch record naming the table, the count (or the footers'
    reason for having none) and the bound."""
    footers = _footers(f"{sf_dir}/{table}.parquet")
    nrows = footers.nrows
    below = nrows is not None and nrows < bound
    count = f"unknown ({footers.reason})" if nrows is None else nrows
    decision = "small-input form" if below else "any-size form"
    decided(key, decision, f"{table} rows: {count}, bound {bound}")
    return below


def scratch_dir(*parts: str) -> str:
    p = SCRATCH.joinpath(*parts)
    p.parent.mkdir(parents=True, exist_ok=True)
    return str(p)


def corpus_scratch(name: str, sf_dir: str, *parts: str) -> str:
    """``.scratch/{name}/{sf_dir as one path segment}/{parts}``: the one
    place a corpus path becomes a scratch directory name, so every key
    keeps one directory per corpus and per tag."""
    return scratch_dir(name, sf_dir.strip("/").replace("/", "_"), *parts)


@contextmanager
def run_scratch(name: str):
    """A fresh ``.scratch/{name}/run_<uuid>`` for one run (a stream
    checkpoint, a snapshot being folded), removed on exit — after a
    raise too, so a failed run leaves nothing behind, not even a cached
    footer."""
    path = scratch_dir(name, f"run_{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
        for cached in [p for p in _FOOTERS if p == path or p.startswith(path + os.sep)]:
            del _FOOTERS[cached]


def write_one_parquet(df: DataFrame, path: str) -> None:
    """Write ``df`` as the single parquet file ``path``: a ``coalesce(1)``
    write into a temp directory beside it, whose one part file is then
    moved to ``path``; the temp directory is removed even when the
    write fails."""
    tmp = f"{path}.tmp"
    try:
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        (part,) = Path(tmp).glob("part-*.parquet")
        shutil.move(str(part), path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def source_signature(path: str) -> str:
    """Freshness signature of a source parquet path, shared by every
    staleness marker in the package (stage_scratch, the Q5 bucketed
    layout). For a DIRECTORY the signature enumerates every contained
    file's (name, mtime_ns, size) — an in-place rewrite of one part
    file does not bump the directory's own mtime/size, so a dir-level
    stat would silently serve stale staged data (r8 ADVICE #1, r9
    review finding #1; mirrors ``_read_footers``'s isdir branch). An
    unstatable path (moved testdata, provider-served sf_dir) yields a
    NONCE signature — never equal to any stored marker, even one
    written while the source was equally unstatable — so callers
    rebuild (cheap stagings) or decline to install (expensive
    layouts, via ``signature_unavailable``) instead of trusting a
    marker they cannot re-verify."""
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
    once instead of drifting per operator.
    """
    base = corpus_scratch(name, sf_dir)
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
    and override :meth:`write` and :meth:`available`. A key asks
    :meth:`serves`, whose record names the layout's ``form``."""

    form = "staged"

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
        return corpus_scratch(self.tag, sf_dir)

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

    def serves(self, key: str, spark: SparkSession, sf_dir: str, adhoc: bool = False) -> bool:
        """True when ``key`` takes this layout's form: it is
        :meth:`available` and the caller did not ask for the ad hoc
        form. Writes one dispatch record: the form, and why."""
        use = not adhoc and self.available(spark, sf_dir)
        why = (
            "ad hoc form requested" if adhoc
            else "layout live" if use
            else "a table provider serves the tables" if provider_active()
            else "layout not built, stale or not attached"
        )
        decided(key, self.form if use else "adhoc", f"{self.tag} at {sf_dir}: {why}")
        return use

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
