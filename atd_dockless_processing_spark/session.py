"""SparkSession factory with the binding config from SURVEY.md §4.

Config rationale (100 TB notes inline):
- ``spark.sql.session.timeZone=UTC`` — oracle (DuckDB) timestamps are
  naive; pinning UTC makes both engines agree (SURVEY §1.2 item 4).
- ``spark.sql.shuffle.partitions`` — small for local sf0.1; on a real
  cluster this is sized to ~2-3x total cores and AQE coalesces.
- AQE on: runtime partition coalescing, skew-join splitting, and
  sort-merge->broadcast conversion. This is the scale story: the same
  declarative plans re-optimize at 100 TB without code changes.
- Arrow enabled: every Python<->JVM data transfer (collect, pandas
  UDFs, applyInPandas) is columnar instead of pickled rows.
- ``spark.sql.codegen.cache.maxEntries=4096`` (``_JVM_START_CONFS``) —
  Spark keeps each compiled Janino class in one JVM-wide cache keyed by
  its source, 100 entries by default. One session serving a rotating
  mix needs the whole mix's classes in it: the 12 bench keys plus the
  table-cache fill make about 170, so at 100 every rotation recompiles
  nearly all of them (6-26 per key) and the JIT starts over on each
  fresh class. One pass over all 278 keys at sf0.001 compiles about
  2,800 distinct classes; 4096 holds them with room. The cache is
  built when the JVM first generates code, so this is a static conf:
  it goes on the builder, never through ``spark.conf.set``.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
import zipfile
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_PKG_ZIP: str | None = None

_LOG = logging.getLogger(__name__)

# Confs Spark fixes when the JVM first generates code: only a session
# builder that starts the JVM can set them (module docstring says why).
_JVM_START_CONFS = {"spark.sql.codegen.cache.maxEntries": "4096"}

# Runtime confs: get_spark builds with them, tune() sets them.
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Allow shuffled-hash-join where the per-partition build side
    # fits memory (Catalyst still requires canBuildLocalHashMap;
    # AQE re-plans if runtime sizes disagree). Measured on the
    # x100 rehearsal: Q3-shape 3-way join 5.9s (sort-merge) ->
    # 2.9s (hash) — the sorts, not the shuffles, were the cost.
    # Hinted merge joins (bucketed tables) are unaffected.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in Spark's Python WORKER processes.

    The driver may run from any cwd with the repo reachable only via
    its own sys.path; workers inherit neither. Closures sent to
    workers (mapInPandas, applyInPandasWithState, pandas UDFs) hold
    by-reference cloudpickle pointers to module-level helpers, so the
    workers must be able to import the package — addPyFile ships a
    zip of it to every worker's sys.path.
    """
    global _PKG_ZIP
    if _PKG_ZIP is None:
        pkg_dir = Path(__file__).resolve().parent
        scratch = pkg_dir.parent / ".scratch" / "pyfiles"
        scratch.mkdir(parents=True, exist_ok=True)
        tmp = scratch / "atd_dockless_processing_spark.zip.tmp"
        dst = scratch / "atd_dockless_processing_spark.zip"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in sorted(pkg_dir.rglob("*.py")):
                zf.write(p, f"{pkg_dir.name}/{p.relative_to(pkg_dir)}")
        shutil.move(tmp, dst)
        _PKG_ZIP = str(dst)
    shipped = spark.sparkContext.environment.get("__atd_pkg_shipped__")
    if not shipped:
        spark.sparkContext.addPyFile(_PKG_ZIP)
        spark.sparkContext.environment["__atd_pkg_shipped__"] = "1"


def get_spark(app_name: str = "atd-dockless-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    spark = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=_RUNTIME_CONFS)
        .config(map=_JVM_START_CONFS)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Default 1g (Spark's own default). The xN rehearsal raises it
        # via env: map-only shapes (fn_/flt_/prj_) produce table-sized
        # result sets, and the harness's toPandas intentionally pays
        # the same full-materialization cost DuckDB's fetchall pays —
        # at x100 that legitimately exceeds 1 GiB of task results. A
        # production pipeline writes such outputs to a sink instead.
        .config("spark.driver.maxResultSize", os.environ.get("SPARK_MAX_RESULT", "1g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable session confs (for sessions we did not
    build). Idempotent and cheap on repeat calls: the whole body runs
    once per SparkContext (the driver's correctness harness calls
    tune() before every key — the flag makes call 2..n a no-op instead
    of n py4j conf round-trips + a zip stat). Each conf is set on its
    own: one that the session refuses is logged at WARNING and the rest
    are still set. ``_JVM_START_CONFS`` are static, so a session built
    elsewhere keeps Spark's default for them (a codegen cache of 100)."""
    env = spark.sparkContext.environment
    if env.get("__atd_tuned__"):
        return spark
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:
            _LOG.warning("tune: could not set %s=%s: %s", k, v, e)
    _ship_package(spark)
    env["__atd_tuned__"] = "1"
    return spark


@contextmanager
def conf_override(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then put every key
    back as it was: a key that was set gets its old value again, a key
    that was unset is unset again — also when the block raises. The one
    body for every key that borrows the shared session's confs."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def temp_views(spark: SparkSession, **frames: DataFrame):
    """Register each frame as a temp view under a generated name for
    the block and yield ``{keyword: view name}``; the views are dropped
    on exit, also when the block raises. A view is dropped from the
    session catalog only: ``Catalog.dropTempView`` (what PySpark's
    ``spark.sql(text, **frames)`` calls) also uncaches the view's plan,
    which for a frame a table provider cached is the hot table itself,
    so the next query would re-read its source."""
    names = {k: f"_{k}_{uuid.uuid4().hex}" for k in frames}
    try:
        for k, df in frames.items():
            df.createOrReplaceTempView(names[k])
        yield names
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)


def sql_over(spark: SparkSession, text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text)`` with each frame bound to ``{name}`` in
    ``text`` (``str.format``, so a literal brace is doubled) through
    :func:`temp_views`: the whole plan is analysed once, in a few py4j
    calls, and a provider's cached frame stays cached. The one way a
    key passes DataFrames to SQL text."""
    with temp_views(spark, **frames) as names:
        return spark.sql(text.format(**names))
