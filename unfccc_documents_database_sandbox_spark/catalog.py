"""Table loading and catalog introspection.

Reference parity:
- `from init_db import engine` + ORM `select(...)` (reference README.md:15-18)
  → `load_table(spark, sf_dir, name)` parquet scans (columnar, pruned).
- `inspect(engine).get_table_names()` (reference probe.py:6-7)
  → `register_views` + `spark.catalog.listTables()` / `SHOW TABLES`.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
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

# Session-scoped memo of analyzed DataFrames keyed by (session, sf_dir,
# table). spark.read.parquet() lists files and reads footers eagerly on the
# driver; with ~70 registered queries each touching 1-10 tables that fixed
# cost dominates a small-SF correctness sweep. DataFrames are immutable
# logical plans, so handing the same object to every caller is safe.
#
# Lifecycle: entries for STOPPED sessions are purged lazily on the next
# load_table call (_purge_stopped) so a long-lived driver process that
# cycles sessions doesn't pin every dead session's DataFrames forever
# (r04 watch-item). A WeakKeyDictionary cannot do this: the cached
# DataFrames hold a strong ref to their SparkSession, so the value would
# keep the weak key alive — the lazy liveness sweep is the form that
# actually frees memory.
_TABLE_CACHE: dict[tuple[SparkSession, str, str], DataFrame] = {}
_VIEWS_REGISTERED: dict[SparkSession, str] = {}
_TUNE_LOGGED: set[SparkSession] = set()
_PYFILES_SHIPPED: set[str] = set()
# frames persisted by `hold` since the last registry build started
_HELD: list[DataFrame] = []


def _is_stopped(spark: SparkSession) -> bool:
    """True when the session's SparkContext has been stopped (sc.stop()
    nulls the JVM handle) or is unreachable altogether."""
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


def _purge_stopped() -> None:
    """Drop every cache entry belonging to a stopped SparkSession."""
    sessions = (
        {k[0] for k in _TABLE_CACHE} | set(_VIEWS_REGISTERED) | set(_TUNE_LOGGED)
    )
    for s in [s for s in sessions if _is_stopped(s)]:
        for key in [k for k in _TABLE_CACHE if k[0] is s]:
            del _TABLE_CACHE[key]
        _VIEWS_REGISTERED.pop(s, None)
        _TUNE_LOGGED.discard(s)


def ensure_pyfiles(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via addPyFile.

    Module-level functions referenced by mapInPandas / applyInPandasWithState
    stages (docx parser, LLM batch fn, stateful profile update) are
    cloudpickled BY REFERENCE: the worker unpickles them with an import of
    this package. That import only resolves if the package is on the
    worker's sys.path — true when the driver process happens to run with the
    repo as cwd, false for any other caller and for real clusters launched
    without --py-files. addPyFile is the runtime equivalent of --py-files:
    the zip is distributed with each task and prepended to worker sys.path,
    so the engine is importable everywhere regardless of how the session was
    built. Idempotent per SparkContext; the zip is built once per process.
    """
    try:
        sc = spark.sparkContext
        app_id = sc.applicationId
    except Exception:
        return
    if app_id in _PYFILES_SHIPPED:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-pyfiles-{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(root, fn)
                    rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    try:
        sc.addPyFile(zip_path)
    except Exception:
        # e.g. Spark Connect sessions without an accessible SparkContext —
        # fall back to hoping the package is on the worker path already.
        logging.getLogger(__name__).warning(
            "ensure_pyfiles: addPyFile failed; Python-worker stages require "
            "the package on the executor PYTHONPATH."
        )
    _PYFILES_SHIPPED.add(app_id)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one corpus table (S1). Parquet → column pruning + predicate
    pushdown are automatic once downstream plans select/filter."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    key = (spark, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    _purge_stopped()
    ensure_pyfiles(spark)
    # engine tuning for caller-owned sessions (the driver hands us its own):
    # if shuffle partitions are still at Spark's out-of-the-box 200, drop to
    # the engine default — 200-task stages are pure overhead at bench SFs
    # and AQE re-expands by data size where it matters. An explicit non-200
    # caller setting is always respected; a caller that explicitly chose 200
    # is indistinguishable from the default, so the override is LOGGED once
    # per session (r02 advisory) and reversible via spark.conf.set after any
    # load_table call.
    try:
        if (
            spark not in _TUNE_LOGGED
            and spark.conf.get("spark.sql.shuffle.partitions") == "200"
        ):
            spark.conf.set("spark.sql.shuffle.partitions", "32")
            _TUNE_LOGGED.add(spark)
            logging.getLogger(__name__).warning(
                "load_table: spark.sql.shuffle.partitions was at the Spark "
                "default (200); set to the engine default (32). Set any "
                "non-200 value before/after loading to override."
            )
    except Exception:
        pass
    if name == "events":
        # events.parquet stores TIMESTAMP(NANOS), which the vectorized reader
        # rejects. nanosAsLong is a runtime SQLConf, so set it here instead of
        # only in our session factory — callers (e.g. the driver harness) may
        # hand us a session they built themselves.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS): read as raw nanos
        # (spark.sql.legacy.parquet.nanosAsLong) and truncate to micros —
        # the same truncation DuckDB applies reading nanos into TIMESTAMP.
        from pyspark.sql import functions as F

        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    _TABLE_CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (enables spark.sql paths
    and catalog introspection — reference probe.py:6-7). Idempotent per
    (session, sf_dir): repeated calls from different queries are free."""
    if _VIEWS_REGISTERED.get(spark) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[spark] = sf_dir


def hold(df: DataFrame) -> DataFrame:
    """Lazily persist a cross-consumer intermediate and record it with the
    session-wide owner; returns the persisted frame.

    Lifecycle invariant: a held frame stays cached until the next registry
    build starts (``registry.register`` wraps every builder in
    ``release()``), so one key's caches never outlive the key that follows
    it. A frame released while a plan that reads it is still unexecuted
    stays correct: Spark recomputes it from lineage. Not thread-safe; the
    driver is single-threaded by design."""
    df = df.persist()
    _HELD.append(df)
    return df


def release() -> None:
    """Unpersist every frame ``hold`` recorded, skipping frames whose
    session has stopped (their blocks went with it)."""
    while _HELD:
        df = _HELD.pop()
        if not _is_stopped(df.sparkSession):
            df.unpersist()


def pin(df: DataFrame) -> DataFrame:
    """Materialize and lineage-truncate a multi-consumer intermediate —
    the engine's single eager-pin point (used as ``.transform(pin)`` so
    call sites keep their chaining shape).

    Why pin at all (guide §5): a lazy ``persist()`` whose consumers all
    sit inside ONE downstream job makes the concurrent stages race to
    fill the cache — each racer re-runs the whole upstream chain. An
    eager checkpoint materializes sequentially once and every consumer
    reads the stored blocks.

    Lifecycle invariant: a pinned frame lives until it is dropped — its
    blocks are freed by the driver's reference cleaner, never by
    ``release()``. A checkpoint has no lineage, so releasing it while a
    frame built on it is still unexecuted would make that frame FAIL
    rather than recompute; callers may build a key twice before
    collecting either.

    Fault-tolerance routing: ``localCheckpoint`` stores blocks on
    executors with NO lineage — one lost executor makes the job
    unrecoverable. That is the right trade in local/bench sessions (no
    executor loss, no distributed FS round-trip). A session that
    configured ``spark.sparkContext.setCheckpointDir(...)`` is asking for
    fault-tolerant materialization, so pin routes through RELIABLE
    ``checkpoint()`` there: blocks live on the checkpoint FS and survive
    executor loss. Spark deletes those files only when the session sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``; without it
    every pin leaves its files on the checkpoint FS."""
    sc = df.sparkSession.sparkContext
    try:
        ck_dir = sc.getCheckpointDir()
    except Exception:
        ck_dir = None
    if ck_dir:
        return df.checkpoint()
    return df.localCheckpoint()


def spread(df: DataFrame) -> DataFrame:
    """Repartition to the session's default parallelism BEFORE a
    compute-bound narrow stage (shingle explode, per-row digest,
    mapInPandas inference/decode) — but only when the input is actually
    under-partitioned.

    Why: scan parallelism is bounded by parquet row groups — the bench
    corpus is ONE row group per table, so every downstream stage inherits a
    single partition no matter the core count; the standard move before
    CPU-heavy work whose output fans out (explode multiplies rows ~100x
    here) is to repartition the small pre-fan-out input, not the large
    post-fan-out result. Cost: one narrow shuffle of the compact input
    rows. Results are unaffected — every consumer either aggregates by key
    or is row-local.

    Adaptive guard: when the planned input already has at least half
    the target partition count — the normal case on a real cluster, where
    a large table scans as thousands of row-group splits — spread is a
    NO-OP. The unconditional form would shuffle the whole corpus at 100 TB
    to fix a skew that doesn't exist; the guard keeps the bench fix from
    becoming a cluster regression."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        current = 0  # e.g. plans the RDD bridge can't inspect — repartition
    if current >= max(2, target // 2):
        return df
    return df.repartition(target)


def list_tables(spark: SparkSession) -> DataFrame:
    """Catalog introspection (S3): one row per visible table/view, sorted.

    Reference parity: probe.py:6-7 `inspect(engine).get_table_names()`.
    """
    names = sorted(t.name for t in spark.catalog.listTables())
    return spark.createDataFrame([(n,) for n in names], "table_name string")
