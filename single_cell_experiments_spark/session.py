"""SparkSession construction and runtime tuning.

The reference builds a bare SparkContext and hand-manages RDD partitioning
(SURVEY.md §3.1 [M]: ``anndata_spark.py`` ``from_zarr`` parallelizes chunk
indices).  Here the session is configured so Catalyst/AQE do that work:

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  broadcast conversion) — at 100 TB this is what adapts shuffle partition
  counts to real data sizes instead of a static guess.
- ``spark.sql.shuffle.partitions`` defaults to ~cores locally; on a real
  cluster AQE's coalescing makes the initial number a ceiling, so a large
  value (e.g. 2000) is safe there.
- Session time zone pinned to UTC so timestamp semantics match the DuckDB
  correctness oracle (naive timestamps).
- Arrow enabled: every Python-boundary crossing (``toPandas``,
  ``pandas_udf``, ``mapInPandas``) is batched/columnar.
- ``nanosAsLong``: the driver's ``events.parquet`` stores
  TIMESTAMP(NANOS) which Spark's parquet reader rejects by default; we read
  the column as raw int64 nanoseconds and convert explicitly (see
  ``catalog.load_table``).
- Python workers: importing this module makes PySpark's per-task
  ``importlib.invalidate_caches()`` re-read a zip archive's directory only
  when the archive changed (``_invalidate_zip_if_changed``; SCALE.md
  "Python-worker task floor").  Every engine function run in a Python
  worker is module-level or calls module-level engine code, so cloudpickle
  sends that code by reference and the worker imports the package, and
  with it this module.
"""

from __future__ import annotations

import os
import weakref
import zipimport

from pyspark.sql import DataFrame, SparkSession

ENGINE_NAME = "sce-spark"

#: ``(st_mtime_ns, st_size)`` of each zip archive when its directory was last
#: read through ``_invalidate_zip_if_changed``; process-wide, like
#: ``zipimport``'s own directory cache.
_zip_stamps: dict[str, tuple[int, int]] = {}

_eager_zip_invalidate = getattr(
    zipimport.zipimporter.invalidate_caches, "__wrapped__", zipimport.zipimporter.invalidate_caches
)


def _invalidate_zip_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only if its ``(st_mtime_ns, st_size)`` changed since the
    last read.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    Python-worker task (``worker_util.setup_spark_files``).  Where
    ``zipimporter.invalidate_caches`` re-parses the whole zip directory
    eagerly (CPython <= 3.12), a reused worker's importers on
    ``pyspark.zip``, the spark-core jar and py4j cost 0.2-0.35 s per task.
    A rewritten or replaced archive is still re-read, and a missing one
    still drops its cached directory.  The stamp is taken before the read,
    so an archive changed during the read is read again on the next call.
    """
    try:
        st = os.stat(self.archive)
    except OSError:
        _eager_zip_invalidate(self)  # gone: drops the cached directory
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _zip_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _eager_zip_invalidate(self)
    _zip_stamps[self.archive] = stamp


# Installed only where the method re-reads eagerly (it calls
# ``_read_directory``): CPython 3.13 made it a plain cache drop (gh-103200).
if "_read_directory" in getattr(getattr(_eager_zip_invalidate, "__code__", None), "co_names", ()):
    _invalidate_zip_if_changed.__wrapped__ = _eager_zip_invalidate
    zipimport.zipimporter.invalidate_caches = _invalidate_zip_if_changed

#: Confs the engine's RESULTS depend on — re-asserted on every ``tune()``
#: call, including foreign driver sessions: without these, events timestamps
#: misparse or timezone-shift against the oracle.
CORRECTNESS_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}

#: Performance posture — applied ONCE per session (first ``tune()``), then
#: left alone so a session owner's explicit later overrides stick.  The
#: bench's AQE-off / pre-sized-shuffle sizing was previously clobbered here
#: on every ``load_table`` call, which silently re-enabled AQE's per-stage
#: materialization jobs mid-bench.  Even on the FIRST tune, a conf the
#: owner has EXPLICITLY set — detected via ``SQLConf.contains`` (true only
#: for explicitly-set entries, even when set to the Spark default; a
#: ``conf.get``-with-sentinel probe can NOT distinguish set-to-default
#: from unset, and throws on type-validated confs) — is left alone: the
#: engine fills in defaults, never overrides choices.
PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Top-k-per-group (rank<=k) benefits from WindowGroupLimit pushdown;
    # on by default in Spark >=3.5, pinned here for clarity.
    "spark.sql.optimizer.windowGroupLimitThreshold": "1000",
}

#: Spark's own built-in defaults for the perf confs — the Connect-session
#: fallback probe compares against these (see ``_explicitly_set``).
_SPARK_BUILTIN_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
    "spark.sql.optimizer.windowGroupLimitThreshold": "1000",
}


def _explicitly_set(spark: SparkSession, key: str) -> bool:
    """True iff the session owner (or builder) explicitly set ``key``.

    Classic sessions: the JVM ``SQLConf.settings`` map via ``contains`` —
    the only probe that distinguishes "set to the default value" from
    "never set".  Spark Connect sessions have no ``_jsparkSession`` handle;
    there the fallback compares the effective value against Spark's
    built-in default: differing ⇒ someone set it ⇒ leave it alone.  The
    residual blind spot (an owner explicitly pinning a conf AT its Spark
    default, e.g. arrow=false, gets the engine default applied on first
    tune) is unavoidable without server-side internals and documented here.
    """
    try:
        return bool(spark._jsparkSession.sessionState().conf().contains(key))
    except Exception:
        try:
            current = spark.conf.get(key, None)
        except Exception:
            return False
        builtin = _SPARK_BUILTIN_DEFAULTS.get(key)
        return current is not None and builtin is not None and str(current).lower() != builtin

#: Sessions whose perf posture has been applied already.
_perf_tuned: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def tune(spark: SparkSession) -> SparkSession:
    """Apply engine confs to an existing session (idempotent, cheap).

    The driver contract passes us its own SparkSession, whose build-time
    configuration we cannot control; every conf the engine relies on for
    correctness must therefore be runtime-settable, and is re-applied at
    table-load time.  Perf confs are applied only on the FIRST tune of a
    session: they are a default posture, not a correctness requirement, and
    must not override an owner's explicit settings (e.g. the bench's
    AQE-off small-SF sizing).
    """
    for k, v in CORRECTNESS_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on a locked session — engine paths that need it
            # (only the events ns shim) degrade via catalog fallbacks.
            pass
    if spark not in _perf_tuned:
        _perf_tuned.add(spark)
        for k, v in PERF_CONFS.items():
            try:
                if not _explicitly_set(spark, k):  # owner never chose a value
                    spark.conf.set(k, v)
            except Exception:
                pass
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage at a reuse/iteration point, durability-aware.

    Default is ``localCheckpoint()``: blocks live only on executors — fast
    and fine on ``local[N]``, but on a 1000-executor cluster a lost executor
    loses the blocks and kills the job.  Set
    ``spark.sce.reliableCheckpoint=true`` (and call
    ``sc.setCheckpointDir(...)`` on durable storage) to switch every engine
    lineage-cut to fault-tolerant ``checkpoint()`` instead; same plans,
    different storage tier.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.sce.reliableCheckpoint", "false") == "true":
        return df.checkpoint()
    return df.localCheckpoint()


def get_spark(
    app_name: str = ENGINE_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_confs: dict | None = None,
) -> SparkSession:
    """Build the engine's own session (tests / bench).

    ``local[N]`` with N from ``$SPARK_GRAFT_CPUS`` (default 32). On a real
    cluster the same confs apply; only master/memory sizing changes.
    ``extra_confs`` are BUILD-TIME configs (core/scheduler settings that
    cannot be set on a live session, e.g. ``spark.speculation``) — they
    only take effect when this call actually creates the session.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # posture; local small files coalesce via AQE anyway.
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, str(v))
    for k, v in {**CORRECTNESS_CONFS, **PERF_CONFS}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def sever(df: DataFrame) -> DataFrame:
    """HARD lineage cut via a driver-side Arrow roundtrip — for small
    tables at iteration BOUNDARIES where ``materialize`` is not enough.

    Why this exists (r10 finding): ``localCheckpoint``/``checkpoint``
    truncate the executable lineage but Spark's checkpointed
    ``LogicalRDD`` CARRIES FORWARD the origin plan's statistics and
    constraints.  In a checkpointed iteration (the Louvain/LPA/CC loop
    shape) each round's join-estimate arithmetic compounds into the next
    round's carried stats, so optimizer time grows geometrically
    (measured: 2.2 s → 5.3 → 14.7 → 39.5 per round on a 183-node
    supergraph) and after enough rounds the BigInt size arithmetic
    itself OOMs the driver (java.math.MutableBigInteger.divideKnuth in
    the heap dump).  One loop stays bounded because it starts from
    fresh-scan stats; CHAINED loops (level-2 Louvain seeded by level-1's
    12-checkpoint output) inherit the accumulated numbers and explode
    immediately.

    The Arrow collect produces a brand-new local-relation plan with
    constant stats, resetting the sequence.  O(rows) driver memory —
    only for tables that are SMALL BY CONSTRUCTION (a community
    supergraph, a codebook, per-group stats), never for corpus-sized
    data; callers state the bound at the call site.
    """
    return df.sparkSession.createDataFrame(df.toArrow())
