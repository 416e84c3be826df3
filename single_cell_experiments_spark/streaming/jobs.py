"""Live Structured Streaming jobs — the ``readStream`` twins of the
batch-equivalent queries in streaming/batch_equiv.py.

The driver's correctness gate runs the batch equivalents (DuckDB cannot
oracle a stream); these jobs exist to prove the operators actually run as
streams: file-source replay of ``events.parquet`` → watermarked windowed
aggregation / keyed dedup → memory sink, with ``Trigger.AvailableNow`` so a
finite run drains the source and stops.  tests/test_streaming.py asserts
stream output == batch output on the same data.

Production shape notes (100 TB posture): the file source is swapped for
Kafka by changing ``readStream.format`` only; state stores (session
windows, dedup) are per-key state partitioned by the grouping key, so the
same key-partitioning arguments as the batch plans apply; ``availableNow``
is also the standard backfill/replay trigger.
"""

from __future__ import annotations

import hashlib
import tempfile
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import tune


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay events.parquet as a stream with the same ns-timestamp shim +
    seconds truncation as the batch path (catalog.py / batch_equiv.py)."""
    tune(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    # The streaming file source requires a directory; expose the single
    # events.parquet file through a scratch dir of symlinks (read-only data
    # stays untouched — in production this IS a directory of arriving files).
    src_dir = Path(tempfile.gettempdir()) / f"sce_stream_events_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    src_dir.mkdir(exist_ok=True)
    link = src_dir / "events.parquet"
    if not link.exists():
        link.symlink_to(Path(sf_dir) / "events.parquet")
    stream = spark.readStream.schema(raw_schema).parquet(str(src_dir))
    if dict(stream.dtypes)["ts"] in ("bigint", "long"):
        ts_s = F.expr("ts div 1000000000")
    else:
        ts_s = F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
    # TimestampType (not NTZ): required by withWatermark; session tz is UTC.
    return stream.withColumn("t", F.timestamp_seconds(ts_s))


def _drain_to_memory(agg: DataFrame, prefix: str, mode: str) -> DataFrame:
    spark = agg.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _epoch_s(col: str) -> F.Column:
    return F.unix_timestamp(F.col(col).cast("timestamp")).cast("bigint")


def run_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1h tumbling counts as a real stream (complete mode, availableNow).
    Same grouping as ``tumbling_window_events`` (counts only — float means
    are checked on the batch twin)."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("t", "10 minutes")
        .groupBy(F.window("t", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(_epoch_s("win.start").alias("w_start_s"), "c")
    )
    return _drain_to_memory(agg, "tumbling", "complete")


def run_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-min-gap session windows as a real stream (twin of
    ``session_window_events``)."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("t", "10 minutes")
        .groupBy("user_id", F.session_window("t", "1800 seconds").alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", _epoch_s("win.start").alias("session_start_s"), "n_events")
    )
    return _drain_to_memory(agg, "sessions", "complete")


def run_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed streaming dedup (``dropDuplicates`` on user_id × event_type) —
    state-store-backed first-seen-wins; batch twin ``stateful_dedup_events``
    (which additionally pins order by event time for determinism)."""
    stream = _event_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("t", "10 minutes")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id")
    )
    return _drain_to_memory(deduped, "dedup", "append")


def _count_events(key, pdfs, state):
    """``run_stateful_counter_stream``'s state update: one user's event count
    and value sum so far.  Module-level, so the Python worker receives it by
    reference and imports the package."""
    import pandas as pd

    n, v_e6 = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # per-row integer micro-units: the running sum is exact & mergeable
        v_e6 += int(
            (pdf["value"].astype("float64").round(6) * 10**6).round().astype("int64").sum()
        )
    state.update((n, v_e6))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "v_sum_e6": [v_e6]})


def run_stateful_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a per-user
    lifetime event counter + running value sum, state carried across
    micro-batches (the escape hatch for streaming semantics the built-in
    operators can't express — SURVEY.md §2.B "UDF surface").

    With availableNow replay the final counts equal the batch groupBy —
    asserted in tests/test_streaming.py.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("v_sum_e6", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("v_e6", LongType())]
    )

    stream = _event_stream(spark, sf_dir)
    counted = (
        stream.withWatermark("t", "10 minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            _count_events,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return _drain_to_memory(counted, "stateful_counter", "update")


def state_v2_available() -> bool:
    """True iff Spark's state-v2 ``transformWithStateInPandas`` can run
    here: its driver/worker protocol speaks protobuf (an optional PySpark
    dependency not shipped in every environment — absent one, the stream
    fails at START with a driver-worker crash, so we gate up front the
    same way multimodal gates PIL and 10x ingestion gates h5py)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


def run_state_v2_counter_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``run_stateful_counter_stream`` twin on Spark 4's state-v2 API
    (``transformWithStateInPandas`` + ``StatefulProcessor`` + typed
    ``ValueState``), the successor to ``applyInPandasWithState``: state is
    named and typed per processor, timers are first-class, and the state
    store must be RocksDB (set per-session before start; at cluster scale
    RocksDB is also what bounds executor memory for large keyed state).

    Raises ImportError where the protobuf dependency is absent (see
    ``state_v2_available``); the equivalence test skips there.
    """
    if not state_v2_available():
        raise ImportError(
            "transformWithStateInPandas requires the 'protobuf' package "
            "(pyspark optional dependency); install it to run the state-v2 path"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("v_sum_e6", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("v_e6", LongType())]
    )

    class _CounterProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._st = handle.getValueState("counts", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, v_e6 = self._st.get() if self._st.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                v_e6 += int(
                    (pdf["value"].astype("float64").round(6) * 10**6)
                    .round()
                    .astype("int64")
                    .sum()
                )
            self._st.update((n, v_e6))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "v_sum_e6": [v_e6]}
            )

        def close(self) -> None:
            pass

    # transformWithStateInPandas requires the RocksDB provider; set it for
    # THIS stream only and restore the session's prior value afterwards
    # (r6 advice: leaving it set silently switched every later streaming
    # job in the same session — e.g. the v1 counter twin — to RocksDB).
    # The provider is captured at stream START, so restoring after
    # _drain_to_memory (which starts and fully drains the query) is safe.
    _PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
    prior = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(
        _PROVIDER_KEY,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = _event_stream(spark, sf_dir)
        counted = (
            stream.withWatermark("t", "10 minutes")
            .groupBy("user_id")
            .transformWithStateInPandas(
                statefulProcessor=_CounterProcessor(),
                outputStructType=out_schema,
                outputMode="Update",
                timeMode="None",
            )
        )
        return _drain_to_memory(counted, "state_v2_counter", "update")
    finally:
        if prior is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prior)


def run_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join: purchases within 30 min after a
    click by the same user — the live twin of
    ``batch_equiv.stream_join_click_purchase``.

    Both sides carry a watermark and the join condition bounds purchase
    time to [click, click + 30 min], which is what lets the state store
    expire each side's buffered rows (unbounded-state stream joins are
    rejected by the engine in append mode).  State is partitioned by the
    join key (user_id) like any keyed stream op.
    """
    from .batch_equiv import ATTRIB_WINDOW_S

    stream = _event_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("t").alias("c_t"),
        )
        .withWatermark("c_t", "10 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("t").alias("p_t"),
        )
        .withWatermark("p_t", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_t >= c_t AND p_t <= c_t + interval {ATTRIB_WINDOW_S} seconds"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_t") - F.unix_timestamp("c_t")).cast("bigint").alias("dt_s"),
    )
    return _drain_to_memory(joined, "ssjoin", "append")


def run_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — live twin of
    ``batch_equiv.stream_left_join_unattributed``.

    Outer results are emitted by STATE EXPIRY: a click's NULL row appears
    only once the watermark proves no qualifying purchase can still
    arrive (wm > c_t + attribution window).  With the single-file replay
    the final no-data micro-batch evicts against the terminal GLOBAL
    watermark — min over both sides of ``max(side event time) - 10 min``
    (the multi-watermark policy follows the earliest-ending side) — so
    clicks younger than ``wm - 1800 s`` keep their state and never
    surface a NULL row: the documented finite-replay truncation the test
    bounds; on an unbounded production stream the watermark keeps
    advancing and every click eventually resolves."""
    from .batch_equiv import ATTRIB_WINDOW_S

    stream = _event_stream(spark, sf_dir)
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("t").alias("c_t"),
        )
        .withWatermark("c_t", "10 minutes")
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("t").alias("p_t"),
        )
        .withWatermark("p_t", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            f"c_user = p_user AND p_t >= c_t AND p_t <= c_t + interval {ATTRIB_WINDOW_S} seconds"
        ),
        "leftOuter",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        (F.unix_timestamp("p_t") - F.unix_timestamp("c_t")).cast("bigint").alias("dt_s"),
        F.unix_timestamp("c_t").cast("bigint").alias("c_ts_s"),
    )
    return _drain_to_memory(joined, "ssleftjoin", "append")


# --- checkpointed file sink (the exactly-once production path) ---------------

def run_file_sink_stream(spark: SparkSession, sf_dir: str, clear: bool = True) -> str:
    """Stream purchases to a parquet sink with a checkpoint — the
    production delivery path: the file sink's transaction log plus the
    checkpointed source offsets give end-to-end exactly-once (a restart
    with the same checkpoint reprocesses nothing; asserted in
    tests/test_streaming.py).  Stateless transform → append mode, so no
    watermark-tail truncation exists and the sink equals the batch filter
    bit-for-bit.  Returns the sink path.
    """
    import shutil

    stream = _event_stream(spark, sf_dir)
    base = Path(tempfile.gettempdir()) / (
        f"sce_stream_sink_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    )
    if clear:
        shutil.rmtree(base, ignore_errors=True)
    out = stream.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        _epoch_s("t").alias("t_s"),
        F.round("value", 6).alias("v"),
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", str(base / "data"))
        .option("checkpointLocation", str(base / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return str(base / "data")


_FILE_SINK_ORACLE = """
SELECT event_id, user_id,
       epoch_us(ts) // 1000000 AS t_s,
       round(value, 6) AS v
FROM events WHERE event_type = 'purchase'
"""


@query("stream_file_sink_roundtrip", oracle=_FILE_SINK_ORACLE, tags=("streaming", "sink"), cache=False)
def stream_file_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the checkpointed parquet-sink stream to completion, then read
    the sink back — hash-equality with the batch filter proves the
    streaming delivery lost and duplicated nothing (exactly-once), the
    property every production pipeline builds on.  The sink+checkpoint
    scratch dir is cleared up front so the check is deterministic per run;
    a re-run that KEEPS the checkpoint appends zero rows (see
    tests/test_streaming.py::test_file_sink_exactly_once).
    """
    return spark.read.parquet(run_file_sink_stream(spark, sf_dir, clear=True))


def run_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live twin of ``batch_equiv.stream_static_enrich``: the event stream
    joins the static nation dimension (broadcast; re-resolved per
    micro-batch — the standard slowly-changing-reference pattern) and
    aggregates per (nation, event_type) in complete mode."""
    stream = _event_stream(spark, sf_dir)
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    joined = stream.join(
        F.broadcast(nation), stream.user_id % 25 == nation.n_nationkey
    )
    agg = joined.groupBy(F.col("n_name").alias("nation"), "event_type").agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5D) AS BIGINT)")).alias("v_cents"),
    )
    return _drain_to_memory(agg, "static_enrich", "complete")


# --- foreachBatch incremental merge (the programmable-sink production path) --

def run_foreach_batch_merge(spark: SparkSession, sf_dir: str, clear: bool = True) -> str:
    """Stream events in MULTIPLE micro-batches and ``foreachBatch``-merge
    each batch's per-user purchase partials into a standing aggregate
    table — the programmable-sink pattern every warehouse-bound pipeline
    uses where a plain file sink can only append: per batch, the standing
    state full-outer-merges with the batch aggregate and is committed as
    a NEW versioned directory + an atomically replaced CURRENT pointer
    (readers never see a half-written table; the previous version stays
    until the pointer moves — the copy-on-write table layout).

    The source is the events table pre-split into 3 files read with
    ``maxFilesPerTrigger=1``, so the merge genuinely executes ≥3 times
    (asserted in tests); integer count/cents partials make the
    incremental result bit-equal to the one-shot batch aggregate at any
    batch boundary placement.  State size is O(users) — at 100 TB the
    same loop MERGEs into a real lakehouse table instead of rewriting
    (the rewrite here is the smallest self-contained stand-in).

    Returns the final state directory.
    """
    import os
    import shutil

    tune(spark)
    base = Path(tempfile.gettempdir()) / (
        f"sce_febatch_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    )
    if clear:
        shutil.rmtree(base, ignore_errors=True)
    base.mkdir(exist_ok=True)
    src = base / "src"
    if not src.exists():
        spark.read.parquet(f"{sf_dir}/events.parquet").repartition(3).write.mode(
            "overwrite"
        ).parquet(str(src))
    raw_schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(raw_schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src))
    pointer = base / "CURRENT"
    batches: list[int] = []
    replays: list[int] = []

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # Exactly-once guard for foreachBatch's at-least-once contract: if
        # a batch fails AFTER the pointer swap, Structured Streaming
        # re-invokes merge with the SAME batch_id.  Version dirs are named
        # v{batch_id} and batch ids are monotone, so a replayed id is
        # detected by the committed pointer already naming this version or
        # a later one — no-op instead of double-counting the partials.
        # Replays are counted separately so last_batch_count only tallies
        # GENUINELY executed merges (the >=3-batch test assertion).
        if pointer.exists() and int(batch_id) <= int(pointer.read_text()[1:]):
            replays.append(int(batch_id))
            return
        batches.append(int(batch_id))
        agg = (
            batch_df.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
                F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5D) AS BIGINT)")).alias(
                    "v_cents"
                ),
            )
        )
        if pointer.exists():
            cur = spark.read.parquet((base / pointer.read_text()).as_posix())
            a, c = agg.alias("a"), cur.alias("c")
            agg = a.join(c, F.col("a.user_id") == F.col("c.user_id"), "full_outer").select(
                F.coalesce(F.col("a.user_id"), F.col("c.user_id")).alias("user_id"),
                (
                    F.coalesce(F.col("a.n_purchases"), F.lit(0))
                    + F.coalesce(F.col("c.n_purchases"), F.lit(0))
                ).alias("n_purchases"),
                (
                    F.coalesce(F.col("a.v_cents"), F.lit(0))
                    + F.coalesce(F.col("c.v_cents"), F.lit(0))
                ).alias("v_cents"),
            )
        vdir = f"v{batch_id}"
        agg.write.mode("overwrite").parquet(str(base / vdir))
        tmp = base / "CURRENT.tmp"
        tmp.write_text(vdir)
        os.replace(tmp, pointer)  # atomic pointer swap

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(base / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    run_foreach_batch_merge.last_batch_count = len(batches)
    run_foreach_batch_merge.last_replay_count = len(replays)
    return str(base / pointer.read_text())


_FOREACH_MERGE_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS v_cents
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


@query(
    "stream_foreach_batch_merge",
    oracle=_FOREACH_MERGE_ORACLE,
    tags=("streaming", "sink", "merge"),
    cache=False,
)
def stream_foreach_batch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the ``foreachBatch`` incremental merge to completion and read
    the final standing table: hash-equality with the one-shot batch
    aggregate proves the per-batch merge placed every partial exactly
    once across ≥3 genuine micro-batch boundaries (the programmable-sink
    twin of ``stream_file_sink_roundtrip``'s append-only delivery)."""
    return spark.read.parquet(run_foreach_batch_merge(spark, sf_dir, clear=True))
