"""Streaming operators over the events table (ts, user_id, event_type, value).

Batch/streaming-unified transforms: each takes a DataFrame that may be
either a batch frame or a streaming frame. Watermarks only engage on
streaming input (Spark ignores them in batch mode), so the batch run of
the same function doubles as the correctness oracle for the streaming
run — the engine's differential-testing story for §2.10.

Scale posture: windowed aggregation state is bounded by the watermark
(late data beyond it is dropped and its state evicted); dedup state
likewise via ``dropDuplicatesWithinWatermark``. The shuffle key is
(window, event_type) / user_id — high-cardinality enough to spread, and
AQE handles residual skew in batch mode. Spark turns AQE off in a
streaming query, so every ``foreachBatch`` query of the package starts
through :func:`_start_foreach_batch` at ``defaultParallelism`` shuffle
partitions (the state width) rather than the session's batch width.

Exactly-once sinks write each micro-batch straight to its own
``__batch_id=<id>`` directory in overwrite mode (:func:`_write_batch`).
"""

from __future__ import annotations

from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uofi_payroll_etl_main_demo_spark.session import scoped_conf

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a parquet directory of events.

    File sources need an explicit schema (no inference on streams);
    ``maxFilesPerTrigger`` paces micro-batches for tests/backfills.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling- (or, with ``slide``, sliding-) window counts + value
    sums per event type.

    Streaming: watermark bounds state and admits late data up to
    ``watermark``; a sliding window keeps window/slide concurrent
    windows per key (state grows by that factor — the watermark still
    bounds it). Batch: identical grouped aggregation (watermark is a
    no-op), so the batch result is the converged streaming result.
    Output: window_start, window_end, event_type, n_events, sum_value;
    with a slide every event lands in window/slide rows.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        src.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_events(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "30 minutes"
) -> DataFrame:
    """Exactly-once-per-key event stream.

    Streaming: ``dropDuplicatesWithinWatermark`` keeps state only for
    the watermark horizon — the unbounded-state-safe form of streaming
    dedup. Batch: plain ``dropDuplicates`` (same converged semantics
    when keys are globally unique).
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            keys
        )
    # Batch twin: the streaming path keeps the FIRST ARRIVAL per key;
    # under in-order delivery that is the earliest event time, so the
    # deterministic batch equivalent is keep-first by (ts, event_id) —
    # NOT dropDuplicates, whose survivor is partitioning-dependent.
    from uofi_payroll_etl_main_demo_spark.operators.dedup import (
        dedup_keep_first,
    )

    return dedup_keep_first(events, keys, ["ts", "event_id"])


def correlate_streams(
    lhs: DataFrame,
    rhs: DataFrame,
    key: str = "user_id",
    within: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream interval join: each ``lhs`` event paired with the
    ``rhs`` events of the same key whose timestamp lands in
    ``[lhs.ts, lhs.ts + within]`` (e.g. click-after-view attribution).

    Streaming: BOTH sides are watermarked and the join condition bounds
    rhs.ts relative to lhs.ts — exactly the constraint Spark needs to
    evict join state (an unbounded stream-stream join would buffer both
    streams forever). Batch: the identical plan — an equi-join on the
    key with the time bounds as join filters (hash join, no cartesian;
    the key carries the partitioning) — so the batch run is the oracle
    for the streaming run.

    Output: (key, l_event_id, r_event_id, l_ts, r_ts, lag_us) with
    ``lag_us`` the exact integer microsecond gap.
    """
    l = lhs.select(
        F.col(key).alias("__k"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = rhs.select(
        F.col(key).alias("__k2"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    if lhs.isStreaming:
        l = l.withWatermark("l_ts", watermark)
    if rhs.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    cond = (
        (l["__k"] == r["__k2"])
        & (r["r_ts"] >= l["l_ts"])
        & (r["r_ts"] <= l["l_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return (
        l.join(r, cond)
        .select(
            F.col("__k").alias(key),
            "l_event_id",
            "r_event_id",
            "l_ts",
            "r_ts",
            (F.unix_micros("r_ts") - F.unix_micros("l_ts")).alias("lag_us"),
        )
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: dict[str, str],
    payload: list[str],
) -> DataFrame:
    """Stream-static enrichment join.

    ``on`` maps the event column to the dim key column. The static side
    is explicitly ``broadcast`` so every micro-batch hash-joins against
    an executor-local copy — no per-batch shuffle of the stream, which
    is the only stream-join shape that needs zero state. Works
    identically on a batch frame (same plan, minus triggers), so the
    batch run is the oracle for the streaming run.
    """
    (ev_key, dim_key), = on.items()
    d = dim.select(
        F.col(dim_key).alias(ev_key),
        *[F.col(c) for c in payload],
    ).dropDuplicates([ev_key])
    return events.join(F.broadcast(d), ev_key, "left")


def event_type_rollup(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Running per-type totals (complete-mode aggregate in streaming)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def _write_batch(batch_df: DataFrame, path: str, batch_id: int) -> None:
    """Write one micro-batch straight to ``<path>/__batch_id=<id>/``.

    Overwrite mode on the batch's own directory: a replayed batch
    replaces exactly its earlier attempt and touches no other batch,
    and nothing lists or rewrites the rest of the partition tree. A
    crash mid-write leaves at most this batch's directory partial, and
    the batch is uncommitted, so its replay replaces it. The
    files carry no ``__batch_id`` column; a read of ``path`` recovers
    it from the directory name, as for a ``partitionBy`` layout.
    """
    batch_df.write.mode("overwrite").parquet(f"{path}/__batch_id={batch_id}")


def _start_foreach_batch(
    stream: DataFrame, sink, checkpoint: str, available_now: bool = True
):
    """Start ``stream`` into the ``foreachBatch`` function ``sink``.

    The query starts with ``spark.sql.shuffle.partitions`` set to
    ``defaultParallelism``: Spark disables AQE in a streaming query, so
    the session's batch shuffle width would otherwise run as that many
    state-store tasks and state files per operator on every trigger.
    The conf is set only around ``start()``, which clones the stream's
    session synchronously, so the caller's session is back at its own
    width when this returns. Spark records the width in the
    checkpoint's offset log, and a restarted checkpoint keeps the
    width it began with.
    """
    spark = stream.sparkSession
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    width = str(spark.sparkContext.defaultParallelism)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": width}):
        return writer.start()


def write_stream_foreach_batch(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Exactly-once parquet sink via ``foreachBatch`` + idempotent
    per-batch directory overwrite.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch``; exactly-once lands on the SINK being idempotent
    per batch. Each micro-batch is written by :func:`_write_batch` to
    its own ``__batch_id=<id>`` directory in overwrite mode, so a
    replayed batch rewrites its own directory instead of duplicating
    rows. Combined with the checkpoint (which makes batch ids stable
    across restarts), the output is exactly-once at any scale.

    The query starts at the state width of :func:`_start_foreach_batch`
    (``defaultParallelism`` shuffle partitions). Migration: an existing
    checkpoint keeps the width recorded in its offset log (its state
    store is partitioned by it), so a query begun at the session's
    batch width keeps that width on restart; moving such a query to
    the new width means starting it on a fresh checkpoint.

    Returns the started StreamingQuery (caller awaits termination).
    """
    return _start_foreach_batch(
        stream,
        lambda batch_df, batch_id: _write_batch(batch_df, path, batch_id),
        checkpoint,
        available_now,
    )


USER_TOTALS_SCHEMA = "user_id BIGINT, n_events BIGINT, total_value DOUBLE"


def user_totals_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the transformWithState accumulator: final per-user
    totals (count + decimal-exact sum)."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``transformWithStateInPandas``
    (Spark 4's arbitrary-stateful API, successor to
    ``applyInPandasWithState``).

    Each micro-batch updates a ValueState of (n, total) per user and
    emits the post-batch snapshot — a COMMUTATIVE accumulation, so the
    result is independent of arrival order across micro-batches (the
    property that makes it exactly testable: the last snapshot per user
    must equal the batch aggregate). State is one tiny row per user;
    TTL/timers available on the same handle when eviction is needed.

    On a batch frame this simply returns :func:`user_totals_batch`
    (identical converged semantics, same unified-API contract as every
    transform in this module).

    Environment note: the streaming path's state protocol requires
    ``google.protobuf`` (ships with full Spark distributions; absent in
    minimal containers) — a clear ImportError is raised up front rather
    than a mid-query executor crash.
    """
    if not events.isStreaming:
        return user_totals_batch(events)

    try:
        import google.protobuf.descriptor  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env dependent
        raise ImportError(
            "transformWithStateInPandas streaming requires google.protobuf; "
            "use applyInPandasWithState-based operators (sessionize) instead"
        ) from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _Totals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # totals kept in integer cents: float state would accumulate
            # nondeterministically across batch orderings
            self._state = handle.getValueState(
                "totals", "n BIGINT, cents BIGINT"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            n, cents = 0, 0
            if self._state.exists():
                prev = self._state.get()
                n, cents = int(prev[0]), int(prev[1])
            for pdf in rows:
                n += len(pdf)
                cents += int(round(pdf["value"].sum() * 100))
            self._state.update((n, cents))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [cents / 100.0],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_Totals(),
        outputStructType=USER_TOTALS_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
    ]
)

SESSION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def sessionize(
    events: DataFrame,
    gap: str = "30 minutes",
    timeout_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Custom stateful operator: per-user session aggregation.

    Streaming path: ``applyInPandasWithState`` with processing-time
    timeout — the engine's pattern for operators Spark lacks natively
    (SURVEY.md build directive: applyInPandasWithState for custom
    stateful ops). A session closes when no event arrives within the
    timeout; closed sessions are emitted with start/end/count/sum.

    Batch path (the oracle): classic gap-based sessionization via a
    lag/window cumulative-sum — same output schema, converged result.
    """
    gap_us = _duration_to_us(gap)
    if not events.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        # exact micros arithmetic (a seconds cast would truncate
        # sub-second gaps and disagree with the streaming path)
        with_gap = events.withColumn(
            "__new_session",
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts"), 1, 0).over(w)
                > gap_us
            ).cast("int"),
        )
        with_id = with_gap.withColumn(
            "__session", F.sum("__new_session").over(w)
        )
        return (
            with_id.groupBy("user_id", "__session")
            .agg(
                F.min("ts").alias("session_start"),
                F.max("ts").alias("session_end"),
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .drop("__session")
        )

    def update(
        key: tuple[Any, ...], pdfs: Iterator, state
    ) -> Iterator:
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, end_us, n, total = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(end_us, unit="us")],
                    "n_events": [n],
                    "sum_value": [total],
                }
            )
            return

        rows = pd.concat(list(pdfs)).sort_values("ts")
        ts_us = rows["ts"].astype("int64") // 1000
        closed = []
        if state.exists:
            start_us, end_us, n, total = state.get
        else:
            start_us = end_us = int(ts_us.iloc[0])
            n, total = 0, 0.0
        for t_us, val in zip(ts_us, rows["value"].fillna(0.0)):
            t_us = int(t_us)
            if n > 0 and t_us - end_us > gap_us:
                closed.append((start_us, end_us, n, total))
                start_us, n, total = t_us, 0, 0.0
            if n == 0:
                start_us = t_us
            end_us = t_us
            n += 1
            total += float(val)
        state.update((start_us, end_us, n, total))
        state.setTimeoutDuration(timeout_ms)
        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s, unit="us") for s, *_ in closed],
                    "session_end": [pd.Timestamp(e, unit="us") for _, e, *_ in closed],
                    "n_events": [c[2] for c in closed],
                    "sum_value": [c[3] for c in closed],
                }
            )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="ProcessingTimeTimeout",
    )


def _duration_to_us(s: str) -> int:
    qty, unit = s.split()
    mult = {
        "second": 1_000_000,
        "seconds": 1_000_000,
        "minute": 60_000_000,
        "minutes": 60_000_000,
        "hour": 3_600_000_000,
        "hours": 3_600_000_000,
    }[unit]
    return int(qty) * mult
