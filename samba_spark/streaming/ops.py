"""Structured Streaming operators over the events table.

The reference inherits Spark's DStream layer only, with no watermarks, no
event-time windows, and no provenance in streaming (SURVEY.md §2.3
Streaming; reference streaming/src/main/scala/.../dstream/DStream.scala —
signature-adapted stock code). Our engine supersedes that with Structured
Streaming: event-time tumbling/sliding/session windows, watermark late-data
handling, arbitrary stateful processing via applyInPandasWithState, and
micro-batch-grain provenance through foreachBatch.

Scale notes: all aggregations below are keyed by (window, key) — state
store size is O(#open windows × #keys), bounded by the watermark which
expires state; at 100 TB/day ingest the same topology runs with more
shuffle partitions and RocksDB state store, no code change.
"""

from __future__ import annotations

from typing import Iterable, Optional

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from samba_spark.sources.tables import read_parquet

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


EVENTS_SCHEMA_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) via nanosAsLong
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: Optional[int] = None,
    nanos: bool = False,
    path_glob: Optional[str] = None,
) -> DataFrame:
    """File-based replayable stream of the events fixture — deterministic
    micro-batch replay for tests (one parquet file per batch when
    ``max_files_per_trigger=1``). ``nanos=True`` means "stream the raw
    fixture file"; the actual layout is sniffed from the parquet footer
    (the generator has shipped both TIMESTAMP(NANOS) and MICROS), and a
    NANOS file is truncated to micros like load_tables. ``path_glob``
    selects files within ``path`` (the streaming file source requires a
    directory)."""
    from samba_spark.sources.tables import (
        events_ts_is_nanos,
        resolve_events_file,
    )

    use_long = nanos and events_ts_is_nanos(resolve_events_file(path, path_glob))
    reader = spark.readStream.schema(
        EVENTS_SCHEMA_NANOS if use_long else EVENTS_SCHEMA
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if path_glob is not None:
        reader = reader.option("pathGlobFilter", path_glob)
    df = reader.parquet(path)
    if use_long:
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    return df


def tumbling_counts(
    events: DataFrame, duration: str = "10 minutes", watermark: Optional[str] = None
) -> DataFrame:
    """Tumbling event-time window: count + sum(value) per (window, type)."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_avg(
    events: DataFrame,
    duration: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: Optional[str] = None,
) -> DataFrame:
    """Sliding window: each event lands in duration/slide windows."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(F.round(F.avg("value"), 2).alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "avg_value",
            "n",
        )
    )


def session_counts(
    events: DataFrame, gap: str = "5 minutes", watermark: Optional[str] = None
) -> DataFrame:
    """Session windows per user: sessions close after ``gap`` of silence."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("s_start"),
            F.col("w.end").alias("s_end"),
            "user_id",
            "n_events",
        )
    )


_STATE_SCHEMA = "total BIGINT, total_value DOUBLE"
_TOTALS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _update_user_totals(
    key, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Custom stateful operator: cumulative per-user event count + value sum
    across micro-batches (the applyInPandasWithState analogue of the
    reference's StateDStream, which SAMbA inherits unmodified)."""
    if state.exists:
        total, total_value = state.get
    else:
        total, total_value = 0, 0.0
    for pdf in pdfs:
        total += len(pdf)
        total_value += float(pdf["value"].sum())
    state.update((total, round(total_value, 2)))
    yield pd.DataFrame(
        [{"user_id": key[0], "total": total, "total_value": round(total_value, 2)}]
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Stateful running totals per user (update output mode)."""
    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        _update_user_totals,
        outputStructType=_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join_errors_clicks(
    errors: DataFrame,
    clicks: DataFrame,
    *,
    lookback: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner interval join: for each error, the clicks of the
    same user in the ``lookback`` window before it. Both sides carry
    watermarks so the join state is bounded: a click older than
    (watermark + lookback) can never match a future error and is evicted.
    Inner-join emission is complete under availableNow replay, so the
    result is the deterministic set of qualifying pairs."""
    e = errors.select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    ).withWatermark("err_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return e.join(
        c,
        F.expr(
            f"err_user = click_user AND "
            f"click_ts BETWEEN err_ts - INTERVAL {lookback} AND err_ts"
        ),
        "inner",
    ).select("err_id", "click_id", F.col("err_user").alias("user_id"))


def interval_join_outer(
    errors: DataFrame,
    clicks: DataFrame,
    *,
    lookback: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the semantics inner joins
    (interval_join_errors_clicks) cannot give: every error eventually
    emits, matched pairs immediately, unmatched errors null-padded only
    once the global watermark proves no future click can match (the join
    upper bound is err_ts, so watermark > err_ts closes the row's
    window). State on both sides stays watermark-bounded exactly as in
    the inner case; the outer part adds the per-left-row "emit on
    eviction" obligation, which is why outer stream-stream joins REQUIRE
    the watermark while inner ones merely use it to bound state.

    Emission contract under availableNow replay: matched pairs are
    complete; null-padded rows appear for errors with
    err_ts < min(max(err_ts), max(click_ts)) - watermark (the final
    global watermark, min across both sides). q85's oracle applies the
    same closure predicate."""
    e = errors.select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    ).withWatermark("err_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return e.join(
        c,
        F.expr(
            f"err_user = click_user AND "
            f"click_ts BETWEEN err_ts - INTERVAL {lookback} AND err_ts"
        ),
        "left_outer",
    ).select("err_id", "click_id", F.col("err_user").alias("user_id"))


def interval_join_full_outer(
    errors: DataFrame,
    clicks: DataFrame,
    *,
    lookback: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream FULL OUTER interval join — completes the join-type
    matrix (q43 inner, q85 left): BOTH sides null-pad on watermark
    closure. Asymmetric closure times fall straight out of the interval
    bounds: an error row can only match clicks at or before err_ts, so
    it closes when the watermark passes err_ts; a click can be claimed
    by errors as late as click_ts + lookback, so its state must survive
    ``lookback`` longer and its null-pad emits only once
    watermark > click_ts + lookback. State on both sides stays
    watermark-bounded; the outer obligations ride the same eviction
    scan. q91's oracle replays the batch full join with exactly these
    two closure predicates."""
    e = errors.select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("err_user"),
        F.col("ts").alias("err_ts"),
    ).withWatermark("err_ts", watermark)
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    ).withWatermark("click_ts", watermark)
    return e.join(
        c,
        F.expr(
            f"err_user = click_user AND "
            f"click_ts BETWEEN err_ts - INTERVAL {lookback} AND err_ts"
        ),
        "full_outer",
    ).select(
        "err_id",
        "click_id",
        F.coalesce(F.col("err_user"), F.col("click_user")).alias("user_id"),
    )


def dedup_within_watermark(
    events: DataFrame, *cols: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
    keeps a key in the dedup state only until the watermark passes its
    event time + delay, then expires it — unlike plain dropDuplicates
    (streaming_distinct below), whose state grows with the all-time
    distinct count. At 100 TB/day this is the difference between O(keys
    within the watermark horizon) and an unbounded state store. The
    trade: a duplicate arriving after its original's state expired is
    re-emitted — the contract is "exactly-once within the lateness
    bound", which is what dedup-at-ingest actually needs."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(cols)
    )


def two_level_window_rollup(
    events: DataFrame,
    fine: str = "1 hour",
    coarse: str = "1 day",
    watermark: str = "1 hour",
) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark 3.5+):
    a fine-grain tumbling aggregation feeds a second windowed aggregation
    over ``window_time`` of the first — the streaming form of the
    maintained-rollup pattern (hourly counts folding into daily, both
    incrementally, one query). Each level keeps its own watermark-bounded
    state; the coarse level sees one row per closed fine window, so its
    input volume is O(fine windows), not O(events).

    Append-mode emission: a window row is emitted when the watermark
    passes its end, so under availableNow replay the LAST partial coarse
    window (and fine windows inside the final watermark delay) are not
    emitted — callers comparing against batch recomputation must filter
    both sides to windows closed by max(ts) - delay (q84 does)."""
    fine_agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", fine).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        fine_agg.groupBy(
            F.window(F.window_time("w"), coarse).alias("d"), "event_type"
        )
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_fine_windows"),
        )
        .select(
            F.col("d.start").alias("d_start"),
            "event_type",
            "n_events",
            "n_fine_windows",
        )
    )


def streaming_distinct(events: DataFrame, *cols: str) -> DataFrame:
    """Streaming deduplication: emit each distinct combination of ``cols``
    once (dropDuplicates keeps state per key; project first so the kept
    row IS the key — no arbitrary first-seen payload columns, making the
    append-mode output a deterministic set)."""
    return events.select(*cols).dropDuplicates(list(cols))


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: "int | None" = None,
) -> DataFrame:
    """Drain all available input into an in-memory table; return it as a
    batch DataFrame. Deterministic replay harness for tests.
    ``state_partitions`` pins the stateful-operator partition count for
    this query (see :func:`state_partitioning` for the sizing rule) —
    results are partition-count independent, replay cost is not."""

    def _start():
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    if state_partitions is not None:
        with state_partitioning(stream_df.sparkSession, state_partitions):
            _start()
    else:
        _start()
    return stream_df.sparkSession.table(name)


def run_with_batch_provenance(
    session, stream_df: DataFrame, sink_path: str, *, desc: str = "stream"
):
    """Micro-batch-grain provenance: each foreachBatch invocation records a
    task row (one per batch) in the provenance store — the streaming
    analogue of operator Task rows (SURVEY.md §7 M5)."""
    store = session.store
    run_id = session.run_id

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        import uuid as _uuid

        task_id = str(_uuid.uuid4())
        store.write_task(
            run_id,
            task_id,
            transformation_type="stream_batch",
            description=f"{desc}#batch={batch_id}",
            schema_fields=batch_df.columns,
            dep_task_ids=[],
        )
        batch_df.write.mode("append").parquet(sink_path)

    query = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def idempotent_batch_sink(sink_path: str):
    """Exactly-once-per-batch foreachBatch writer: Spark's foreachBatch is
    at-least-once (a batch re-runs after a failure between the write and
    the checkpoint commit), so the sink must be idempotent. This is the
    standard remedy: write each micro-batch to a ``batch_id=<n>``
    partition directory with ``overwrite`` + dynamic partition overwrite —
    a replayed batch atomically replaces its own partition instead of
    appending duplicates, and the (epoch_id, partition) pair becomes the
    transactional unit. Works unchanged against any partition-overwrite
    sink (parquet dirs here; Delta/Iceberg MERGE by batch_id in
    production).

    Returns the function to pass to ``writeStream.foreachBatch``. Safe to
    invoke twice with the same batch_id — the second write replaces the
    first bit-for-bit (the test does exactly that).
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(sink_path)
        )

    return _sink


def enrich_with_dimension(
    stream: DataFrame, dim: DataFrame, on, how: str = "inner"
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins against the
    (batch) dimension — stateless, no watermark needed, and Spark
    broadcasts the dimension side per batch when it fits (the standard
    lookup-table pattern; dim updates are picked up on re-read for file
    sources). Contrast with stream-stream joins, which buffer state."""
    return stream.join(dim, on=on, how=how)


def merge_latest(base, updates, keys, order_cols):
    """CDC snapshot fold: next snapshot keeps, per key, the row that is
    greatest by ``order_cols`` (lexicographic) across base ∪ updates.
    Unlike plain update-wins merge (operators/merge.merge_upsert), the
    result is independent of batch arrival order — a late-replayed batch
    can never clobber a newer row, which is the invariant an incremental
    CDC pipeline needs under retries/backfill. Plan: union + one
    hash-shuffled max_by aggregation on the keys."""
    from pyspark.sql import functions as F

    both = base.unionByName(updates)
    payload = F.struct(*[F.col(c) for c in both.columns])
    order = F.struct(*[F.col(c) for c in order_cols])
    agged = both.groupBy(*keys).agg(F.max_by(payload, order).alias("_row"))
    return agged.select("_row.*")


def run_cdc_snapshot(
    spark,
    events_dir: str,
    work_dir: str,
    *,
    keys=("user_id",),
    order_cols=("ts", "event_id"),
    max_files_per_trigger: int = 1,
):
    """Incremental CDC pipeline end to end: stream the parquet files under
    ``events_dir`` one micro-batch per file, fold each batch into a
    parquet-backed snapshot with :func:`merge_latest`, return the final
    snapshot DataFrame. Each batch costs O(batch + snapshot-groups), not
    O(history) — the maintenance loop a 100 TB mutable table runs per
    ingest (what a lakehouse MERGE INTO does, built from engine
    primitives). Snapshots are versioned per batch id under ``work_dir``
    (write-new-then-read, never overwrite-in-place) so a crashed batch
    leaves the previous snapshot intact and re-running batch N is
    idempotent."""
    import os

    from pyspark.sql import functions as F

    sample = read_parquet(spark, events_dir)
    schema = sample.schema
    state = {"path": None}

    def _sink(batch_df, batch_id):
        reduced = merge_latest(
            batch_df.limit(0), batch_df, list(keys), list(order_cols)
        )
        if state["path"] is None:
            merged = reduced
        else:
            prev = read_parquet(batch_df.sparkSession, state["path"])
            merged = merge_latest(prev, reduced, list(keys), list(order_cols))
        out = os.path.join(work_dir, f"snapshot_{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        state["path"] = out

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(events_dir)
        .writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return read_parquet(spark, state["path"])


def read_cdc_snapshot(spark, work_dir: str, version: int | None = None):
    """Time-travel read over the versioned snapshots
    :func:`run_cdc_snapshot` leaves behind: ``version=None`` reads the
    latest snapshot, an integer reads ``snapshot_<version>`` (one per
    micro-batch id). Because each fold only ever adds or refreshes keys,
    older versions are consistent prefixes of the ingest — the
    mini-lakehouse time-travel contract, with retention managed by
    deleting old snapshot dirs."""
    import os
    import re

    versions = sorted(
        int(m.group(1))
        for d in os.listdir(work_dir)
        if (m := re.match(r"snapshot_(\d+)$", d))
    )
    if not versions:
        raise FileNotFoundError(f"no snapshot_<n> dirs under {work_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise FileNotFoundError(
            f"snapshot_{v} not present (have {versions})"
        )
    return read_parquet(spark, os.path.join(work_dir, f"snapshot_{v}"))


_TOTALS_CENTS_SCHEMA = (
    "user_id LONG, n_events LONG, sum_cents LONG, n_errors LONG"
)


# Built by a factory so the fold's qualname is not importable and
# cloudpickle ships it BY VALUE — stateful bodies must not require
# samba_spark on worker PYTHONPATH (same rule every mapInPandas body in
# this repo follows; see multimodal._make_wav_codec).
def _make_totals_cents_fold():
    import pandas as _pd

    def update_user_totals_cents(key, pdfs, state):
        """Composite cumulative per-user state across micro-batches: event
        count, value sum in integer cents, error-event count. Cents are
        accumulated per row BEFORE summing so the fold is bit-exact
        against a SQL oracle's SUM(ROUND(value*100)) — no
        float-accumulation drift."""
        if state.exists:
            n_events, sum_cents, n_errors = state.get
        else:
            n_events, sum_cents, n_errors = 0, 0, 0
        for pdf in pdfs:
            n_events += len(pdf)
            sum_cents += int(pdf["value"].mul(100).round().astype("int64").sum())
            n_errors += int((pdf["event_type"] == "error").sum())
        state.update((n_events, sum_cents, n_errors))
        yield _pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n_events,
                    "sum_cents": sum_cents,
                    "n_errors": n_errors,
                }
            ]
        )

    return update_user_totals_cents


def user_totals_stateful(events: DataFrame) -> DataFrame:
    """Cumulative per-user (count, cents, errors) via
    applyInPandasWithState, update mode — every micro-batch emits the
    fold-so-far; counters are monotone so the max-n_events emission per
    user is the completed fold under any availableNow batch slicing."""
    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_totals_cents_fold(),
            outputStructType=_TOTALS_CENTS_SCHEMA,
            stateStructType="n_events LONG, sum_cents LONG, n_errors LONG",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user cumulative totals via Spark 4's transformWithStateInPandas
    — composite typed state per user: a ValueState (event count, value sum
    in cents) plus a MapState keyed by event_type. Emits the cumulative
    totals every micro-batch (update mode); counters are monotone, so the
    latest emission per user is the complete answer regardless of how
    availableNow slices the replay into batches. No timers are registered,
    so the output is a pure deterministic fold of the input.

    transformWithStateInPandas is Spark 4's replacement for
    applyInPandasWithState (:func:`user_totals_stateful` keeps the old
    API covered with a full oracle row, q78): state is declared as named,
    typed, individually-updatable pieces in the state store (RocksDB at
    scale) instead of one opaque tuple, supports per-state TTL, timers,
    and schema evolution. Value sums are held in integer cents so replay
    results hash-match an exact SQL oracle.

    CONTAINER GATE: the TWS Python worker speaks a protobuf-serialized
    state protocol (pyspark.sql.streaming.proto) and the ``protobuf``
    package is not installed in this sandbox, so the runtime path raises
    at query start; tests/test_streaming.py skips it conditionally the
    way PIL-gated pixel decode used to be handled. The operator is the
    real implementation, not a stub — it runs wherever protobuf exists.

    The processor class is defined inside this function so cloudpickle
    ships it (and its methods) BY VALUE to workers — same plain-session
    rule as every pandas body in this repo."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    import pandas as _pd

    class _UserTotalsProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events LONG, sum_cents LONG"
            )
            self._by_type = handle.getMapState(
                "by_type", "event_type STRING", "n LONG"
            )

        def handleInputRows(self, key, rows, timerValues):
            n_events, sum_cents = (
                self._totals.get() if self._totals.exists() else (0, 0)
            )
            n_errors = (
                self._by_type.getValue("error")
                if self._by_type.containsKey("error")
                else 0
            )
            for pdf in rows:
                n_events += len(pdf)
                # per-row cents before summing: bit-exact vs the SQL
                # oracle's SUM(ROUND(value * 100)) under any accumulation
                sum_cents += int(
                    pdf["value"].mul(100).round().astype("int64").sum()
                )
                n_errors += int((pdf["event_type"] == "error").sum())
            self._totals.update((n_events, sum_cents))
            self._by_type.updateValue("error", n_errors)
            yield _pd.DataFrame(
                [
                    {
                        "user_id": key[0],
                        "n_events": n_events,
                        "sum_cents": sum_cents,
                        "n_errors": n_errors,
                    }
                ]
            )

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            return iter(())

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_type", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserTotalsProcessor(),
            outputStructType=(
                "user_id LONG, n_events LONG, sum_cents LONG, n_errors LONG"
            ),
            outputMode="update",
            timeMode="none",
        )
    )


from contextlib import contextmanager


@contextmanager
def state_partitioning(spark, n: int):
    """Pin the stateful-operator partition count for queries started
    inside the block (and restore the session default on exit).

    Spark fixes the number of state-store instances at a streaming
    query's FIRST checkpoint — it equals ``spark.sql.shuffle.partitions``
    at start time and can never change for that checkpoint's lifetime. So
    the count must be chosen consciously per stream, sized to expected
    STATE volume (key cardinality × retention), not to the session's
    batch-shuffle default: every state store pays per-micro-batch
    commit/snapshot overhead, so 32 near-empty stores replay ~3× slower
    than 8 right-sized ones (measured on the sf0.1 interval join), while
    an undersized count caps parallelism forever at high volume. Err
    larger when state will grow — resizing later means a new checkpoint
    and a state rebuild."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def run_admission_stream(
    spark,
    batches_dir: str,
    index_path: str,
    work_dir: str,
    *,
    min_agree: int = 8,
    max_bucket: int = 1000,
):
    """Streaming admission-controlled ingestion — the x137/x158 serving
    loop run as a STREAM (the production shape: new documents arrive in
    micro-batches; each batch is probed against the persisted MinHash
    index, novelties are admitted and APPENDED so the NEXT batch probes
    the grown index). One parquet file per micro-batch
    (maxFilesPerTrigger=1, availableNow replay — the q73 CDC pattern),
    foreachBatch body = probe → anti-join → append:

    * rejected: batch docs whose best index match reaches ``min_agree``
      of 64 signature positions (dedup.probe_minhash_index);
    * admitted: the rest, appended via dedup.append_minhash_index
      (delta-only signatures, crash-safe bands-first protocol) —
      bounded per-batch work, no rebuild, exactly like a 100 TB
      ingestion window.

    Batch ORDER is semantics: a doc duplicated across two batches is
    admitted in the earlier and rejected in the later. File order
    follows the source's (modification-time, path) order — the caller
    controls it by writing batch files with ascending mtimes (the
    declared x159 query sets them explicitly).

    Index-meta contract: the layout meta row is collected ONCE at the
    first micro-batch and reused for the stream's lifetime — valid
    because the meta dataset is immutable for a live index (append/
    delete/compact/merge never rewrite it; save_minhash_index to the
    same path mid-stream is a REBUILD, outside this loop's
    single-writer contract and unsupported while a stream is running).

    Returns the admission log: one row per streamed doc —
    (doc_id, admitted, match_id, n_agree, est_jaccard). Log rows are
    accumulated per batch (each batch's match table is pinned via
    localCheckpoint — it must never be recomputed against the GROWN
    index) and written ONCE at stream end as a single parquet dataset
    under ``work_dir``/log (r11 → r12: one commit per micro-batch was
    the stream's serial floor — N batches × parquet-commit protocol,
    8→32-core scaling ratio 1.11). Crash visibility: a crash
    mid-stream leaves the index's admitted appends visible (the
    admission decisions of record) but no log parquet; rerunning the
    stream replays every batch against the surviving index and
    reproduces the log — append_minhash_index's doc_id anti-join makes
    the replayed appends idempotent.
    """
    import os

    from pyspark.sql import functions as F

    from samba_spark.operators.dedup import (
        append_minhash_index,
        load_minhash_index,
        minhash_probe_frozen,
        minhash_signatures,
    )

    _EMPTY_LOG_SCHEMA = (
        "doc_id long, admitted boolean, match_id long, "
        "n_agree long, est_jaccard double"
    )
    from pyspark.errors import AnalysisException

    try:
        schema = read_parquet(spark, batches_dir).schema
    except AnalysisException:
        # an empty/absent batches_dir cannot be schema-inferred (UNABLE_
        # TO_INFER_SCHEMA / PATH_NOT_FOUND); an empty stream is an empty
        # admission log (ADVICE r9). Anything else — corrupt footers,
        # permission failures — must still raise (review finding: a
        # broad catch here silently drops every streamed doc).
        return spark.createDataFrame([], _EMPTY_LOG_SCHEMA)
    state = {"batches": [], "meta": None}

    def _sink(batch_df, batch_id):
        # no checkpoint on the raw batch: every reuse below re-scans one
        # small parquet file (the micro-batch), cheaper than a per-batch
        # materialization job
        b = batch_df.select("doc_id", "text")
        # ONE signature pass per batch shared by probe AND append
        # (signatures are a pure function of (text, layout); the append
        # verb used to re-shingle+re-signature the admitted subset —
        # a whole second md5 pass over nearly the whole batch). The
        # layout meta is collected once for the whole stream (immutable
        # after save); bands/sigs are still re-read fresh per batch so
        # each probe sees the previous batch's appends.
        bands_df, sigs_df, meta = load_minhash_index(
            spark, index_path, meta=state["meta"]
        )
        state["meta"] = meta
        dsig = minhash_signatures(
            b, int(meta["n"]), int(meta["num_hashes"]), meta["hash_family"]
        ).localCheckpoint()
        matched = minhash_probe_frozen(
            bands_df,
            sigs_df,
            b,
            n=int(meta["n"]),
            num_hashes=int(meta["num_hashes"]),
            bands=int(meta["bands"]),
            min_agree=min_agree,
            max_bucket=max_bucket,
            hash_family=meta["hash_family"],
            delta_sigs=dsig,
        ).localCheckpoint()
        admitted = b.join(matched.select("doc_id"), "doc_id", "left_anti")
        append_minhash_index(admitted, index_path, sigs=dsig, meta=meta)
        # log rows are NOT written here (docstring: one commit per
        # batch was the stream's serial floor) — ``matched`` is pinned
        # (localCheckpoint above, REQUIRED: recomputing it after later
        # appends would probe the grown index and change the verdicts),
        # the batch docs are re-readable from their files (resolved at
        # stream end from the source's own metadata log), so the
        # per-batch log is reconstructable exactly at stream end.
        state["batches"].append((batch_id, matched))

    # Explicit checkpoint under work_dir: its file-source metadata log
    # (``sources/0/<batchId>`` — one "v1" header + one JSON entry per
    # file) is the authoritative record of WHICH files each micro-batch
    # processed, read back below for the deferred log join with zero
    # extra per-batch jobs (foreachBatch's batch_df.inputFiles() is
    # empty for streaming relations). Cleared first: this loop is
    # stateless by contract — a reused work_dir must never make the
    # stream skip files a previous run already processed.
    import shutil

    ckpt = os.path.join(work_dir, "_checkpoint")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(batches_dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not state["batches"]:
        # availableNow with zero matching files fires no batches;
        # an empty stream is an empty admission log (ADVICE r9).
        return spark.createDataFrame([], _EMPTY_LOG_SCHEMA)

    def _batch_files(batch_id):
        # every compactInterval-th batch (default 10) the file source
        # rewrites its log as "<id>.compact" holding ALL entries so
        # far — filter those back down to this batch's own files
        base = os.path.join(ckpt, "sources", "0", str(batch_id))
        log_path = base if os.path.exists(base) else base + ".compact"
        with open(log_path) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if not lines or lines[0] != "v1":
            raise ValueError(
                f"run_admission_stream: unexpected source-log format for "
                f"batch {batch_id}: {lines[:1]}"
            )
        import json

        entries = [json.loads(ln) for ln in lines[1:]]
        return [
            e["path"]
            for e in entries
            if int(e.get("batchId", batch_id)) == batch_id
        ]

    logs = []
    for batch_id, matched in state["batches"]:
        b_ids = spark.read.schema(schema).parquet(
            *_batch_files(batch_id)
        ).select("doc_id")
        logs.append(
            b_ids.join(matched, "doc_id", "left").select(
                "doc_id",
                F.col("match_id").isNull().alias("admitted"),
                "match_id",
                "n_agree",
                "est_jaccard",
            )
        )
    log = logs[0]
    for piece in logs[1:]:
        log = log.unionByName(piece)
    out = os.path.join(work_dir, "log")
    log.write.mode("overwrite").parquet(out)
    return read_parquet(spark, out)


def run_sessionize_stream(
    spark,
    batches_dir: str,
    store_path: str,
    *,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    user_buckets: int = 0,
):
    """Streaming incremental sessionization — the session-store
    maintenance loop run as a STREAM (the x159 admission pattern,
    event-analytics instance): event files arrive as micro-batches
    (maxFilesPerTrigger=1, availableNow replay — the q73 CDC pattern)
    and each foreachBatch splices ONLY that delta onto the persisted
    store via sessionize_incremental, so session numbering continues
    across batches exactly as the batch :func:`~samba_spark.operators.
    sessionize.sessionize` of the full feed would assign it (the x168
    oracle replays the union from scratch).

    Batch ORDER is semantics: the feed must be append-only in time PER
    USER across batches (within a batch, any order). File order follows
    (modification-time, path) — the caller writes batch files with
    ascending mtimes. A late event fails sessionize_incremental's
    plan-folded assert loudly; the streaming-native alternative for
    genuinely late data is the watermarker session_window path
    (session_counts).

    ``user_buckets`` > 0 uses the bucketed store layout: every batch's
    tail read prunes to its delta's bucket set — the per-trigger store
    scan is bounded by the batch's affected buckets, not the archive
    (this is what makes the loop viable against a 100 TB store).
    Per-batch lease acquisition keeps the single-writer contract; the
    foreachBatch body is serial by construction.

    Returns the persisted store's rows (user, event, ts, type,
    session_id) after the replay drains."""
    from pyspark.errors import AnalysisException

    from samba_spark.operators.sessionize import sessionize_incremental

    import os

    from pyspark.sql.types import LongType, StructType

    out_cols = [user_col, id_col, ts_col, type_col]

    def _store_rows():
        return read_parquet(spark, store_path).select(
            *out_cols, "session_id"
        )

    def _store_has_data():
        return os.path.isdir(store_path) and any(
            not e.startswith(("_", ".")) for e in os.listdir(store_path)
        )

    try:
        schema = read_parquet(spark, batches_dir).schema
    except AnalysisException:
        # empty/absent batches dir: zero new events. If the store
        # already exists its accumulated rows ARE the answer (with
        # their true types); only a store that never existed falls
        # back to the documented default-typed empty frame (review
        # pass: a hardcoded schema must never contradict a real one)
        if _store_has_data():
            return _store_rows()
        return spark.createDataFrame(
            [],
            f"{user_col} string, {id_col} long, {ts_col} timestamp, "
            f"{type_col} string, session_id long",
        )

    def _sink(batch_df, batch_id):
        sessionize_incremental(
            spark,
            store_path,
            batch_df,
            gap_seconds=gap_seconds,
            user_col=user_col,
            ts_col=ts_col,
            type_col=type_col,
            id_col=id_col,
            user_buckets=user_buckets,
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(batches_dir)
        .writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not _store_has_data():
        # a feed dir with zero DATA files fires no batches: build the
        # empty frame from the feed's OWN inferred schema so the types
        # agree with any non-empty day's output
        empty = StructType(
            [schema[c] for c in out_cols]
        ).add("session_id", LongType())
        return spark.createDataFrame([], empty)
    return _store_rows()
