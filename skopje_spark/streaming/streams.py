"""Structured Streaming surface: sources, event-time windows,
watermarked dedup, custom stateful sessionization, and sinks.

The reference has no streaming (SURVEY §1.1: no stream abstraction
exists in skopje) — this is mandated extension surface (§2B streaming
rows). Design: every transformation here is the *same expression* the
batch queries use (``skopje_spark/queries/streaming_windows.py``);
streaming is a property of the source/sink, not of the operators. That
is Structured Streaming's core contract, and it is what makes these
operators testable in batch against a DuckDB oracle while remaining
deployable as incremental pipelines.

Scale notes:

- Watermarks bound state: an unbounded streaming agg at 100 TB/day is
  an OOM; every stateful helper takes an explicit watermark delay.
- File sources use ``maxFilesPerTrigger`` to bound micro-batch size;
  availableNow triggers drain a backlog in bounded batches.
- ``foreachBatch`` is the escape hatch for sinks Spark lacks (JDBC
  staging-swap per micro-batch, idempotent by batch_id).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


# -- sources ----------------------------------------------------------------

def file_stream(spark: SparkSession, path: str, *, schema: StructType | str,
                fmt: str = "json", max_files_per_trigger: int | None = None,
                **options: str) -> DataFrame:
    """Incremental directory scan — the streaming analog of the batch
    file sources. Schema is mandatory (streaming cannot infer)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def rate_stream(spark: SparkSession, *, rows_per_second: int = 100) -> DataFrame:
    """Synthetic ``(timestamp, value)`` source for wiring tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
    )


# -- event-time transformations --------------------------------------------

def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound; required before any stateful op below."""
    return df.withWatermark(ts_col, delay)


def tumbling_agg(df: DataFrame, ts_col: str, every: str, *keys: str,
                 aggs: dict[str, Any] | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Tumbling event-time window aggregate. ``aggs`` maps output name
    → Column; default counts events."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    return (
        df.groupBy(F.window(ts_col, every).alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), *keys, *aggs.keys())
    )


def sliding_agg(df: DataFrame, ts_col: str, size: str, slide: str, *keys: str,
                aggs: dict[str, Any] | None = None,
                watermark: str | None = None) -> DataFrame:
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    return (
        df.groupBy(F.window(ts_col, size, slide).alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), *keys, *aggs.keys())
    )


def session_agg(df: DataFrame, ts_col: str, gap: str, *keys: str,
                aggs: dict[str, Any] | None = None,
                watermark: str | None = None) -> DataFrame:
    """Session windows — natively mergeable state in Structured
    Streaming (no custom state function needed)."""
    if watermark:
        df = df.withWatermark(ts_col, watermark)
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    return (
        df.groupBy(F.session_window(ts_col, gap).alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), *keys, *aggs.keys())
    )


def dedup_within_watermark(df: DataFrame, keys: list[str], ts_col: str,
                           delay: str) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark window are dropped; state for keys older than
    the watermark is evicted. The streaming form of the engine's D1
    exact-dedup operator."""
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


# -- custom stateful operator ----------------------------------------------

def running_totals(df: DataFrame, key_col: str, value_col: str,
                   *, timeout_ms: int | None = None) -> DataFrame:
    """Arbitrary-state example: per-key running (count, sum) maintained
    across micro-batches via ``applyInPandasWithState`` — the engine's
    pattern for operators Spark's built-in state can't express.

    Emits one ``(key, n, total)`` row per key per micro-batch.
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({"key": [key[0]], "n": [n], "total": [total]})

    return (
        df.select(F.col(key_col), F.col(value_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType="key string, n long, total double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if timeout_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def sessionize_stateful(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Custom stateful sessionizer over ``applyInPandasWithState``:
    per-key open-session state (start, last-seen, count) carried across
    micro-batches; a session CLOSES and is emitted when a new event
    arrives more than ``gap_seconds`` after the last one.

    This is the operator shape Spark's built-in ``session_window``
    cannot express: emit-on-close with the open session held in state
    indefinitely (the builtin emits on watermark only). State per key
    is O(1) — three scalars — so key cardinality, not event volume,
    bounds memory.

    Emits ``(key, session_start, session_end, n_events)`` for every
    CLOSED session; the final open session stays in state (flush by
    sending a sentinel event past the gap, or read state at teardown).
    """
    import pandas as pd

    def update(key, pdfs: Iterator["pd.DataFrame"], state: GroupState):
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        closed = []
        events = []
        for pdf in pdfs:
            events.append(pdf[[ts_col]])
        ts_sorted = (
            pd.concat(events)[ts_col].sort_values() if events else pd.Series([])
        )
        for ts in ts_sorted:
            t = ts.value // 1000  # pandas ns → µs
            if last is None:
                start = last = t
                n = 1
            elif t - last > gap_seconds * 1_000_000:
                closed.append((key[0], start, last, n))
                start = last = t
                n = 1
            else:
                last = t
                n += 1
        state.update((start, last, n))
        if closed:
            out = pd.DataFrame(
                closed, columns=["key", "session_start", "session_end", "n_events"]
            )
            out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
            out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
            yield out

    return (
        df.select(F.col(key_col), F.col(ts_col))
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                "key string, session_start timestamp, "
                "session_end timestamp, n_events long"
            ),
            stateStructType="start long, last long, n long",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# -- sinks ------------------------------------------------------------------

def run_available_now(stream_df: DataFrame, *, name: str = "result",
                      output_mode: str = "append") -> DataFrame:
    """Drain everything currently available into an in-memory table and
    return it as a batch DataFrame — the test/verification sink."""
    return run_available_now_with_progress(
        stream_df, name=name, output_mode=output_mode
    )[0]


def run_available_now_with_progress(
    stream_df: DataFrame, *, name: str = "result", output_mode: str = "append"
) -> tuple[DataFrame, list[dict]]:
    """:func:`run_available_now` plus the per-micro-batch progress
    reports (``numInputRows``, ``stateOperators[].numRowsTotal`` …) —
    the observability hook for asserting bounded state-store growth in
    soak tests and for production state-size dashboards. Spark retains
    the last 100 progress updates per query (configurable via
    ``spark.sql.streaming.numRecentProgressUpdates``)."""
    q = (
        stream_df.writeStream.format("memory").queryName(name)
        .outputMode(output_mode).trigger(availableNow=True).start()
    )
    q.awaitTermination()
    progress = list(q.recentProgress)
    return stream_df.sparkSession.table(name), progress


def parquet_stream_sink(stream_df: DataFrame, path: str, checkpoint: str, *,
                        output_mode: str = "append",
                        available_now: bool = False):
    """Exactly-once file sink (checkpointed offsets + atomic commits)."""
    writer = (
        stream_df.writeStream.format("parquet")
        .option("path", path).option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def foreach_batch_sink(stream_df: DataFrame, checkpoint: str,
                       fn: Callable[[DataFrame, int], None], *,
                       available_now: bool = False):
    """Micro-batch escape hatch: ``fn(batch_df, batch_id)`` runs as a
    batch job per trigger — how streaming reaches JDBC/staging-swap
    sinks. ``batch_id`` is the idempotence key (reruns of a failed
    batch present the same id)."""
    writer = stream_df.writeStream.foreachBatch(fn).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def batch_ledger_has(spark: SparkSession, ledger: str, stream_id: str,
                     batch_id: int) -> bool:
    """Whether the parquet batch ledger at ``ledger`` (rows
    ``stream_id string, batch_id long``) records this batch — the
    replay check of a foreachBatch sink whose output is not a
    versioned table. Scoped by the checkpoint's incarnation id
    (``versioned.stream_incarnation_id``), like the store's
    ``stream_ledger`` property."""
    if not os.path.isdir(ledger):
        return False
    return not spark.read.parquet(ledger).filter(
        (F.col("stream_id") == stream_id)
        & (F.col("batch_id") == int(batch_id))
    ).isEmpty()


def batch_ledger_record(spark: SparkSession, ledger: str, stream_id: str,
                        batch_id: int) -> None:
    """Append this batch to the parquet batch ledger at ``ledger``;
    call it AFTER the batch's writes, so a crash in between replays
    the batch instead of losing it."""
    spark.createDataFrame(
        [(stream_id, int(batch_id))], "stream_id string, batch_id long"
    ).write.mode("append").parquet(ledger)


def stream_static_join(stream_df: DataFrame, static_df: DataFrame,
                       on: list[str] | str, *, how: str = "inner",
                       hint_broadcast: bool = True) -> DataFrame:
    """Enrich a stream against a static dimension (the streaming form
    of the reference's KeyMap lookup, ``/root/reference/src/keymap.rs:52-75``).

    The static side is re-resolved per micro-batch and, with
    ``hint_broadcast``, shipped to executors instead of shuffling the
    unbounded stream side — the only sane plan when the stream is the
    100 TB side. Stateless: no watermark needed."""
    if hint_broadcast:
        static_df = F.broadcast(static_df)
    return stream_df.join(static_df, on, how)


def stream_stream_join(left: DataFrame, right: DataFrame, *,
                       on: str, left_ts: str, right_ts: str,
                       watermark: str, within: str,
                       how: str = "inner") -> DataFrame:
    """Windowed stream-stream equi-join: match rows with equal ``on``
    keys whose event times lie within ``within`` of each other.

    Both sides get a ``watermark`` so the join state is bounded: a
    buffered row can be evicted once the other side's watermark passes
    its timestamp + ``within`` — without the time bound the state
    grows forever. Outer variants emit unmatched rows only after that
    eviction point (late-data-safe NULL completion)."""
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col(f"r.{right_ts}")
           >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {within}"))
        & (F.col(f"r.{right_ts}")
           <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {within}"))
    )
    return lw.join(rw, cond, how)


def tumbling_distinct_agg(
    df: DataFrame, ts_col: str, every: str, distinct_col: str, *keys: str,
    lg_k: int = 12,
) -> DataFrame:
    """Approximate DISTINCT per tumbling window via an HLL sketch agg —
    the streaming answer to "distinct users per window".

    Exact streaming distinct needs every seen value in the state store
    (state ∝ cardinality — the 100 TB failure mode); the sketch keeps
    O(2^lg_k) bytes per (window, keys) group, merges map-side, and is
    within ~1/sqrt(2^lg_k) of exact. Pair with ``with_watermark``
    upstream so closed windows finalize and state is evicted."""
    win = F.window(F.col(ts_col), every)
    return (
        df.groupBy(win, *[F.col(k) for k in keys])
        .agg(F.expr(f"hll_sketch_agg({distinct_col}, {lg_k})").alias("__hll"))
        .select(
            F.col("window.start").alias("window_start"),
            *[F.col(k) for k in keys],
            F.expr("hll_sketch_estimate(__hll)").alias("approx_distinct"),
        )
    )


# -- transformWithState (Spark 4 arbitrary-state v2 API) --------------------

def transform_with_state_available() -> bool:
    """Spark 4's ``transformWithStateInPandas`` needs the RocksDB state
    store AND a Python ``google.protobuf`` install for its state-server
    protocol. The JVM side always ships; the protobuf client may not —
    gate call sites on this instead of crashing the streaming query
    mid-batch. (The RocksDB provider is a per-query config that can
    change after this check, so :func:`running_totals_tws` re-verifies
    it at build time.) When this returns False,
    ``applyInPandasWithState`` (the v1 API, no extra deps — see
    :func:`sessionize_stateful`) covers the same arbitrary-state
    ground."""
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def running_totals_tws(stream_df: DataFrame, key_col: str, value_col: str):
    """Per-key running count+sum as a Spark 4 ``StatefulProcessor``
    (ValueState survives across micro-batches; schema evolution and
    per-state TTL are the v2 API's additions over v1). Returns the
    transformed streaming DataFrame; caller attaches the sink.

    Requires :func:`transform_with_state_available` and
    ``spark.sql.streaming.stateStore.providerClass`` set to the
    RocksDB provider.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as _St

    provider = stream_df.sparkSession.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "")
    if "RocksDB" not in (provider or ""):
        raise ValueError(
            "transformWithStateInPandas requires the RocksDB state "
            "store; set spark.sql.streaming.stateStore.providerClass="
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider before building the query"
        )

    class _RunningAgg(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "cnt LONG, total LONG")

        def handleInputRows(self, key, rows, timerValues):
            cnt, total = self._agg.get() if self._agg.exists() else (0, 0)
            for pdf in rows:
                cnt += len(pdf)
                total += int(pdf[value_col].sum())
            self._agg.update((cnt, total))
            yield pd.DataFrame(
                {key_col: [key[0]], "cnt": [cnt], "total": [total]}
            )

        def close(self) -> None:
            pass

    out_schema = _St([
        StructField(key_col, StringType()),
        StructField("cnt", LongType()),
        StructField("total", LongType()),
    ])
    return stream_df.groupBy(key_col).transformWithStateInPandas(
        _RunningAgg(), outputStructType=out_schema,
        outputMode="Update", timeMode="None",
    )
