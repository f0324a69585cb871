"""Structured Streaming operators.

The reference is strictly request/response (SURVEY §2.2: no streaming),
so this module is part of the engine's 100 TB-pipeline extension surface:
the same protect/unprotect UDFs run unchanged on unbounded inputs
(stateless column maps never need state stores), plus the two stateful
shapes every event pipeline needs — watermarked tumbling-window rollups
and custom sessionization via ``applyInPandasWithState``.

Scale notes: protect-on-stream is per-batch embarrassingly parallel;
the rollup's only shuffle is the keyed window aggregation whose state is
bounded by (keys x windows within watermark); sessionization state is one
small record per active key, evicted on gap timeout.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """``readStream`` over the events parquet path (directory, glob, or a
    single file) with the ``ts`` column surfaced as a proper timestamp.

    Mirrors ``registry.load_events``'s type dispatch exactly: the schema
    is probed from the parquet footers with a batch reader (footer-only,
    no data scan) rather than hard-coded, so whichever of the three
    encodings the data carries — legacy ``TIMESTAMP(NANOS)`` read as
    bigint, ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` read as
    TIMESTAMP_NTZ, or a plain UTC timestamp — the stream ends up with
    the same TIMESTAMP column the watermark/window operators require."""
    import os

    from ..plans.registry import prep

    prep(spark)  # UTC session tz (NTZ cast) + nanosAsLong (legacy files)
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
    if os.path.isfile(path):
        # FileStreamSource requires a directory (or glob) path; a single
        # file becomes a one-alternative glob so basePath inference lands
        # on the parent directory
        head, tail = os.path.split(path)
        path = os.path.join(head, "{" + tail + "}")
    stream = reader.parquet(path)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # integer division: nanos exceed 2^53, float division would drift
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # wall-clock-preserving under the UTC session tz pinned by prep()
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def protect_stream(
    stream_df: DataFrame, columns: dict[str, str], encryptor: str = "keystream_xor"
) -> DataFrame:
    """Protect columns of a streaming DataFrame — the vectorized UDFs are
    stateless maps, so they compose with any streaming plan untouched."""
    from ..functions.protect import protect_column

    out = stream_df
    for name, key_id in columns.items():
        out = protect_column(out, name, key_id, encryptor)
    return out


def windowed_event_rollup(
    stream_df: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window rollup: the streaming form of the
    batch ``events_hourly_rollup`` query. Late rows beyond the watermark
    are dropped and window state is evicted — bounded memory at any
    scale."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:00").alias("hour_bucket"),
            "event_type",
            "n",
            "sum_value",
        )
    )


_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)

# state: [session_start_us, last_ts_us, n_events]
_SESSION_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def make_sessionizer(gap_seconds: int):
    """Build the ``applyInPandasWithState`` function: splits each user's
    event stream into sessions separated by > ``gap_seconds`` of
    inactivity. Closed sessions are emitted as soon as the gap is
    observed; the trailing open session lives in state and flushes when
    the event-time watermark passes its gap deadline — deterministic
    (watermark-driven, not wall-clock) and bounded: one state record per
    active key."""
    import numpy as np

    gap_us = gap_seconds * 1_000_000

    def sessionize(
        key: tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        # vectorized gaps-and-islands: with thousands of small groups per
        # partition the per-group Python cost IS the operator's runtime,
        # so everything below is numpy segment arithmetic, no per-event
        # loop (measured 2.6 -> 1.6 s on the sf0.1 sessionize query)
        parts = [
            pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
            for pdf in batches
        ]
        ts = parts[0] if len(parts) == 1 else np.concatenate(parts)
        if ts.size == 0:
            return
        ts.sort()
        # segment k spans [starts_idx[k], ends_idx[k]]; a new segment
        # opens wherever the inter-event gap exceeds gap_us
        breaks = np.flatnonzero(np.diff(ts) > gap_us) + 1
        seg_start = ts[np.concatenate(([0], breaks))]
        seg_end = ts[np.concatenate((breaks - 1, [ts.size - 1]))]
        seg_n = np.diff(np.concatenate(([0], breaks, [ts.size])))
        if state.exists:
            start_us, last_us, n = state.get
            if ts[0] - last_us <= gap_us:
                # batch's first segment continues the carried session.
                # min/max, not assignment: with watermark_delay > 0 a
                # LATE-but-accepted event can precede the carried span,
                # and a blind overwrite would regress session_end below
                # session_start (late events interleaving deeper than
                # the carried endpoints merge here conservatively)
                seg_start[0] = min(start_us, int(seg_start[0]))
                seg_end[0] = max(last_us, int(seg_end[0]))
                seg_n[0] += n
            else:
                # carried session closed by the gap before this batch
                seg_start = np.concatenate(([start_us], seg_start))
                seg_end = np.concatenate(([last_us], seg_end))
                seg_n = np.concatenate(([n], seg_n))
        # last segment stays open in state; the rest are closed -> emit
        state.update((int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1])))
        # flush the open session once event time passes last_ts + gap
        state.setTimeoutTimestamp(int(seg_end[-1]) // 1000 + gap_seconds * 1000)
        if seg_start.size > 1:
            yield pd.DataFrame(
                {
                    "user_id": np.full(seg_start.size - 1, user_id, np.int64),
                    "session_start": seg_start[:-1].astype("datetime64[us]"),
                    "session_end": seg_end[:-1].astype("datetime64[us]"),
                    "n_events": seg_n[:-1],
                }
            )

    return sessionize


def sessionize_stream(
    stream_df: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Custom stateful operator: per-user session windows with a gap
    timeout — the shape Spark's built-in aggregations can't express
    (session identity depends on the previous row's time).

    The explicit two-column select matters (guide §4.1): the grouped-
    map function is opaque to the optimizer, so without it EVERY event
    column — including payload strings — would cross the Arrow
    boundary; the sessionizer only reads ``ts``."""
    return (
        stream_df.select("user_id", "ts")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionizer(gap_seconds),
            outputStructType=_SESSION_OUTPUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_tws(
    stream_df: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap sessionization via ``transformWithStateInPandas`` — Spark 4's
    successor to ``applyInPandasWithState`` (SPIP: State API v2 /
    ``transformWithState``): explicit named state variables
    (``getValueState``), first-class event-time TIMERS
    (register/delete/list) instead of a single per-key timeout, and an
    object-oriented ``StatefulProcessor`` lifecycle (init /
    handleInputRows / handleExpiredTimer / close). Same session
    semantics and output as :func:`sessionize_stream`: closed sessions
    emit as soon as the in-stream gap closes them; the trailing open
    session lives in the value state and is flushed by an event-time
    timer at ``last_event + gap`` (millisecond precision, matching the
    legacy path's oracle arithmetic)."""
    import numpy as np

    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    gap_us = gap_seconds * 1_000_000
    gap_ms = gap_seconds * 1000

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._session = handle.getValueState(
                "session", "start_us long, last_us long, n long"
            )

        def handleInputRows(
            self, key, rows, timerValues: TimerValues
        ) -> Iterator[pd.DataFrame]:
            (user_id,) = key
            parts = [
                pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
                for pdf in rows
            ]
            if not parts:  # empty iterator: nothing to do this batch
                return
            ts = parts[0] if len(parts) == 1 else np.concatenate(parts)
            if ts.size == 0:
                return
            ts.sort()
            # same vectorized gaps-and-islands as make_sessionizer
            breaks = np.flatnonzero(np.diff(ts) > gap_us) + 1
            seg_start = ts[np.concatenate(([0], breaks))]
            seg_end = ts[np.concatenate((breaks - 1, [ts.size - 1]))]
            seg_n = np.diff(np.concatenate(([0], breaks, [ts.size])))
            carried = self._session.get()
            if carried is not None:
                start_us, last_us, n = carried
                if ts[0] - last_us <= gap_us:
                    # min/max merge (see make_sessionizer): a late event
                    # must not regress the carried session's end
                    seg_start[0] = min(start_us, int(seg_start[0]))
                    seg_end[0] = max(last_us, int(seg_end[0]))
                    seg_n[0] += n
                else:
                    seg_start = np.concatenate(([start_us], seg_start))
                    seg_end = np.concatenate(([last_us], seg_end))
                    seg_n = np.concatenate(([n], seg_n))
            self._session.update(
                (int(seg_start[-1]), int(seg_end[-1]), int(seg_n[-1]))
            )
            # v2 timers are explicit: drop any stale deadline, then arm
            # the open session's flush at last_event + gap
            for t in self._handle.listTimers():
                self._handle.deleteTimer(t)
            self._handle.registerTimer(int(seg_end[-1]) // 1000 + gap_ms)
            if seg_start.size > 1:
                yield pd.DataFrame(
                    {
                        "user_id": np.full(
                            seg_start.size - 1, user_id, np.int64
                        ),
                        "session_start": seg_start[:-1].astype(
                            "datetime64[us]"
                        ),
                        "session_end": seg_end[:-1].astype("datetime64[us]"),
                        "n_events": seg_n[:-1],
                    }
                )

        def handleExpiredTimer(
            self,
            key,
            timerValues: TimerValues,
            expiredTimerInfo: ExpiredTimerInfo,
        ) -> Iterator[pd.DataFrame]:
            (user_id,) = key
            carried = self._session.get()
            if carried is None:
                return
            start_us, last_us, n = carried
            self._session.clear()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )

        def close(self) -> None:
            pass

    return (
        # only (user_id, ts) cross the Python boundary — the processor
        # is opaque to column pruning (guide §4.1)
        stream_df.select("user_id", "ts")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionProcessor(),
            outputStructType=_SESSION_OUTPUT,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def session_window_stream(
    stream_df: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Gap-based session windows via the BUILT-IN ``session_window``
    aggregation — the JVM-native scale path for sessionization (state
    merge, eviction, and emission all inside whole-stage-codegen'd
    streaming aggregation; no Python in the loop). The custom
    ``sessionize_stream`` remains the template for session logic the
    built-in can't express (e.g. dynamic per-event gaps or session
    payloads beyond aggregates).

    Spark defines the window end as ``last_event + gap``; the select
    subtracts the gap back so the output matches ``sessionize_stream``'s
    (user_id, session_start, session_end=last event, n_events) shape."""
    return (
        stream_df.withWatermark("ts", watermark_delay)
        .groupBy(
            F.session_window("ts", f"{gap_seconds} seconds"),
            F.col("user_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            (
                F.col("session_window.end")
                - F.expr(f"INTERVAL {gap_seconds} SECONDS")
            ).alias("session_end"),
            "n_events",
        )
    )


def write_protected_stream(
    stream_df: DataFrame,
    path: str,
    columns: dict[str, str],
    checkpoint: str,
    encryptor: str = "keystream_xor",
    trigger_available_now: bool = True,
):
    """Protect columns of a stream and write it as a protected parquet
    dataset (same sidecar contract as the batch
    ``sources.protected_parquet.write_protected``, so ``read_protected``
    opens the result). Returns the StreamingQuery; caller awaits it.

    Scale shape: the protect UDFs are stateless maps, so the stream plan
    is source -> ArrowEvalPython -> file sink with no state store; file
    commits happen per micro-batch via the normal streaming file-sink
    log."""
    from ..sources.protected_parquet import (
        _write_sidecar,
        build_sidecar,
        column_entries,
    )

    out = protect_stream(stream_df, columns, encryptor)
    writer = (
        out.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    # the batch writer's sidecar contract, on the path's own filesystem
    col_meta = column_entries(stream_df.schema, columns, encryptor)
    _write_sidecar(stream_df.sparkSession, path, build_sidecar(col_meta))
    return query


def dedup_stream(
    stream_df: DataFrame,
    keys: list[str],
    watermark: str = "2 hours",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming exact dedup: drop duplicate ``keys`` arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``). State is one
    entry per distinct key seen inside the horizon and is evicted as the
    watermark advances — bounded memory on an unbounded stream, the
    streaming counterpart of the batch ``dedup_exact_stats`` family."""
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def stream_stream_click_attribution(
    purchases: DataFrame,
    clicks: DataFrame,
    attribution_window: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each purchase joined to the clicks of
    the same user in the preceding ``attribution_window`` (the streaming
    form of ``range_join_click_attribution``).

    Both sides carry watermarks, so join state is bounded: a buffered
    click can be evicted once the watermark passes
    ``click.ts + attribution_window``; Spark derives that bound from the
    interval condition.

    ``how="leftOuter"`` keeps unattributed purchases: matched rows emit
    immediately (as inner), and a purchase with NO click emits
    null-extended only once the watermark proves no matching click can
    still arrive — i.e. when the global watermark passes ``p_ts`` (the
    join condition bounds clicks by ``c_ts < p_ts``). Purchases newer
    than ``max(ts) - watermark_delay`` at end-of-input therefore stay
    unemitted — the documented outer-join latency of watermarked joins,
    restated as the oracle's emission rule."""
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    ).withWatermark("p_ts", watermark)
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").alias("c_value"),
    ).withWatermark("c_ts", watermark)
    return p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {attribution_window}"))
        & (F.col("c_ts") < F.col("p_ts")),
        how,
    )


_PROFILE_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("top_type", T.StringType()),
        T.StructField("sum_cents", T.LongType()),
    ]
)


def user_profile_stream_tws(stream_df: DataFrame) -> DataFrame:
    """Per-user running profile via ``transformWithStateInPandas`` with
    ALL THREE state-variable kinds evolving ACROSS micro-batches:

    * ``ValueState``  — (n_events, sum_cents, n_batches) running totals;
    * ``MapState``    — event_type -> count (``containsKey`` /
      ``getValue`` / ``updateValue`` / ``iterator`` protocol paths);
    * ``ListState``   — one entry per batch the user appeared in
      (``appendValue`` / ``get`` iteration), read back at emission so
      ``n_batches`` is proven from the LIST, not the counter.

    ``timeMode="None"`` (no timers, no watermark — nothing can be
    dropped as late however the input files are ordered) and
    ``outputMode="Update"``: each batch re-emits the updated profile,
    so the sink holds one row per (user, version) and the caller keeps
    the max-version row.  Fed from a multi-file staged source with
    ``maxFilesPerTrigger=1``, state genuinely carries batch-to-batch —
    the shape a 100 TB continuous-ingest profile job has, where the
    per-user map is far too hot to recompute from scratch per batch.

    Expects rows PRE-AGGREGATED per (user, type) within each
    micro-batch (r16, guide §2.3: both merges below are additive, so
    reducing JVM-side before the stateful operator cannot change the
    carried state and cuts the Python-boundary rows from the corpus
    size to users x types): columns ``user_id``, ``event_type``,
    ``cnt`` (the type's event count in the batch) and ``cents``
    (int64 cent sum — the per-event decimal cast happens JVM-side so
    half-up rounding matches the SQL oracle exactly)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class ProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n_events long, sum_cents long, n_batches long"
            )
            self._type_counts = handle.getMapState(
                "type_counts", "event_type string", "cnt long"
            )
            self._batch_sizes = handle.getListState("batch_sizes", "sz long")

        def handleInputRows(self, key, rows, timerValues) -> "Iterator[pd.DataFrame]":
            (user_id,) = key
            parts = list(rows)
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
            if len(pdf) == 0:
                return
            # r16: rows arrive PRE-AGGREGATED per (user, type) — cnt /
            # cents are the micro-batch's per-type event count and cent
            # sum (both additive, so reducing JVM-side before the
            # stateful operator cannot change the carried state)
            n = int(pdf["cnt"].sum())
            cents = int(pdf["cents"].sum())
            carried = self._totals.get()
            n_events, sum_cents, n_batches = carried if carried else (0, 0, 0)
            n_events += n
            sum_cents += cents
            n_batches += 1
            self._totals.update((n_events, sum_cents, n_batches))
            # map state: ONE iterator stream reads the whole carried
            # map, the python-side merge decides which keys changed,
            # and only those go back through updateValue — ~half the
            # per-key protocol round-trips of a containsKey/getValue
            # probe per type
            counts = {
                etype: cnt
                for (etype,), (cnt,) in self._type_counts.iterator()
            }
            for etype, cnt in zip(pdf["event_type"], pdf["cnt"]):
                counts[etype] = counts.get(etype, 0) + int(cnt)
                self._type_counts.updateValue((etype,), (counts[etype],))
            # list state: one element per batch seen
            self._batch_sizes.appendValue((n,))
            # emission reads n_batches BACK through the list state so
            # the protocol's list-get path is proven, not just append
            sizes = [sz for (sz,) in self._batch_sizes.get()]
            best_type, best_cnt, n_types = None, -1, len(counts)
            for etype, cnt in counts.items():
                if cnt > best_cnt or (cnt == best_cnt and etype < best_type):
                    best_type, best_cnt = etype, cnt
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_batches": [len(sizes)],
                    "n_events": [n_events],
                    "n_types": [n_types],
                    "top_type": [best_type],
                    "sum_cents": [sum_cents],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream_df.groupBy("user_id")
        .transformWithStateInPandas(
            ProfileProcessor(),
            outputStructType=_PROFILE_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


_SCD2_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("version", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
        T.StructField("last_seen_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)


def scd2_stream_tws(stream_df: DataFrame, n_buckets: int = 64) -> DataFrame:
    """Incremental CDC-upsert: a change-event stream maintained as a
    type-2 slowly-changing dimension via ``transformWithStateInPandas``
    — the STREAMING twin of the batch ``scd2_user_status_history``
    gaps-and-islands build, and the continuous-ingest shape of the
    warehouse MERGE: each micro-batch extends or closes the carried
    open interval per key instead of rebuilding history from scratch.

    r16: users are consolidated into ``n_buckets`` deterministic KEY
    GROUPS (``pmod(xxhash64(user_id), n_buckets)`` — the Flink
    key-group technique) and one ``ListState`` per bucket holds its
    users' OPEN dimension rows ``(user_id, status, last_raw, version,
    valid_from_us, last_seen_us, n_events)``.  Per-user the walk is
    IDENTICAL to the per-user-key shape (each bucket's batch slice is
    sorted by ``(user_id, us, event_id)`` and walked user by user), but
    the state-server protocol cost per batch drops from one
    implicit-key handshake + ValueState get/update PER USER to one
    ListState read/put PER BUCKET — at sf0.1 that is 2 x 1500 user
    round-trips -> 2 x 64, and at any scale the round-trip count is
    bounded by the bucket count, not the user count, while per-bucket
    state stays (users/n_buckets) small rows.  Size ``n_buckets`` a
    small multiple of the state-partition count so every partition
    carries work.

    Per batch the processor walks each user's events in ``(us,
    event_id)`` order (the batch oracle's total order): an equal-status
    event extends the open row; a status change emits the CLOSED row
    (``valid_to_us`` = the successor's start, ``is_current`` False) and
    opens the next version.  The still-open row is re-emitted each
    batch in Update mode FOR USERS PRESENT IN THE BATCH (exactly the
    per-user-key emission set); the caller keeps each ``(user,
    version)``'s final emission (closed beats open, larger
    ``n_events`` beats smaller — both monotone in processing order).

    ORDERING CONTRACT: per-user event time must not move backwards
    ACROSS micro-batches (within a batch the processor sorts).  The
    caller guarantees it by staging the source into time-range files
    consumed oldest-first (``maxFilesPerTrigger=1``); a CDC log
    partitioned by ingestion time gives the same guarantee at 100 TB.
    Bucketing cannot break it: a bucket contains WHOLE users, so the
    per-user sequence seen across batches is unchanged.
    ``timeMode="None"``: nothing is ever dropped as late — an
    out-of-contract file would produce wrong intervals, not silent
    row loss, and the oracle hash would catch it.

    Expects columns ``user_id``, ``event_id``, ``event_type``, ``us``
    (integer epoch-microseconds, no timezone semantics to diverge)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class Scd2Processor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # ``last_raw`` (the raw type of the LAST event, nullable)
            # rides beside the island status because the oracle's
            # island rule is stated on lag(event_type): an event merges
            # iff the PREVIOUS event's type is non-NULL and equal-or-
            # NULL — so an island absorbs at most one trailing NULL,
            # after which lag IS NULL forces the next event (even an
            # equal-status one) to open a new version.  Folding both
            # into one field would silently conflate "no state yet"
            # with a genuine NULL event_type (review finding, r9).
            self._open = handle.getListState(
                "open_rows",
                "user_id long, status string, last_raw string, "
                "version long, valid_from_us long, last_seen_us long, "
                "n_events long",
            )

        def handleInputRows(
            self, key, rows, timerValues
        ) -> "Iterator[pd.DataFrame]":
            parts = list(rows)
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
            if len(pdf) == 0:
                return
            pdf = pdf.sort_values(
                ["user_id", "us", "event_id"], kind="stable"
            )
            # ONE list read per bucket: every carried open row, seen
            # users get rewritten below, unseen users ride through
            carried: dict[int, tuple] = {
                int(r[0]): tuple(r[1:]) for r in self._open.get()
            }
            out: list[tuple] = []
            for user_id, g in pdf.groupby("user_id", sort=False):
                user_id = int(user_id)
                prev = carried.get(user_id)
                if prev:
                    (status, last_raw, version, valid_from,
                     last_seen, n) = prev
                    has_open = True
                else:
                    status = last_raw = None
                    version = valid_from = last_seen = n = 0
                    has_open = False
                for us, etype in zip(
                    g["us"].to_numpy(), g["event_type"].to_numpy()
                ):
                    us = int(us)
                    etype = None if pd.isna(etype) else etype
                    if has_open and last_raw is not None and (
                        etype is None or etype == last_raw
                    ):
                        # merge: previous event's type is non-NULL and
                        # this one is equal or NULL (the chg=0 rule)
                        last_seen = us
                        n += 1
                        last_raw = etype
                        continue
                    if has_open:
                        # close the open interval at the successor's
                        # start
                        out.append(
                            (user_id, version, status, valid_from, us,
                             last_seen, n, False)
                        )
                    has_open = True
                    status = last_raw = etype  # island status = its
                    version += 1      # first (and only) non-NULL type
                    valid_from = last_seen = us
                    n = 1
                carried[user_id] = (
                    status, last_raw, version, valid_from, last_seen, n
                )
                # the open row, re-published each batch (Update mode)
                out.append(
                    (user_id, version, status, valid_from, None,
                     last_seen, n, True)
                )
            # ONE list write per bucket replaces the carried rows
            self._open.put(
                [(uid, *st) for uid, st in carried.items()]
            )
            yield pd.DataFrame(
                out, columns=[f.name for f in _SCD2_OUTPUT.fields]
            )

        def close(self) -> None:
            pass

    return (
        stream_df.withColumn(
            "kb", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
        )
        .groupBy("kb")
        .transformWithStateInPandas(
            Scd2Processor(),
            outputStructType=_SCD2_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


_HLL_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_regs", T.LongType()),
        T.StructField("s_total", T.LongType()),
    ]
)

#: streaming-HLL geometry: 6 bucket bits over the same 60-bit
#: md5-prefix hash the batch sketch uses (`operators/profiling.py`);
#: 64 registers keep the per-key state-server traffic proportional to
#: CHANGED registers, not corpus size
HLL_TWS_P = 6
HLL_TWS_M = 1 << HLL_TWS_P
_HLL_W_BITS = 60 - HLL_TWS_P  # 54


def hll_distinct_stream_tws(stream_df: DataFrame) -> DataFrame:
    """Distinct-user HyperLogLog maintained INCREMENTALLY in
    ``transformWithStateInPandas`` state — the streaming half of
    ``profiling_hll_distinct``: registers live in a ``MapState``
    (bucket -> max rank) keyed by event_type and merge associatively
    across micro-batches (``max`` is the merge, so input order and
    batch boundaries cannot change the final state — the mergeability
    property that makes HLL THE streaming distinct sketch).

    r16: the input stream carries PRE-REDUCED registers, not raw
    events — the caller folds each micro-batch's user_ids down to
    (hll bucket -> max rank) rows JVM-side before the stateful
    operator (the same 60-bit md5-prefix construction, computed with
    built-in ``md5``/``conv``, so the SQL oracle still restates the
    registers arithmetically).  ``max`` is associative, so reducing
    within the batch first cannot change the carried state; it cuts
    the rows crossing the Python boundary per batch from the corpus
    size to at most 2^p per key, and turns the per-row Python md5
    loop this processor used to run into a few-hundred-row merge.
    The processor folds the batch's registers into the carried map
    via one iterator read + updateValue on CHANGED buckets only, and
    re-emits the integer-exact harmonic denominator ``s_total`` (each
    register contributes ``2^(55 - rank)``; empty buckets ``2^55``)
    in Update mode.

    Expects columns ``event_type``, ``hb`` (hll bucket), ``r`` (max
    rank of the bucket within the micro-batch)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class HllProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # r16: the register bank is a SINGLE fixed-width array in
            # one ValueState (rank 0 = empty bucket) instead of a
            # MapState entry per bucket: the sketch is constant-size
            # by construction, so one get + one update per batch
            # replaces a per-register updateValue round-trip to the
            # state server (the MapState iterator/updateValue protocol
            # paths stay exercised by the profile processor)
            self._regs = handle.getValueState(
                "regs", "regs array<bigint>, n_batches long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (event_type,) = key
            parts = list(rows)
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
            if len(pdf) == 0:
                return
            carried = self._regs.get()
            if carried is None:
                regs, n_batches = [0] * HLL_TWS_M, 0
            else:
                regs, n_batches = list(carried[0]), carried[1]
            for bucket, rank in zip(pdf["hb"], pdf["r"]):
                bucket, rank = int(bucket), int(rank)
                if rank > regs[bucket]:
                    regs[bucket] = rank
            n_batches += 1
            self._regs.update((regs, n_batches))
            n_regs = sum(1 for r in regs if r)
            s_total = sum(
                1 << (_HLL_W_BITS + 1 - r) for r in regs if r
            ) + (HLL_TWS_M - n_regs) * (1 << (_HLL_W_BITS + 1))
            yield pd.DataFrame(
                {
                    "event_type": [event_type],
                    "n_batches": [n_batches],
                    "n_regs": [n_regs],
                    "s_total": [s_total],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream_df.groupBy("event_type")
        .transformWithStateInPandas(
            HllProcessor(),
            outputStructType=_HLL_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )


_CMS_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_batches", T.LongType()),
        T.StructField("n_cells", T.LongType()),
        T.StructField("total", T.LongType()),
        T.StructField("probe_uid", T.LongType()),
        T.StructField("probe_est", T.LongType()),
    ]
)

#: streaming-CMS geometry: 4 salted hash rows x 64 columns per key —
#: 256 int cells, protocol traffic proportional to TOUCHED cells
CMS_TWS_D = 4
CMS_TWS_W = 64


def cms_stream_tws(stream_df: DataFrame) -> DataFrame:
    """Count-Min sketch maintained INCREMENTALLY in
    ``transformWithStateInPandas`` state — the counting twin of
    ``hll_distinct_stream_tws``: cells live in a ``MapState``
    (row*W + col -> count) keyed by event_type and merge by
    ELEMENTWISE SUM across micro-batches (addition is the merge, the
    property that makes CMS the streaming frequency sketch).

    r16: the input stream carries PRE-SUMMED cell deltas, not raw
    events — the caller folds each micro-batch's user_ids through
    the four salted md5-prefix hashes JVM-side (built-in
    ``md5``/``conv``, the same SQL-restatable construction) and
    groups them to (row, col) -> count rows before the stateful
    operator.  Addition is associative, so summing within the batch
    first cannot change the carried cells; it cuts the rows crossing
    the Python boundary per batch from ``corpus x D`` to at most
    ``D x W`` per key, and removes the per-row Python md5 loop this
    processor used to run (four hashes per event).  The processor
    adds the deltas onto the carried cells, tracks the smallest
    user_id seen (the deterministic probe, via the pre-computed
    per-batch ``bmin``), and re-emits the sketch facts plus the
    probe's point estimate ``min over rows of its cell`` — the CMS
    upper-bound estimate, integer-exact in both engines.

    Expects columns ``event_type``, ``r`` (sketch row), ``col``
    (sketch column), ``cnt`` (events hashing to that cell within the
    micro-batch), ``bmin`` (min user_id of the key's events in the
    micro-batch, constant across the key's rows)."""
    import hashlib

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    def _cell(row: int, uid: int) -> int:
        h = int(
            hashlib.md5(f"{row}:{uid}".encode()).hexdigest()[:15], 16
        )
        return h % CMS_TWS_W

    class CmsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            # r16: the D x W counter bank is a SINGLE fixed-width array
            # in one ValueState (0 = never-touched cell) instead of a
            # MapState entry per cell: the sketch is constant-size by
            # construction, so one get + one update per batch replaces
            # ~D*W updateValue round-trips to the state server (the
            # MapState protocol paths stay exercised by the profile
            # processor)
            self._state = handle.getValueState(
                "cells", "cells array<bigint>, n_batches long, probe long"
            )

        def handleInputRows(self, key, rows, timerValues):
            (event_type,) = key
            parts = list(rows)
            if not parts:
                return
            pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
            if len(pdf) == 0:
                return
            carried = self._state.get()
            if carried is None:
                cells = [0] * (CMS_TWS_D * CMS_TWS_W)
                n_batches, probe = 0, None
            else:
                cells, n_batches, probe = (
                    list(carried[0]), carried[1], carried[2]
                )
            batch_min = int(pdf["bmin"].min())
            for r, col, cnt in zip(pdf["r"], pdf["col"], pdf["cnt"]):
                cells[int(r) * CMS_TWS_W + int(col)] += int(cnt)
            n_batches += 1
            probe = batch_min if probe is None or probe > batch_min else probe
            self._state.update((cells, n_batches, probe))
            est = min(
                cells[r * CMS_TWS_W + _cell(r, probe)]
                for r in range(CMS_TWS_D)
            )
            yield pd.DataFrame(
                {
                    "event_type": [event_type],
                    "n_batches": [n_batches],
                    "n_cells": [sum(1 for c in cells if c)],
                    "total": [sum(cells)],
                    "probe_uid": [probe],
                    "probe_est": [est],
                }
            )

        def close(self) -> None:
            pass

    return (
        stream_df.groupBy("event_type")
        .transformWithStateInPandas(
            CmsProcessor(),
            outputStructType=_CMS_OUTPUT,
            outputMode="Update",
            timeMode="None",
        )
    )
