"""Streaming queries surfaced through the batch query registry.

``streaming_hourly_rollup`` runs the watermarked Structured Streaming
rollup to completion (availableNow trigger into a memory sink) and
returns the emitted rows. Append-mode emission semantics are exact and
deterministic — a window is emitted iff ``window.end <= final_watermark``
where the final watermark is ``max(event_ts) - delay`` — so the DuckDB
oracle states the same rule in SQL and the driver's hash compare applies
to a *streaming* operator.

``streaming_click_attribution`` is the stream-stream interval join
(purchases ⋈ clicks within the preceding hour). Inner-join matches are
emitted as soon as both sides are present — with an availableNow run
over the full input the emitted set is exactly the batch join result,
which the oracle states directly.

Neither query materializes through the driver: the memory sink's
driver-side buffer is exposed as a temp view and returned lazily; at
scale the same plans write to a file sink instead (see
``streaming.pipeline.write_protected_stream`` for the file-sink form).
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from ..plans.registry import prep, register, table_path
from .relational import DEC, dec_str

WATERMARK_DELAY_HOURS = 2
#: stateful-operator parallelism is pinned to spark.sql.shuffle.partitions
#: at the first checkpoint; the right count depends on WHERE the state
#: work runs (sweep measured at sf0.1, min-of-3):
#:
#: * JVM stateful ops (window agg, stream-stream join, dedup) are
#:   dominated by the fixed state-store commit cost per partition per
#:   micro-batch -> few partitions win (rollup 1.38 s @8 -> 0.98 s @4;
#:   click-join 2.26 @8 -> 1.97 @4; flat below 4).
#: * Python stateful ops (applyInPandasWithState) are dominated by
#:   Arrow transfer + per-group pandas compute -> more partitions win
#:   (sessionize 3.2 s @8 -> 2.4 s @16; 1-partition serializes at 8 s).
#:
#: On a cluster, size BOTH to the executor count before the first
#: trigger — SCALE.md "Streaming".
STREAM_STATE_PARTITIONS_JVM = 4
STREAM_STATE_PARTITIONS_PY = 16


def _tws_partitions(default: int = 16) -> int:
    """State-partition count for the transformWithStateInPandas pair.

    16 on the local rig: the TWS cost is per-key state-server
    round-trips, which parallelize ACROSS state partitions (each
    partition runs its own Python worker + state-server pair), so more
    partitions shorten the wall clock until RocksDB instance overhead
    bites.  r9 sweep (min-of-2, quiet rig): profile_tws sf0.1
    6.92/5.80/5.34 s and 10x 26.4/16.0/14.9 s at 8/16/32 partitions;
    sessionize_tws 4.34/3.91/4.65 and 14.2/8.9/10.3 — 16 is the knee
    for both at both scales (32 pays RocksDB creation for no gain on
    sessionize), and cold-session profile_tws is 22.3 s at 16 vs
    36.0 s at 8.  The 10x ratios at 16 partitions are 2.8 (profile)
    and 2.3 (sessionize) — comfortably sublinear; full cost model in
    SCALE.md "Streaming state API v2".  ``SPARK_GRAFT_TWS_PARTITIONS``
    overrides for cluster deployments (size to the executor count) and
    for partition-sweep experiments."""
    import os

    raw = os.environ.get("SPARK_GRAFT_TWS_PARTITIONS")
    if raw is None:
        return default
    try:
        val = int(raw.strip())
    except ValueError:
        raise ValueError(
            f"SPARK_GRAFT_TWS_PARTITIONS must be a positive integer, "
            f"got {raw!r}"
        ) from None
    if val <= 0:
        raise ValueError(
            f"SPARK_GRAFT_TWS_PARTITIONS must be a positive integer, "
            f"got {raw!r}"
        )
    return val


def _prune_streaming_listener_buses(spark) -> None:
    """Detach surplus ``StreamingQueryListenerBus`` entries from the
    shared Spark listener bus, keeping the oldest (the root session's).

    Every streaming start runs on a CLONED session whose
    ``StreamingQueryManager`` registers its own listener bus on the
    shared bus and never deregisters it when the clone is discarded —
    +1 per ``availableNow`` run, observed to ~60 across a full bench
    pass, each one offered every Spark event thereafter (the r13 TWS
    trio drift's only in-session accumulator; thread censuses were
    flat).  A bus that forwards to nobody delivers every Spark event
    to dead weight; pruning those is behavior-neutral and bounds the
    bus population.  r16 (ADVICE r15): only buses that VERIFIABLY
    carry zero attached StreamingQueryListeners are detached — the old
    keep-``buses[0]``-by-position rule would have silently detached a
    user listener registered on a later clone's bus.  One idle bus is
    always kept so the root session's manager stays wired."""
    try:
        lb = spark._jsc.sc().listenerBus()
        it = lb.listeners().iterator()
        idle_buses = []
        while it.hasNext():
            listener = it.next()
            name = listener.getClass().getName()
            if not name.endswith("StreamingQueryListenerBus"):
                continue
            try:
                # ListenerBus.listeners() — the forwarding bus's OWN
                # attached listeners.  Each cloned session's bus carries
                # exactly one Spark-internal UI status listener; any
                # OTHER attached class is a user listener and the bus
                # must survive.
                kids = listener.listeners().iterator()
                idle = True
                while kids.hasNext():
                    kname = kids.next().getClass().getName()
                    if not kname.startswith(
                        "org.apache.spark.sql.streaming.ui."
                    ):
                        idle = False
                        break
            except Exception:  # noqa: BLE001 - can't verify -> keep
                idle = False
            if idle:
                idle_buses.append(listener)
        for listener in idle_buses[1:]:
            lb.removeListener(listener)
    except Exception:  # noqa: BLE001 - hygiene must never fail the run
        pass


def _run_to_memory_sink(
    df,
    name: str,
    state_partitions: int = STREAM_STATE_PARTITIONS_JVM,
    output_mode: str = "append",
    rocksdb: bool = False,
):
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink and return the sink table *lazily* — no driver-side
    ``collect()``; the memory sink's temp view outlives the stopped
    query for the life of the session. The shuffle-partition conf is
    narrowed for the life of the (short, availableNow) run: these
    queries start from a fresh checkpoint every call, so the state
    partitioning is chosen here, not inherited. ``output_mode``:
    "append" for emit-on-final rows, "complete" for running
    aggregates (the sink then holds only the aggregate rows).
    ``rocksdb``: scope the RocksDB state-store provider to this run —
    TWS state (named variables + timers) lives in multiple column
    families, which the default HDFS-backed provider cannot host;
    conf is read at query START, so it is set here and restored."""
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None) if rocksdb else None
    if rocksdb:
        spark.conf.set(
            provider_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(300)
            if not finished:
                # no silent truncation (the suite's refuse-don't-sample
                # convention): a timed-out run would otherwise return
                # whichever micro-batches happened to commit as if they
                # were the complete result
                raise TimeoutError(
                    f"streaming query {name!r} did not finish its "
                    "availableNow run within 300s; refusing the "
                    "partially-filled memory sink"
                )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        if rocksdb:
            if old_provider is None:
                spark.conf.unset(provider_key)
            else:
                spark.conf.set(provider_key, old_provider)
        _prune_streaming_listener_buses(spark)


@register(
    "streaming_hourly_rollup",
    oracle=f"""
        WITH wm AS (
            SELECT max(CAST(ts AS TIMESTAMP))
                   - INTERVAL {WATERMARK_DELAY_HOURS} HOUR AS final_wm
            FROM events
        )
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:00') AS hour_bucket,
               event_type,
               count(*) AS n,
               CAST(CAST(sum(CAST(value AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS VARCHAR) AS sum_value
        FROM events, wm
        WHERE date_trunc('hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR
              <= wm.final_wm
        GROUP BY 1, 2
    """,
    description="watermarked streaming window rollup; append-mode "
    "emission rule restated in SQL as the oracle",
)
def streaming_hourly_rollup(spark, sf_dir):
    from ..streaming import read_events_stream, windowed_event_rollup

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    rollup = windowed_event_rollup(
        stream, window_duration="1 hour", watermark=f"{WATERMARK_DELAY_HOURS} hours"
    )
    name = f"streaming_hourly_rollup_{time.time_ns()}"
    _run_to_memory_sink(rollup, name)
    return spark.table(name).select(
        "hour_bucket",
        "event_type",
        "n",
        dec_str(F.col("sum_value")).alias("sum_value"),
    )


@register(
    "streaming_click_attribution",
    oracle="""
        WITH clicks AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'purchase'
        )
        SELECT p.user_id AS user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               CAST(CAST(c.value AS DECIMAL(38,2)) AS VARCHAR) AS click_value
        FROM purchases p
        JOIN clicks c
          ON c.user_id = p.user_id
         AND c.ts >= p.ts - INTERVAL 1 HOUR
         AND c.ts < p.ts
    """,
    description="stream-stream interval join (purchase attributed to "
    "prior-hour clicks); both sides watermarked so join state is bounded",
)
def streaming_click_attribution(spark, sf_dir):
    from ..streaming import read_events_stream, stream_stream_click_attribution

    prep(spark)
    path = table_path(sf_dir, "events")
    purchases = read_events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    clicks = read_events_stream(spark, path).filter(
        F.col("event_type") == "click"
    )
    joined = stream_stream_click_attribution(
        purchases, clicks, attribution_window="1 hour", watermark="2 hours"
    )
    out = joined.select(
        F.col("p_user").alias("user_id"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        dec_str(F.col("c_value").cast(DEC)).alias("click_value"),
    )
    name = f"streaming_click_attr_{time.time_ns()}"
    _run_to_memory_sink(out, name)
    return spark.table(name)


SESSION_GAP_SECONDS = 86_400  # matched to the events table's per-user density


# gaps-and-islands restated in SQL. Emission rule: a session is emitted
# either when the in-stream gap closes it, or when the final event-time
# watermark (max ts, delay 0) passes its timeout; both Python-state
# sessionizers set timeouts/timers at millisecond precision
# (``pipeline.py``), hence the //1000 arithmetic. Shared by the
# applyInPandasWithState query and its transformWithState (state API v2)
# twin — identical session semantics by construction.
_SESSIONIZE_ORACLE = f"""
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        ),
        flags AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w
                                > INTERVAL {SESSION_GAP_SECONDS} SECOND
                        THEN 1 ELSE 0 END AS ns
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        ),
        agg AS (
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        ),
        mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
        SELECT user_id,
               strftime(session_start, '%Y-%m-%d %H:%M:%S.%f')
                   AS session_start,
               strftime(session_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               n_events
        FROM agg, mx
        WHERE epoch_us(session_end) // 1000 + {SESSION_GAP_SECONDS} * 1000
              < epoch_us(max_ts) // 1000
"""


@register(
    "streaming_sessionize",
    oracle=_SESSIONIZE_ORACLE,
    description="custom stateful sessionization via applyInPandasWithState "
    "(gap windows Spark's built-in aggs can't express)",
)
def streaming_sessionize(spark, sf_dir):
    """Python-state sessionization — the CUSTOM-EMISSION escape hatch.

    Prefer ``streaming_session_window`` (JVM-native ``session_window``,
    same output, ~1.7x faster at sf0.1 and 2.2x vs 3.8x scaling at 10x
    data): ``applyInPandasWithState`` pays per-group pandas overhead
    that the built-in aggregation avoids entirely. Use THIS path only
    when the session logic needs custom per-event state or emission
    (e.g. mid-session alerts, per-session caps) that a gap-window
    aggregate cannot express."""
    from ..streaming import read_events_stream
    from ..streaming.pipeline import sessionize_stream

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    sessions = sessionize_stream(
        stream, gap_seconds=SESSION_GAP_SECONDS, watermark_delay="0 seconds"
    )
    name = f"streaming_sessionize_{time.time_ns()}"
    _run_to_memory_sink(
        sessions, name, state_partitions=STREAM_STATE_PARTITIONS_PY
    )
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "streaming_sessionize_tws",
    oracle=_SESSIONIZE_ORACLE,
    description="gap sessionization via transformWithStateInPandas "
    "(state API v2: named state variables + event-time timers), same "
    "session semantics and oracle as the applyInPandasWithState path",
)
def streaming_sessionize_tws(spark, sf_dir):
    """The MODERN custom-stateful surface: ``transformWithStateInPandas``
    (state API v2 / SPIP transformWithState) — explicit named state
    variables, register/delete/list event-time timers, and a
    StatefulProcessor lifecycle, vs the legacy single-timeout
    ``applyInPandasWithState``. Semantics are IDENTICAL to
    ``streaming_sessionize`` (same ``_SESSIONIZE_ORACLE`` contract);
    multiple state variables and timer multiplexing are where v2
    matters at 100 TB — e.g. a session aggregate plus a distinct-page
    ListState plus staged emission timers in one processor, which v1's
    single state tuple + single timeout cannot express.

    Dependency note: Spark's TWS state-server protocol runs through
    protoc-generated code that needs a ``google.protobuf`` runtime.
    Where the ``protobuf`` package is installed it is used as-is;
    otherwise ``vendor.ensure_protobuf`` installs the repo's
    from-scratch minimal protobuf runtime (public wire-format spec;
    ``vendor/miniproto``) on the driver path and ships it to Python
    workers via ``addPyFile`` — closing what was a documented seam
    through round 7."""
    from ..vendor import ensure_protobuf

    ensure_protobuf(spark)
    from ..streaming import read_events_stream
    from ..streaming.pipeline import sessionize_stream_tws

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    sessions = sessionize_stream_tws(
        stream, gap_seconds=SESSION_GAP_SECONDS, watermark_delay="0 seconds"
    )
    name = f"streaming_sessionize_tws_{time.time_ns()}"
    # default sized by _tws_partitions (r9 sweep: 16 is the knee
    # for both TWS queries at sf0.1 and 10x; see its docstring and
    # SCALE.md "Streaming state API v2"); rocksdb=True scopes the
    # column-family-capable provider to the run
    _run_to_memory_sink(
        sessions, name, state_partitions=_tws_partitions(), rocksdb=True
    )
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


#: microseconds per week — the profile query's batch-bucket unit
_WEEK_US = 7 * 86400 * 1_000_000


@register(
    "streaming_profile_tws",
    # the oracle restates the multi-batch streaming profile as a batch
    # aggregate: totals per user, distinct-type count, the max-count
    # event type (lexicographic min on ties — the processor's rule),
    # and n_batches = the number of distinct week-mod-2 buckets the
    # user's events land in (each bucket is staged as one file and
    # maxFilesPerTrigger=1 makes each file one micro-batch)
    oracle=f"""
        WITH e AS (
            SELECT user_id, event_type,
                   CAST(value AS DECIMAL(18,2)) AS v,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // {_WEEK_US}) % 2
                       AS bucket
            FROM events
        ),
        agg AS (
            SELECT user_id,
                   count(*) AS n_events,
                   count(DISTINCT event_type) AS n_types,
                   CAST(sum(v * 100) AS BIGINT) AS sum_cents,
                   count(DISTINCT bucket) AS n_batches
            FROM e GROUP BY user_id
        ),
        tc AS (
            SELECT user_id, event_type, count(*) AS c
            FROM e GROUP BY 1, 2
        ),
        top AS (
            SELECT user_id, min(event_type) AS top_type
            FROM (SELECT user_id, event_type, c,
                         max(c) OVER (PARTITION BY user_id) AS m
                  FROM tc)
            WHERE c = m GROUP BY user_id
        )
        SELECT a.user_id, a.n_batches, a.n_events, a.n_types,
               t.top_type, a.sum_cents
        FROM agg a JOIN top t USING (user_id)
    """,
    description="per-user running profile via transformWithStateInPandas "
    "with ValueState + MapState + ListState evolving across two real "
    "micro-batches (staged week-bucket files, maxFilesPerTrigger=1)",
)
def streaming_profile_tws(spark, sf_dir):
    """The full state-API-v2 variable surface under the driver gate:
    unlike ``streaming_sessionize_tws`` (ValueState + timers), this
    processor carries a ``MapState`` (per-type counters: containsKey /
    getValue / updateValue / iterator) and a ``ListState`` (one entry
    per batch: appendValue / get) ACROSS genuine micro-batches —
    events are staged into two week-bucket files and streamed with
    ``maxFilesPerTrigger=1``, so every user seen in several buckets
    re-enters the processor with populated state.  Update-mode
    emission re-publishes the profile each batch; the final select
    keeps each user's max-version row (versions are strictly
    increasing, so ``max_by`` is unambiguous).

    100 TB shape: this is the continuous-ingest profile job — per-user
    maps far too hot to recompute per batch; RocksDB column families
    hold the three variables, and the only exchange is the stream's
    groupBy(user_id) into state partitions."""
    from ..plans.registry import remove_path, scratch_path
    from ..plans.registry import load_events
    from ..streaming.pipeline import user_profile_stream_tws
    from ..vendor import ensure_protobuf

    prep(spark)
    ensure_protobuf(spark)
    e = (
        load_events(spark, sf_dir)
        .select(
            "user_id",
            "event_type",
            # decimal cast BEFORE the stream so half-up rounding matches
            # the oracle; exact int64 cents from there on
            (F.col("value").cast(DEC) * 100).cast("long").alias("cents"),
            F.expr(f"(unix_micros(ts) div {_WEEK_US}) % 2").alias("bucket"),
        )
        # r16 (guide §2.3): pre-aggregate each micro-batch to one row
        # per (user, type) JVM-side — counts and cent sums are additive,
        # so the processor's carried state is provably unchanged while
        # the staging write and the Python boundary shrink from the
        # corpus to users x types rows per batch
        .groupBy("user_id", "bucket", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("cents"),
        )
    )
    stage_dir = scratch_path("dbps_tws_profile_")
    # one file per bucket: a two-batch availableNow run (two, not
    # four: each extra batch re-pays per-key state-server round-trips
    # for every user — 4 buckets measured 18.9 s vs ~9 s at sf0.1 — and
    # two already proves cross-batch state)
    e.repartition(1).write.mode("overwrite").partitionBy("bucket").parquet(
        stage_dir
    )
    try:
        schema = spark.read.parquet(stage_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
            .select("user_id", "event_type", "cnt", "cents")
        )
        profiles = user_profile_stream_tws(stream)
        name = f"streaming_profile_tws_{time.time_ns()}"
        _run_to_memory_sink(
            profiles,
            name,
            state_partitions=_tws_partitions(),
            output_mode="update",
            rocksdb=True,
        )
        latest = (
            spark.table(name)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(
                        "n_batches", "n_events", "n_types", "top_type",
                        "sum_cents",
                    ),
                    F.col("n_batches"),
                ).alias("s")
            )
            .select("user_id", "s.*")
        )
        # materialize before the scratch dir disappears
        latest = latest.localCheckpoint(eager=True)
    finally:
        remove_path(spark, stage_dir)
    return latest


@register(
    "streaming_session_window",
    # same gaps-and-islands restatement as streaming_sessionize, but the
    # emission rule is the built-in streaming aggregation's: a session is
    # final once the watermark (max ts, delay 0, millisecond precision)
    # passes its window end = last event + gap
    oracle=f"""
        WITH e AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
        ),
        flags AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w
                                > INTERVAL {SESSION_GAP_SECONDS} SECOND
                        THEN 1 ELSE 0 END AS ns
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        sess AS (
            SELECT user_id, ts,
                   sum(ns) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
            FROM flags
        ),
        agg AS (
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events
            FROM sess GROUP BY user_id, sid
        ),
        mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS max_ts FROM events)
        SELECT user_id,
               strftime(session_start, '%Y-%m-%d %H:%M:%S.%f')
                   AS session_start,
               strftime(session_end, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               n_events
        FROM agg, mx
        WHERE epoch_us(session_end)
                  + CAST({SESSION_GAP_SECONDS} AS BIGINT) * 1000000
              <= (epoch_us(max_ts) // 1000) * 1000
    """,
    description="gap sessionization via the BUILT-IN session_window "
    "streaming aggregation (JVM-native scale path; the "
    "applyInPandasWithState twin covers non-expressible session logic)",
)
def streaming_session_window(spark, sf_dir):
    from ..streaming import read_events_stream, session_window_stream

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    sessions = session_window_stream(
        stream, gap_seconds=SESSION_GAP_SECONDS, watermark_delay="0 seconds"
    )
    name = f"streaming_session_window_{time.time_ns()}"
    _run_to_memory_sink(sessions, name)
    return spark.table(name).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
            "session_end"
        ),
        "n_events",
    )


@register(
    "streaming_dedup_keys",
    # an availableNow run over one file is one micro-batch, so the
    # watermark never evicts state mid-run and the emitted set is exactly
    # the distinct key set (first occurrence kept per key)
    oracle="""
        SELECT DISTINCT user_id, event_type FROM events
    """,
    description="streaming exact dedup via dropDuplicatesWithinWatermark "
    "(bounded state on an unbounded stream)",
)
def streaming_dedup_keys(spark, sf_dir):
    from ..streaming import read_events_stream
    from ..streaming.pipeline import dedup_stream

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    deduped = dedup_stream(stream, ["user_id", "event_type"], watermark="2 hours")
    name = f"streaming_dedup_{time.time_ns()}"
    _run_to_memory_sink(deduped.select("user_id", "event_type"), name)
    return spark.table(name)


@register(
    "streaming_enrich_dimension",
    # stateless stream-static inner join: with an availableNow run over
    # the full input the enriched set is exactly the batch join, which
    # the oracle states directly
    oracle="""
        SELECT c.c_mktsegment AS segment,
               e.event_type,
               count(*) AS n,
               CAST(CAST(sum(CAST(e.value AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS VARCHAR) AS sum_value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1, 2
    """,
    description="stream-static dimension enrichment: events stream "
    "broadcast-joined to the customer dim inside the micro-batch engine "
    "(stateless, no state store); per-segment aggregates over the sink",
)
def streaming_enrich_dimension(spark, sf_dir):
    """The most common production streaming shape: enrich an event
    stream against a SLOWLY-CHANGING dimension table with a
    stream-static join. Stateless by construction — the static side is
    (re)read per micro-batch and broadcast, no state store, no
    watermark needed — so it composes freely with the stateful
    operators downstream. At 100 TB-of-stream scale the dimension stays
    broadcast-sized (dims don't grow with facts) and each micro-batch
    pays one map-side hash join; the dimension re-read per batch is the
    mechanism that picks up dim updates between batches.

    The aggregation runs INSIDE the stream in COMPLETE output mode (the
    one output mode the surface didn't yet exercise): a running
    global aggregate needs no watermark, its state is bounded by the
    group cardinality (segments x event types), and the sink holds only
    the aggregate rows — the enriched event stream itself never
    materializes driver-side (an earlier append-mode formulation pushed
    every enriched row through the memory sink: 5x worse at 10x data).

    The driver gate proves exactness: an availableNow run over the full
    input must produce byte-identical per-segment aggregates to the
    batch join the oracle states."""
    from ..plans.registry import load
    from ..streaming import read_events_stream

    prep(spark)
    stream = read_events_stream(spark, table_path(sf_dir, "events"))
    dim = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    agg = (
        stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast(DEC)).alias("sum_value_dec"),
        )
    )
    name = f"streaming_enrich_{time.time_ns()}"
    _run_to_memory_sink(agg, name, output_mode="complete")
    return spark.table(name).select(
        "segment",
        "event_type",
        "n",
        dec_str(F.col("sum_value_dec")).alias("sum_value"),
    )


@register(
    "streaming_outer_attribution",
    # Emission rule for watermarked LEFT-OUTER stream-stream joins,
    # measured and pinned: matched rows emit immediately (as inner);
    # a purchase with no click emits null-extended only once the GLOBAL
    # watermark — min over BOTH sides' (max event time - delay), because
    # each withWatermark node sees only its own filtered stream — passes
    # p_ts (the join condition bounds clicks by c_ts < p_ts, so beyond
    # that no match can still arrive). Purchases newer than the final
    # watermark stay in state and are NOT emitted at end-of-input: the
    # documented outer-join latency, restated here as SQL.
    oracle="""
        WITH clicks AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'click'
        ),
        purchases AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
            FROM events WHERE event_type = 'purchase'
        ),
        wm AS (
            -- NULL-strict min: DuckDB's least() IGNORES NULLs, but
            -- Spark's global watermark is the min over BOTH sides, so
            -- an empty side pins it at the epoch and nothing is ever
            -- emitted -- the CASE restates that (NULL wm filters every
            -- unmatched row below)
            SELECT CASE
                     WHEN (SELECT max(ts) FROM clicks) IS NULL
                       OR (SELECT max(ts) FROM purchases) IS NULL
                     THEN NULL
                     ELSE least((SELECT max(ts) FROM clicks),
                                (SELECT max(ts) FROM purchases))
                          - INTERVAL 2 HOUR
                   END AS final_wm
        ),
        matched AS (
            SELECT p.user_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
                   CAST(CAST(c.value AS DECIMAL(38,2)) AS VARCHAR)
                       AS click_value
            FROM purchases p
            JOIN clicks c
              ON c.user_id = p.user_id
             AND c.ts >= p.ts - INTERVAL 1 HOUR
             AND c.ts < p.ts
        ),
        unmatched AS (
            SELECT p.user_id,
                   strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
                   CAST(NULL AS VARCHAR) AS click_ts,
                   CAST(NULL AS VARCHAR) AS click_value
            FROM purchases p, wm
            WHERE p.ts <= wm.final_wm
              AND NOT EXISTS (
                  SELECT 1 FROM clicks c
                  WHERE c.user_id = p.user_id
                    AND c.ts >= p.ts - INTERVAL 1 HOUR
                    AND c.ts < p.ts)
        )
        SELECT * FROM matched UNION ALL SELECT * FROM unmatched
    """,
    description="stream-stream LEFT-OUTER interval join: unattributed "
    "purchases emit null-extended once the global watermark proves no "
    "click can still match (emission rule pinned in the oracle)",
)
def streaming_outer_attribution(spark, sf_dir):
    """The watermarked OUTER stream-stream join — the join mode the
    streaming surface didn't yet exercise. Inner results stream out as
    they match; null-extended results are a STATE-EVICTION by-product:
    Spark can only declare "no click will ever match this purchase"
    when the global watermark passes the purchase's latest admissible
    click time. The oracle restates that eviction rule exactly (see the
    register comment), making a correctness gate for semantics that
    look nondeterministic but are fully determined by (input, delay).

    100 TB shape: identical to the inner variant — both sides shuffle
    on user_id, state bounded by the watermark horizon; the outer rows
    add no state, only a deferred emission at eviction time."""
    from ..streaming import read_events_stream, stream_stream_click_attribution

    prep(spark)
    path = table_path(sf_dir, "events")
    purchases = read_events_stream(spark, path).filter(
        F.col("event_type") == "purchase"
    )
    clicks = read_events_stream(spark, path).filter(
        F.col("event_type") == "click"
    )
    joined = stream_stream_click_attribution(
        purchases,
        clicks,
        attribution_window="1 hour",
        watermark="2 hours",
        how="leftOuter",
    )
    out = joined.select(
        F.col("p_user").alias("user_id"),
        F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("purchase_ts"),
        F.date_format("c_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        dec_str(F.col("c_value").cast(DEC)).alias("click_value"),
    )
    name = f"streaming_outer_attr_{time.time_ns()}"
    _run_to_memory_sink(out, name)
    return spark.table(name)


def _stage_files(stage_dir: str) -> set:
    """Absolute paths of the data files currently in a staged dir
    (local filesystem; the registered demo queries stage on local
    scratch — a real CDC log brings its own ingestion-time order)."""
    import glob as _glob
    import os as _os

    return {
        _os.path.abspath(p)
        for p in _glob.glob(_os.path.join(stage_dir, "part-*.parquet"))
    }


@register(
    "streaming_scd2_tws",
    # the batch scd2_user_status_history oracle VERBATIM: the streaming
    # upsert must converge to exactly the history a batch rebuild
    # produces (operators/sessionize.py:108 holds the commented form)
    oracle="""
        WITH seq AS (
            SELECT user_id, event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS us
            FROM events
        ),
        marked AS (
            SELECT user_id, event_id, event_type, us,
                   CASE WHEN lag(event_type) OVER w IS NULL
                             OR lag(event_type) OVER w <> event_type
                        THEN 1 ELSE 0 END AS chg
            FROM seq WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
        ),
        numbered AS (
            SELECT user_id, event_type, us,
                   sum(chg) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS version
            FROM marked
        ),
        islands AS (
            SELECT user_id,
                   CAST(version AS BIGINT) AS version,
                   min(event_type) AS status,
                   min(us) AS valid_from_us,
                   max(us) AS last_seen_us,
                   count(*) AS n_events
            FROM numbered GROUP BY user_id, version
        )
        SELECT user_id, version, status, valid_from_us,
               lead(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY version) AS valid_to_us,
               last_seen_us, n_events,
               lead(valid_from_us) OVER (PARTITION BY user_id
                                         ORDER BY version) IS NULL
                   AS is_current
        FROM islands
    """,
    description="incremental CDC-upsert SCD2 via transformWithStateInPandas"
    ": two time-ordered staged micro-batches extend/close the carried "
    "open interval per user; converges to the batch gaps-and-islands "
    "history (same oracle as scd2_user_status_history)",
)
def streaming_scd2_tws(spark, sf_dir):
    """The warehouse-MERGE shape on a stream: maintain a type-2 SCD
    table INCREMENTALLY from a change-event feed instead of rebuilding
    history per load — the continuous-ingest twin of the batch
    ``scd2_user_status_history`` (same output schema, same oracle).

    The events are staged into two files split at the midpoint of the
    event-time range and APPENDED SEQUENTIALLY, so the file source's
    oldest-first order (``maxFilesPerTrigger=1``) feeds the processor
    two genuinely cross-batch, time-ordered micro-batches — each
    user's open interval carries through ``ValueState`` and is
    extended or closed by the second batch (the ordering contract
    ``scd2_stream_tws`` documents).  Update-mode emission re-publishes
    the open row per batch; the final select keeps each
    ``(user, version)``'s latest knowledge: closed beats open, then
    larger ``n_events`` — both monotone in processing order.

    100 TB shape: state is ONE small row per user (the open interval),
    not the history — the closed rows stream straight to the sink; the
    only exchange is the groupBy into RocksDB state partitions, and a
    real CDC log partitioned by ingestion time satisfies the same
    ordering contract this staging builds.  r16: users are hashed into
    key-group buckets (one ListState of open rows per bucket) so the
    per-batch state-server round-trips are bounded by the bucket
    count, not the user count — the per-user walk is unchanged."""
    import os as _os

    from ..plans.registry import load_events, remove_path, scratch_path
    from ..streaming.pipeline import scd2_stream_tws
    from ..vendor import ensure_protobuf

    prep(spark)
    ensure_protobuf(spark)
    e = load_events(spark, sf_dir).select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
    )
    lo, hi = e.agg(F.min("us"), F.max("us")).first()
    mid = (int(lo) + int(hi)) // 2 + 1  # midpoint of the time range
    stage_dir = scratch_path("dbps_tws_scd2_")
    try:
        # two SEQUENTIAL appends: the file source processes oldest
        # mtime first, making batch order == time order (equal-us
        # events can never straddle the strict threshold)
        e.filter(F.col("us") < mid).repartition(1).write.mode(
            "append"
        ).parquet(stage_dir)
        first_half = _stage_files(stage_dir)
        e.filter(F.col("us") >= mid).repartition(1).write.mode(
            "append"
        ).parquet(stage_dir)
        # scd2 is ORDER-SENSITIVE (unlike the commutative profile
        # counters), so don't rely on write-completion mtimes alone —
        # a coarse-timestamp filesystem could tie them and the source
        # would tie-break on random part names.  Force the order the
        # contract needs; best-effort on stores without utime.
        try:
            t0 = 1_000_000_000
            for p in sorted(first_half):
                _os.utime(p, (t0, t0))
            for p in sorted(_stage_files(stage_dir) - first_half):
                _os.utime(p, (t0 + 60, t0 + 60))
        except OSError:
            pass
        schema = spark.read.parquet(stage_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
        )
        # key-group bucketing (see scd2_stream_tws): round-trip count
        # per batch is bounded by the bucket count, not the user count;
        # 4 buckets per state partition keeps every partition loaded
        scd2 = scd2_stream_tws(stream, n_buckets=4 * _tws_partitions())
        name = f"streaming_scd2_tws_{time.time_ns()}"
        _run_to_memory_sink(
            scd2,
            name,
            state_partitions=_tws_partitions(),
            output_mode="update",
            rocksdb=True,
        )
        latest = (
            spark.table(name)
            .groupBy("user_id", "version")
            .agg(
                F.max_by(
                    F.struct(
                        "status",
                        "valid_from_us",
                        "valid_to_us",
                        "last_seen_us",
                        "n_events",
                        "is_current",
                    ),
                    # closed beats open, then the later (larger-n)
                    # open emission — both monotone in batch order
                    F.struct(
                        (~F.col("is_current")).cast("int").alias("closed"),
                        F.col("n_events").alias("n"),
                    ),
                ).alias("s")
            )
            .select("user_id", "version", "s.*")
        )
        # materialize before the scratch dir disappears
        latest = latest.localCheckpoint(eager=True)
    finally:
        remove_path(spark, stage_dir)
    return latest


# ---------------------------------------------------------------------------
# Streaming HyperLogLog (staged for r11/r12 registration)
# ---------------------------------------------------------------------------

#: same oracle construction as profiling_hll_distinct, per event_type
#: over user_id, at the streaming sketch's p=6 geometry; n_batches =
#: distinct week-mod-2 staging buckets the type's events land in.
HLL_TWS_ORACLE = f"""
        WITH h AS (
            SELECT event_type,
                   CAST(('0x' || substr(
                       md5(CAST(user_id AS VARCHAR)), 1, 15
                   )) AS BIGINT) AS h,
                   (epoch_us(CAST(ts AS TIMESTAMP)) // {7 * 86400 * 1_000_000})
                       % 2 AS bucket_file
            FROM events
        ),
        regs AS (
            SELECT event_type,
                   h // {1 << 54} AS bucket,
                   max(CASE WHEN h % {1 << 54} = 0 THEN 55
                        ELSE 55 - length(bin(h % {1 << 54})) END) AS r
            FROM h GROUP BY 1, 2
        ),
        folded AS (
            SELECT event_type,
                   count(*) AS n_regs,
                   sum(CAST(1 AS BIGINT) << (55 - r)) AS s_present
            FROM regs GROUP BY event_type
        ),
        nb AS (
            SELECT event_type, count(DISTINCT bucket_file) AS n_batches
            FROM h GROUP BY event_type
        )
        SELECT f.event_type,
               CAST(nb.n_batches AS BIGINT) AS n_batches,
               CAST(f.n_regs AS BIGINT) AS n_regs,
               CAST(f.s_present + (64 - f.n_regs)
                    * (CAST(1 AS BIGINT) << 55) AS BIGINT) AS s_total
        FROM folded f JOIN nb USING (event_type)
        ORDER BY f.event_type
"""


@register("streaming_hll_tws", oracle=HLL_TWS_ORACLE)
def streaming_hll_tws(spark, sf_dir):
    """Streaming distinct-user HyperLogLog: the sketch family meets
    the state API v2.  Registers (bucket -> max rank) live in a
    per-event-type ``MapState`` and merge associatively across TWO
    genuine micro-batches (week-bucket staged files,
    maxFilesPerTrigger=1) — ``max`` is the merge, so batch boundaries
    and input order cannot move the final state, which is exactly why
    HLL is THE streaming distinct sketch.  The oracle restates the
    final registers arithmetically from ALL events (the same 60-bit
    md5-prefix construction as ``profiling_hll_distinct``) — a
    batch-vs-streaming equivalence proof, not just a rows check.

    100 TB shape: state is at most 64 small ints per key and the
    per-batch protocol traffic is proportional to CHANGED registers
    (one iterator read + updateValue on deltas); the only exchange is
    the stream's groupBy into state partitions.  The same processor
    scales to any key cardinality because the state size is constant
    per key — the property running ``count(DISTINCT)`` per batch
    lacks.

    r16 (guide §2.3/§8 — aggregate before the expensive boundary):
    each staged micro-batch is PRE-REDUCED to its (event_type, hll
    bucket) -> max rank register rows JVM-side (built-in ``md5`` +
    ``conv``, bit-identical to the processor's old per-row Python
    hashing), because ``max`` is associative — the carried MapState
    after both batches is provably unchanged.  The staging write and
    the Python boundary now move at most ``keys x 2^p`` rows per
    batch instead of the corpus, and the processor's per-event Python
    md5 loop is gone.
    """
    from ..plans.registry import load_events, remove_path, scratch_path
    from ..streaming.pipeline import _HLL_W_BITS, hll_distinct_stream_tws
    from ..vendor import ensure_protobuf

    prep(spark)
    ensure_protobuf(spark)
    week_us = 7 * 86400 * 1_000_000
    w_mod = 1 << _HLL_W_BITS
    rank_expr = (
        f"CASE WHEN h % {w_mod} = 0 THEN {_HLL_W_BITS + 1} "
        f"ELSE {_HLL_W_BITS + 1} - length(bin(h % {w_mod})) END"
    )
    e = (
        load_events(spark, sf_dir)
        .select(
            "event_type",
            F.expr(f"(unix_micros(ts) div {week_us}) % 2").alias("bucket"),
            # the same 60-bit md5-prefix hash as the Python processor
            # used per row (and as the oracle restates): built-in md5 +
            # conv keep it JVM-side
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .select(
            "event_type",
            "bucket",
            F.expr(f"h div {w_mod}").alias("hb"),
            F.expr(rank_expr).cast("long").alias("r"),
        )
        .groupBy("event_type", "bucket", "hb")
        .agg(F.max("r").alias("r"))
    )
    stage_dir = scratch_path("dbps_tws_hll_")
    e.repartition(1).write.mode("overwrite").partitionBy("bucket").parquet(
        stage_dir
    )
    try:
        schema = spark.read.parquet(stage_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
            .select("event_type", "hb", "r")
        )
        sketches = hll_distinct_stream_tws(stream)
        name = f"streaming_hll_tws_{time.time_ns()}"
        _run_to_memory_sink(
            sketches,
            name,
            # the pre-reduced feed has exactly |event_type| state keys
            # (5 here) and <= keys x 2^p input rows per batch AT ANY
            # SCALE — state parallelism is capped by the key count, so
            # partitions beyond it are idle RocksDB instances paying
            # open+commit per batch for nothing.  r16 sweep at sf0.1
            # (min-of-3): 6.29 s @16 -> 4.22 s @8 / 4.24 s @4; 8 keeps
            # headroom over the key count.  Env override unchanged.
            state_partitions=_tws_partitions(8),
            output_mode="update",
            rocksdb=True,
        )
        latest = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.max_by(
                    F.struct("n_batches", "n_regs", "s_total"),
                    F.col("n_batches"),
                ).alias("s")
            )
            .select("event_type", "s.*")
            .orderBy("event_type")
        )
        latest = latest.localCheckpoint(eager=True)
    finally:
        remove_path(spark, stage_dir)
    return latest


#: streaming-CMS oracle — cells restated arithmetically: cell(r, c)
#: for the probe's column = count of the type's events whose salted
#: row-hash collides with the probe's; total = D * n_events (every
#: event lands in exactly one cell per row); all integer.
CMS_TWS_ORACLE = f"""
        WITH p AS (
            SELECT event_type, min(user_id) AS probe,
                   count(*) AS n_events,
                   count(DISTINCT
                       (epoch_us(CAST(ts AS TIMESTAMP))
                        // {7 * 86400 * 1_000_000}) % 2) AS n_batches
            FROM events GROUP BY event_type
        ),
        cells AS (
            SELECT e.event_type, r.r,
                   CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':'
                        || CAST(e.user_id AS VARCHAR)), 1, 15))
                        AS BIGINT) % 64 AS col
            FROM events e CROSS JOIN range(0, 4) r(r)
        ),
        occupied AS (
            SELECT event_type, count(*) AS n_cells
            FROM (SELECT DISTINCT event_type, r, col FROM cells)
            GROUP BY event_type
        ),
        probe_cells AS (
            SELECT c.event_type, c.r, count(*) AS cnt
            FROM cells c
            JOIN p ON p.event_type = c.event_type
            WHERE c.col = CAST(('0x' || substr(md5(CAST(c.r AS VARCHAR)
                       || ':' || CAST(p.probe AS VARCHAR)), 1, 15))
                       AS BIGINT) % 64
            GROUP BY 1, 2
        ),
        est AS (
            SELECT event_type, min(cnt) AS probe_est
            FROM probe_cells GROUP BY event_type
        )
        SELECT p.event_type,
               CAST(p.n_batches AS BIGINT) AS n_batches,
               CAST(o.n_cells AS BIGINT) AS n_cells,
               CAST(4 * p.n_events AS BIGINT) AS total,
               CAST(p.probe AS BIGINT) AS probe_uid,
               CAST(e.probe_est AS BIGINT) AS probe_est
        FROM p JOIN occupied o USING (event_type)
               JOIN est e USING (event_type)
        ORDER BY p.event_type
"""


@register("streaming_cms_tws", oracle=CMS_TWS_ORACLE)
def streaming_cms_tws(spark, sf_dir):
    """Streaming Count-Min sketch: the counting twin of
    ``streaming_hll_tws``.  Per-event-type cells (4 salted rows x 64
    columns) live in a ``MapState`` and merge by ELEMENTWISE SUM
    across two genuine micro-batches — addition is the merge, so the
    final sketch equals the batch-built one regardless of batch
    boundaries, which the oracle proves by restating every surviving
    fact arithmetically from ALL events (occupied cells, the D *
    n_events total, and the deterministic probe's CMS point estimate
    = min over rows of its cell, the classic upper-bound estimator).

    100 TB shape: constant 256-int state per key, protocol traffic
    proportional to TOUCHED cells per batch; the only exchange is the
    stream's groupBy into state partitions.  Together with the HLL
    twin this closes the sketch family in BOTH execution models:
    batch (CMS heavy-hitters, HLL distinct) and incremental streaming
    state, each gated against the same arithmetic restatement.

    r16 (guide §2.3/§8 — aggregate before the expensive boundary):
    each staged micro-batch is PRE-SUMMED to its (event_type, row,
    col) -> count cell deltas JVM-side (built-in ``md5`` + ``conv``,
    bit-identical to the processor's old four-hashes-per-event Python
    loop), because addition is associative — the carried cells after
    both batches are provably unchanged.  The per-batch min user_id
    (the deterministic probe candidate) rides along as ``bmin``.  The
    staging write and the Python boundary now move at most
    ``keys x D x W`` rows per batch instead of ``corpus x D``.
    """
    from ..plans.registry import load_events, remove_path, scratch_path
    from ..streaming.pipeline import CMS_TWS_D, CMS_TWS_W, cms_stream_tws
    from ..vendor import ensure_protobuf

    prep(spark)
    ensure_protobuf(spark)
    week_us = 7 * 86400 * 1_000_000
    base = load_events(spark, sf_dir).select(
        "event_type",
        "user_id",
        F.expr(f"(unix_micros(ts) div {week_us}) % 2").alias("bucket"),
    )
    # the same salted md5-prefix column hash the Python processor used
    # per (row, event) — JVM-side, then map-side-combinable counts
    col_expr = (
        "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', "
        "CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) "
        f"% {CMS_TWS_W}"
    )
    cells = (
        base.select(
            "event_type",
            "bucket",
            "user_id",
            F.explode(
                F.array(*[F.lit(r) for r in range(CMS_TWS_D)])
            ).alias("r"),
        )
        .select(
            "event_type",
            "bucket",
            F.col("r").cast("long").alias("r"),
            F.expr(col_expr).alias("col"),
        )
        .groupBy("event_type", "bucket", "r", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bmin = base.groupBy("event_type", "bucket").agg(
        F.min("user_id").alias("bmin")
    )
    e = cells.join(bmin, ["event_type", "bucket"])
    stage_dir = scratch_path("dbps_tws_cms_")
    e.repartition(1).write.mode("overwrite").partitionBy("bucket").parquet(
        stage_dir
    )
    try:
        schema = spark.read.parquet(stage_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage_dir)
            .select("event_type", "r", "col", "cnt", "bmin")
        )
        sketches = cms_stream_tws(stream)
        name = f"streaming_cms_tws_{time.time_ns()}"
        _run_to_memory_sink(
            sketches,
            name,
            # same key-count cap as the HLL twin: |event_type| state
            # keys and <= keys x D x W pre-summed rows per batch at any
            # scale.  r16 sweep: 4.99 s @16 -> 4.24 s @8 (min-of-3).
            state_partitions=_tws_partitions(8),
            output_mode="update",
            rocksdb=True,
        )
        latest = (
            spark.table(name)
            .groupBy("event_type")
            .agg(
                F.max_by(
                    F.struct(
                        "n_batches", "n_cells", "total", "probe_uid",
                        "probe_est",
                    ),
                    F.col("n_batches"),
                ).alias("s")
            )
            .select("event_type", "s.*")
            .orderBy("event_type")
        )
        latest = latest.localCheckpoint(eager=True)
    finally:
        remove_path(spark, stage_dir)
    return latest
