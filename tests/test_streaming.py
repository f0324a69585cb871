"""Structured Streaming: protect-on-stream, windowed rollup, sessionization.

Each test runs the streaming plan to completion with an availableNow-style
trigger into a memory sink and compares against the equivalent batch
computation on the same data — the streaming analogue of the DuckDB
oracle discipline.
"""

import time

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from databatchprotectionservice_spark.functions.protect import unprotect_column
from databatchprotectionservice_spark.streaming import (
    protect_stream,
    read_events_stream,
    sessionize_stream,
    windowed_event_rollup,
)


def _run_stream(df, name: str, timeout_s: int = 120):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return q


def _batch_events(spark, sf_dir):
    """Batch twin of read_events_stream — same type dispatch, so the
    comparison holds under any of the ts encodings the data may carry."""
    from databatchprotectionservice_spark.plans.registry import load_events

    return load_events(spark, sf_dir)


def test_protect_on_stream_roundtrips(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir + "/events.parquet")
    protected = protect_stream(stream, {"user_id": "kuid", "props": "kp"})
    q = _run_stream(protected, "prot_stream")
    try:
        got = spark.table("prot_stream")
        assert dict(got.dtypes)["user_id"] == "binary"
        back = unprotect_column(got, "user_id", T.LongType(), "kuid")
        back = unprotect_column(back, "props", T.StringType(), "kp")
        expect = _batch_events(spark, sf_dir)
        assert back.count() == expect.count()
        assert (
            back.agg(F.sum("user_id"), F.min("props"), F.max("props")).collect()
            == expect.agg(F.sum("user_id"), F.min("props"), F.max("props")).collect()
        )
    finally:
        q.stop()


def test_windowed_rollup_matches_batch(spark, sf_dir):
    stream = read_events_stream(spark, sf_dir + "/events.parquet")
    q = _run_stream(windowed_event_rollup(stream), "rollup_stream")
    try:
        got = {
            (r.hour_bucket, r.event_type): (r.n, r.sum_value)
            for r in spark.table("rollup_stream").collect()
        }
        expect = {
            (r.hour_bucket, r.event_type): (r.n, r.sum_value)
            for r in _batch_events(spark, sf_dir)
            .groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias(
                    "hour_bucket"
                ),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
            )
            .collect()
        }
        # with availableNow + watermark, every window that is strictly
        # older than (max ts - watermark) must have been finalized; spot
        # check full equality on the finalized subset and that nothing
        # emitted disagrees with batch
        assert got
        for k, v in got.items():
            assert expect[k] == v
    finally:
        q.stop()


@pytest.fixture()
def session_events(spark, tmp_path):
    """Two users, known session structure, written as a tiny parquet."""
    base = 1_700_000_000  # s
    rows = [(1, base + off) for off in (0, 10, 20, 4000, 4010)]
    # user 1: session of 3 closed by the 4000s gap; open session of 2
    rows += [(2, base + off) for off in (0, 5, 9, 12)]
    # user 2: one burst of 4, flushed by the event-time timeout
    df = spark.createDataFrame(rows, "user_id long, ts_s long").select(
        "user_id", F.timestamp_seconds("ts_s").alias("ts")
    )
    path = str(tmp_path / "sess_events")
    df.coalesce(1).write.parquet(path)
    return path


def test_sessionize_stream_emits_closed_sessions(spark, session_events):
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(
        session_events
    )
    name = f"sess_{int(time.time() * 1000)}"
    q = _run_stream(sessionize_stream(stream, gap_seconds=60), name)
    try:
        rows = {
            (r.user_id, r.n_events, (r.session_end - r.session_start).total_seconds())
            for r in spark.table(name).collect()
        }
        # user 1's first session closes in-batch on the observed gap;
        # user 2's burst (deadline base+12+60 < final watermark base+4010)
        # flushes via event-time timeout; user 1's trailing session
        # (deadline base+4070 > watermark) stays open in state
        assert rows == {(1, 3, 20.0), (2, 4, 12.0)}
    finally:
        q.stop()


def test_session_window_stream_matches_custom_sessionizer(
    spark, session_events
):
    """The JVM-native session_window path and the applyInPandasWithState
    path emit the SAME closed sessions for the same gap + watermark."""
    from databatchprotectionservice_spark.streaming import (
        session_window_stream,
    )

    def run(builder, tag):
        stream = spark.readStream.schema(
            "user_id long, ts timestamp"
        ).parquet(session_events)
        name = f"{tag}_{int(time.time() * 1000)}"
        q = _run_stream(builder(stream, gap_seconds=60), name)
        try:
            return {
                (
                    r.user_id,
                    r.n_events,
                    (r.session_end - r.session_start).total_seconds(),
                )
                for r in spark.table(name).collect()
            }
        finally:
            q.stop()

    got_builtin = run(session_window_stream, "sw")
    got_custom = run(sessionize_stream, "sz")
    assert got_builtin == got_custom == {(1, 3, 20.0), (2, 4, 12.0)}


def test_sessionizer_function_splits_correctly():
    """Drive the state function directly: gap handling + state carryover."""
    import pandas as pd

    from databatchprotectionservice_spark.streaming.pipeline import make_sessionizer

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def remove(self):
            self._v, self.exists = None, False

        def setTimeoutTimestamp(self, ms):
            self.timeout_at_ms = ms

    fn = make_sessionizer(gap_seconds=60)
    state = FakeState()
    ts = pd.Series(
        pd.to_datetime(
            [0, 10, 20, 4000, 4010, 8000], unit="s"
        )
    )
    out = pd.concat(list(fn((7,), iter([pd.DataFrame({"ts": ts})]), state)))
    # sessions: [0..20](3), [4000..4010](2); [8000..] stays open in state
    assert list(out["n_events"]) == [3, 2]
    assert state.exists and state.get[2] == 1
    # timed-out state flushes the open session
    state.hasTimedOut = True
    flushed = pd.concat(list(fn((7,), iter([]), state)))
    assert list(flushed["n_events"]) == [1]
    assert not state.exists


def test_write_protected_stream_readable_by_batch(spark, sf_dir, tmp_path):
    """Stream -> protect -> parquet files; the batch read_protected
    opens the result and restores the original values."""
    from databatchprotectionservice_spark.sources.protected_parquet import (
        read_protected,
    )
    from databatchprotectionservice_spark.streaming.pipeline import (
        write_protected_stream,
    )

    stream = read_events_stream(spark, sf_dir + "/events.parquet")
    out = str(tmp_path / "prot_stream_out")
    q = write_protected_stream(
        stream,
        out,
        {"user_id": "kuid", "props": "kp"},
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    q.stop()
    back = read_protected(spark, out)
    expect = _batch_events(spark, sf_dir)
    assert back.count() == expect.count()
    assert (
        back.agg(F.sum("user_id"), F.min("props")).collect()
        == expect.agg(F.sum("user_id"), F.min("props")).collect()
    )


def test_write_protected_stream_file_uri_keeps_sidecar_with_data(
    spark, sf_dir, tmp_path, monkeypatch
):
    """A file:// output path puts the sidecar next to the data files,
    not under a relative ``file:`` directory in the working directory."""
    import os

    from databatchprotectionservice_spark.sources.protected_parquet import (
        read_protected,
    )
    from databatchprotectionservice_spark.streaming.pipeline import (
        write_protected_stream,
    )

    monkeypatch.chdir(tmp_path)
    stream = read_events_stream(spark, sf_dir + "/events.parquet")
    out = str(tmp_path / "prot_stream_uri")
    q = write_protected_stream(
        stream,
        "file://" + out,
        {"user_id": "kuid"},
        checkpoint=str(tmp_path / "ckpt_uri"),
    )
    q.awaitTermination(120)
    q.stop()
    assert os.path.exists(os.path.join(out, "_dbps_protection.json"))
    assert not os.path.exists(tmp_path / "file:")
    back = read_protected(spark, "file://" + out)
    expect = _batch_events(spark, sf_dir)
    assert back.agg(F.sum("user_id")).collect() == expect.agg(
        F.sum("user_id")
    ).collect()


def test_dedup_stream_drops_in_horizon_duplicates(spark, tmp_path):
    """Duplicate keys within the watermark horizon are dropped; the
    result matches batch dropDuplicates on the same data."""
    from databatchprotectionservice_spark.streaming.pipeline import dedup_stream

    base = 1_700_000_000
    rows = [
        (1, "a", base),
        (1, "a", base + 10),      # dup of key (1,'a') within horizon
        (2, "b", base + 20),
        (1, "a", base + 30),      # another dup
        (3, "c", base + 40),
        (2, "b", base + 50),      # dup
    ]
    df = spark.createDataFrame(rows, "k long, v string, ts_s long").select(
        "k", "v", F.timestamp_seconds("ts_s").alias("ts")
    )
    path = str(tmp_path / "dedup_events")
    df.coalesce(1).write.parquet(path)
    stream = spark.readStream.schema("k long, v string, ts timestamp").parquet(path)
    q = _run_stream(
        dedup_stream(stream, ["k", "v"], watermark="1 hour"), "dedup_stream_t"
    )
    try:
        got = sorted((r.k, r.v) for r in spark.table("dedup_stream_t").collect())
        assert got == [(1, "a"), (2, "b"), (3, "c")]
    finally:
        q.stop()


@pytest.mark.parametrize("encoding", ["nanos_long", "micros_ntz", "utc_ts"])
def test_read_events_stream_ts_encodings(spark, tmp_path, encoding):
    """Regression guard for the round-3 streaming bug: the stream reader
    must dispatch on the REAL parquet ts encoding, not assume one. Writes
    the same events under each encoding the testdata generator has used
    (legacy TIMESTAMP(NANOS)-as-long, TIMESTAMP(MICROS) no-tz = the
    current /root/testdata layout, and plain UTC timestamp) and checks the
    watermarked rollup emits the exact batch answer every time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from databatchprotectionservice_spark.streaming import (
        read_events_stream as res,
    )

    base_us = 1_700_000_000_000_000
    hours = [0, 0, 1, 2, 5, 5, 5, 9]  # max=9h, watermark 2h -> emit < 7h
    ts_us = [base_us + h * 3_600_000_000 + i for i, h in enumerate(hours)]
    n = len(ts_us)
    cols = {
        "event_id": pa.array(range(n), pa.int64()),
        "user_id": pa.array([1] * n, pa.int64()),
        "event_type": pa.array(["click"] * n),
        "value": pa.array([1.0] * n),
        "props": pa.array(["{}"] * n),
    }
    if encoding == "nanos_long":
        cols["ts"] = pa.array([u * 1000 for u in ts_us], pa.timestamp("ns"))
    elif encoding == "micros_ntz":
        cols["ts"] = pa.array(ts_us, pa.timestamp("us"))
    else:
        cols["ts"] = pa.array(ts_us, pa.timestamp("us", tz="UTC"))
    path = str(tmp_path / f"events_{encoding}")
    import os

    os.makedirs(path)
    pq.write_table(pa.table(cols), os.path.join(path, "part-0.parquet"))

    q = _run_stream(
        windowed_event_rollup(res(spark, path)), f"enc_{encoding}"
    )
    try:
        got = {
            (r.hour_bucket, r.event_type): r.n
            for r in spark.table(f"enc_{encoding}").collect()
        }
        # finalized windows: hours 0,1,2,5 (window end <= 7h watermark)
        assert got == {
            ("2023-11-14 22:00", "click"): 2,
            ("2023-11-14 23:00", "click"): 1,
            ("2023-11-15 00:00", "click"): 1,
            ("2023-11-15 03:00", "click"): 3,
        }
    finally:
        q.stop()


def test_stream_stream_interval_join_matches_batch(spark, sf_dir):
    from databatchprotectionservice_spark.streaming.pipeline import (
        stream_stream_click_attribution,
    )

    src = read_events_stream(spark, sf_dir + "/events.parquet")
    purchases = src.filter(F.col("event_type") == "purchase")
    clicks = src.filter(F.col("event_type") == "click")
    joined = stream_stream_click_attribution(purchases, clicks)
    q = _run_stream(joined, "ss_join")
    try:
        got = spark.table("ss_join")
        e = _batch_events(spark, sf_dir)
        bp = e.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        bc = e.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("value").alias("c_value"),
        )
        want = bp.join(
            bc,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") < F.col("p_ts")),
        )
        assert got.count() == want.count()
        assert (
            got.agg(F.sum("c_value"), F.count(F.lit(1))).collect()
            == want.agg(F.sum("c_value"), F.count(F.lit(1))).collect()
        )
    finally:
        q.stop()


def test_sessionize_tws_matches_legacy(spark, sf_dir):
    """transformWithStateInPandas (state API v2) sessionizer must equal
    the applyInPandasWithState twin (identical session semantics by
    construction).  Where the real protobuf package is missing, the
    vendored mini runtime (vendor/miniproto) carries Spark's TWS
    state-server protocol — this test runs the FULL pipeline either
    way (the r1-r7 protobuf seam is closed)."""
    from databatchprotectionservice_spark.operators.streamops import (
        streaming_sessionize,
        streaming_sessionize_tws,
    )

    got = sorted(map(tuple, streaming_sessionize_tws(spark, sf_dir).collect()))
    want = sorted(map(tuple, streaming_sessionize(spark, sf_dir).collect()))
    assert got == want


def test_outer_attribution_emission_rule(spark, tmp_path):
    """LEFT-OUTER stream-stream join: matched purchases emit with their
    click; an UNMATCHED purchase emits null-extended only when the
    global watermark (min over both sides' max ts - delay) passes its
    ts; a purchase at the stream head stays unemitted."""
    from databatchprotectionservice_spark.streaming import (
        stream_stream_click_attribution,
    )

    base = 1_700_000_000
    hour = 3600
    rows = [
        # user 1: click 30 min before purchase -> matched, emits
        ("click", 1, base + 0 * hour),
        ("purchase", 1, base + hour // 2),
        # user 2: purchase with no click, OLD enough (final watermark
        # passes it) -> null-extended emission
        ("purchase", 2, base + 1 * hour),
        # both sides get late max-ts rows so the final watermark =
        # min(maxes) - 2h = base + 8h - 2h = base + 6h
        ("click", 9, base + 8 * hour),
        # user 3: purchase with no click NEWER than the final watermark
        # -> held in state, NOT emitted
        ("purchase", 3, base + 7 * hour),
        ("purchase", 9, base + 8 * hour),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, user_id long, ts_s long"
    ).select("event_type", "user_id", F.timestamp_seconds("ts_s").alias("ts"))
    path = str(tmp_path / "outer_events")
    df.coalesce(1).write.parquet(path)

    stream = (
        spark.readStream.format("parquet").schema(df.schema).load(path)
    )
    purchases = stream.filter(F.col("event_type") == "purchase").withColumn(
        "value", F.lit(1.0)
    )
    clicks = stream.filter(F.col("event_type") == "click").withColumn(
        "value", F.lit(2.0)
    )
    joined = stream_stream_click_attribution(
        purchases, clicks, attribution_window="1 hour", watermark="2 hours",
        how="leftOuter",
    )
    name = f"outer_rule_{time.time_ns()}"
    _run_stream(joined, name)
    out = {
        (r["p_user"], r["c_user"]) for r in spark.table(name).collect()
    }
    # user 1 matched; user 2 null-extended; user 9's purchase at the max
    # ts and user 3's recent purchase held back (watermark = base+6h)
    assert out == {(1, 1), (2, None)}


def test_profile_tws_state_accumulates_across_batches(spark, tmp_path):
    """Crafted two-file stream, one user in both files: the MapState
    counters and ListState batch log must ACCUMULATE across the two
    micro-batches (maxFilesPerTrigger=1), and the second emission must
    carry the combined profile — pinning cross-batch state, not just
    within-batch aggregation."""
    import pandas as pd

    from databatchprotectionservice_spark.streaming.pipeline import (
        user_profile_stream_tws,
    )
    from databatchprotectionservice_spark.vendor import ensure_protobuf

    ensure_protobuf(spark)
    base = tmp_path / "staged"
    # batch files written one per subdir-free file via coalesce(1);
    # rows are PRE-AGGREGATED per (user, type) — the r16 processor
    # contract (cnt = events of the type in the batch, cents = their
    # cent sum): batch A carries user1 {a:1/100, b:1/200} + user2
    # {a:1/50}, batch B user1 {b:2/30, c:1/30}
    pd1 = pd.DataFrame(
        {"user_id": [1, 1, 2], "event_type": ["a", "b", "a"],
         "cnt": [1, 1, 1], "cents": [100, 200, 50]}
    )
    pd2 = pd.DataFrame(
        {"user_id": [1, 1], "event_type": ["b", "c"],
         "cnt": [2, 1], "cents": [30, 30]}
    )
    for i, pdf in enumerate((pd1, pd2)):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(base / f"f{i}")
        )
    # flatten into one dir of part files (one per batch)
    import glob as g
    import shutil

    outdir = tmp_path / "stream"
    outdir.mkdir()
    for i in range(2):
        (part,) = g.glob(str(base / f"f{i}" / "part-*.parquet"))
        shutil.copy(part, outdir / f"{i:02d}.parquet")
    schema = spark.read.parquet(str(outdir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(outdir))
    )
    profiles = user_profile_stream_tws(stream)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            profiles.writeStream.format("memory")
            .queryName("tws_profile_crafted")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.unset(provider_key)
    rows = {
        (r["user_id"], r["n_batches"]): r
        for r in spark.table("tws_profile_crafted").collect()
    }
    # file order may be either; identify user 1's two emissions by version
    v1 = rows[(1, 1)]
    v2 = rows[(1, 2)]
    assert v2["n_events"] == 5 and v2["sum_cents"] == 360
    # combined counts: a=1, b=3, c=1 -> top 'b', 3 distinct types
    assert v2["top_type"] == "b" and v2["n_types"] == 3
    assert v1["n_events"] in (2, 3)  # whichever file came first
    # user 2 appears once, in whichever batch its file landed
    (u2,) = [r for (uid, _v), r in rows.items() if uid == 2]
    assert u2["n_batches"] == 1 and u2["n_events"] == 1
    assert u2["top_type"] == "a" and u2["sum_cents"] == 50


def test_scd2_tws_carries_open_interval_across_batches(spark, tmp_path):
    """Crafted two-file stream with FORCED file order (explicit mtimes):
    user 1's status run 'b' STARTS in batch 1 and is extended then
    closed by batch 2 — pinning that the open interval carries through
    the per-bucket ListState (r16 key-group consolidation) and that
    closure emits the batch-1 ``valid_from``, not a batch-local
    restart.  The ``len(rows) == 9`` assert also pins that bucketing
    emits open rows only for users PRESENT in the batch (user 2 has no
    batch-2 events and must not be re-published).  Asserts the raw
    Update-mode emissions (the operator-level dedupe is pinned by the
    oracle gate)."""
    import os

    import pandas as pd

    from databatchprotectionservice_spark.streaming.pipeline import (
        scd2_stream_tws,
    )
    from databatchprotectionservice_spark.vendor import ensure_protobuf

    ensure_protobuf(spark)
    base = tmp_path / "staged"
    # user 3 exercises the oracle's NULL rules: a NULL event merges
    # into the running island (lag <> NULL is not true), after which
    # lag IS NULL forces the NEXT event — even an equal-status one —
    # to open a new version; a NULL-only island has status NULL
    pd1 = pd.DataFrame(
        {
            "user_id": [1, 1, 1, 2, 3, 3, 3],
            "event_id": [10, 11, 12, 13, 16, 17, 18],
            "event_type": ["a", "a", "b", "x", "a", None, "a"],
            "us": [1, 2, 3, 1, 1, 2, 3],
        }
    )
    pd2 = pd.DataFrame(
        {
            "user_id": [1, 1, 3, 3],
            "event_id": [14, 15, 19, 20],
            "event_type": ["b", "c", None, None],
            "us": [4, 5, 4, 5],
        }
    )
    for i, pdf in enumerate((pd1, pd2)):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(base / f"f{i}")
        )
    import glob as g
    import shutil

    outdir = tmp_path / "stream"
    outdir.mkdir()
    for i in range(2):
        (part,) = g.glob(str(base / f"f{i}" / "part-*.parquet"))
        dst = outdir / f"{i:02d}.parquet"
        shutil.copy(part, dst)
        # the ordering contract is BY MTIME (oldest first) — force it
        os.utime(dst, (1_000_000_000 + i * 60, 1_000_000_000 + i * 60))
    schema = spark.read.parquet(str(outdir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(outdir))
    )
    scd2 = scd2_stream_tws(stream)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            scd2.writeStream.format("memory")
            .queryName("tws_scd2_crafted")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.unset(provider_key)
    rows = [
        (
            r["user_id"], r["version"], r["status"], r["valid_from_us"],
            r["valid_to_us"], r["last_seen_us"], r["n_events"],
            r["is_current"],
        )
        for r in spark.table("tws_scd2_crafted").collect()
    ]
    # batch 1: user 1 closes 'a' and opens 'b'; user 2 opens 'x'
    assert (1, 1, "a", 1, 3, 2, 2, False) in rows
    assert (1, 2, "b", 3, None, 3, 1, True) in rows  # open after batch 1
    assert (2, 1, "x", 1, None, 1, 1, True) in rows
    # batch 2: 'b' extended (n=2) THEN closed at us=5 with the BATCH-1
    # valid_from (the cross-batch carry), and 'c' opens
    assert (1, 2, "b", 3, 5, 4, 2, False) in rows
    assert (1, 3, "c", 5, None, 5, 1, True) in rows
    # user 3, batch 1: island {a, NULL} closes when the next 'a'
    # arrives after the absorbed NULL (lag IS NULL -> new version even
    # at equal status)
    assert (3, 1, "a", 1, 3, 2, 2, False) in rows
    assert (3, 2, "a", 3, None, 3, 1, True) in rows
    # user 3, batch 2: the carried island absorbs ONE NULL then closes
    # on the second (consecutive NULLs are one-event islands), leaving
    # a NULL-status open row
    assert (3, 2, "a", 3, 5, 4, 2, False) in rows
    assert (3, 3, None, 5, None, 5, 1, True) in rows
    assert len(rows) == 9  # nothing else emitted


def test_scd2_tws_leaves_no_stage_dir(spark, sf_dir, monkeypatch):
    """Every streaming_scd2_tws run stages its own two-batch feed and
    removes the stage dir before it returns."""
    import os

    from databatchprotectionservice_spark.operators import streamops
    from databatchprotectionservice_spark.plans import registry

    made = []
    real = registry.scratch_path

    def recording(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(registry, "scratch_path", recording)
    assert streamops.streaming_scd2_tws(spark, sf_dir).count() > 0
    assert len(made) == 1
    assert os.path.basename(made[0]).startswith("dbps_tws_scd2_")
    assert not os.path.exists(made[0])


def test_hll_cms_jvm_prereduce_matches_python_hashing(spark):
    """r16 pins: the JVM-side register/cell pre-reduction that now feeds
    the streaming HLL/CMS processors (built-in ``md5`` + ``conv``) is
    BIT-IDENTICAL to the per-row Python hashing the processors used to
    run — the associative-merge restructure must not move a single
    register or cell."""
    import hashlib

    from databatchprotectionservice_spark.streaming.pipeline import (
        CMS_TWS_D,
        CMS_TWS_W,
        HLL_TWS_M,
        _HLL_W_BITS,
    )

    uids = [0, 1, 7, 42, 999, 123456789, 2**40 + 5]
    df = spark.createDataFrame([(u,) for u in uids], "user_id long")
    w_mod = 1 << _HLL_W_BITS
    rank_expr = (
        f"CASE WHEN h % {w_mod} = 0 THEN {_HLL_W_BITS + 1} "
        f"ELSE {_HLL_W_BITS + 1} - length(bin(h % {w_mod})) END"
    )
    got = (
        df.select(
            "user_id",
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),"
                " 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .select(
            "user_id",
            F.expr(f"h div {w_mod}").alias("hb"),
            F.expr(rank_expr).cast("long").alias("r"),
        )
        .collect()
    )
    for row in got:
        h = int(hashlib.md5(str(row["user_id"]).encode()).hexdigest()[:15], 16)
        w = h & (w_mod - 1)
        rank = _HLL_W_BITS + 1 if w == 0 else _HLL_W_BITS + 1 - w.bit_length()
        assert row["hb"] == h >> _HLL_W_BITS
        assert row["hb"] < HLL_TWS_M
        assert row["r"] == rank
    # CMS: four salted column hashes per uid
    rows = (
        df.select(
            "user_id",
            F.explode(
                F.array(*[F.lit(r) for r in range(CMS_TWS_D)])
            ).alias("r"),
        )
        .select(
            "user_id",
            "r",
            F.expr(
                "CAST(conv(substring(md5(concat(CAST(r AS STRING), ':', "
                "CAST(user_id AS STRING))), 1, 15), 16, 10) AS BIGINT) "
                f"% {CMS_TWS_W}"
            ).alias("col"),
        )
        .collect()
    )
    for row in rows:
        h = int(
            hashlib.md5(f"{row['r']}:{row['user_id']}".encode()).hexdigest()[
                :15
            ],
            16,
        )
        assert row["col"] == h % CMS_TWS_W


def test_hll_tws_state_merges_prereduced_batches(spark, tmp_path):
    """r16 pins the restructured HLL processor: two micro-batches of
    PRE-REDUCED (hb -> max rank) rows must merge by max into the carried
    ValueState register bank, and the second emission must equal the
    registers of the union of both batches."""
    import glob as g
    import shutil

    import pandas as pd

    from databatchprotectionservice_spark.streaming.pipeline import (
        HLL_TWS_M,
        _HLL_W_BITS,
        hll_distinct_stream_tws,
    )
    from databatchprotectionservice_spark.vendor import ensure_protobuf

    ensure_protobuf(spark)
    base = tmp_path / "staged"
    # batch A: buckets {1: r2, 3: r5}; batch B: {1: r4 (beats), 3: r1
    # (loses), 7: r3 (new)} -> final {1: 4, 3: 5, 7: 3}
    pd1 = pd.DataFrame({"event_type": ["x", "x"], "hb": [1, 3], "r": [2, 5]})
    pd2 = pd.DataFrame(
        {"event_type": ["x", "x", "x"], "hb": [1, 3, 7], "r": [4, 1, 3]}
    )
    for i, pdf in enumerate((pd1, pd2)):
        spark.createDataFrame(pdf).coalesce(1).write.parquet(
            str(base / f"f{i}")
        )
    outdir = tmp_path / "stream"
    outdir.mkdir()
    for i in range(2):
        (part,) = g.glob(str(base / f"f{i}" / "part-*.parquet"))
        shutil.copy(part, outdir / f"{i:02d}.parquet")
    schema = spark.read.parquet(str(outdir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(outdir))
    )
    sketches = hll_distinct_stream_tws(stream)
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            sketches.writeStream.format("memory")
            .queryName("tws_hll_crafted")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(300)
        finally:
            q.stop()
    finally:
        spark.conf.unset(provider_key)
    rows = {
        r["n_batches"]: r for r in spark.table("tws_hll_crafted").collect()
    }
    final = rows[max(rows)]
    # expected from the merged registers {1: 4, 3: 5, 7: 3}
    exp_regs = {1: 4, 3: 5, 7: 3}
    exp_total = sum(
        1 << (_HLL_W_BITS + 1 - r) for r in exp_regs.values()
    ) + (HLL_TWS_M - len(exp_regs)) * (1 << (_HLL_W_BITS + 1))
    assert final["n_regs"] == 3
    assert final["s_total"] == exp_total
    # batch order is mtime-driven; whichever came first saw 2 registers
    assert rows[1]["n_regs"] in (2, 3)


def test_listener_bus_population_bounded(spark, sf_dir):
    """Every streaming start leaks one StreamingQueryListenerBus from
    the run's cloned session (never deregistered); the post-run prune
    must pin the shared-bus population at one — the TWS-drift
    accumulator (SCALE.md, "TWS listener-bus accumulator")."""
    from databatchprotectionservice_spark.operators.streamops import (
        streaming_hourly_rollup,
    )

    def n_buses() -> int:
        it = spark._jsc.sc().listenerBus().listeners().iterator()
        n = 0
        while it.hasNext():
            cls = it.next().getClass().getName()
            n += cls.endswith("StreamingQueryListenerBus")
        return n

    first = sorted(map(tuple, streaming_hourly_rollup(spark, sf_dir).collect()))
    assert n_buses() <= 1
    again = sorted(map(tuple, streaming_hourly_rollup(spark, sf_dir).collect()))
    assert n_buses() <= 1
    assert again == first  # the prune must not change results
