"""``protected_dataset``: the Spark north-star surface under ``aes_siv``.

A protect op is ``sources.protected_parquet.write_protected`` of one
generated batch (read from plaintext parquet). An unprotect op reads the
batch just written back through ``read_protected`` and through
``spark.read.format("dbps_protected")``, aggregating every protected
column each time, so a slowdown on either read path shows and every
unprotect op does the same work (the two paths differ by about 10%, so
alternating them made the unprotect p50 sit between two modes). Spark
scaffolding, Arrow transfer and parquet I/O dominate; the kernels are a
small share of an op."""

from __future__ import annotations

import os
import subprocess
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen
import harness

#: rows per batch: about 0.4 s per protect and 0.8 s per unprotect op at
#: local[4] on a 4-vCPU box, so a 15 s run holds about twelve pairs (six
#: when the shared host runs at half speed)
ROWS = 100_000
#: plaintext files per batch, one scan split (and task) each
FILES = 4
#: warm-up pairs before the steadiness check: Spark ops keep speeding up
#: through the first five or so pairs of a session, and a fixed count
#: keeps setup_s from following a varying warm-up length
WARM_UP_PAIRS = 8
#: distinct batches cycled through; also the number of protected
#: dataset slots on disk, which bounds the run's disk footprint
BATCHES = 4
CIPHER = "aes_siv"
KEYS = {name: f"perfbench_{name}" for name in datagen.COLUMNS}
SIV_OVERHEAD = 17  # type tag + synthetic IV per AES-SIV cell
DRIVER_HEAP = "1g"
FIXED_WIDTH = {"id": 8, "amount": 16, "score": 8, "day": 4}


def session_conf(work: str, n: int) -> dict:
    """The benchmark session's own settings: a bounded heap, committed
    and touched in full at JVM start (the 16g default let peak RSS drift
    with GC timing, and a 1g heap left to grow still moved it by 6%), at most ``n`` idle Python
    workers per kind (workers spawned past that by a race used to linger
    and add about 1 GB to the peak RSS of some runs), scratch space
    inside the run's work directory, and a UI on a free port for the
    REST metrics."""
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        "spark.python.factory.idleWorkerMaxPoolSize": str(n),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
    }


def aggregates():
    """The read-back query: exact aggregates of every protected column,
    named like ``datagen.expected_aggregates``."""
    from pyspark.sql import functions as F

    return [
        F.count(F.lit(1)).alias("rows"),
        *(F.count(name).alias(f"{name}_count") for name in datagen.COLUMNS),
        F.sum("id").alias("id_sum"),
        F.sum("amount").alias("amount_sum"),
        F.sum("score").alias("score_sum"),
        F.sum(F.unix_date("day")).alias("day_sum"),
        F.sum(F.length("email")).alias("email_len_sum"),
        F.sum(F.crc32(F.col("email").cast("binary"))).alias("email_crc_sum"),
    ]


def write_plaintext(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // FILES)
    for j in range(FILES):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j}.parquet"))


def check_written(path: str, table: pa.Table) -> None:
    """Raise unless the protected dataset at ``path`` holds ``table``'s
    rows as AES-SIV ciphertext: same rows and nulls per column, every
    cell expanded by exactly tag + IV, and no ``id`` cell carrying its
    plaintext value after the IV."""
    files = sorted(
        os.path.join(path, n) for n in os.listdir(path) if n.endswith(".parquet")
    )
    if not os.path.exists(os.path.join(path, "_dbps_protection.json")):
        raise harness.OpFailed("no protection sidecar written")
    written = pa.concat_tables([pq.read_table(f) for f in files])
    if written.num_rows != table.num_rows:
        raise harness.OpFailed(f"wrote {written.num_rows} rows of {table.num_rows}")
    for name in datagen.COLUMNS:
        ct = written.column(name).combine_chunks()
        plain = table.column(name).combine_chunks()
        if not pa.types.is_binary(ct.type) or ct.null_count != plain.null_count:
            raise harness.OpFailed(f"{name}: not a binary column with the plaintext's nulls")
        lengths = pc.binary_length(ct).drop_null()
        if name in FIXED_WIDTH:
            if pc.any(pc.not_equal(lengths, FIXED_WIDTH[name] + SIV_OVERHEAD)).as_py():
                raise harness.OpFailed(f"{name}: cell width is not plaintext + tag + IV")
        elif pc.sum(lengths).as_py() != datagen.plaintext_bytes(plain) + SIV_OVERHEAD * len(lengths):
            raise harness.OpFailed(f"{name}: cell bytes are not plaintext + tag + IV")
    ids = written.column("id").combine_chunks().drop_null()
    payload = np.frombuffer(ids.buffers()[2], np.uint8).reshape(len(ids), -1)
    leaked = np.isin(
        payload[:, SIV_OVERHEAD:].copy().view("<i8").ravel(),
        table.column("id").combine_chunks().drop_null().to_numpy(),
    )
    if leaked.sum() > 0:
        raise harness.OpFailed(f"{int(leaked.sum())} id cells carry their plaintext")


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _kernel_ms(tables: list[pa.Table]) -> float:
    """The kernels behind one protect or one read-back of a batch (every
    column protected or unprotected once), run Spark-free on the op's batches in Arrow batches of the session's
    ``maxRecordsPerBatch``."""
    from wl_kernels import ROWS as ARROW_BATCH, KernelTracer, build_kernels

    tracer = KernelTracer()
    kernels = tracer.wrap_all(build_kernels((CIPHER,)))
    for table in tables:
        for (_, name), (prot, unprot) in kernels.items():
            col = table.column(name).combine_chunks()
            for off in range(0, len(col), ARROW_BATCH):
                unprot(prot(col.slice(off, ARROW_BATCH)))
    return 1e3 * sum(tracer.kernel_s.values()) / (2 * len(tables))


def run(seed: int, seconds: float, trace: bool, ctx) -> dict:
    work = ctx["work"]
    cpus = harness.available_cpus()
    n = min(len(cpus), 4)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM spark-submit starts (launcher and driver) keeps its
    # temporary files in the work directory and writes no perf data
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )

    # data generation: the benchmark's own, outside setup_s
    batches = []
    for k in range(BATCHES):
        table = datagen.make_table(seed, k, ROWS)
        batches.append({
            "table": table,
            "expected": datagen.expected_aggregates(table),
            "bytes": datagen.table_bytes(table),
            "plain": os.path.join(work, "plain", f"b{k}"),
            "slot": os.path.join(work, "protected", f"s{k}"),
        })
        write_plaintext(table, batches[-1]["plain"])

    t_setup = time.perf_counter()
    from databatchprotectionservice_spark.plans.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=session_conf(work, n),
    )
    start_s = time.perf_counter() - t_setup
    try:
        return _measure(spark, seconds, trace, batches, t_setup, start_s, cpus[:n])
    finally:
        _stop_spark(spark)


def _measure(spark, seconds, trace, batches, t_setup, start_s, cpus) -> dict:
    from databatchprotectionservice_spark.sources.dbps_datasource import (
        register_dbps_datasource,
    )
    from databatchprotectionservice_spark.sources.protected_parquet import (
        read_protected,
        write_protected,
    )

    register_dbps_datasource(spark)
    sc = spark.sparkContext
    aggs = aggregates()
    rows: dict = {}
    plan_s = {"read_protected": [], "dbps_protected": []}
    ops: list[dict] = []

    def protect(pair):
        b = batches[pair % BATCHES]
        sc.setJobGroup(f"perfbench-{pair}-protect", "protect")
        df = spark.read.parquet(b["plain"])
        write_protected(df, b["slot"], KEYS, encryptor=CIPHER, mode="overwrite")
        return b["bytes"]

    readers = {
        "read_protected": lambda path: read_protected(spark, path),
        "dbps_protected": lambda path: spark.read.format("dbps_protected").load(path),
    }

    def unprotect(pair):
        b = batches[pair % BATCHES]
        sc.setJobGroup(f"perfbench-{pair}-unprotect", "unprotect")
        for name, read in readers.items():
            t0 = time.perf_counter()
            df = read(b["slot"])
            plan_s[name].append(time.perf_counter() - t0)
            rows[pair, name] = df.agg(*aggs).first().asDict()
        return len(readers) * b["bytes"]

    def verify_protect(pair):
        b = batches[pair % BATCHES]
        check_written(b["slot"], b["table"])

    def verify_unprotect(pair):
        want = batches[pair % BATCHES]["expected"]
        for name in readers:
            got = rows.pop((pair, name))
            bad = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            if bad:
                raise harness.OpFailed(f"{name} read-back aggregates differ: {bad}")

    loop = harness.ClosedLoop(protect, unprotect, verify_protect, verify_unprotect)
    setup_host = harness.HostSpeed(cpus)
    warm_pairs = loop.warm_up(
        min_pairs=WARM_UP_PAIRS, max_pairs=16, max_seconds=60, host=setup_host
    )
    setup_s = time.perf_counter() - t_setup - setup_host.spent_s
    for v in plan_s.values():
        v.clear()

    def on_op(kind, pair, t0, t1):
        ops.append({"group": f"perfbench-{pair}-{kind}", "t0": t0, "t1": t1})

    host = harness.HostSpeed(cpus)
    sampler = harness.RssSampler().start()
    try:
        timed = loop.timed(seconds, host, on_op)
    finally:
        peak = sampler.stop()

    layers = {}
    if trace:
        from sparkrest import fetch, fold_ops

        snapshot = fetch(sc.uiWebUrl, sc.applicationId)
        layers = {k: v for k, (v, _) in fold_ops(snapshot, ops).items()}
        layers["plans.session.start_s"] = start_s
        layers["sources.protected_parquet.plan_ms"] = 1e3 * _mean(plan_s["read_protected"])
        layers["sources.dbps_datasource.plan_ms"] = 1e3 * _mean(plan_s["dbps_protected"])
        layers["functions.protect.kernel_ms"] = _kernel_ms([b["table"] for b in batches])

    e2e, lat, measured = harness.e2e_metrics(setup_s, timed, peak, setup_host, host)
    return {
        "e2e": e2e,
        "layers": layers,
        "loop": loop,
        "details": {
            "latency": lat,
            "measured": measured,
            "host_speed": host.record(),
            "setup_host_speed": setup_host.record(),
            "session_start_s": start_s,
            "warm_up_pairs": warm_pairs,
            "rss_samples": sampler.samples,
            "rss_peak_processes": sampler.peak_procs,
            "master": sc.master,
            "driver_heap": DRIVER_HEAP,
            "rows_per_batch": ROWS,
        },
    }


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0
