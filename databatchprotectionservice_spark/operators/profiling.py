"""Data profiling (ANALYZE-style column statistics) and pivot.

``profile_documents`` computes per-column statistics — row/null/distinct
counts, value ranges, average lengths — in ONE pass over the table
(each statistic is an aggregate expression; Spark fuses them into a
single partial+final aggregation, no per-column rescans). At 100 TB
profiling feeds the optimizer (broadcast decisions, skew detection) and
data-quality monitoring; a per-column loop of ``df.select(c).agg(...)``
would scan the table once per column — this shape scans once total.

``pivot_user_event_matrix`` turns event_type rows into columns (the
DataFrame ``pivot`` with an EXPLICIT value list — at scale, never let
Spark infer pivot values: that is an extra distinct-scan job and an
unbounded column explosion; declare the vocabulary).

The reference has no profiling/pivot surface (per-column batch
protection only — ``src/server/dbps_api_server.cpp``); these are part
of the relational spine of the Spark engine.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.registry import load, load_events, load_spread, prep, register

EVENT_TYPES = (  # explicit pivot vocabulary — never inferred at scale
    "click",
    "error",
    "purchase",
    "signup",
    "view",
)


@register(
    "profile_documents",
    oracle="""
        SELECT 'doc_id' AS col,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) - count(doc_id) AS BIGINT) AS n_null,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
               CAST(min(doc_id) AS VARCHAR) AS min_repr,
               CAST(max(doc_id) AS VARCHAR) AS max_repr,
               floor(avg(length(CAST(doc_id AS VARCHAR))) * 10000.0 + 0.5)
                   / 10000.0 AS avg_len
        FROM documents
        UNION ALL
        SELECT 'lang',
               CAST(count(*) AS BIGINT),
               CAST(count(*) - count(lang) AS BIGINT),
               CAST(count(DISTINCT lang) AS BIGINT),
               min(lang), max(lang),
               floor(avg(length(lang)) * 10000.0 + 0.5) / 10000.0
        FROM documents
        UNION ALL
        SELECT 'source',
               CAST(count(*) AS BIGINT),
               CAST(count(*) - count(source) AS BIGINT),
               CAST(count(DISTINCT source) AS BIGINT),
               min(source), max(source),
               floor(avg(length(source)) * 10000.0 + 0.5) / 10000.0
        FROM documents
        UNION ALL
        SELECT 'n_chars',
               CAST(count(*) AS BIGINT),
               CAST(count(*) - count(n_chars) AS BIGINT),
               CAST(count(DISTINCT n_chars) AS BIGINT),
               CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
               floor(avg(length(CAST(n_chars AS VARCHAR))) * 10000.0 + 0.5)
                   / 10000.0
        FROM documents
        ORDER BY col
    """,
    description="ANALYZE-style per-column profile (rows/nulls/distincts/"
    "range/length) for four columns in one single-pass aggregation",
)
def profile_documents(spark, sf_dir):
    prep(spark)
    from .relational import round_ieee

    docs = load(spark, sf_dir, "documents")
    aggs = []
    for c in ("doc_id", "lang", "source", "n_chars"):
        s = F.col(c).cast("string")
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n_rows"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__n_null"),
            F.countDistinct(c).alias(f"{c}__n_distinct"),
            F.min(s).alias(f"{c}__min_repr")
            if c in ("lang", "source")
            else F.min(c).cast("string").alias(f"{c}__min_repr"),
            F.max(s).alias(f"{c}__max_repr")
            if c in ("lang", "source")
            else F.max(c).cast("string").alias(f"{c}__max_repr"),
            round_ieee(F.avg(F.length(s))).alias(f"{c}__avg_len"),
        ]
    wide = docs.agg(*aggs)
    # unpivot the single wide row into one row per column (stack is a
    # generator expression — no shuffle, no reprocessing)
    stacked = wide.select(
        F.expr(
            "stack(4, "
            + ", ".join(
                f"'{c}', {c}__n_rows, {c}__n_null, {c}__n_distinct, "
                f"{c}__min_repr, {c}__max_repr, {c}__avg_len"
                for c in ("doc_id", "lang", "source", "n_chars")
            )
            + ") AS (col, n_rows, n_null, n_distinct, min_repr, max_repr, avg_len)"
        )
    )
    return stacked.orderBy("col")


@register(
    "pivot_user_event_matrix",
    oracle=f"""
        SELECT user_id,
               {", ".join(
                   f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
                   f" AS BIGINT) AS n_{t}" for t in EVENT_TYPES)},
               CAST(count(*) AS BIGINT) AS n_any
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    description="pivot event_type rows into per-user count columns with "
    "an explicit value list (no inference scan, bounded column count)",
)
def pivot_user_event_matrix(spark, sf_dir):
    prep(spark)
    ev = load(spark, sf_dir, "events")
    # n_any is count(*) over ALL events (the oracle's definition), not
    # the sum of the vocabulary columns: an out-of-vocabulary or NULL
    # event_type row counts toward n_any but no pivot column.  One
    # conditional aggregate per vocabulary entry + count(*) keeps it a
    # single groupBy (same plan as the explicit-values pivot).
    return (
        ev.groupBy("user_id")
        .agg(
            *[
                F.count(F.when(F.col("event_type") == t, 1))
                .cast("bigint")
                .alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
            F.count(F.lit(1)).cast("bigint").alias("n_any"),
        )
        .orderBy("user_id")
    )


@register(
    "sketch_accuracy_battery",
    # approximate results can't be compared across engines, but their
    # ERROR BOUNDS can: the query emits the exact values plus booleans
    # asserting each sketch landed inside its documented bound, and the
    # oracle recomputes the exact values and expects literal TRUE —
    # sketches are deterministic for fixed input, so the flags are too
    oracle="""
        SELECT event_type,
               count(DISTINCT user_id) AS n_users_exact,
               count(*) AS n_events,
               CAST(1 AS BOOLEAN) AS hll_within_5pct,
               CAST(1 AS BOOLEAN) AS pctl_within_bound
        FROM events
        GROUP BY event_type
    """,
    description="sketch surface (HyperLogLog distinct, approximate "
    "percentile) with oracle-checked error bounds",
)
def sketch_accuracy_battery(spark, sf_dir):
    """Spark's sketch aggregates as first-class operators — at 100 TB
    these replace their exact twins (`countDistinct` -> one-pass
    mergeable HLL with no distinct shuffle; exact rank-median ->
    `approx_percentile` t-digest). Correctness contract: each sketch's
    estimate must land within its configured bound of the exact value
    computed in the same pass."""
    from ..plans.registry import load_events

    e = load_events(spark, sf_dir)
    # countDistinct plans through an Expand that multiplies every OTHER
    # aggregate's input rows; fusing all five into one agg measured
    # 2.2 s vs 0.43 s for two aggregates joined on the 5-row group key,
    # so the distinct aggregate runs alone and the sketches share the
    # second pass
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users_exact"),
        F.count(F.lit(1)).alias("n_events"),
    )
    sketches = e.groupBy("event_type").agg(
        # rsd=0.02 -> 5% is > 2 sigma of the documented relative error
        F.approx_count_distinct("user_id", rsd=0.02).alias("hll"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_approx"),
        F.expr("percentile(value, 0.5)").alias("p50_exact"),
    )
    agg = exact.join(sketches, "event_type")
    return agg.select(
        "event_type",
        "n_users_exact",
        "n_events",
        (
            F.abs(F.col("hll") - F.col("n_users_exact"))
            <= F.col("n_users_exact") * 0.05
        ).alias("hll_within_5pct"),
        # t-digest with accuracy 10000 on ~25k values/group: the p50
        # estimate must sit within 1% of the exact interpolated median
        (
            F.abs(F.col("p50_approx") - F.col("p50_exact"))
            <= F.abs(F.col("p50_exact")) * 0.01 + F.lit(1e-9)
        ).alias("pctl_within_bound"),
    )


# ---------------------------------------------------------------------------
# Count-min-sketch candidate pruning
# ---------------------------------------------------------------------------

#: CMS geometry — depth x width int64 counters.  Width is sized to the
#: expected distinct-key count (candidate false-positive rate ~ keys/width
#: per row); at 100 TB with billions of keys you widen W, and the merged
#: sketch stays a DRIVER-BOUNDED D*W cell table either way (32 KB here).
_CMS_DEPTH = 4
_CMS_WIDTH = 1024
_CMS_SHIFT = 64 - 10  # top log2(W) bits of the 64-bit product
#: fixed odd multipliers (splitmix64 / golden-ratio family) — one
#: multiply-shift hash row per sketch depth; constants are part of the
#: operator contract so the sketch is deterministic for fixed input
_CMS_MULT = (
    0x9E3779B97F4A7C15,
    0xBF58476D1CE4E5B9,
    0x94D049BB133111EB,
    0xD6E8FEB86659FD93,
)


def _cms_positions(keys_u64, np):
    """The D bucket positions for a uint64 key vector (multiply-shift)."""
    with np.errstate(over="ignore"):
        return [
            ((keys_u64 * np.uint64(m)) >> np.uint64(_CMS_SHIFT)).astype(
                np.int64
            )
            for m in _CMS_MULT
        ]


@register(
    "heavyhitters_cms_pruned",
    # the sketch prunes candidates; the RESULT is exact, so the oracle is
    # the plain HAVING aggregate.  cms_bound_ok asserts the CMS guarantee
    # (estimate >= true count) inside the gate, the same oracle-checked-
    # bound convention as sketch_accuracy_battery.
    oracle="""
        WITH n AS (
            SELECT count(*) AS total,
                   count(DISTINCT user_id) AS n_users
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(1 AS BOOLEAN) AS cms_bound_ok
        FROM events CROSS JOIN n
        GROUP BY user_id, n.total, n.n_users
        HAVING count(*) >= greatest((6 * n.total) // (5 * n.n_users), 2)
        ORDER BY n_events DESC, user_id
    """,
    description="count-min-sketch candidate pruning: a mergeable D x W "
    "sketch pass finds candidate heavy keys without shuffling per-key "
    "partials; the exact aggregate then runs on candidate rows only",
)
def heavyhitters_cms_pruned(spark, sf_dir):
    """Two-pass heavy hitters with count-min-sketch candidate pruning —
    the sketch-based shape for finding frequent keys when key cardinality
    is too large to hash-aggregate: a direct ``groupBy(key)`` over 100 TB
    with billions of distinct keys spills its partial-aggregate maps and
    shuffles one row PER KEY, while this plan shuffles (1) a fixed D*W
    cell table (pass 1: per-partition sketches built in Arrow batches,
    merged by a cell-id aggregate — mergeability is the point of CMS) and
    (2) only the rows of CANDIDATE keys (pass 2: broadcast the 32 KB
    merged sketch, keep rows whose min-over-depth estimate clears the
    threshold; the filter is per-key all-or-none, so every surviving
    key's rows all survive and the exact count over survivors equals the
    true total count).  CMS guarantees estimate >= true count, so no true
    heavy hitter is pruned; false positives are eliminated by the exact
    pass — the result is integer-exact and oracle-equal to the plain
    HAVING aggregate.

    The threshold (1.2x the mean per-key rate, floor 2) is computed from
    exact count/countDistinct scalars here so the oracle can restate it;
    at 100 TB the policy knob would come from ``approx_count_distinct``
    (one mergeable HLL pass, no key shuffle) — the pruning mechanics are
    identical.  Spark has no sketch-pruned aggregate; the reference has
    no aggregation at all (per-column batch protection only,
    ``src/server/dbps_api_server.cpp``)."""
    import numpy as np
    import pandas as pd

    from ..plans.registry import load_events

    prep(spark)
    e = load_events(spark, sf_dir).select("user_id")
    # three bounded passes over a single-column projection; cache the
    # 8-byte-per-row column, not the table
    e.cache()

    totals = e.agg(
        F.count(F.lit(1)).alias("total"),
        F.countDistinct("user_id").alias("n_users"),
    ).collect()[0]
    threshold = max((6 * totals["total"]) // (5 * totals["n_users"]), 2)

    def _build(batches):
        cms = np.zeros((_CMS_DEPTH, _CMS_WIDTH), dtype=np.int64)
        for pdf in batches:
            keys = pdf["user_id"].to_numpy(dtype=np.int64).astype(np.uint64)
            for d, pos in enumerate(_cms_positions(keys, np)):
                np.add.at(cms[d], pos, 1)
        flat = cms.reshape(-1)
        cells = np.flatnonzero(flat)  # sparse: <= distinct keys * depth
        yield pd.DataFrame(
            {"cell": cells.astype(np.int32), "cnt": flat[cells]}
        )

    merged_rows = (
        e.mapInPandas(_build, "cell int, cnt long")
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()  # driver-bounded: <= D*W = 4096 cells by construction
    )
    cms = np.zeros(_CMS_DEPTH * _CMS_WIDTH, dtype=np.int64)
    for row in merged_rows:
        cms[row["cell"]] = row["cnt"]
    cms = cms.reshape(_CMS_DEPTH, _CMS_WIDTH)

    def _probe(batches):
        for pdf in batches:
            raw = pdf["user_id"].to_numpy(dtype=np.int64)
            est = None
            for d, pos in enumerate(_cms_positions(raw.astype(np.uint64), np)):
                v = cms[d][pos]
                est = v if est is None else np.minimum(est, v)
            keep = est >= threshold
            yield pd.DataFrame({"user_id": raw[keep], "est": est[keep]})

    survivors = e.mapInPandas(_probe, "user_id long, est long")
    exact = survivors.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("est").alias("est"),  # constant per key; min == the estimate
    )
    return (
        exact.filter(F.col("n_events") >= threshold)
        .select(
            "user_id",
            "n_events",
            (F.col("est") >= F.col("n_events")).alias("cms_bound_ok"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    )


@register(
    "unpivot_event_matrix",
    oracle=f"""
        WITH wide AS (
            SELECT user_id,
                   {", ".join(
                       f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 "
                       f"ELSE 0 END) AS BIGINT) AS n_{t}"
                       for t in EVENT_TYPES)}
            FROM events GROUP BY user_id
        ),
        long AS (
            {" UNION ALL ".join(
                f"SELECT user_id, '{t}' AS event_type, n_{t} AS n "
                f"FROM wide" for t in EVENT_TYPES)}
        )
        SELECT user_id, event_type, n FROM long WHERE n > 0
    """,
    description="UNPIVOT (melt): the per-user event-count matrix back to "
    "long form via stack(); pivot -> unpivot recovers the group counts",
)
def unpivot_event_matrix(spark, sf_dir):
    """The UNPIVOT/melt shape — the inverse of ``pivot_user_event_matrix``
    run over its own output, proving the pair is lossless: the stacked
    (user_id, event_type, n) rows with n > 0 equal the direct groupBy
    counts (the oracle computes them independently). ``stack()`` is a
    GENERATOR expression: each wide row expands in the same codegen
    stage with no shuffle and no column-to-row reprocessing pass.

    100 TB shape: the pivot's single user_id exchange is the only
    shuffle; the melt is map-side; emitting only n > 0 keeps the long
    output proportional to actual (user, type) pairs, not the dense
    matrix."""
    prep(spark)
    ev = load(spark, sf_dir, "events")
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
                for t in EVENT_TYPES
            ],
        )
    )
    stacked = wide.select(
        "user_id",
        F.expr(
            f"stack({len(EVENT_TYPES)}, "
            + ", ".join(f"'{t}', n_{t}" for t in EVENT_TYPES)
            + ") AS (event_type, n)"
        ),
    )
    return stacked.filter(F.col("n") > 0)


#: fixed centering constant for the moments battery (2024-01-15 UTC):
#: covariance and correlation are shift-invariant, and centering the
#: epoch seconds keeps every power sum small enough that the exact
#: decimal -> double conversion at the end is well inside the range
#: where both engines convert identically
_MOMENTS_T0 = 1_705_276_800


@register(
    "stats_moments_battery",
    # determinism contract: every SUM is computed in exact integer /
    # decimal arithmetic (order-independent), and the float combining
    # expression is written identically on both sides — the only float
    # ops are on already-exact inputs, so the results are bit-equal
    oracle=f"""
        WITH e AS (
            SELECT event_type,
                   CAST(value AS DECIMAL(18,2)) AS v,
                   CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000
                        - {_MOMENTS_T0} AS DECIMAL(18,0)) AS s
            FROM events
        ),
        sums AS (
            SELECT event_type,
                   count(*) AS n,
                   sum(v) AS sx, sum(v * v) AS sxx,
                   sum(s) AS sy, sum(s * s) AS syy,
                   sum(v * s) AS sxy
            FROM e GROUP BY event_type
        )
        SELECT event_type, n,
               floor(CAST(sx AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
                   AS mean_value,
               floor(sqrt(greatest(n * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                                   0.0)
                          / (CAST(n AS DOUBLE) * (n - 1))) * 10000.0 + 0.5)
                   / 10000.0 AS stddev_value,
               floor((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * (n - 1)) * 10000.0 + 0.5)
                   / 10000.0 AS covar_value_time,
               floor((n * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt(greatest(n * CAST(sxx AS DOUBLE)
                                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE),
                                     0.0)
                            * greatest(n * CAST(syy AS DOUBLE)
                                       - CAST(sy AS DOUBLE)
                                         * CAST(sy AS DOUBLE),
                                       0.0))
                     * 10000.0 + 0.5) / 10000.0 AS corr_value_time
        FROM sums
    """,
    description="statistical moments from EXACT power sums: mean/stddev/"
    "covariance/correlation per event_type, order-independent by "
    "construction (no float summation anywhere)",
)
def stats_moments_battery(spark, sf_dir):
    """Second-moment statistics computed the way a 100 TB profiler must:
    ONE pass accumulating exact decimal power sums (n, Σx, Σx², Σy, Σy²,
    Σxy) — each map-side combinable and order-independent — then the
    textbook closed forms in float at the very end. Spark's built-in
    ``stddev``/``corr`` stream doubles whose reduction ORDER varies
    with partitioning, so their last bits are not reproducible across
    engines (or even runs); the power-sum formulation is, and the
    oracle recomputes it bit-for-bit. The time axis is epoch seconds
    centered on a fixed constant (shift-invariant for covar/corr) so
    every sum stays well inside exact-conversion range.

    100 TB shape: one groupBy exchange carrying six accumulators per
    event_type — the same cost as a count(*), regardless of row
    count."""
    from ..plans.registry import load_events
    from .relational import round_ieee

    prep(spark)
    e = load_events(spark, sf_dir).select(
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (F.expr("unix_micros(ts) div 1000000") - F.lit(_MOMENTS_T0))
        .cast("decimal(18,0)")
        .alias("s"),
    )
    sums = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum("s").alias("sy"),
        F.sum(F.col("s") * F.col("s")).alias("syy"),
        F.sum(F.col("v") * F.col("s")).alias("sxy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    nd = n.cast("double")
    # greatest(.., 0) on BOTH sides: the double-precision cancellation
    # n*sxx - sx*sx can dip epsilon-negative for a near-zero-variance
    # group with a large mean — DuckDB's sqrt() would raise where Spark
    # returns NaN (ADVICE r7)
    var_num = F.greatest(n * sxx - sx * sx, F.lit(0.0))
    var_num_y = F.greatest(n * syy - sy * sy, F.lit(0.0))
    return sums.select(
        "event_type",
        "n",
        round_ieee(sx / n).alias("mean_value"),
        round_ieee(F.sqrt(var_num / (nd * (n - 1)))).alias("stddev_value"),
        round_ieee((n * sxy - sx * sy) / (nd * (n - 1))).alias(
            "covar_value_time"
        ),
        round_ieee(
            (n * sxy - sx * sy) / F.sqrt(var_num * var_num_y)
        ).alias("corr_value_time"),
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct sketch (staged for r11/r12 registration)
# ---------------------------------------------------------------------------

#: HLL geometry: p bucket bits over a 60-bit md5-prefix hash (60 bits
#: = 15 hex chars, the widest slice both engines read into a SIGNED
#: 64-bit integer identically: Spark ``conv(.., 16, 10)``, DuckDB
#: ``('0x' || ..)::BIGINT``).  rank spans the remaining 52 bits.
HLL_P = 10
HLL_M = 1 << HLL_P
HLL_W_BITS = 60 - HLL_P  # 52
#: Flajolet et al. 2007 bias constant for m >= 128, written as one
#: literal expression both engines constant-fold identically
HLL_ALPHA_EXPR = f"(0.7213 / (1.0 + 1.079 / {HLL_M}))"

#: the sketch state is INTEGER-exact by construction: each register
#: contributes 2^(52 - rank) (a bigint; rank in [1, 53] after the
#: +1 convention collapses to this fixed exponent form), so the
#: harmonic-sum denominator is one exact int64 and the only float op
#: is the final single division — bit-deterministic IEEE in both
#: engines.  The oracle spells powers of two as ``1::BIGINT << n``,
#: never ``2 ** n``: DuckDB's ``**`` returns DOUBLE and a double sum
#: of 2^52-scale terms silently drops low bits (verified off-by-one
#: on a 1024-term probe), which would flip the exact-state compare
#: on adversarial corpora.  The small-range (linear-counting) zone needs ln(), an
#: engine-variant primitive, so the estimate is CASE-gated NULL
#: there — identically in both engines — rather than risking a
#: last-ulp verdict flip.
HLL_DISTINCT_ORACLE = f"""
        WITH pairs AS (
            SELECT DISTINCT doc_id, unnest(
                regexp_split_to_array(trim(coalesce(text, '')), '\\s+')
            ) AS w
            FROM documents
        ),
        hashed AS (
            SELECT CAST(('0x' || substr(
                       md5(w || ':' || CAST(doc_id AS VARCHAR)), 1, 15
                   )) AS BIGINT) AS h
            FROM pairs
        ),
        regs AS (
            SELECT h // {1 << HLL_W_BITS} AS bucket,
                   max(CASE WHEN h % {1 << HLL_W_BITS} = 0
                            THEN {HLL_W_BITS + 1}
                        ELSE {HLL_W_BITS + 1}
                             - length(bin(h % {1 << HLL_W_BITS}))
                        END) AS r
            FROM hashed GROUP BY 1
        ),
        folded AS (
            SELECT count(*) AS n_regs,
                   sum(CAST(1 AS BIGINT) << ({HLL_W_BITS + 1} - r))
                       AS s_present
            FROM regs
        ),
        exact AS (SELECT count(*) AS n_exact FROM pairs)
        SELECT CAST(n_exact AS BIGINT) AS n_exact,
               CAST({HLL_M} - n_regs AS BIGINT) AS v_zero,
               CAST(s_present + ({HLL_M} - n_regs)
                    * (CAST(1 AS BIGINT) << {HLL_W_BITS + 1})
                    AS BIGINT) AS s_total,
               CASE WHEN {HLL_ALPHA_EXPR} * {HLL_M} * {HLL_M}
                         * (CAST(1 AS BIGINT) << {HLL_W_BITS + 1})
                         / (s_present + ({HLL_M} - n_regs)
                            * (CAST(1 AS BIGINT) << {HLL_W_BITS + 1}))
                         > 2.5 * {HLL_M}
                    THEN CAST(round(
                        {HLL_ALPHA_EXPR} * {HLL_M} * {HLL_M}
                        * (CAST(1 AS BIGINT) << {HLL_W_BITS + 1})
                        / (s_present + ({HLL_M} - n_regs)
                           * (CAST(1 AS BIGINT) << {HLL_W_BITS + 1})),
                        0) AS BIGINT)
                    ELSE NULL END AS hll_estimate
        FROM folded, exact
"""


@register("profiling_hll_distinct", oracle=HLL_DISTINCT_ORACLE)
def profiling_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007,
    public algorithm) over the corpus's (doc_id, token) pairs —
    completing the sketch family beside CMS heavy-hitters, split-block
    Blooms and MinHash signatures.

    Both engines build the IDENTICAL sketch: a 60-bit md5-prefix
    hash, {HLL_M} registers of max leading-zero rank, and an
    integer-exact harmonic denominator (each register contributes
    ``2^(52 - rank)`` as a bigint), so the gate compares sketch STATE
    exactly and the floating estimate reduces to a single division.
    The estimate is CASE-gated NULL inside the linear-counting zone
    (it needs ln(), an engine-variant primitive) — the gate corpus
    sits well outside it.

    100 TB shape: the canonical distributed sketch — the register
    build is one map-side-combinable ``max`` aggregate on a
    {HLL_M}-key space (a shuffle of at most {HLL_M} rows per
    partition), the fold is a 1-row aggregate, and register state
    merges associatively across any partitioning (``max`` is the
    merge).  The exact twin costs a full distinct shuffle; at real
    scale only the sketch runs and the exact column is dropped —
    here both run so the gate can score the sketch's error.
    """
    prep(spark)
    d = load_spread(spark, sf_dir, "documents")
    w_mod = 1 << HLL_W_BITS
    pairs = (
        d.select(
            "doc_id",
            F.explode(
                F.split(
                    F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"
                )
            ).alias("w"),
        )
        .distinct()
    )
    hashed = pairs.select(
        F.expr(
            "cast(conv(substr(md5(concat(w, ':', cast(doc_id as string)))"
            ", 1, 15), 16, 10) as bigint)"
        ).alias("h")
    )
    regs = hashed.select(
        F.expr(f"h div {w_mod}").alias("bucket"),
        F.expr(
            f"CASE WHEN h % {w_mod} = 0 THEN {HLL_W_BITS + 1} "
            f"ELSE {HLL_W_BITS + 1} - length(bin(h % {w_mod})) END"
        ).alias("r"),
    ).groupBy("bucket").agg(F.max("r").alias("r"))
    folded = regs.agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_W_BITS + 1} - r)")
        ).alias("s_present"),
    )
    exact = pairs.agg(F.count(F.lit(1)).alias("n_exact"))
    big = f"shiftleft(CAST(1 AS BIGINT), {HLL_W_BITS + 1})"
    est = (
        f"{HLL_ALPHA_EXPR} * {HLL_M} * {HLL_M} * {big}"
        f" / (s_present + ({HLL_M} - n_regs) * {big})"
    )
    return folded.crossJoin(exact).select(
        F.col("n_exact").cast("bigint").alias("n_exact"),
        (F.lit(HLL_M) - F.col("n_regs")).cast("bigint").alias("v_zero"),
        F.expr(
            f"CAST(s_present + ({HLL_M} - n_regs) * {big} AS BIGINT)"
        ).alias("s_total"),
        F.expr(
            f"CASE WHEN {est} > 2.5 * {HLL_M}"
            f" THEN CAST(round({est}, 0) AS BIGINT) ELSE NULL END"
        ).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram (staged for r11/r12 registration)
# ---------------------------------------------------------------------------

EQUIDEPTH_BUCKETS = 10

#: r11/r12 oracle — identical ntile over the identical TOTAL order
#: (value, then event_id as the tiebreak: ntile on a non-total order
#: is engine-nondeterministic at duplicate boundary values, which is
#: the trap this query exists to document); boundary facts are the
#: cents-exact min/max/count per bucket.
EQUIDEPTH_ORACLE = f"""
        WITH t AS (
            SELECT CAST(round(value * 100) AS BIGINT) AS cents,
                   event_id,
                   ntile({EQUIDEPTH_BUCKETS}) OVER (
                       ORDER BY CAST(round(value * 100) AS BIGINT),
                                event_id
                   ) AS bucket
            FROM events
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(cents) AS BIGINT) AS lo_cents,
               CAST(max(cents) AS BIGINT) AS hi_cents,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM t GROUP BY bucket ORDER BY bucket
"""


@register("profiling_equidepth_histogram", oracle=EQUIDEPTH_ORACLE)
def profiling_equidepth_histogram(spark, sf_dir):
    """Equi-depth (equal-frequency) histogram over the event value —
    the optimizer-statistics shape (DB histograms are equi-depth for
    selectivity estimation): {EQUIDEPTH_BUCKETS} ntile buckets with
    cents-exact boundary facts.

    The determinism trap this query pins: ``ntile`` over a NON-total
    order splits ties at bucket boundaries arbitrarily, differently
    per engine and per run.  Both sides therefore rank over the
    identical TOTAL order (cents value, then event_id), making the
    bucket assignment — and thus every boundary fact — exact.

    100 TB shape: no window.  A range-partitioned sort over the total
    order puts every partition's rows in global order, and
    ``monotonically_increasing_id`` numbers them (partition id in the
    high bits, local index in the low 33).  Per-partition counts give
    each partition's offset, so offset + local index is the global
    row number, and Spark's ``ntile`` is closed-form over it: the
    first ``N % k`` buckets hold ``N // k + 1`` rows, the rest
    ``N // k``.  The counts and offsets are one tiny aggregate; the
    range exchange is planned once and reused.  The production
    approximation is ``approx_percentile`` (already gated in
    ``sketch_accuracy_battery``).
    """
    prep(spark)
    e = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("bigint")
    ranged = e.select(cents.alias("cents"), "event_id").repartitionByRange(
        spark.sparkContext.defaultParallelism, "cents", "event_id"
    )
    counts = ranged.groupBy(F.spark_partition_id().alias("pid")).agg(
        F.count(F.lit(1)).alias("n")
    )
    ranked = (
        ranged.sortWithinPartitions("cents", "event_id")
        .withColumn("mid", F.monotonically_increasing_id())
        .select(
            "cents",
            F.shiftright("mid", 33).alias("pid"),
            F.col("mid").bitwiseAND((1 << 33) - 1).alias("ix"),
        )
    )
    offsets = (
        counts.alias("a")
        .join(counts.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.n"), F.lit(0)).alias("off"))
        .crossJoin(counts.agg(F.sum("n").alias("total")))
    )
    k = EQUIDEPTH_BUCKETS
    # r: 0-based global row number; big: rows in the N % k larger buckets
    t = (
        ranked.join(F.broadcast(offsets), "pid")
        .withColumn("r", F.col("off") + F.col("ix"))
        .withColumn("q", F.expr(f"total div {k}"))
        .withColumn("big", F.expr(f"(total % {k}) * (q + 1)"))
        .selectExpr(
            "cents",
            "CASE WHEN r < big THEN r div (q + 1) + 1 "
            f"ELSE total % {k} + (r - big) div greatest(q, 1) + 1 "
            "END AS bucket",
        )
    )
    return (
        t.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("cents").cast("bigint").alias("lo_cents"),
            F.max("cents").cast("bigint").alias("hi_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.col("bucket").cast("bigint").alias("bucket"),
            "n_rows",
            "lo_cents",
            "hi_cents",
            "sum_cents",
        )
        .orderBy("bucket")
    )
