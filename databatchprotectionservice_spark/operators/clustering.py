"""Distributed integer-exact k-means over embeddings + SemDeDup.

Two operators a training-data pipeline runs over its embedding store:

* ``kmeans_embedding_clusters`` — Lloyd's k-means run FULLY
  distributed (contrast :func:`similarity.train_ivf_centroids`, which
  trains on a bounded driver-side sample — the FAISS shape; this is
  the shape for when the corpus cannot be sampled to one machine and
  the cluster model must be exactly reproducible): every assignment is
  a broadcast of the K centroids against a scan of the corpus, every
  centroid update is one map-side-combinable aggregation of 64
  per-dimension sums. Like :mod:`graph`'s PageRank, the iteration
  count is FIXED and the arithmetic is INTEGER (embeddings quantized
  to 1e-4 resolution and offset non-negative, centroid update =
  truncating integer division), so even an iterative clustering meets
  the full hash-equality oracle gate — the oracle unrolls the same
  iterations as chained CTEs generated from the same constants.

* ``semdedup_embeddings`` — SemDeDup (Abbas et al. 2023,
  arXiv:2303.09540): semantic dedup that prunes the pairwise-cosine
  search space by only comparing vectors that landed in the SAME
  k-means cluster. A vector is removed iff a LOWER-vec_id cluster-mate
  is quantized-cosine >= TAU similar; the keeper reported is the
  smallest such mate. The cosine test is integer-exact:
  ``cos(u, v) >= n/d``  <=>  ``dot > 0 AND d^2 * dot^2 >= n^2 * |u|^2
  * |v|^2`` over 1e-3-quantized codes, so no float-order hazard exists
  anywhere in either operator.

100 TB shape: assignment/update are scan + broadcast + combinable
aggregate (no shuffle grows beyond K x 64 numbers); the pair join is
bucketed by cluster id, which is the entire point of SemDeDup — at
production scale K grows with the corpus (the IVF adaptive-nlist
sizing rule, ``similarity.ivf_nlist``) so per-cluster pair cost stays
bounded; the fixed K=8 here is the oracle-stated regime, exactly like
IVF's fixed-16 oracle regime. The only per-iteration driver traffic is
K x (1 + DIM) integers (counts + sums — the Spark MLlib KMeans shape),
which also keeps the iteration lineage flat without checkpoints.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans.registry import load_spread, local_frame, prep, register

K = 8
ITERS = 2  # centroid updates (the IVF_ITERS precedent); a final assignment pass follows
DIM = 64
#: clustering space: 1e-4 resolution, offset non-negative so truncating
#: integer division (Spark ``div``, DuckDB ``//``) agrees between
#: engines without sign-convention analysis
QSCALE = 10_000
OFFSET = 10_000
#: SemDeDup cosine space: coarser 1e-3 resolution keeps
#: ``d^2 * dot^2`` comfortably inside BIGINT (dot <= 64 * 580^2 ~ 2e7,
#: squared ~ 5e14, x25 ~ 1e16 << 2^63)
SD_SCALE = 1_000
SD_TAU_NUM = 2  # tau = 2/5 = 0.4
SD_TAU_DEN = 5

_Q_EXPR = (
    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {QSCALE}"
    f" + 0.5) AS BIGINT) + {OFFSET})"
)
_W_EXPR = (
    f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * {SD_SCALE}"
    " + 0.5) AS BIGINT))"
)
#: exact squared L2 distance between two BIGINT arrays (JVM codegen)
_DIST = (
    "aggregate(zip_with(v, c, (a, b) -> (a - b) * (a - b)), "
    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)
_IDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
    "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
)

# --- DuckDB oracle builders (generated from the SAME constants) ---------

_DUCK_Q = (
    f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
    f"{QSCALE} + 0.5) AS BIGINT) + {OFFSET})"
)
_DUCK_W = (
    f"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
    f"{SD_SCALE} + 0.5) AS BIGINT))"
)


def _duck_sqdist(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(range(1, {DIM + 1}), i -> "
        f"({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum')"
    )


def _duck_idot(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(range(1, {DIM + 1}), i -> "
        f"{a}[i] * {b}[i]), 'sum')"
    )


def _duck_kmeans_cte() -> str:
    """The shared CTE chain: quantize, init, ITERS x (assign, update),
    final assignment ``af`` carrying the exact distance."""
    parts = [
        f"""
        q AS (SELECT vec_id, {_DUCK_Q} AS v FROM embeddings),
        c0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
                        AS BIGINT) AS cid, v AS c
            FROM q
            WHERE vec_id IN (SELECT vec_id FROM q ORDER BY vec_id
                             LIMIT {K})
        )"""
    ]
    for t in range(1, ITERS + 1):
        parts.append(
            f""",
        a{t} AS (
            SELECT vec_id, v, cid FROM (
                SELECT q.vec_id, q.v, c.cid,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_duck_sqdist("q.v", "c.c")}, c.cid
                       ) AS rn
                FROM q CROSS JOIN c{t - 1} c
            ) WHERE rn = 1
        ),
        m{t} AS (
            SELECT a.cid, i.i AS dim,
                   CAST(sum(a.v[i.i]) // count(*) AS BIGINT) AS cm
            FROM a{t} a, UNNEST(range(1, {DIM + 1})) AS i(i)
            GROUP BY a.cid, i.i
        ),
        c{t} AS (
            SELECT p.cid,
                   coalesce(
                       (SELECT list(cm ORDER BY dim) FROM m{t}
                        WHERE m{t}.cid = p.cid),
                       p.c) AS c
            FROM c{t - 1} p
        )"""
        )
    parts.append(
        f""",
        af AS (
            SELECT vec_id, cid, dist FROM (
                SELECT q.vec_id, c.cid,
                       {_duck_sqdist("q.v", "c.c")} AS dist,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {_duck_sqdist("q.v", "c.c")}, c.cid
                       ) AS rn
                FROM q CROSS JOIN c{ITERS} c
            ) WHERE rn = 1
        )"""
    )
    return "".join(parts)


_KMEANS_ORACLE = f"""
    WITH {_duck_kmeans_cte()}
    SELECT c.cid AS cluster_id,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_vectors,
           s.mv AS min_vec_id,
           CAST(coalesce(s.inertia, 0) AS BIGINT) AS inertia,
           CAST(list_aggregate(c.c, 'sum') - {DIM} * {OFFSET}
                AS BIGINT) AS centroid_sum
    FROM c{ITERS} c LEFT JOIN (
        SELECT cid, count(*) AS n, min(vec_id) AS mv,
               sum(dist) AS inertia
        FROM af GROUP BY cid) s ON s.cid = c.cid
    ORDER BY c.cid
"""

_SEMDEDUP_ORACLE = f"""
    WITH {_duck_kmeans_cte()},
    wn AS (
        SELECT vec_id, w, {_duck_idot("w", "w")} AS nw
        FROM (SELECT vec_id, {_DUCK_W} AS w FROM embeddings)
    ),
    m AS (
        SELECT a.vec_id, a.cid, w.w, w.nw
        FROM af a JOIN wn w ON w.vec_id = a.vec_id
        WHERE w.nw > 0
    ),
    dup AS (
        SELECT b.vec_id, b.cid, a.vec_id AS keeper
        FROM m a JOIN m b
          ON a.cid = b.cid AND a.vec_id < b.vec_id
        WHERE {_duck_idot("a.w", "b.w")} > 0
          AND {SD_TAU_DEN * SD_TAU_DEN}
              * {_duck_idot("a.w", "b.w")} * {_duck_idot("a.w", "b.w")}
              >= {SD_TAU_NUM * SD_TAU_NUM} * a.nw * b.nw
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
           CAST(min(keeper) AS BIGINT) AS kept_by
    FROM dup GROUP BY vec_id, cid
"""


# --- Spark implementation ------------------------------------------------


def _quantized(spark, sf_dir):
    emb = load_spread(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.expr(_Q_EXPR).alias("v"))


def _assign(q, cents):
    """One assignment round: broadcast the K centroids against the
    corpus scan; argmin(dist, tie -> lowest cid) as a single
    ``min(struct(dist, cid, v))`` aggregate — map-side combinable, no
    window sort. The (dist, cid) prefix is unique per vec_id, so the
    carried ``v`` never participates in the comparison."""
    scored = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", F.expr(_DIST).alias("dist"), "cid", "v"
    )
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("dist", "cid", "v")).alias("m")
    ).select(
        "vec_id",
        F.col("m.cid").alias("cid"),
        F.col("m.dist").alias("dist"),
        F.col("m.v").alias("v"),
    )


def _cent_df(spark, cents):
    # Arrow/pandas local frame: the K x (1+DIM) centroid table crosses
    # into the plan as a LocalTableScan, not a parallelize job
    return local_frame(
        spark,
        [(cid, cents[cid]) for cid in sorted(cents)],
        "cid bigint, c array<bigint>",
    )


def _fit(spark, q):
    """ITERS rounds of assign + integer-mean update; returns the final
    centroid table (cid, c) as LITERAL data.

    The per-round state that crosses the driver is K x (1 + DIM)
    integers — the member counts and per-dimension sums — which is the
    Spark MLlib ``KMeans`` shape (it ``collect``s exactly this per
    iteration): the corpus itself never leaves the executors, and
    because each round's centroid table is literal data the iteration
    carries NO growing lineage (no localCheckpoint needed — contrast
    the PageRank ranks, which are corpus-sized and must stay
    distributed). Each round is therefore exactly one Spark job. The
    centroid division is Python ``//`` on non-negative ints — the same
    truncating division as Spark ``div`` / DuckDB ``//``."""
    init = q.orderBy("vec_id").limit(K).collect()
    cents = {cid: list(r.v) for cid, r in enumerate(init)}
    for _ in range(ITERS):
        a = _assign(q, _cent_df(spark, cents))
        agg = a.groupBy("cid").agg(
            F.count(F.lit(1)).alias("cnt"),
            *[F.sum(F.col("v")[i]).alias(f"s{i}") for i in range(DIM)],
        ).collect()
        for row in agg:  # clusters with no members keep their centroid
            cents[row.cid] = [
                row[f"s{i}"] // row.cnt for i in range(DIM)
            ]
    return _cent_df(spark, cents)


@register(
    "kmeans_embedding_clusters",
    oracle=_KMEANS_ORACLE,
    description=f"fully distributed integer-exact Lloyd's k-means "
    f"(K={K}, {ITERS} updates + final assignment); the oracle unrolls "
    "the identical iterations as chained CTEs",
)
def kmeans_embedding_clusters(spark, sf_dir):
    """Distributed Lloyd's over 1e-4-quantized embeddings (module
    docstring). Output per cluster: member count, smallest member id,
    exact integer inertia (sum of squared distances to the FINAL
    centroids), and the centroid component sum in unoffset units."""
    prep(spark)
    q = _quantized(spark, sf_dir).cache()  # 3 assignment scans
    cents = _fit(spark, q)
    af = _assign(q, cents)
    stats = af.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("vec_id").alias("mv"),
        F.sum("dist").alias("inertia"),
    )
    # stats aggregates to <= K rows but its post-agg size estimate is
    # unknown to the planner; the hint turns the final left join into
    # a BroadcastHashJoin (2 Exchange + 3 Sort fewer, r16 plan diff)
    return (
        cents.join(F.broadcast(stats), "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
                "n_vectors"
            ),
            F.col("mv").alias("min_vec_id"),
            F.coalesce(F.col("inertia"), F.lit(0))
            .cast("bigint")
            .alias("inertia"),
            (
                F.expr(
                    "aggregate(c, CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                )
                - F.lit(DIM * OFFSET)
            )
            .cast("bigint")
            .alias("centroid_sum"),
        )
        .orderBy("cluster_id")
    )


@register(
    "semdedup_embeddings",
    oracle=_SEMDEDUP_ORACLE,
    description="SemDeDup (arXiv:2303.09540): k-means-bucketed "
    f"semantic dedup at quantized cosine >= {SD_TAU_NUM}/{SD_TAU_DEN}; "
    "removed vectors reported with their keeper",
)
def semdedup_embeddings(spark, sf_dir):
    """SemDeDup: pairwise cosine restricted to same-cluster pairs
    (module docstring). A vector is removed iff a lower-vec_id
    cluster-mate is quantized-cosine >= TAU; ``kept_by`` is the
    smallest such mate. The pair join is keyed on cluster id — the
    production regime grows K with the corpus so per-cluster pair
    cost stays bounded (see ``similarity.ivf_nlist``)."""
    prep(spark)
    emb = load_spread(spark, sf_dir, "embeddings")
    q = emb.select("vec_id", F.expr(_Q_EXPR).alias("v")).cache()
    cents = _fit(spark, q)
    af = _assign(q, cents).select("vec_id", "cid")
    wn = emb.select("vec_id", F.expr(_W_EXPR).alias("w")).withColumn(
        "nw", F.expr(_IDOT.format(a="w", b="w"))
    )
    m = af.join(wn, "vec_id").filter(F.col("nw") > 0)
    return m.groupBy("cid").applyInPandas(
        _semdedup_cluster,
        "vec_id long, cluster_id long, kept_by long",
    )


def _semdedup_cluster(pdf):
    """One cluster's SemDeDup decision as a single integer gram matrix
    (the per-row SQL pair join materialized ~cluster_size^2 zip_with
    evaluations; one ``X @ X.T`` over the cluster's int64 codes is the
    same arithmetic at numpy speed — exact: values are 1e-3-quantized,
    |dot| <= 64 * 580^2, and ``d^2 dot^2`` stays far inside int64).
    Rows arrive per cluster; output = removed vectors with keepers."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    x = np.stack(pdf["w"].to_numpy()).astype(np.int64)
    n = pdf["nw"].to_numpy().astype(np.int64)
    g = x @ x.T
    dup = (g > 0) & (
        SD_TAU_DEN * SD_TAU_DEN * g * g
        >= SD_TAU_NUM * SD_TAU_NUM * np.outer(n, n)
    )
    # only keepers with a SMALLER vec_id count (strict upper triangle,
    # rows sorted by vec_id); keeper = first True row per column
    dup &= np.tri(len(ids), k=-1, dtype=bool).T
    removed_cols = np.flatnonzero(dup.any(axis=0))
    keepers = dup[:, removed_cols].argmax(axis=0)
    return pd.DataFrame(
        {
            "vec_id": ids[removed_cols],
            "cluster_id": pdf["cid"].to_numpy()[removed_cols],
            "kept_by": ids[keepers],
        }
    )
