"""kmeans_embedding_clusters / semdedup_embeddings vs pure-Python twins.

The oracle CTEs are generated from the same constants as the Spark
code, so a shared misunderstanding would pass the gate; these twins
reimplement the integer iteration independently (list arithmetic, no
SQL, no Spark) on a crafted 12-vector table with three tight groups —
small enough that empty-cluster carry-forward, tie-breaking, and the
quantized-cosine threshold are all reasoned about by hand.
"""

import math
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from databatchprotectionservice_spark.operators.clustering import (
    DIM,
    ITERS,
    K,
    OFFSET,
    QSCALE,
    SD_SCALE,
    SD_TAU_DEN,
    SD_TAU_NUM,
    kmeans_embedding_clusters,
    semdedup_embeddings,
)


def _vec(*head):
    v = list(head) + [0.0] * (DIM - len(head))
    return [float(x) for x in v]


#: the 8 lowest vec_ids are the k-means seeds, so they are crafted as
#: well-separated directions; the near-duplicate groups get HIGHER ids
#: so they join a seed's cluster instead of seeding their own
VECS = {
    1: _vec(0.50, 0.00),
    2: _vec(0.00, 0.50),
    3: _vec(-0.50, 0.00),
    4: _vec(0.00, -0.50),
    5: _vec(0.35, 0.35),
    6: _vec(-0.35, 0.35),
    7: _vec(-0.35, -0.35),
    8: _vec(0.35, -0.35),
    20: _vec(0.49, 0.01),  # near-dup of 1
    21: _vec(0.51, -0.01),  # near-dup of 1
    30: _vec(-0.49, 0.01),  # near-dup of 3
    31: _vec(-0.50, 0.02),  # near-dup of 3
    40: _vec(0.0, 0.0, 0.0),  # zero vector: excluded from semdedup
}


def _write_embeddings(d):
    ids = sorted(VECS)
    tbl = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(
                [VECS[i] for i in ids], pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(ids), pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(d, "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    return _write_embeddings(str(tmp_path_factory.mktemp("clustering_tables")))


def _read_back(d):
    """Quantization must start from the float32 values actually stored."""
    tbl = pq.read_table(os.path.join(d, "embeddings.parquet"))
    return {
        i: [float(x) for x in v]
        for i, v in zip(
            tbl["vec_id"].to_pylist(), tbl["embedding"].to_pylist()
        )
    }


def _twin(d):
    vecs = _read_back(d)
    q = {
        i: [math.floor(x * QSCALE + 0.5) + OFFSET for x in v]
        for i, v in vecs.items()
    }
    ids = sorted(q)
    cents = {cid: list(q[ids[cid]]) for cid in range(K)}

    def assign():
        out = {}
        for i, v in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(v, c)), cid)
                for cid, c in cents.items()
            )
            out[i] = (best[1], best[0])  # (cid, dist)
        return out

    for _ in range(ITERS):
        a = assign()
        members = {}
        for i, (cid, _) in a.items():
            members.setdefault(cid, []).append(i)
        for cid, mem in members.items():
            n = len(mem)
            cents[cid] = [
                sum(q[i][dim] for i in mem) // n for dim in range(DIM)
            ]
    final = assign()
    return q, cents, final


def test_kmeans_matches_twin(spark, emb_dir):
    _, cents, final = _twin(emb_dir)
    expect = {}
    for cid in range(K):
        mem = [i for i, (c, _) in final.items() if c == cid]
        expect[cid] = (
            len(mem),
            min(mem) if mem else None,
            sum(d for i, (c, d) in final.items() if c == cid),
            sum(cents[cid]) - DIM * OFFSET,
        )
    rows = kmeans_embedding_clusters(spark, emb_dir).collect()
    assert len(rows) == K
    for r in rows:
        n, mv, inertia, csum = expect[r.cluster_id]
        assert (r.n_vectors, r.min_vec_id, r.inertia, r.centroid_sum) == (
            n,
            mv,
            inertia,
            csum,
        ), f"cluster {r.cluster_id}"
    # the crafted near-dup groups must join their seed's cluster
    by_id = {i: c for i, (c, _) in final.items()}
    assert by_id[1] == by_id[20] == by_id[21]
    assert by_id[3] == by_id[30] == by_id[31]


def test_semdedup_matches_twin(spark, emb_dir):
    vecs = _read_back(emb_dir)
    _, _, final = _twin(emb_dir)
    w = {
        i: [math.floor(x * SD_SCALE + 0.5) for x in v]
        for i, v in vecs.items()
    }
    nw = {i: sum(x * x for x in v) for i, v in w.items()}
    removed = {}
    for b in sorted(w):
        if nw[b] == 0:
            continue
        for a in sorted(w):
            if a >= b or nw[a] == 0 or final[a][0] != final[b][0]:
                continue
            dot = sum(x * y for x, y in zip(w[a], w[b]))
            if (
                dot > 0
                and SD_TAU_DEN * SD_TAU_DEN * dot * dot
                >= SD_TAU_NUM * SD_TAU_NUM * nw[a] * nw[b]
            ):
                removed[b] = (final[b][0], a)
                break  # min keeper = first match in sorted order
    rows = semdedup_embeddings(spark, emb_dir).collect()
    got = {r.vec_id: (r.cluster_id, r.kept_by) for r in rows}
    assert got == removed
    # the crafted near-dups are the removals, each kept by its seed
    assert set(removed) == {20, 21, 30, 31}
    assert removed[20][1] == 1 and removed[21][1] == 1
    assert removed[30][1] == 3 and removed[31][1] == 3


def test_repeated_runs_redo_their_own_work(spark, tmp_path):
    """Each run trains its own centroids: on a corpus no earlier run
    has seen, a second run in the same session (cache cleared between
    runs) gives the same rows AND launches as many jobs as the first —
    a reused fit or cached scan would show as fewer jobs."""
    from bench import run_once

    d = _write_embeddings(str(tmp_path))
    for fn in (kmeans_embedding_clusters, semdedup_embeddings):
        rows1, _, jobs1 = run_once(spark, fn, d, f"test:{fn.__name__}:1")
        rows2, _, jobs2 = run_once(spark, fn, d, f"test:{fn.__name__}:2")
        assert sorted(map(tuple, rows2)) == sorted(map(tuple, rows1))
        assert jobs2 == jobs1 > ITERS
    assert not spark.sparkContext._jsc.getPersistentRDDs()
