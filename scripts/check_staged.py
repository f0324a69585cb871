#!/usr/bin/env python
"""Correctness sweep for STAGED queries (built + oracled, not yet in
the scoring registry).

Mirrors scripts/check_oracle.py's comparison exactly (same multiset/
string normalization as the driver gate) over the staged manifest
below, so the committed run log is audit-grade evidence for queries
that have no CORRECTNESS_r{N} row yet — the same every-registration-
has-committed-evidence discipline the registered surface follows.

    python scripts/check_staged.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from check_oracle import TABLES, frame_multiset  # noqa: E402


def staged_manifest():
    """name -> (query_fn, oracle_sql) for queries in INCUBATION: built
    and oracled this round but not yet promoted to the scoring
    registry.

    The r10 bulk promotion moved all 43 r8/r9 staged queries into
    ``plans/registry.py`` (registry 149 -> 192, cycle_len 3 -> 4 —
    see the REGISTERED_IN r10 block for the capacity arithmetic), so
    this manifest drains to empty at each boundary.  The two-tier
    contract going forward:

    * a NEW query lands here in the round that builds it, with its
      oracle, unit tests, and committed sweep logs at sf0.01 AND
      sf0.1 (this script produces them — same comparator as the
      driver gate, via scripts/check_oracle.py);
    * it promotes to the registry at the next boundary whose window
      arithmetic admits it (tests/test_registry_order.py's
      multi-boundary simulation is the admission check);
    * an EMPTY manifest here is the healthy steady state, not an
      error — the sweep prints a note and exits green.
    """
    # r14 boundary: the r13 incubation cohort (ingest_arrow_duration,
    # parquet_write_map_real, ingest_arrow_stream) promoted together
    # (REGISTERED_IN == 14; registry 202 -> 205, cycle_len stays 5).
    # New r14 queries land below and promote at the r15 boundary.
    from databatchprotectionservice_spark.operators import ingest

    return {
        # r14: OffsetIndex/ColumnIndex through the from-scratch
        # parquet WRITER + the index-driven page-skip READ (VERDICT
        # r13 ask #6) — the oracle recomputes the kept-page COUNTS,
        # so the pruning decision itself is gated, not just values.
        "parquet_page_prune_real": (
            ingest.parquet_page_prune_real,
            ingest.PARQUET_PAGE_PRUNE_ORACLE,
        ),
        # r14: dictionary + Utf8View + RunEndEncoded columns through
        # the Arrow STREAM framing, both codec directions (exercises
        # the r13 dictionary encoder and the r14 view/REE encoders
        # under the gate — VERDICT r13 ask #8's named candidate).
        "ingest_arrow_dict_views": (
            ingest.ingest_arrow_dict_views,
            ingest.ARROW_DICT_VIEWS_ORACLE,
        ),
        # r14: BodyCompression-framed IPC bodies through both codecs,
        # both framings and both writers (the r14 encoder-side
        # compression under the gate).
        "ingest_arrow_compressed": (
            ingest.ingest_arrow_compressed,
            ingest.ARROW_COMPRESSED_ORACLE,
        ),
        # r14: split-block Bloom filter row-group pruning (from-scratch
        # XXH64 + SBBF through the parquet writer; pruning decisions
        # gated in-UDF, found values gated here).
        "parquet_bloom_prune_real": (
            ingest.parquet_bloom_prune_real,
            ingest.PARQUET_BLOOM_PRUNE_ORACLE,
        ),
        # r14: ORC stripe VALUE decode (core/orcread.py — RLEv2 all
        # four sub-encodings, dict/direct strings, present weaving)
        # with pyarrow as producer and in-UDF cross-referee.
        "ingest_orc_values_real": (
            ingest.ingest_orc_values_real,
            ingest.ORC_VALUES_ORACLE,
        ),
    }


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    from databatchprotectionservice_spark.plans import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    spark = get_spark(app_name="check-staged")
    failures = []
    manifest = staged_manifest()
    print(f"staged sweep: {len(manifest)} queries at {sf_dir}")
    for name, (fn, sql) in manifest.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
            duck_pdf = con.execute(sql).df()
        except Exception as e:
            print(f"  {name:34s} ERROR: {str(e).splitlines()[0][:120]}")
            failures.append(name)
            continue
        dt = time.time() - t0
        rows_ok = len(spark_pdf) == len(duck_pdf)
        cols_ok = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        hash_ok = frame_multiset(spark_pdf) == frame_multiset(duck_pdf)
        ok = rows_ok and cols_ok and hash_ok
        print(
            f"  {name:34s} rows={len(spark_pdf):6d} "
            f"{'OK' if ok else 'MISMATCH'} [{dt:.1f}s]"
        )
        if not ok:
            failures.append(name)
    if failures:
        print(f"FAILED: {failures}")
        return 1
    print("all staged queries green")
    return 0


if __name__ == "__main__":
    sys.exit(main())
