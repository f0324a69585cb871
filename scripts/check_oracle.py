#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

The gate compares each query with its DuckDB oracle like this:

* Spark side fetched with ``df.toPandas()``; DuckDB side with ``.df()``
  (so DuckDB HUGEINT and DECIMAL become float64 — ``str()`` of those will
  NOT match Spark's int64/Decimal objects: always CAST integer aggregates
  to BIGINT in oracle SQL and emit decimals as identically-scaled strings
  on BOTH sides);
* every cell stringified with ``str()``; timestamps at midnight compare
  equal to bare dates;
* columns sorted by name; rows sorted (order-insensitive) — ORDER BY is
  unnecessary for the gate.

This script reproduces that comparison with EXACT string equality (no
rounding, no Decimal normalization) so local green implies driver green.

    python scripts/check_oracle.py [sf_dir] [query_name ...]

A registered query without an oracle counts as a failure.  The run
ends with an ``N/N hash-matched`` tally line and exits non-zero on any
failure.  Set ``CHECK_ORACLE_JSON=/path.json`` to also write a
machine-readable artifact in the CORRECTNESS format (per-query
rows_match / schema_match / hash_match / err), so sweep results can be
diffed and consumed programmatically.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v) -> str:
    s = str(v)
    # the driver treats midnight timestamps and bare dates as equal
    # (pandas datetime64 columns print date-only when all-midnight)
    if s.endswith(" 00:00:00"):
        return s[:-9]
    return s


def frame_multiset(df):
    cols = sorted(df.columns)
    rows = [
        tuple(norm_cell(v) for v in r)
        for r in df[cols].itertuples(index=False)
    ]
    return sorted(rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import duckdb

    import __spark_entry__ as entrymod
    from databatchprotectionservice_spark.plans import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    spark = get_spark(app_name="check-oracle")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = []
    report: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
            t_spark = time.time() - t0
        except Exception as e:
            print(f"  {name:40s} SPARK ERROR: {str(e).splitlines()[0][:120]}")
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": None,
                "oracle_rows": None,
                "err": str(e).splitlines()[0][:200],
            }
            continue
        finally:
            # no query may reuse another's cached scans or candidates
            spark.catalog.clearCache()
        sql = oracles.get(name)
        if sql is None:
            print(f"  {name:40s} NO ORACLE")
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(spark_pdf),
                "oracle_rows": None, "err": "no oracle",
            }
            continue
        t0 = time.time()
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as e:
            print(f"  {name:40s} ORACLE ERROR: {str(e).splitlines()[0][:120]}")
            failures.append(name)
            report[name] = {
                "rows_match": False, "schema_match": False,
                "hash_match": False, "spark_rows": len(spark_pdf),
                "oracle_rows": None,
                "err": str(e).splitlines()[0][:200],
            }
            continue
        t_duck = time.time() - t0
        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rowcount {len(spark_pdf)} != {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(
                f"columns {sorted(spark_pdf.columns)} != "
                f"{sorted(duck_pdf.columns)}"
            )
        if not problems:
            ms, md = frame_multiset(spark_pdf), frame_multiset(duck_pdf)
            if ms != md:
                bad = [
                    (a, b)
                    for a, b in zip(ms, md)
                    if a != b
                ][:2]
                extra = abs(len(ms) - len(md))
                problems.append(
                    f"value mismatch; first diffs {bad}"
                    + (f" (+{extra} len skew)" if extra else "")
                )
        status = "OK " if not problems else "FAIL"
        print(
            f"  {name:40s} rows={len(spark_pdf):6d} {status} "
            f"[spark {t_spark:.1f}s duck {t_duck:.1f}s]"
        )
        for p in problems:
            print(f"      !! {p}")
        if problems:
            failures.append(name)
        rows_ok = len(spark_pdf) == len(duck_pdf)
        schema_ok = sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
        report[name] = {
            "rows_match": rows_ok,
            "schema_match": schema_ok,
            "hash_match": not problems,
            "spark_rows": len(spark_pdf),
            "oracle_rows": len(duck_pdf),
            "err": None,
        }
    out_json = os.environ.get("CHECK_ORACLE_JSON")
    if out_json:
        import json

        with open(out_json, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
        print(f"wrote {out_json} ({len(report)} queries)")
    print()
    passed = sum(r["hash_match"] for r in report.values())
    print(f"{passed}/{len(report)} hash-matched")
    if failures:
        print(f"FAILED: {failures}")
        sys.exit(1)


if __name__ == "__main__":
    main()
