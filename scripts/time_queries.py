#!/usr/bin/env python
"""Time a subset of registry queries with the bench's exact methodology
(one discarded warmup + min-of-N collect()), without running the full
registry pass — the inner measurement loop of an optimization.

Usage: python scripts/time_queries.py q1 q2 ... [--runs N] [--explain]

$SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS behave exactly as in bench.py.
--explain additionally writes .explain("formatted") for each query to
plans/$SPARK_GRAFT_PLANS_DIR/<name>_current.txt (default plans/explain/,
created if missing, git-ignored).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = [a for a in sys.argv[1:]]
    runs = 3
    explain = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1])
            i += 2
            continue
        if a == "--explain":
            explain = True
            i += 1
            continue
        names.append(a)
        i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entrymod
    from databatchprotectionservice_spark.plans import get_spark

    spark = get_spark(app_name="dbps-time-queries")
    qs = entrymod.queries()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()

    out = {}
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"unknown query: {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"time:{name}")
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.collect()
        warm = time.time() - t0
        if explain:
            pdir = os.environ.get("SPARK_GRAFT_PLANS_DIR", "explain")
            os.makedirs(os.path.join(REPO, "plans", pdir), exist_ok=True)
            with open(
                os.path.join(REPO, "plans", pdir, f"{name}_current.txt"), "w"
            ) as f:
                f.write(fn(spark, sf_dir)._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                ))
        obs = []
        for _ in range(runs):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            obs.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        out[name] = {"warmup": round(warm, 3), "runs": obs, "min": min(obs)}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
