#!/usr/bin/env python
"""Scale-trajectory probe: build a 10x replica of sf0.1 and compare
per-query wall time, empirically checking SCALE.md's linear-scaling
claims (VERDICT r4 item 5).

Replication scheme (perf experiment ONLY — correctness stays pinned to
the real driver testdata):

* fact tables (events, documents, embeddings, lineitem, orders,
  customer) are unioned 10x with all join/identity keys shifted by a
  copy-specific offset, so per-key densities and join fan-outs stay
  realistic instead of multiplying;
* ``documents.text`` is character-rotated per copy (a..z alphabet
  rotation) so the copies are NOT near-duplicates of each other —
  replicated text would otherwise inflate LSH/minhash candidate
  structure quadratically and measure a different workload;
* dimension tables (region, nation, part, supplier) stay 1x — at
  100 TB dims don't scale with facts;
* events is written as a single file so the availableNow streaming
  queries still run one micro-batch per run (same per-batch shape as
  sf0.1, 10x the rows).

Usage:  python scripts/scale_probe.py [out_json]
"""

from __future__ import annotations

import json
import os
import shutil
import string
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SCALE_PROBE_DIR", "/tmp/dbps_scale_sf1")
COPIES = int(os.environ.get("SCALE_PROBE_COPIES", "10"))
KEY_OFFSET = 1_000_000_000

#: key columns to shift per copy, per fact table (consistent across
#: tables so joins keep their fan-out)
FACTS = {
    "events": ["user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
}
DIMS = ["region", "nation", "part", "supplier"]

QUERIES = [
    "streaming_sessionize",
    "streaming_session_window",
    "streaming_click_attribution",
    "streaming_hourly_rollup",
    "similarity_ivf_topk",
    "similarity_lsh_topk",
    "protect_roundtrip_lineitem",
    "setop_active_customers",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_exact_stats",
    "dedup_embedding_cosine",
    "text_tfidf_top_terms",
    "q1_pricing_summary",
    # round-6 additions
    "dedup_simhash_hamming_pairs",
    "decontaminate_ngram_overlap",
    "text_repetition_scores",
    "similarity_quantized_topk",
    "export_jsonl_roundtrip",
    "datasource_protected_partitioned",
    # round-7 additions
    "dedup_clusters_distributed",
    "dedup_repeated_passages",
    "text_unigram_surprisal",
    "multimodal_decode_real",
    "multimodal_video_frame_stats",
    "protect_roundtrip_events_aes",
    # round-7 continuation additions: the heavier TPC-H shapes (the
    # small-output ones scale trivially with the lineitem scan) and
    # every new pipeline/streaming operator
    "q8_market_share",
    "q13_customer_distribution",
    "q16_part_supplier_counts",
    "q21_suppliers_kept_waiting",
    "dedup_lines_ccnet",
    "similarity_hard_negatives",
    "streaming_outer_attribution",
    "unpivot_event_matrix",
    "stats_moments_battery",
    "pagerank_top_nodes",
    # round-8 additions: the transformWithState pair (per-key
    # state-server protocol cost must scale with keys, not rows) and
    # the PQ index (map-only encode + broadcast LUT scoring)
    "streaming_sessionize_tws",
    "streaming_profile_tws",
    "similarity_pq_topk",
    # round-8 continuation additions: the LM scorers (token-stream
    # broadcast joins), the iterative BFS, the one-shuffle
    # history/window builds, the map-only tokenizer apply, and the
    # guarded matryoshka evaluation
    "text_bigram_surprisal",
    "dsir_importance_weights",
    "text_bpe_encode",
    "bfs_purchase_distance",
    "scd2_user_status_history",
    "window_time_range_rolling",
    "similarity_matryoshka_recall",
    "export_xml_roundtrip",
    "events_variant_extract",
    # CMS candidate pruning: the sketch shuffle is FIXED-size (4096
    # cells), so the curve should track the two column scans
    "heavyhitters_cms_pruned",
    # round-9 additions: the IVFPQ composition (probe cost must track
    # corpus/nlist, not corpus), the lossless-audio decode leg (pure
    # map-side codec work), and the memoized clustering pair (second
    # trainer must be flat in the shared-session probe)
    "similarity_ivfpq_topk",
    "multimodal_audio_flac_stats",
    "multimodal_audio_adpcm_stats",
    "kmeans_embedding_clusters",
    "semdedup_embeddings",
    # late-r9 addition: the incremental SCD2 upsert (TWS protocol cost
    # per key + one extra staging write; state is one row per user)
    "streaming_scd2_tws",
    # round-10 additions: PSL site grouping + HTML extraction
    # (narrow Python string passes — must track the documents scan)
    # and the residual-IVFPQ composition (same pruning economics as
    # the flat variant)
    "dedup_url_site_groups",
    "text_html_extract",
    "similarity_ivfpq_residual_topk",
    # the windowFunnel shape: one user exchange + per-user sorted scan
    "events_funnel_levels",
    # cohort matrix: map-side collect_set, no join
    "events_retention_cohorts",
    # float-free z-score flags: one counts exchange + broadcast moments
    "events_hourly_anomalies",
    # r11: nested parquet read (binaryFile -> per-file decode)
    "parquet_nested_read_real",
    # r11: Gorilla codec over per-type event streams
    "timeseries_gorilla_stats",
    # r12: Arrow temporal/decimal shards (orders replicate 10x
    # with shifted keys, so shard count scales with the data) and the
    # nested parquet write (documents-driven, same shard economics)
    "ingest_arrow_temporal",
    "parquet_write_nested_real",
    # r14: page-index pruning (orders-driven shard writer +
    # index-driven page-skip read; shard count scales with the data,
    # per-task work tracks kept pages)
    "parquet_page_prune_real",
    # r14: dict/view/REE arrow stream roundtrip (events-driven;
    # user_id shards replicate 10x with shifted keys)
    "ingest_arrow_dict_views",
    # r14: BodyCompression IPC bodies (lineitem-driven; shard
    # count scales with orderkey range, per-shard codec work is flat)
    "ingest_arrow_compressed",
    # r14: SBBF row-group pruning (orders-driven; per shard the
    # filter build is O(rows), each probe O(groups) filter checks)
    "parquet_bloom_prune_real",
    # r14: ORC stripe value decode (orders-driven; per-shard
    # decode is O(rows) over fixed-size stream state)
    "ingest_orc_values_real",
]


def build_replica(spark) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(DST):
        shutil.rmtree(DST)
    os.makedirs(DST)
    for name in DIMS:
        shutil.copy(
            os.path.join(SRC, f"{name}.parquet"),
            os.path.join(DST, f"{name}.parquet"),
        )
    for name, keys in FACTS.items():
        base = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        parts = []
        for i in range(COPIES):
            df = base
            for k in keys:
                df = df.withColumn(k, F.col(k) + F.lit(i * KEY_OFFSET))
            if name == "documents" and i > 0:
                # alphabet rotation: copies share no shingles with the
                # original, so near-dup structure is not inflated
                rot = string.ascii_lowercase[i:] + string.ascii_lowercase[:i]
                df = df.withColumn(
                    "text", F.translate("text", string.ascii_lowercase, rot)
                )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        writer = out.coalesce(1) if name == "events" else out
        writer.write.mode("overwrite").parquet(
            os.path.join(DST, f"{name}.parquet")
        )
        print(f"built {name}: {COPIES}x", flush=True)


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    from databatchprotectionservice_spark.plans import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="dbps-scale-probe")
    # SCALE_PROBE_REUSE=1 skips the (expensive) replica rebuild when a
    # previous run's replica is still on disk; SCALE_PROBE_ONLY=a,b,c
    # restricts the query list (used to append late-registered queries
    # to an existing probe file without re-measuring everything)
    if not (os.environ.get("SCALE_PROBE_REUSE") and os.path.isdir(DST)):
        build_replica(spark)
    only = {
        n for n in os.environ.get("SCALE_PROBE_ONLY", "").split(",") if n
    }
    qs = entrymod.queries()
    base = json.load(open(os.path.join(REPO, "BENCH_DETAIL.json")))
    results = {}
    for name in QUERIES:
        if only and name not in only:
            continue
        obs = []
        for _ in range(2):
            t0 = time.time()
            qs[name](spark, DST).collect()
            obs.append(round(time.time() - t0, 3))
        spark.catalog.clearCache()
        sf01 = base["queries"].get(name)
        if not sf01:
            # registered after the last bench: measure the sf0.1
            # baseline here, same min-of-2 protocol as the 10x side
            obs01 = []
            for _ in range(2):
                t0 = time.time()
                qs[name](spark, SRC).collect()
                obs01.append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
            sf01 = min(obs01)
        t = min(obs)
        results[name] = {
            "sf1_sec": t,
            "sf01_sec": sf01,
            "ratio": round(t / sf01, 2) if sf01 and sf01 > 0 else None,
            "samples": obs,
        }
        print(f"{name}: sf1 {t}s  sf0.1 {sf01}s  "
              f"ratio {results[name]['ratio']}", flush=True)
    if out_path:
        # merge into an existing probe file (the SCALE_PROBE_ONLY appending
        # workflow must not drop the entries it did not re-measure)
        merged = {}
        if os.path.exists(out_path):
            with open(out_path) as f:
                merged = json.load(f)
        merged.update(results)
        with open(out_path, "w") as f:
            json.dump(merged, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
