#!/usr/bin/env python
"""Benchmark harness: headline queries + ingestion throughput.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}``.

The ingest benchmark mirrors the reference's headline workload
(`pyab benchmark --num-records=5e5`, ``airbyte/cli/pyab.py:438-533``):
5e5 five-string-column records through the full message pipeline
(JSONL staging → spark.read.json → metadata columns → warehouse write).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "window_topk_parts_per_supplier",
    "events_sessionize",
    "merge_latest_per_key",
    "rollup_time_bucket",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_semantic",
    "ann_brute_force_topk",
    "ann_ivf_topk",
    "text_fingerprint",
    "text_quality",
    "text_tfidf_top_terms",
    "embed_quantize_int8",
    "text_gopher_quality",
    "text_pii_redaction",
    "contamination_check",
    "dedup_cluster_representatives",
    "q2_min_cost_supplier",
    "q7_volume_shipping",
    "q10_returned_items",
    "q11_important_part_value",
    "q20_excess_shipper_suppliers",
    "q13_customer_order_histogram",
    "funnel_view_click_purchase",
    "moving_avg_daily_revenue",
    "sample_per_stratum_orders",
    "pack_token_bins_docs",
    "pipeline_curation_shards",
    "multimodal_features",
    "weighted_sample_docs",
    "chunk_documents_64",
    "mixture_weights_by_source",
    "dsir_importance_weights",
    "events_anomaly_daily_zscore",
    "split_train_val_test",
    # table format end-to-end: append x2 + DELETE + UPDATE + pruned read
    "store_dml_skipping_events",
    # round 7 additions
    "text_bm25_search",
    "embed_gram_matrix",
    "ann_pq_topk",
    "approx_distinct_hll",
    "hll_cumulative_distinct_users",
    "cms_token_frequency",
    "events_resample_hourly_gapfill",
    "graph_pagerank_part_supplier",
    "store_mor_delete_events",
    "store_incremental_agg_events",
    # round 8: persisted-PQ lifecycle (build + exactly-once append + probe)
    "ann_pq_index_topk",
    "store_merge_full_sync_events",
    "store_mor_update_events",
    "store_bloom_skipping_events",
    # round 10: MERGE schema evolution + group commit (N appends,
    # one commit-protocol round)
    "store_merge_evolve_events",
    "store_group_commit_events",
    "store_snapshot_consistent_join_events",
    # round 10: 2-phase multi-table txn (2 committed groups + 1
    # aborted garbage group across two tables, 6 prepares total)
    "store_txn_atomic_events",
    # round 10: persisted MinHash-LSH dedup index (build + atomic
    # append + pruned probe lifecycle)
    "dedup_minhash_index_lookup",
    # round 10: ExactSubstr span removal (positional grams, 3 shuffles)
    "dedup_span_removal",
    # round 10: bucket-layout evolution mid-merge-lifecycle
    "store_rebucket_events",
    # round 11: MinHash index maintenance (build + append + tail-only
    # refresh + probe) and atomic cross-table schema migration
    # (ADD COLUMN prepare + backfill merge in one txn group)
    "dedup_minhash_refresh_events",
    "store_txn_migration_events",
    # round 11: kNN label vote (label-quality audit over embeddings)
    "knn_label_vote",
    # round 11: write-audit-publish branch lifecycle (fork + 2 branch
    # merges + fast-forward publish + endpoint-diff CDF)
    "store_branch_wap_events",
    # round 11: aggregate pushdown into the manifest (metadata counts)
    "store_count_pushdown_events",
    # round 11: persisted inverted text index (build + atomic append +
    # token-pruned BM25 probe), and its CDF-driven transactional
    # maintenance (attach + table DML + one sync txn group + probe)
    "text_bm25_index_search",
    "text_index_sync_search",
    # round 12: SUM/MIN/MAX aggregate pushdown (metadata tier +
    # dominance-pruned boundaries + sliver-scanned sums)
    "store_agg_pushdown_events",
    # round 14: per-file SUM harvest — sum/avg join the metadata tier
    # (write-time harvest + backfill + distributed classifier)
    "store_sum_tier_events",
    # round 12: WAP-attached index (attach to branch + branch DML +
    # branch-following sync + publish + re-home sync + probe)
    "text_index_wap_sync_search",
    # round 12: CDF-maintained IVF (attach + delete merge + sync with
    # old-snapshot tombstones + frozen-quantizer probe)
    "ann_ivf_sync_topk",
    # round 12: CDF-maintained PQ (frozen codebooks, re-encoded sign
    # tombstones, ADC probe over net codes)
    "ann_pq_sync_topk",
]

INGEST_RECORDS = int(float(os.environ.get("SPARK_GRAFT_BENCH_RECORDS", "5e5")))

# ---------------------------------------------------------------------------
# Stable short aliases for the compact stdout line. The driver's tail capture
# bounds the line at ~2000 chars; 77 full query names alone are ~1963 chars,
# so since r13 the line had to drop the per-query map entirely, leaving the
# driver's per-query/scaling comparison blind (PERF_r14 n_common=0). With
# 3-6 char aliases + 1-decimal values the full map fits in ~1200 chars.
# The alias table is committed here AND written into BENCH.json ("aliases")
# so any consumer can invert it. Aliases are append-only: never rename or
# reuse one once published.
# ---------------------------------------------------------------------------

QUERY_ALIASES = {
    "q1_pricing_summary": "qpsu",
    "q3_shipping_priority": "qspr",
    "q5_local_supplier_volume": "qlsvo",
    "q6_forecast_revenue": "qfre",
    "window_topk_parts_per_supplier": "wtppsu",
    "events_sessionize": "ese",
    "merge_latest_per_key": "mlpke",
    "rollup_time_bucket": "rtbu",
    "dedup_exact_groups": "degr",
    "dedup_minhash_lsh": "dmls",
    "dedup_simhash": "dsi",
    "dedup_ngram_jaccard": "dnja",
    "dedup_embedding_cosine": "deco",
    "dedup_semantic": "dse",
    "ann_brute_force_topk": "abfto",
    "ann_ivf_topk": "aito",
    "text_fingerprint": "tfi",
    "text_quality": "tqu",
    "text_tfidf_top_terms": "tttte",
    "embed_quantize_int8": "eqin",
    "text_gopher_quality": "tgqu",
    "text_pii_redaction": "tpre",
    "contamination_check": "cch",
    "dedup_cluster_representatives": "dcre",
    "q2_min_cost_supplier": "qmcsu",
    "q7_volume_shipping": "qvsh",
    "q10_returned_items": "qrit",
    "q11_important_part_value": "qipva",
    "q20_excess_shipper_suppliers": "qessu",
    "q13_customer_order_histogram": "qcohi",
    "funnel_view_click_purchase": "fvcpu",
    "moving_avg_daily_revenue": "madre",
    "sample_per_stratum_orders": "spsor",
    "pack_token_bins_docs": "ptbdo",
    "pipeline_curation_shards": "pcsh",
    "multimodal_features": "mfe",
    "weighted_sample_docs": "wsdo",
    "chunk_documents_64": "cd64",
    "mixture_weights_by_source": "mwbso",
    "dsir_importance_weights": "diwe",
    "events_anomaly_daily_zscore": "eadzs",
    "split_train_val_test": "stvte",
    "store_dml_skipping_events": "sdsev",
    "text_bm25_search": "tbse",
    "embed_gram_matrix": "egma",
    "ann_pq_topk": "apto",
    "approx_distinct_hll": "adhl",
    "hll_cumulative_distinct_users": "hcdus",
    "cms_token_frequency": "ctfr",
    "events_resample_hourly_gapfill": "erhga",
    "graph_pagerank_part_supplier": "gppsu",
    "store_mor_delete_events": "smdev",
    "store_incremental_agg_events": "siaev",
    "ann_pq_index_topk": "apito",
    "store_merge_full_sync_events": "smfsev",
    "store_mor_update_events": "smuev",
    "store_bloom_skipping_events": "sbsev",
    "store_merge_evolve_events": "smeev",
    "store_group_commit_events": "sgcev",
    "store_snapshot_consistent_join_events": "sscjev",
    "store_txn_atomic_events": "staev",
    "dedup_minhash_index_lookup": "dmilo",
    "dedup_span_removal": "dsre",
    "store_rebucket_events": "srev",
    "dedup_minhash_refresh_events": "dmrev",
    "store_txn_migration_events": "stmev",
    "knn_label_vote": "klvo",
    "store_branch_wap_events": "sbwev",
    "store_count_pushdown_events": "scpev",
    "text_bm25_index_search": "tbise",
    "text_index_sync_search": "tisse",
    "store_agg_pushdown_events": "sapev",
    "store_sum_tier_events": "sstev",
    "text_index_wap_sync_search": "tiwsse",
    "ann_ivf_sync_topk": "aisto",
    "ann_pq_sync_topk": "apsto",
    "ingest_500000": "i50",
}

# ---------------------------------------------------------------------------
# sf1 pass: the >=1s queries re-run ONCE against a 10x upscale of sf0.1,
# so their medians land in the 5-30s range where a 10% plan regression is
# visible above the +/-0.3-0.8s noise that dominates sub-second timings
# (round-4->5 comparisons were mostly reading that noise). Fact tables are
# replicated with shifted keys; text is word-shuffled and embeddings
# dimension-rotated per replica so dedup/ANN workloads keep a realistic
# near-duplicate rate instead of finding 10 verbatim copies of everything.
# Dimension tables are copied as-is (shifted fact FKs only touch synthetic
# id spaces the queries group by, never join through).
# ---------------------------------------------------------------------------

SF1_REPLICAS = int(os.environ.get("SPARK_GRAFT_SF1_REPLICAS", "10"))
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
SF1_SKIP = os.environ.get("SPARK_GRAFT_SKIP_SF1", "") == "1"

SF1_QUERIES = [
    "q1_pricing_summary",
    "window_topk_parts_per_supplier",
    "dedup_exact_groups",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_semantic",
    "ann_ivf_topk",
    "contamination_check",
    "dedup_cluster_representatives",
    "pipeline_curation_shards",
    "dsir_importance_weights",
    "text_gopher_quality",
    "store_dml_skipping_events",
    # round-7 sketch/graph additions — scaling ratios on record
    "approx_distinct_hll",
    "cms_token_frequency",
    "graph_pagerank_part_supplier",
    # round-10 additions
    "dedup_span_removal",
]

_ID_STRIDE = 10_000_000


def build_sf1(spark, src_dir: str, out_dir: str, replicas: int) -> float:
    """Materialize the upscaled tables; reuses a previous build if the
    marker matches (the corpus only changes when the source or replica
    count does). Returns build seconds (0.0 on reuse)."""
    import shutil

    from pyspark.sql import functions as F

    marker = os.path.join(out_dir, "_UPSCALE")
    stamp = f"{src_dir} x{replicas} v2"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return 0.0
    t0 = time.monotonic()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("__r")

    def fan(name):
        return spark.read.parquet(f"{src_dir}/{name}.parquet").select("*", rep)

    def shift(col):
        return (F.col(col) + F.col("__r").cast("long") * _ID_STRIDE).alias(col)

    li = fan("lineitem")
    li.select(
        shift("l_orderkey"), *[c for c in li.columns if c not in ("l_orderkey", "__r")]
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")

    ev = fan("events")
    ev.select(
        shift("event_id"),
        shift("user_id"),
        *[c for c in ev.columns if c not in ("event_id", "user_id", "__r")],
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    docs = fan("documents")
    # replica 0 keeps the original text; the rest word-shuffle so the
    # k-shingle sets decorrelate (a rotation would keep near-dup sim ~1)
    shuffled = F.concat_ws(" ", F.shuffle(F.split(F.trim("text"), r"\s+")))
    docs.select(
        shift("doc_id"),
        F.when(F.col("__r") == 0, F.col("text")).otherwise(shuffled).alias("text"),
        *[c for c in docs.columns if c not in ("doc_id", "text", "__r")],
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = fan("embeddings")
    d = F.size("embedding")
    rot = F.concat(
        F.slice(F.col("embedding"), F.col("__r") + 1, d - F.col("__r")),
        F.slice(F.col("embedding"), F.lit(1), F.col("__r")),
    )
    emb.select(
        shift("vec_id"),
        F.when(F.col("__r") == 0, F.col("embedding")).otherwise(rot).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding", "__r")],
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    for name in ["region", "nation", "customer", "supplier", "part", "orders"]:
        shutil.copyfile(
            f"{src_dir}/{name}.parquet", f"{out_dir}/{name}.parquet"
        )
    with open(marker, "w") as f:
        f.write(stamp)
    return round(time.monotonic() - t0, 3)


def main() -> None:
    from pyairbyte_spark import SparkCache, get_spark
    from pyairbyte_spark import queries as q
    from pyairbyte_spark.sources.benchmark import BenchmarkSource

    spark = get_spark(
        "pyairbyte-spark-bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # Warm up the JVM / codegen / parquet footers so the first timed
    # query doesn't absorb session startup cost.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for tbl in ["lineitem", "orders", "events", "documents", "embeddings"]:
        q.t(spark, SF_DIR, tbl).limit(1).collect()

    # n>=3 runs per query; report the MEDIAN (single runs proved noisy:
    # round-2 "regressions" on unchanged plans were run-to-run variance).
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}

    # Commit-protocol attribution for the store_* lifecycle rows: time
    # spent inside _commit (manifest diff/serialize + conditional PUT)
    # and _stage (the staged data write incl. footer-stats harvest) is
    # accounted per query, so a bench regression on a lifecycle row
    # attributes to protocol vs scan without a worktree bisect.
    from pyairbyte_spark.writers import CommitLogTableStore as _Store

    _acc = {"commit": 0.0, "stage": 0.0}
    _orig_commit, _orig_stage = _Store._commit, _Store._stage

    def _timed(which, orig):
        def run(self, *a, **k):
            t0 = time.monotonic()
            try:
                return orig(self, *a, **k)
            finally:
                _acc[which] += time.monotonic() - t0

        return run

    _Store._commit = _timed("commit", _orig_commit)
    _Store._stage = _timed("stage", _orig_stage)

    registry = q.queries()
    for name in BENCH_QUERIES:
        fn = registry[name]
        samples = []
        n = 0
        _acc["commit"] = _acc["stage"] = 0.0
        for _ in range(runs):
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            n = df.count()
            samples.append(time.monotonic() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        spread[name] = round(samples[-1] - samples[0], 3)
        if _acc["commit"] > 0:  # lifecycle row: report the split
            phases[name] = {
                "commit": round(_acc["commit"] / runs, 3),
                "stage": round(_acc["stage"] / runs, 3),
            }
        print(
            f"# {name}: median {timings[name]:.2f}s "
            f"(spread {spread[name]:.2f}s, {n} rows)"
            + (
                f" [commit {phases[name]['commit']:.2f}s"
                f" stage {phases[name]['stage']:.2f}s]"
                if name in phases
                else ""
            ),
            file=sys.stderr,
        )
    _Store._commit, _Store._stage = _orig_commit, _orig_stage

    # Ingestion throughput (reference headline benchmark shape).
    ingest_samples = []
    for _ in range(runs):
        with tempfile.TemporaryDirectory() as td:
            cache = SparkCache(spark, td)
            src = BenchmarkSource(INGEST_RECORDS)
            t0 = time.monotonic()
            src.read(cache, write_strategy="append")
            ingest_samples.append(time.monotonic() - t0)
    ingest_samples.sort()
    ingest_sec = round(ingest_samples[len(ingest_samples) // 2], 3)
    timings[f"ingest_{INGEST_RECORDS}"] = ingest_sec
    spread[f"ingest_{INGEST_RECORDS}"] = round(
        ingest_samples[-1] - ingest_samples[0], 3
    )
    print(
        f"# ingest: {INGEST_RECORDS} records, median {ingest_sec:.2f}s "
        f"({INGEST_RECORDS / ingest_sec:,.0f} rec/s)",
        file=sys.stderr,
    )

    # sf1 pass: TWO timed runs per heavy query at 10x, keep the min —
    # the first run carries whole-stage-codegen compilation and page
    # cache state that round-over-round comparisons shouldn't read as
    # plan regressions (a single-run dsir sample spread 6.6-8.0s
    # across identical code; the warm minimum is stable to ~5%).
    sf1_doc = None
    if not SF1_SKIP:
        build_sec = build_sf1(spark, SF_DIR, SF1_DIR, SF1_REPLICAS)
        sf1_timings: dict[str, float] = {}
        for name in SF1_QUERIES:
            fn = registry[name]
            best = None
            for _ in range(4):
                t0 = time.monotonic()
                n = fn(spark, SF1_DIR).count()
                dt = time.monotonic() - t0
                improved = best is None or dt < best * 0.95
                best = dt if best is None or dt < best else best
                if not improved:
                    break  # converged: warm-up tail is gone
            sf1_timings[name] = round(best, 3)
            print(
                f"# sf1 {name}: {sf1_timings[name]:.2f}s ({n} rows)",
                file=sys.stderr,
            )
        sf1_doc = {
            "queries": sf1_timings,
            "total": round(sum(sf1_timings.values()), 3),
            "replicas": SF1_REPLICAS,
            "build_sec": build_sec,
        }

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Which build round produced this run: the driver records
    # BENCH_r{N}.json per round, so the CURRENT round is max(N)+1 —
    # sf1_regression.py --update stamps it into SF1_BASELINE.json so
    # drift math knows which code the baseline measured.
    import re as _re

    _here = os.path.dirname(os.path.abspath(__file__))
    _rounds = [
        int(m.group(1))
        for n in os.listdir(_here)
        if (m := _re.fullmatch(r"BENCH_r(\d+)\.json", n))
    ]
    doc = {
        "round": (max(_rounds) + 1) if _rounds else None,
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "runs": runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "ingest_records_per_sec": round(INGEST_RECORDS / ingest_sec),
        # Per-query commit-protocol vs staged-write attribution for
        # the store_* lifecycle rows (seconds per run; remainder of
        # the row's median is scan/compute).
        **({"phases": phases} if phases else {}),
        # Machine state at bench time: high load here explains slow
        # medians (round-3's "regression" was a loaded machine).
        "loadavg_1m": round(os.getloadavg()[0], 2),
        # cpus = the cores the session actually ran on (SPARK_GRAFT_CPUS
        # may pin fewer than the machine has); nproc = the machine's.
        "cpus": spark.sparkContext.defaultParallelism,
        "nproc": os.cpu_count(),
        # Self-declared noise flags (r12 judge directive): a row whose
        # run-to-run spread EXCEEDS its median is machine noise, not a
        # plan signal — drift adjudication should skip these rows
        # mechanically instead of needing an idle re-run to settle.
        "unreliable_rows": sorted(
            n
            for n, m in timings.items()
            if m > 0 and spread.get(n, 0.0) > m
        ),
        # Alias table for the compact stdout line's short query keys
        # (see QUERY_ALIASES above): full name -> alias.
        "aliases": {n: QUERY_ALIASES[n] for n in timings if n in QUERY_ALIASES},
        **({"sf1": sf1_doc} if sf1_doc else {}),
    }
    # Persist the full dict (incl. per-query spread) as its own
    # artifact: the driver's log tail-capture truncated BENCH_r03/r04,
    # losing leading query medians — this file is the self-contained
    # record.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json"),
    )
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=1)
    print(f"# wrote {out_path}", file=sys.stderr)
    spark.stop()
    # The compact summary must be the LAST stdout line AND small
    # enough to survive the driver's bounded tail capture (2000
    # chars — round 6's line with the inlined sf1 block overflowed it
    # and the driver recorded "parsed": null). Keep only the required
    # fields; spread/runs/sf1/loadavg live in BENCH.json above.
    # Per-query values go out under their short aliases at 1-decimal
    # precision so all 77 rows fit in <1900 chars (full names alone are
    # ~1963 chars — the r13/r14 lines had to ship an empty map, leaving
    # the driver per-query-blind; see QUERY_ALIASES). Full-name,
    # 3-decimal medians + spread remain in BENCH.json.
    compact = {
        "metric": doc["metric"],
        "value": doc["value"],
        "unit": doc["unit"],
        "queries": {
            QUERY_ALIASES.get(k, k): round(v, 1) for k, v in timings.items()
        },
        "sf": doc["sf"],
        "ingest_records_per_sec": doc["ingest_records_per_sec"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1900:  # belt-and-braces: drop per-query detail before truncating
        compact["queries"] = {}
        line = json.dumps(compact, separators=(",", ":"))
    print(line, flush=True)


if __name__ == "__main__":
    main()
