#!/usr/bin/env python3
"""Bench harness: run the headline workload queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
"sf": ..., "contention": [...]}.

Protocol (stated in BASELINE.md), the same for every query: one cold pass,
then WARM_PASSES warm passes. The cold pass pays one-time per-query costs
(Catalyst codegen class compilation, JIT of that generated code) that would
amortize on any real job, so it is recorded but never counted. A query's
headline number is the MINIMUM of its warm passes, and the total is the sum
of those minimums. Timing wraps the full action (plan + execute + count); a
count keeps driver transfer out of the measurement.

Each query's passes are preceded by a timed fixed-work probe (sum over
spark.range(4M), calibrated to a floor at startup). A probe ratio above
CONTENDED marks the query as measured under machine contention; the query
is not rerun, the flag only says how far to trust its number.

Everything the compact stdout line drops ships in the "# detail:" JSON line
on stderr: every pass (cold first), each query's warm median, the contention
flags and loadavg snapshots, and the machine the run came from.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
from typing import NamedTuple

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    get_spark,
    workloads as workload,
)

# Headline set: one per operator family, weighted toward the shuffle/join
# heavy shapes that dominate at scale.
BENCH_QUERIES = [
    # reference surface
    "q01_pricing_summary",
    "scan_full_table",
    "filter_compare",
    "agg_global",
    "agg_group_having",
    "distinct_values",
    "order_limit_offset",
    # relational beyond-reference
    "join_revenue_per_nation",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "agg_count_distinct",
    "window_topk_per_group",
    "setop_union_intersect_except",
    "asof_click_to_purchase",
    "range_join_follow_events",
    "ts_gapfill_locf",
    # LLM-data-pipeline tier
    "text_token_stats",
    "text_quality_scores",
    "text_repetition_ratio",
    "text_dup_ngram_chars",
    "text_pii_redact",
    "corpus_line_dedup",
    "contamination_eval_train_overlap",
    "dedup_exact_groups",
    "dedup_ngram_jaccard_top20",
    "dedup_winnow_top15",
    "dedup_minhash_lsh",
    "similar_pairs_top15",
    "multimodal_image_features",
    "pipeline_curate_corpus",
    # later operator tiers (ANN, sketches, dialect, skew); list order is
    # run order, kept fixed so timings stay comparable run to run
    "dedup_semantic_clusters",
    "corpus_vocab_oov",
    "multimodal_jpeg_decode",
    "refsql_setops_orders",
    "refsql_exists_subquery",
    "bloom_decontaminate_train",
    "classifier_hashed_nb_langid",
    "dedup_embedding_neardup",
    "skew_salted_join",
    "crossmodal_image_text_neardup",
    "sketch_hll_distinct",
    "sample_weighted_aes",
    "refsql_correlated_scalar",
    "refsql_in_or_membership",
    "sketch_hist_quantiles_grouped",
    "ann_multiassign_top10",
    "ann_multiassign_recall",
    "ann_matryoshka_top10",
    "ann_hard_negatives",
    "corpus_length_bucket_batches",
    "refsql_unnest_tokens",
    "events_skew_report",
    "stream_append_exactly_once",
    "refsql_lateral_topk",
    "refsql_update_from",
    "refsql_lateral_group_by",
    "refsql_json_family",
    # streaming
    "stream_tumbling_counts",
    "stream_session_windows",
    "stream_stream_join",
    "stream_session_hll_users",
]

COLD_PASSES = 1
WARM_PASSES = 3
# Sentinel probe time over its calibrated floor above which a query's
# passes are flagged as contended.
CONTENDED = 1.2


class Summary(NamedTuple):
    passes: list[float]  # every pass, cold first
    min: float  # of the warm passes: the headline number
    median: float  # of the warm passes
    contention: float | None  # sentinel ratio, when above CONTENDED


def summarize(passes: list[float], sentinel_ratio: float) -> Summary:
    """One query's record: the cold pass is excluded, the warm passes give
    the min and the median, and the sentinel ratio is kept only as a
    contention flag."""
    warm = passes[COLD_PASSES:]
    return Summary(
        passes,
        min(warm),
        statistics.median(warm),
        round(sentinel_ratio, 2) if sentinel_ratio > CONTENDED else None,
    )


def render_artifact(
    summaries: dict[str, Summary],
    sentinel: dict,
    machine: dict,
    sf,
) -> tuple[str, str]:
    """Returns (stdout_line, stderr_detail_line).

    The stdout line must stay one complete JSON object under 2000 chars,
    because only the final 2000 chars of bench stdout are archived; a longer
    line loses its front, ``{"metric"`` included, and no longer parses. So
    it carries the contract keys only (metric, unit, sf, queries, value),
    per-query seconds at 2 decimals, compact separators, plus a contention
    summary while that still fits. Everything else — 4-decimal minimums,
    medians, every pass, the full sentinel record and the machine — goes
    to the detail line.
    """
    timings = {n: round(s.min, 4) for n, s in summaries.items()}
    total = sum(s.min for s in summaries.values())
    contended = {
        n: s.contention for n, s in summaries.items() if s.contention is not None
    }
    detail = json.dumps(
        {
            "metric": "workload_total_runtime",
            "unit": "sec",
            "protocol": {"cold": COLD_PASSES, "warm": WARM_PASSES},
            "machine": machine,
            "passes": {
                n: [round(t, 4) for t in s.passes] for n, s in summaries.items()
            },
            "medians": {n: round(s.median, 4) for n, s in summaries.items()},
            "queries": timings,
            "sentinel": {**sentinel, "contended": contended},
            "value": round(total, 4),
            "sf": sf,
        }
    )
    compact_q = {n: round(v, 2) for n, v in timings.items()}
    base = {
        "metric": "workload_total_runtime",
        "unit": "sec",
        "sf": sf,
    }
    # contention = [n_contended_queries, max_ratio, loadavg_start, loadavg_end]
    extras = {
        "contention": [
            len(contended),
            max(contended.values(), default=1.0),
            sentinel.get("load_start", [0])[0],
            sentinel.get("load_end", [0])[0],
        ],
    }
    # Deterministic shrink cascade with a hard guarantee: each step is
    # strictly smaller, and the 0-decimal floor is ~1.85 KB at the current
    # name set, so the loop always ends under the cap even at 1000+ s
    # per query.
    for attempt in (
        {**base, **extras, "queries": compact_q, "value": round(total, 2)},
        {**base, "queries": compact_q, "value": round(total, 2)},
        {
            **base,
            "queries": {n: round(v, 1) for n, v in timings.items()},
            "value": round(total, 1),
        },
        {
            **base,
            "queries": {n: int(round(v)) for n, v in timings.items()},
            "value": int(round(total)),
        },
    ):
        line = json.dumps(attempt, separators=(",", ":"))
        if len(line) <= 1990:
            break
    return line, detail


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    missing = [n for n in BENCH_QUERIES if n not in workload.QUERIES]
    if missing:
        raise SystemExit(f"bench queries not in workload registry: {missing}")
    spark = get_spark(app_name="sparkdb-bench")
    # JVM/codegen warm-up outside the timed region: touches no benchmark
    # fact data, only spins up executors and JITs the scan/shuffle/agg code
    # paths (first-query startup otherwise dominates small-SF timings).
    # region is 25 rows — reading it warms the parquet reader without
    # pre-faulting any table a timed query scans.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy("r_name")
        .count()
        .collect()
    )
    # Warm the remaining engine code paths on SYNTHETIC data (no fact
    # tables): regex+tokenize+higher-order functions (interpreted eval
    # loop), the Arrow/pandas-udf worker pool, and a shuffle join. These
    # JIT/startup costs otherwise land on whichever timed query hits the
    # path first and swing its first pass by seconds.
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    synth = spark.range(20_000).select(
        "id",
        F.concat(F.lit("warm up text the and of with "), F.col("id").cast("string")).alias("t"),
    )
    toks = F.split(F.regexp_replace(F.lower("t"), r"[^a-z0-9\s]", " "), r"\s+")
    synth.select(
        F.md5(F.encode("t", "UTF-8")).alias("fp"),
        F.size(F.filter(toks, lambda x: x == F.lit("the"))).alias("hof"),
        F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x)).alias("agg"),
    ).agg(F.count(F.lit(1))).collect()

    @pandas_udf("long")
    def _warm_udf(s: pd.Series) -> pd.Series:
        return s * 2

    spark.range(10_000).select(_warm_udf("id").alias("x")).agg(
        F.sum("x")
    ).collect()
    a = spark.range(50_000).select("id", (F.col("id") % 97).alias("k"))
    a.join(a.groupBy("k").count(), "k").agg(F.count(F.lit(1))).collect()

    def sentinel_sec() -> float:
        t0 = time.perf_counter()
        spark.range(4_000_000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    # Calibrate the sentinel floor: fixed JVM-side work whose runtime moves
    # only with machine contention (CPU steal, GC pressure from co-tenants).
    sent_floor = min(sentinel_sec() for _ in range(5))
    load_start = os.getloadavg()

    def run_pass(fn) -> tuple[float, int]:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.perf_counter() - t0
        # Release py4j-held plan/broadcast/checkpoint references so the
        # JVM ContextCleaner can drop their blocks — over a long session
        # the accumulated garbage otherwise competes with the running
        # query for heap (measured as progressive slowdown).
        gc.collect()
        return dt, n

    summaries: dict[str, Summary] = {}
    for name in BENCH_QUERIES:
        fn = workload.QUERIES[name]
        ratio = sentinel_sec() / sent_floor
        times, n = [], 0
        for _ in range(COLD_PASSES + WARM_PASSES):
            dt, n = run_pass(fn)
            times.append(dt)
        s = summaries[name] = summarize(times, ratio)
        print(
            f"# {name}: {s.min:.3f}s (median {s.median:.3f}; {n} rows; passes "
            f"{'/'.join(f'{t:.3f}' for t in times)}; sentinel x{ratio:.2f})",
            file=sys.stderr,
        )

    line, detail = render_artifact(
        summaries,
        {
            "floor_sec": round(sent_floor, 4),
            "load_start": [round(x, 2) for x in load_start],
            "load_end": [round(x, 2) for x in os.getloadavg()],
            # where the bounded streaming runs place their ephemeral
            # checkpoints (streaming/ops.py): streaming numbers are only
            # comparable across machines on the same kind of storage.
            "stream_ckpt": (
                os.environ.get("SPARKDB_STREAM_CHECKPOINT_DIR")
                or ("/dev/shm" if os.path.isdir("/dev/shm") else "tmpdir")
            ),
        },
        {
            "cpu_count": os.cpu_count(),
            "master": spark.sparkContext.master,
            "driver_memory": spark.conf.get("spark.driver.memory"),
            "spark": spark.version,
        },
        float(sf) if sf.replace(".", "").isdigit() else sf,
    )
    print(f"# detail: {detail}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
