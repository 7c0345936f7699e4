#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line, as its last output:
  {"metric": "...", "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": 0.1}
and writes every run's timings to plans/bench_runs.json.

Each query is materialized through the noop sink (full execution, no
collect/driver transfer). Wall-clock excludes session startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
# per-query timings of every run, rewritten by each bench run
RUNS_PATH = os.path.join(REPO, "plans", "bench_runs.json")
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)

from scylla_cdc_java_spark.session import get_spark  # noqa: E402
from scylla_cdc_java_spark.queries import QUERIES  # noqa: E402

HEADLINE = [
    "r1_apply_delta",
    "r1_apply_lww_fast",
    "r9_delta_full_mix",
    "s4_ordered_stream_read",
    "t1_tumbling_windows",
    "j1_range_delete_pairing",
    "r3_set_delta",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_exact",
    "ann_lsh_topk",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_embedding_pairs",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "mm_feature_extract",
    "mm_frame_sample",
    "text_quality",
    "text_fingerprint",
    "agg_lineitem_pushdown",
    "join_broadcast_revenue",
    "join_shipping_priority",
    "join_region_volume",
    "dedup_line_spans",
    "events_sessionize",
    "events_asof_join",
    "text_lm_score",
    "text_bpe_pairs",
    "text_bm25",
    "pipeline_end_to_end",
    # round-4 additions
    "text_tfidf_topk",
    "text_countmin_probe",
    "text_length_histogram",
    "agg_cube_revenue",
    "set_ops_customers",
    "dedup_incremental",
    "dedup_embedding_clusters",
    # round-5 additions (newly hash-gated / newly bench-visible surfaces)
    "events_interval_join",
    "ann_pq_topk",
    "text_bpe_train",
    "pipeline_embeddings_index",
    # round-6 additions: residual IVF-PQ (textbook IVF-ADC layout) and the
    # frozen-artifact incremental index encode. The composed streaming gate
    # (pipeline_stream_cdc_dedup) stays OUT of the headline on purpose: its
    # ~21 s at sf0.1 is dominated by fixed Structured-Streaming machinery
    # (4 checkpointed runs), which would drown the per-operator signal the
    # headline exists to track — its wall-clock is covered by the driver's
    # correctness run instead.
    "ann_ivf_pq_residual_topk",
    "ann_index_extend",
    # round-7 additions: SQ8 scalar quantization, perceptual-hash media
    # dedup, and the two heaviest new TPC-H shapes (the other four are
    # sub-second dim-join variations the existing relational rows already
    # represent)
    "ann_sq8_topk",
    "ann_ivf_sq8_topk",
    "ann_knn_graph",
    "mm_phash_pairs",
    "agg_large_orders",
    "join_volume_shipping",
    # round-8 additions: the two fact-scale derived-partsupp shapes (Q9's
    # composite-key fact join, Q11's global-threshold agg — Q2/Q16/Q20 are
    # dim-dominated sub-second variations) and the two-pass distributed
    # rank that replaced the segment-capped window sort
    "agg_product_profit",
    "agg_important_stock",
    "events_value_ntile",
    # round-9 additions: the sliding-window chunk-dedup composition (the
    # RAG-ingest shape — chunking + window assignment + two-level agg)
    # and the two-pass rank over the derived partsupp domain. The two
    # source-fault streaming gates stay OUT for the same reason as
    # pipeline_stream_cdc_dedup: fixed streaming machinery dominates.
    "text_chunk_dedup_windowed",
    "agg_stock_value_ntile",
    # round-10 additions: the quality-harness matrix completions (SQ8 and
    # residual recall@k — each runs its tier AND the brute chain, so they
    # are the heaviest ANN rows by construction) and the simhash-vs-
    # Jaccard classification. t7_dynamic_task_add stays OUT like every
    # streaming gate: fixed Structured-Streaming machinery dominates.
    "ann_sq8_recall",
    "ann_residual_recall",
    "dedup_simhash_quality",
    "dedup_winnow_quality",
    "events_zorder_stats",
    "dedup_containment_quality",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # subset override for smoke tests (comma-separated query names)
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    headline = [q for q in subset.split(",") if q] if subset else HEADLINE
    spark = get_spark(app_name="scylla_cdc_java_spark-bench")

    # Warm the engine once so timings reflect steady state rather than
    # first-use costs (python worker pool spawn, codegen, parquet footers):
    # touch each input table and spin up the Arrow-UDF path.
    from scylla_cdc_java_spark.sources.tables import TABLE_NAMES, load_table

    for t in ("events", "documents", "embeddings", "lineitem", "orders"):
        load_table(spark, sf_dir, t).count()
    spark.range(1000).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    # Two timed executions per query, report the MIN. The cache is cleared
    # before each run, so both are cold-plan runs — the min damps this
    # box's ±40% scheduler/GC noise (BASELINE.md), it does not hide work.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    for name in headline:
        fn, _, _ = QUERIES[name]
        runs[name] = []
        for _ in range(2):
            spark.catalog.clearCache()  # per-query caches must not leak
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs[name].append(round(time.time() - t0, 3))
        timings[name] = min(runs[name])

    total = round(sum(timings.values()), 3)
    # The per-run detail goes to a file and the summary is the last output,
    # ONE compact JSON line: a reader that keeps only a bounded tail of the
    # output loses the summary to any bytes printed inside or after it.
    with open(RUNS_PATH, "w") as fh:
        json.dump({"runs": runs}, fh)
    spark.stop()
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs_per_query": 2,
                "agg": "min",
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
