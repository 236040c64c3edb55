"""Print the interesting lines of the physical plans for key queries
(pushdown, pruning, join strategy, aggregation shape).  See PLANS.md.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = ("Scan parquet", "PushedFilters", "ReadSchema", "SelectedBucketsCount",
        "BroadcastHashJoin",
        "SortMergeJoin", "Exchange", "HashAggregate",
        "TakeOrderedAndProject", "WholeStageCodegen", "Filter", "Window",
        "BroadcastNestedLoop", "Project")


def explain_formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from gqlite_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    audited = ["scan_filter_eq", "point_lookup", "pricing_summary",
               "graph_node_jaccard", "text_repetition", "text_tfidf",
               "join_region_revenue", "join_2hop_revenue", "topk_orders",
               "knn_near_limit", "upsert_lww", "window_tumbling",
               "dedup_exact", "sim_knn_join", "dedup_url",
               "sample_shuffle", "event_funnel", "asof_attribution",
               "multimodal_av_meta",
               # r11 lifecycle entry: the ingest scan should show a plain
               # bucketed aggregate with no Exchange below it
               # (layout_fold_scan returns a checkpoint of its answer)
               "bucketed_ingest_scan",
               # r12 promotions: keep-best is the LSH pair join +
               # closure + an argmax window over the pair-graph-sized
               # membership (no cartesian anywhere); quantiles reads
               # the bucket table only (probe-sized scan, one window)
               "dedup_keep_best", "rollup_quantiles_read"]
    qs = entry.queries()
    for name in audited:
        df = qs[name](spark, sf_dir)
        print("=" * 24, name)
        for line in explain_formatted(df).splitlines():
            if any(k in line for k in KEYS):
                print(line[:200])


if __name__ == "__main__":
    main()
