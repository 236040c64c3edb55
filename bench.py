"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": ...}

Each query is materialized fully through the noop sink (no driver
collect, no result-size bias).  The set covers the scale-relevant plan
shapes: scans+filters (engine path), hash aggregations, broadcast + shuffle
joins, window dedup, top-k, kNN, MinHash-LSH dedup over the full document
corpus, text scoring, and event sessionization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _point_lookup_raw(spark, sf_dir):
    """The point_lookup predicate expressed directly as a DataFrame (no
    GQL parse/plan layer) — same scan, same pushed filter.  The delta
    point_lookup - point_lookup_raw is the per-query engine overhead;
    the raw number is the Spark floor.  Diagnostic: reported in the
    queries dict but EXCLUDED from the totals so round-over-round totals
    stay comparable."""
    from pyspark.sql import functions as F

    from gqlite_spark.sources import testdata
    return (testdata.load(spark, sf_dir, "customer")
            .filter(F.col("c_custkey") == 42))


DIAGNOSTIC = {"point_lookup_raw": _point_lookup_raw}

# queries() entries benched for visibility but EXCLUDED from the
# totals, so the totals' query set stays frozen and comparable across
# rounds.  Most are build-dominated by construction: each invocation
# rebuilds its index, layout, rollup, streaming checkpoint or LSH
# closure, so its cold time would swamp the totals.
DIAGNOSTIC_QUERIES: list[str] = ["knn_near_limit_routed",
                                 "sim_knn_join_ivf",
                                 "decontaminate_semantic",
                                 "sim_ann_ivfpq_indexed",
                                 "sample_cluster",
                                 "bucketed_join_revenue",
                                 "zorder_scan_revenue",
                                 "curation_pipeline",
                                 "knn_near_limit_pq",
                                 "layout_attach_scan",
                                 "rollup_coarsen",
                                 "topcount_cms",
                                 "layout_fold_scan",
                                 "bucketed_ingest_scan",
                                 "stream_ingest_scan",
                                 "stream_clustered_scan",
                                 "rollup_quantiles_read",
                                 "dedup_keep_best"]

# the original 19-query headline set (rounds 1-4) — reported separately
# as value_19q so round-over-round totals stay comparable across the
# round-5 headline expansion
HEADLINE_19Q = [
    "point_lookup",          # reference benchmark workload (vertex.gs)
    "scan_filter_eq",
    "filter_range_and",
    "pricing_summary",
    "topk_orders",
    "join_region_revenue",
    "join_2hop_revenue",
    "upsert_lww",
    "window_rank_running",
    "rollup_revenue",
    "correlated_subquery",
    "graph_degrees",
    "knn_near_limit",
    "sim_knn_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "window_tumbling",
    "window_session",
]

# round 5 (VERDICT r4 #7): the four r4 diagnostics join the headline so
# regressions on them trip the same total-vs-prior-round comparison;
# NOTES.md records the r4-equivalent 23-query baseline
HEADLINE = HEADLINE_19Q + [
    "dedup_lines",
    "text_chunking",
    "text_lm_score",
    "sample_mixture",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from gqlite_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(app_name="gqlite-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JVM codegen + parquet footers + engine registration, so the
    # first timed query doesn't absorb session startup
    from gqlite_spark.sources import testdata
    testdata.load(spark, sf_dir, "lineitem").count()
    entry._gql_db(spark, sf_dir)

    qs = entry.queries()
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE + DIAGNOSTIC_QUERIES + list(DIAGNOSTIC):
        fn = qs[name] if name in qs else DIAGNOSTIC[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
        # second run: whole-stage-codegen classes are compiled and parquet
        # footers cached, so this is the steady-state per-query cost — the
        # number that scales with data, vs the one-time JIT fixed cost
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        warm[name] = round(time.time() - t0, 3)

    total = round(sum(timings[n] for n in HEADLINE), 3)

    # floor-normalized series (VERDICT r6 next #3): per-query ratio to the
    # same-run point_lookup_raw floor — a zero-engine-code scan whose wall
    # time tracks the sandbox machine, not the code.  Three rounds of
    # bench signal needed manual machine-drift attribution; comparing the
    # normalized series across rounds factors the machine out structurally.
    # The floor itself is a sub-second measurement with real variance
    # (observed 0.136-0.212 s across same-day runs), so the warm floor is
    # the MIN of three extra runs — the stable fixed-cost estimate — not
    # a single sample.
    fn = DIAGNOSTIC["point_lookup_raw"]
    extra = []
    for _ in range(3):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        extra.append(time.time() - t0)
    floor_cold = max(timings["point_lookup_raw"], 1e-6)
    floor_warm = max(min([warm["point_lookup_raw"]] + extra), 1e-6)
    norm = {n: round(timings[n] / floor_cold, 2)
            for n in HEADLINE + DIAGNOSTIC_QUERIES}
    norm_warm = {n: round(warm[n] / floor_warm, 2)
                 for n in HEADLINE + DIAGNOSTIC_QUERIES}

    # The per-query warm/norm dicts live in a SIDECAR file, not the
    # printed line (VERDICT r14 next #2): the one-line JSON had grown to
    # ~8 KB and r13's line was clipped by the driver's tail capture
    # (`BENCH_r13.parsed: null`), silencing the whole round-over-round
    # comparison.  The printed contract line keeps metric/value/unit/
    # queries/sf plus the scalar summaries (< 2 KB); the timed region
    # above is byte-identical to r12-r14.
    details = {
        "queries_warm": warm,
        "queries_norm": norm,
        "queries_norm_warm": norm_warm,
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        side = os.path.join(here, "plans", "bench_last_details.json")
        os.makedirs(os.path.dirname(side), exist_ok=True)
        with open(side, "w") as f:
            json.dump(details, f, indent=1, sort_keys=True)
    except OSError:
        pass  # the sidecar is diagnostics; never fail the contract line

    print(json.dumps({
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "value_warm": round(sum(warm[n] for n in HEADLINE), 3),
        # round-over-round comparability across the r5 headline expansion
        "value_19q": round(sum(timings[n] for n in HEADLINE_19Q), 3),
        "value_19q_warm": round(sum(warm[n] for n in HEADLINE_19Q), 3),
        # machine-drift-free comparison series (ratios to the same-run
        # point_lookup_raw floor, cold/cold and warm/warm; per-query
        # ratio dicts in the plans/bench_last_details.json sidecar)
        "floor": {"cold": timings["point_lookup_raw"],
                  "warm": round(floor_warm, 3)},
        "value_norm": round(sum(norm[n] for n in HEADLINE), 1),
        "value_norm_warm": round(sum(norm_warm[n] for n in HEADLINE), 1),
    }))


if __name__ == "__main__":
    main()
