"""Benchmark entry point.

    python3 perfbench/run.py --workload gql_serving --seed 1 --seconds 20 \
        --trace 0

Run from the repository root.  Generates the workload's inputs from the
seed, sets the engine up several times (``setup_s`` is the median; the
first set-up also warms up), runs ``round(--seconds / PASS_S)`` whole
passes of the workload's closed loop on the first set-up,
checks every result, and prints one JSON line as the last line of
standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs half the passes untraced and half
traced and reports the per-layer metrics plus the tracing overhead.
"""

from __future__ import annotations

import argparse
import importlib
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from common import (ROOT, best_of_passes, confine_temp_files,  # noqa: E402
                    emit, gc_ms, median, peak_rss_mb, start_spark, stop_spark, work_dir)

MODULES = {"gql_serving": "serving", "curation_batch": "curation"}
SETUPS = 5
E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "p50_ms": "ms",
             "p90_ms": "ms", "pass_s": "s", "recall": "ratio"}


def passes(mod, seconds: float) -> int:
    """Whole passes for ``seconds``: one per ``PASS_S`` of it, at least
    one.  A count rather than a deadline keeps the sample count the same
    when the program gets slower; the run gets longer instead."""
    return max(1, round(seconds / mod.PASS_S))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MODULES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import gqlite_spark  # noqa: F401  (the program under test; fail early)

    confine_temp_files()
    import gen
    from layers import layer_metrics, per_layer
    from spans import Tracer

    mod = importlib.import_module(MODULES[args.workload])
    data = os.path.join(work_dir(args.workload), f"seed{args.seed}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    t_start = time.perf_counter()
    inputs = gen.GENERATORS[args.workload](args.seed, data)
    t_gen = time.perf_counter()
    spark = start_spark(mod.CONF)
    t_spark = time.perf_counter()
    try:
        setups, state = [], None
        for i in range(SETUPS):
            t0 = time.perf_counter()
            s = mod.setup(spark, data, inputs, i)
            setups.append(time.perf_counter() - t0)
            if i == 0:          # the first set-up also warmed up; run on it
                state = s
        gc0 = gc_ms(spark)
        if not args.trace:
            res = mod.run(state, passes(mod, args.seconds),
                          Tracer(spark, False))
        else:
            half = passes(mod, args.seconds / 2)
            plain = mod.run(state, half, Tracer(spark, False))
            tracer = Tracer(spark, True)
            res = mod.run(state, half, tracer)
        t_run = time.perf_counter()
        attempted, failed, recall = mod.check(state)
        t_check = time.perf_counter()
        if args.trace:
            per = layer_metrics(tracer, res.get("knn_rows", 0))
            per["spark.gc_ms"] = gc_ms(spark) - gc0
            traced = best_of_passes(res["passes"])
            untraced = best_of_passes(plain["passes"])
            for m in traced:
                per[f"trace_overhead.{m}"] = traced[m] - untraced[m]
            tracer.dump(os.path.join(work_dir(args.workload),
                                     f"spans-seed{args.seed}.jsonl"))
            metrics = {n: {"value": per[n], "unit": u}
                       for n, u in per_layer()}
        else:
            vals = {"setup_s": median(setups),
                    "peak_rss_mb": peak_rss_mb(spark),
                    **best_of_passes(res["passes"]), "recall": recall}
            metrics = {n: {"value": vals[n], "unit": u}
                       for n, u in E2E_UNITS.items()}
    finally:
        stop_spark(spark)
        shutil.rmtree(data, ignore_errors=True)
    print(f"perfbench {args.workload} seed={args.seed}: "
          f"generate {t_gen - t_start:.1f}s, spark {t_spark - t_gen:.1f}s, "
          f"setups {' '.join(f'{x:.2f}' for x in setups)}s, "
          f"window {t_run - t_spark - sum(setups):.1f}s, "
          f"check {t_check - t_run:.1f}s, "
          f"total {time.perf_counter() - t_start:.1f}s", file=sys.stderr)
    emit(failed == 0, attempted, failed, metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
