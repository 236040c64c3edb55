"""Shared pieces of the benchmark: the work directory, the Spark session,
percentiles, memory high-water marks and the result line."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def work_dir(*parts: str) -> str:
    path = os.path.join(WORK, *parts)
    os.makedirs(path, exist_ok=True)
    return path


def confine_temp_files() -> None:
    """Point every temp-file user (Python, the Spark launcher, the JVM)
    at the work directory, so a run writes nothing outside the checkout.
    Must run before pyspark starts its JVM."""
    tmp = work_dir("tmp")
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = tmp


def start_spark(extra_conf: dict | None = None):
    """One process on local[nproc], as the engine's own factory builds
    it, with a 2 GB driver heap and every scratch path inside the work
    directory."""
    from gqlite_spark import get_spark

    tmp = work_dir("tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": work_dir("spark-local"),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        # a fixed, pre-touched heap: the JVM's resident size then does not
        # depend on when the collector last ran, so peak_rss_mb moves only
        # with memory beyond the heap (Python, metaspace, native buffers).
        # -UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData",
        # spans read job and stage data from the status store as soon as
        # they end; keep enough history for the longest traced call
        "spark.ui.retainedJobs": "5000",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedStages": "10000",
    }
    conf.update(extra_conf or {})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def hwm_kb(pid: int | str) -> int:
    """VmHWM (peak resident set) of a process, in kB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Driver Python plus JVM resident high-water mark."""
    return (hwm_kb("self") + hwm_kb(jvm_pid(spark))) / 1024.0


def gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(max(0, b.getCollectionTime())
                     for b in mf.getGarbageCollectorMXBeans()))


def pct(values, q: float) -> float:
    """Percentile by linear interpolation (q in 0..100)."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def best_of_passes(passes) -> dict:
    """``p50_ms``, ``p90_ms`` and ``pass_s`` of a run from its passes,
    each given as (seconds, {statement slot: latency in ms}).  Every pass
    runs the same slots, so each slot's latency is its lowest over the
    passes, and the percentiles are taken over the slots: a stall of the
    shared host slows a few statements of one pass, but cannot make any
    statement faster."""
    best: dict = {}
    for _, lat in passes:
        for slot, ms in lat.items():
            best[slot] = min(ms, best.get(slot, ms))
    return {"p50_ms": pct(best.values(), 50),
            "p90_ms": pct(best.values(), 90),
            "pass_s": min(t for t, _ in passes)}


def note_failure(what: str, detail: str = "") -> None:
    """Report one failed or wrong operation on standard error."""
    print(f"perfbench: FAILED {what} {detail}"[:500], file=sys.stderr)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    sys.stdout.flush()
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))
    sys.stdout.flush()
