"""Self-test of the benchmark's own pieces (no Spark needed).

    python3 perfbench/selftest.py

Checks that every generator gives byte-identical files for the same seed
and different files for another seed, and that BENCHMARK.json names
exactly the metrics the benchmark prints.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from common import ROOT, work_dir  # noqa: E402
from layers import per_layer  # noqa: E402


def _digest(path: str) -> dict:
    out = {}
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def check_generators() -> list:
    errors = []
    base = work_dir("selftest")
    try:
        for name, fn in gen.GENERATORS.items():
            digests = []
            for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                d = os.path.join(base, f"{name}-{tag}")
                os.makedirs(d)
                fn(seed, d)
                digests.append(_digest(d))
            if digests[0] != digests[1]:
                errors.append(f"{name}: same seed, different bytes")
            if digests[0] == digests[2]:
                errors.append(f"{name}: different seeds, same bytes")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return errors


def check_benchmark_json() -> list:
    from run import E2E_UNITS, MODULES

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errors = []
    if [w["name"] for w in spec["workloads"]] != list(MODULES):
        errors.append("workloads differ from run.MODULES")
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    if e2e != E2E_UNITS:
        errors.append("end_to_end metrics differ from run.E2E_UNITS")
    layer = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    if layer != per_layer():
        errors.append("per_layer metrics differ from layers.per_layer()")
    return errors


if __name__ == "__main__":
    problems = check_generators() + check_benchmark_json()
    for p in problems:
        print("FAIL", p)
    print("selftest", "FAILED" if problems else "OK")
    sys.exit(1 if problems else 0)
