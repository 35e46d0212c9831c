"""The benchmark's own self-test, at tiny input sizes (a few minutes).

    python3 perfbench/selftest.py

Run it from the repository root. For each workload it checks that

- an untraced run emits exactly the end-to-end metrics of BENCHMARK.json,
  each with its unit, and that a corrupted expected answer counts as a
  failed op;
- a traced run emits exactly the per-layer metrics, each with its unit,
  with no failed op;
- two traced runs of one seed give identical job, task, superstep and
  leaked-cache counts.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import sys

TINY = {
    "repo_iterative": (300, 0, 0),
    "copurchase_mining": (0, 120, 40),
}
SEED = 5


def _units(metrics: dict) -> dict:
    return {k: v["unit"] for k, v in metrics.items()}


def _counts(metrics: dict) -> dict:
    return {
        k: v["value"]
        for k, v in metrics.items()
        if k.endswith((".jobs", ".tasks", ".supersteps")) or k == "cache.leaked"
    }


def _expect(cond: bool, what: str) -> None:
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"selftest ok: {what}")


def main() -> None:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(1, root)
    import run

    run.setup_env()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    with run.owned_processes():
        for w in [x["name"] for x in spec["workloads"]]:
            _check_workload(run, w, e2e, layer)


def _check_workload(run, w: str, e2e: dict, layer: dict) -> None:
    bad = run.run(w, SEED, trace=False, sizes=TINY[w], corrupt=True)
    _expect(_units(bad["metrics"]) == e2e, f"{w}: end-to-end metrics and units")
    _expect(bad["failed"] >= 1 and not bad["correct"], f"{w}: corrupted answer fails")
    a = run.run(w, SEED, trace=True, sizes=TINY[w])
    b = run.run(w, SEED, trace=True, sizes=TINY[w])
    _expect(_units(a["metrics"]) == layer, f"{w}: per-layer metrics and units")
    _expect(a["failed"] == 0 and b["failed"] == 0, f"{w}: traced runs pass their checks")
    diff = {
        k: (v, _counts(b["metrics"])[k])
        for k, v in _counts(a["metrics"]).items()
        if v != _counts(b["metrics"])[k]
    }
    _expect(not diff, f"{w}: traced counts repeat" + (f", except {diff}" if diff else ""))


if __name__ == "__main__":
    main()
