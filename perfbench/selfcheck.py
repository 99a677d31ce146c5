"""Fast self-check of the benchmark on tiny generated tables (sf0.001).

    python3 perfbench/selfcheck.py

Checks that an untraced and a traced run each emit every metric named
in ``run.py`` (and in ``BENCHMARK.json`` when it is present) with its
unit, and that a deliberately wrong expected result trips the
correctness gate: ``correct`` is false and the exit code is non-zero.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import E2E, LAYERS  # noqa: E402


def _run(workload: str, trace: int, corrupt: bool = False) -> tuple[int, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001",
    ]
    if corrupt:
        cmd.append("--corrupt-expected")
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT, timeout=600)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else {}


def _declared() -> tuple[dict, dict]:
    """Metric name -> unit from BENCHMARK.json, if the checkout has one."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return {}, {}
    with open(path) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main() -> int:
    bad: list[str] = []
    e2e_decl, layer_decl = _declared()
    for workload, trace, want in (
        ("curation", 0, {**E2E, **e2e_decl}),
        ("lakehouse", 1, {**LAYERS, **layer_decl}),
    ):
        code, res = _run(workload, trace)
        if code != 0 or res.get("correct") is not True:
            bad.append(f"{workload} trace={trace}: exit {code}, result {res}")
            continue
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        if got != want:
            bad.append(f"{workload} trace={trace}: metrics {got} != {want}")
        if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
            bad.append(f"{workload} trace={trace}: non-numeric metric value")
    for workload in ("analytic", "lakehouse"):
        code, res = _run(workload, 0, corrupt=True)
        if code == 0 or res.get("correct") is not False or res.get("failed", 0) < 1:
            bad.append(f"{workload}: wrong expected result did not trip the gate ({code}, {res})")
    for line in bad:
        print("FAIL", line)
    print("selfcheck:", "ok" if not bad else f"{len(bad)} failure(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
