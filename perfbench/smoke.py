"""Smoke test of the benchmark at a tiny size (the sf0.001 tables, a 500-case
tenant CSV). For each workload the runner knows (the ones BENCHMARK.json
declares and ``curation``) it checks that

- an untraced run emits every end-to-end metric of BENCHMARK.json and fails
  no operation;
- a traced run emits every per-layer metric of BENCHMARK.json;
- a run against a deliberately wrong reference reports failed operations.

    python3 perfbench/smoke.py [workload ...]

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from run import WORKLOADS

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, corrupt: bool) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
        "--data", str(HERE / "data" / "sf0.001"), "--cases", "500",
    ] + (["--corrupt-reference"] if corrupt else [])
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1])


def check(workload: str) -> list[str]:
    problems = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result = _run(workload, trace, corrupt=False)
        missing = {m["name"] for m in SPEC[key]} - set(result["metrics"])
        if missing:
            problems.append(f"{workload} trace={trace}: missing metrics {sorted(missing)}")
        if result["failed"] or not result["correct"]:
            problems.append(f"{workload} trace={trace}: {result['failed']} failed operations")
    wrong = _run(workload, 0, corrupt=True)
    if not wrong["failed"] / wrong["attempted"] > 0:
        problems.append(f"{workload}: a wrong reference left fail_frac at 0")
    return problems


def main(argv: list[str]) -> int:
    names = argv or list(WORKLOADS)
    problems = []
    for name in names:
        found = check(name)
        print(f"{name}: {'ok' if not found else 'FAILED'}", flush=True)
        problems += found
    for p in problems:
        print(p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
