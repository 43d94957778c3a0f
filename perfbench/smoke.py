"""Smoke test of the benchmark: every workload at the tiny input size,
untraced and traced, checked against BENCHMARK.json.

    python3 perfbench/smoke.py [workload ...]

Each run must exit 0, report ``correct`` with no failures, and print every
end-to-end (untraced) or per-layer (traced) metric of BENCHMARK.json by
name with its unit and a finite number; end-to-end values must be
positive. Takes about 45 s per run on a 4-core host.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check(contract: dict, workload: str, trace: int) -> list[str]:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=300)
    where = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{where}: exit {p.returncode}: {p.stderr[-2000:]}"]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    errors = []
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        errors.append(f"{where}: keys {sorted(out)}")
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        errors.append(f"{where}: correct={out['correct']} "
                      f"failed={out['failed']} attempted={out['attempted']}")
    spec = contract["per_layer" if trace else "end_to_end"]
    got = out["metrics"]
    if sorted(got) != sorted(s["name"] for s in spec):
        errors.append(f"{where}: metric names differ from BENCHMARK.json: "
                      f"{sorted(set(got) ^ {s['name'] for s in spec})}")
    for s in spec:
        m = got.get(s["name"])
        if m is None:
            continue
        v = m.get("value")
        if m.get("unit") != s["unit"]:
            errors.append(f"{where}: {s['name']} unit {m.get('unit')} != {s['unit']}")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errors.append(f"{where}: {s['name']} value {v!r}")
        elif not trace and v <= 0:
            errors.append(f"{where}: {s['name']} is {v}, must be positive")
    return errors


def main(argv: list[str]) -> int:
    contract = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = argv or [w["name"] for w in contract["workloads"]]
    errors = []
    for w in workloads:
        for trace in (0, 1):
            errs = check(contract, w, trace)
            print(f"{w} trace={trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
