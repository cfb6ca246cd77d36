#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at sf0.001, untraced and
traced, must exit 0, print every metric BENCHMARK.json names with its
unit, and read fail_frac = 0.

    python3 perfbench/smoke.py [workload ...]

Defaults to the workloads in BENCHMARK.json plus ``dashboard``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]] + ["dashboard"]
    problems = []
    for wl in dict.fromkeys(workloads):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"),
                "--workload", wl, "--seed", "1", "--seconds", "1",
                "--trace", str(trace), "--sf", "0.001",
            ]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            where = f"{wl} trace={trace}"
            before = len(problems)
            if p.returncode != 0:
                problems.append(f"{where}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            lines = p.stdout.strip().splitlines()
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            for m in spec[key]:
                got = result["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    problems.append(f"{where}: metric {m['name']} missing or not in {m['unit']}")
            if detail["fail_frac"]["value"] != 0 or not result["correct"]:
                problems.append(f"{where}: fail_frac {detail['fail_frac']['value']}: {detail.get('failures')}")
            print(f"{where}: ok={len(problems) == before} attempted={result['attempted']}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
