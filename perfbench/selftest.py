"""Self-test of the benchmark: runs every workload in smoke mode (tiny
inputs, the same code path), untraced and traced, and checks the result
line against BENCHMARK.json. Then checks that a copy holding only
BENCHMARK.json and perfbench/ exits non-zero without a result.

    python3 perfbench/selftest.py        # about five minutes on 4 cores

Not part of the pytest suite: it starts several Spark sessions.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(p: subprocess.CompletedProcess, expected: dict[str, str], positive: bool) -> list[str]:
    errs = []
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-1500:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errs.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                    f"failed={res.get('failed')}: "
                    + "; ".join(l for l in p.stdout.splitlines() if "FAILED" in l))
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != expected:
        errs.append(f"metrics {sorted(set(got) ^ set(expected))} differ from BENCHMARK.json")
    for k, v in res.get("metrics", {}).items():
        x = v.get("value")
        if not isinstance(x, (int, float)) or not math.isfinite(x) or (positive and x <= 0):
            errs.append(f"{k} = {x!r}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            expected = {m["name"]: m["unit"] for m in bench[key]}
            errs = check_result(_run(ROOT, w["name"], trace), expected, positive=trace == 0)
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            failures += [f"{w['name']} trace={trace}: {e}" for e in errs]

    bare = os.path.join(ROOT, ".perfbench-run", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy2(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, bench["workloads"][0]["name"], 0)
        last = p.stdout.strip().splitlines()[-1:] if p.stdout.strip() else []
        ok = p.returncode != 0 and not any(l.startswith("{") for l in last)
        print(f"bare checkout refuses: {'ok' if ok else 'FAILED'}")
        if not ok:
            failures.append(f"bare checkout: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAILED", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
