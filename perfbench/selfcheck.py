"""Self-check of the benchmark at tiny size.

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json with ``--tiny`` (sf0.001, a
4-team league, one pass), traced and untraced, and asserts that the last
line of each run is the contract's JSON object, that every named metric
is emitted with its unit, and that no op failed. It also checks that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and perfbench/. Exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for traced in (0, 1):
            want = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
            p = _run(ROOT, "--workload", w["name"], "--seed", "1", "--seconds", "1",
                     "--trace", str(traced), "--tiny")
            tag = f"{w['name']} trace={traced}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
                continue
            out = json.loads(p.stdout.strip().splitlines()[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                problems.append(f"{tag}: correct={out['correct']} failed={out['failed']}/{out['attempted']}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics {sorted(set(got) ^ set(want))} or units differ")
            if not all(isinstance(v["value"], (int, float)) for v in out["metrics"].values()):
                problems.append(f"{tag}: non-numeric metric value")
            print(f"{tag}: {len(got)} metrics, {out['attempted']} ops, failed {out['failed']}", flush=True)
    bare = os.path.join(ROOT, ".perfbench", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = _run(bare, "--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0")
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    shutil.rmtree(bare)
    for msg in problems:
        print("FAIL", msg)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
