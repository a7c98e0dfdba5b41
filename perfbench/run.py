"""Benchmark entry point.

    python3 perfbench/run.py --workload adhoc --seed 1 --seconds 15 --trace 0

Runs one workload of ``BENCHMARK.json`` in this process and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it is the full
run record (per-op latencies, passes, host calibration, failures), which
is also appended to ``.perfbench/ledger.jsonl``; spans go to
``.perfbench/traces/``.

Everything the run writes stays under ``.perfbench/`` at the root of the
checkout, and its scratch directory is removed at the end.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-check size (see selfcheck.py)")
    return p.parse_args(argv)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def _environment(run_dir: str) -> None:
    """Keep every file the engine writes inside the run directory."""
    for d in ("tmp", "local", "stream"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    os.environ.update(
        {
            "TZ": "UTC",
            "TMPDIR": os.path.join(run_dir, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_STREAM_CKPT_DIR": os.path.join(run_dir, "stream"),
            "SPARK_GRAFT_SF_DIR": os.path.join(run_dir, "data"),
            "PYTHONWARNINGS": "ignore::FutureWarning",
        }
    )
    time.tzset()


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [HERE, ROOT]
    from workloads import CORES, WORKLOADS, tiny

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if importlib.util.find_spec("airflow_baseball_spark") is None:
        print("package airflow_baseball_spark not found next to perfbench/", file=sys.stderr)
        return 2
    units = _units()
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    _environment(run_dir)
    import engine  # imports pyspark; the package under test is imported later

    try:
        run = engine.Run(
            spec=tiny(WORKLOADS[args.workload]) if args.tiny else WORKLOADS[args.workload],
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            root=run_dir,
            cores=min(CORES, len(os.sched_getaffinity(0))),
            trace_path=os.path.join(
                WORK, "traces", f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.jsonl"
            ),
        )
        result = engine.execute(run)
    finally:
        engine.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = result["per_layer"] if args.trace else result["end_to_end"]
    failed = len({(f["op"], f.get("pass")) for f in run.failures})
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": run.cores,
        "loop": run.spec.loop,
        "inputs": run.spec.inputs,
        "seed_controls": run.spec.seed_controls,
        "fail_ratio": failed / run.attempted,
        "failures": run.failures,
        **run.record,
        "end_to_end": result["end_to_end"],
        "per_layer": result["per_layer"],
    }
    line = json.dumps(record)
    with open(os.path.join(WORK, "ledger.jsonl"), "a") as f:
        f.write(line + "\n")
    print(line)
    print(
        json.dumps(
            {
                "correct": not run.failures,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
