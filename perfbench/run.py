"""Product-path benchmark: daily sync with a CDC follower, and analytics.

Run from the repository root:

    python3 perfbench/run.py --workload daily_sync --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 1

Every workload is a closed loop with one caller. Inputs are generated from
``--seed`` into ``.perfbench_work/`` before timing starts; the engine only
sees those files. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a JSON report with the workload's input properties and its
workload-specific figures. The exit code is non-zero when any output fails
its correctness check. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_sync", "analytics")
WORK = os.path.join(ROOT, ".perfbench_work")


class ConfigError(ValueError):
    """A bad argument or environment setting; the run stops before it starts."""


def _int(name: str, raw, lo: int, hi: int) -> int:
    try:
        v = int(raw)
    except (TypeError, ValueError):
        raise ConfigError(f"--{name} must be a whole number, got {raw!r}") from None
    if not lo <= v <= hi:
        raise ConfigError(f"--{name} must be in [{lo}, {hi}], got {v}")
    return v


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True)
    p.add_argument("--seconds", required=True)
    p.add_argument("--trace", default="0")
    p.add_argument("--cores", default=None,
                   help="Spark local[n] cores (default: min(4, cores available))")
    p.add_argument("--scale", default="1",
                   help="input size multiplier in (0, 1]; below 1 only for smoke tests")
    a = p.parse_args(argv)
    a.seed = _int("seed", a.seed, 0, 2**31 - 1)
    a.seconds = _int("seconds", a.seconds, 1, 600)
    a.trace = _int("trace", a.trace, 0, 1)
    avail = len(os.sched_getaffinity(0))
    a.cores = _int("cores", a.cores, 1, avail) if a.cores is not None else min(4, avail)
    try:
        a.scale = float(a.scale)
    except ValueError:
        raise ConfigError(f"--scale must be a number, got {a.scale!r}") from None
    if not 0 < a.scale <= 1:
        raise ConfigError(f"--scale must be in (0, 1], got {a.scale}")
    pkg = os.path.join(ROOT, "etl_mssql_to_postgres_dailysync_spark", "__init__.py")
    if not (os.path.isfile(pkg) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        raise ConfigError(f"engine sources not found under {ROOT}; run from a full checkout")
    return a


def main(argv: list[str]) -> int:
    try:
        args = parse_args(argv)
    except ConfigError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    from core import Bench

    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    workload = importlib.import_module(f"wl_{args.workload}")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    bench = Bench(args, WORK)
    try:
        result, report = workload.run(bench)
    finally:
        try:
            bench.stop()
        finally:
            shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report, sort_keys=True, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
