"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The workload's inputs are generated
from ``--seed`` (``perfbench/gen.py``), the engine is driven through its
public functions in one process on ``local[nproc]``, every output the
workload can check is checked, and the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, taken from spans, Spark job groups and the event
log (see ``perfbench/README.md``). Inputs are generated into the run's own
directory and removed with it. The full record of a run (host, input hash,
samples, per-panel and per-query breakdown, spans) is written to
``perfbench/.work/results/``. The exit code is 0 only when every check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("dashboard", "star_batch", "corpus_dedup")


def _pin_environment(run_dir: str) -> int:
    """Pin the host-dependent settings before the JVM starts: cores from
    the CPU affinity mask (what ``nproc`` prints), shuffle-partition count
    from the same number, and every temporary directory inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    # A 4g driver heap instead of the engine's 8g default: with 8g, the
    # heap still live after a full GC at the end of a dashboard run comes
    # out at either about 240 or about 370 MB, which swamps retained_mb.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under the system /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return cpus


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "network_iq_spark", "__init__.py")):
        print(
            f"perfbench: no network_iq_spark package under {ROOT}; run from a "
            "source checkout",
            file=sys.stderr,
        )
        return 2
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    cpus = _pin_environment(run_dir)
    sys.path.insert(0, ROOT)
    from perfbench import workloads  # noqa: E402  (imports pyspark: after the pin)

    try:
        result = workloads.run(
            args.workload,
            seed=args.seed,
            seconds=args.seconds,
            traced=bool(args.trace),
            cpus=cpus,
            run_dir=run_dir,
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = result.end_to_end() if not args.trace else result.per_layer()
    line = {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    artifact = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(artifact, "w") as f:
        json.dump(
            {**result.record(), "wall_s": time.perf_counter() - t_start, "result": line},
            f,
            indent=1,
        )
    print(f"perfbench: record written to {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    for msg in result.errors:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
