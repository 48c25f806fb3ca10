"""Pipeline benchmark for unstructured_spark.

    python3 perfbench/run.py --workload ingest|corpus|stream --seed N \
        --seconds S --trace 0|1

Run from the repository root. With ``--trace 0`` the last line of
standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run. The line
before it records the host (cores, ``local[N]``, load average) and run
details. Exit status is 0 only when every output check passed. See
perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the end-to-end metrics of BENCHMARK.json
END_TO_END = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}
#: wall-time figures, printed on the context line: on an overcommitted
#: virtual machine their run-to-run spread exceeds any bound the
#: benchmark may set (see perfbench/README.md)
WALL = {"docs_per_s": "1/s", "latency_p50_s": "s", "latency_p95_s": "s"}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "corpus", "stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "unstructured_spark", "__init__.py")):
        print("perfbench: unstructured_spark/ is not next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in
    # the work directory; workers import the library from ROOT
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from perfbench import harness, procstat, workloads

    ctx = harness.context(args.workload, args.seed, args.seconds, bool(args.trace))
    steal0, total0 = procstat.host_ticks()
    bench = harness.Bench(work, bool(args.trace))
    try:
        res = workloads.WORKLOADS[args.workload](bench, args.seed, args.seconds, bool(args.trace))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    units = workloads.PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(res.metrics.get(k, 0.0)), "unit": u} for k, u in units.items()}
    correct = not res.problems
    steal1, total1 = procstat.host_ticks()
    if not args.trace:
        ctx["wall"] = {k: {"value": res.metrics[k], "unit": u} for k, u in WALL.items()}
    ctx.update(res.extra, failed_frac=res.failed / res.attempted if res.attempted else 0.0,
               host_steal_frac=round((steal1 - steal0) / max(1, total1 - total0), 3),
               elapsed_s=round(time.perf_counter() - t_start, 1))
    if res.problems:
        ctx["problems"] = {str(k): v for k, v in list(res.problems.items())[:20]}
    print(json.dumps(ctx))
    print(json.dumps({"correct": correct, "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
