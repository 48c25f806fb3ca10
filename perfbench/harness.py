"""Session set-up, worker warm-up and the timed loop shared by the
workloads."""

from __future__ import annotations

import functools
import os
import statistics
import time
from typing import Callable, Iterator

from perfbench import procstat

SETUP_ROUNDS = 3


def cores() -> int:
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Bench:
    """One benchmark process: its work directory, its Spark session and
    the set-up timings of every round."""

    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.event_dir = os.path.join(work, "eventlog")
        self.spark = None
        self.launch: dict[str, float] = {}
        self.rounds: list[dict[str, float]] = []
        for d in ("local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(work, d), exist_ok=True)

    def _conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # compiler threads that outlive the run keep JIT CPU apart
            # from work CPU (see procstat.cpu_s)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
                                             " -XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        return conf

    def _launch(self) -> None:
        """Start the driver JVM with the session's launch options."""
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(
            self._conf().items()))

    def _start(self):
        from unstructured_spark.session import get_spark

        n = cores()
        return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n,
                         extra_conf=self._conf())

    def setup(self, formats: tuple[str, ...],
              index_build: Callable[[object], object] | None = None):
        """Launch the driver JVM, then run SETUP_ROUNDS set-ups — session
        start, worker warm-up, index build — stopping the session between
        rounds, so every round starts a fresh context and fresh Python
        workers. Each part is timed in wall seconds and in process-tree
        CPU-seconds (less JIT, see procstat.cpu_s). Returns what the last round's ``index_build``
        returned."""
        c0, t0 = procstat.cpu_s()[0], time.perf_counter()
        self._launch()
        self.launch = {"wall": time.perf_counter() - t0, "cpu": procstat.cpu_s()[0] - c0}
        built = None
        for _ in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            marks = [(time.perf_counter(), procstat.cpu_s()[0])]
            self.spark = self._start()
            marks.append((time.perf_counter(), procstat.cpu_s()[0]))
            warm_workers(self.spark, formats)
            marks.append((time.perf_counter(), procstat.cpu_s()[0]))
            built = index_build(self.spark) if index_build else None
            marks.append((time.perf_counter(), procstat.cpu_s()[0]))
            r = {}
            for part, (a, b) in zip(("session", "worker_warm", "index_build", "setup"),
                                    [*zip(marks, marks[1:]), (marks[0], marks[-1])]):
                r[f"{part}_wall"], r[f"{part}_cpu"] = b[0] - a[0], b[1] - a[1]
            self.rounds.append(r)
        return built

    def setup_median(self, key: str) -> float:
        """Median over the rounds of ``key`` (e.g. ``setup_cpu``); the
        JVM launch, paid once, is added to every round's total."""
        med = statistics.median(r[key] for r in self.rounds)
        if key.startswith("setup_"):
            med += self.launch[key.split("_")[1]]
        return med

    def close(self) -> None:
        """Stop the session, then the JVM pyspark launched, and wait for it."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _warm(formats: tuple[str, ...], batches: Iterator) -> Iterator:
    """Import the parser stack in a Python worker and parse one small
    document of each of ``formats``, so the first timed run finds warm
    workers."""
    from unstructured_spark.operators.embed import HashingEncoder
    from unstructured_spark.parsers.dispatch import partition_bytes

    from perfbench import gen

    rng = gen._rng("warm", 0)
    for fmt in formats:
        partition_bytes(gen.BUILDERS[fmt](gen.sections(rng, 1), rng), filename=f"w.{fmt}")
    HashingEncoder().embed_documents(["warm up"])
    yield from batches


def warm_workers(spark, formats: tuple[str, ...]) -> None:
    n = cores()
    spark.range(0, n, 1, n).mapInPandas(functools.partial(_warm, formats), "id long").count()


class Meter:
    """Wall seconds and CPU-seconds of one run: the process tree's less
    JIT compiler threads (summed in ``jit_s``) and less the ``sampler``
    thread that watches the run."""

    def __init__(self, sampler: procstat.Sampler | None):
        self.sampler = sampler
        self.jit_s = 0.0

    def _cpu(self) -> tuple[float, float]:
        work, jit = procstat.cpu_s()
        return work - (self.sampler.cpu_s() if self.sampler else 0.0), jit

    def start(self) -> None:
        (self.c0, self.j0), self.t0 = self._cpu(), time.perf_counter()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        c1, j1 = self._cpu()
        self.jit_s += j1 - self.j0
        return wall, c1 - self.c0


def timed_loop(seconds: float, run: Callable[[], None], meter: Meter) -> list[tuple[float, float]]:
    """Run ``run`` back to back until ``seconds`` have passed (at least
    once). Returns (wall_s, cpu_s) per run, as ``meter`` measures them."""
    out = []
    deadline = time.perf_counter() + seconds
    while True:
        meter.start()
        run()
        out.append(meter.stop())
        if time.perf_counter() >= deadline:
            return out


def context(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    n = cores()
    return {"workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "cores": n, "master": f"local[{n}]",
            "loadavg": [round(x, 2) for x in os.getloadavg()]}
