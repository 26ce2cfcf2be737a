"""Shared run state: the pinned Spark session, the timed-pass loop and
the result record every workload fills in."""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from tracing import StageCounters, Tracer, jvm_gc_ms, jvm_pid, peak_rss_mb

CORES = 4


@contextmanager
def timed():
    """Yields a record that gets the block's ``wall`` seconds on exit."""
    rec: dict[str, float] = {}
    t0 = time.perf_counter()
    try:
        yield rec
    finally:
        rec["wall"] = time.perf_counter() - t0


@dataclass
class Run:
    """One benchmark process: arguments, work directory and outcome."""

    workload: str
    seed: int
    seconds: int
    traced: bool
    work: str
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    spark: object = None

    def check(self, ok: bool, what: str) -> None:
        """Count one operation; a false ``ok`` is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def permutation(self, items: list[str], pass_no: int) -> list[str]:
        """Seed-keyed order of ``items`` for one pass."""
        key = lambda n: hashlib.sha256(f"{self.seed}:{pass_no}:{n}".encode()).digest()  # noqa: E731
        return sorted(items, key=key)


def start_session(run: Run):
    """The program's session factory with every knob pinned here, so no
    caller environment reaches it. Its wall time goes to
    ``run.layer["session.start_s"]``."""
    tmp = os.path.join(run.work, "tmp")
    with timed() as seg:
        from automated_data_pipeline_python_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{run.workload}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(run.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -Xmn256m",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    run.spark = spark
    run.layer["session.start_s"] = seg["wall"]
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits on stdin EOF)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def timed_passes(run: Run, one_pass, passes: int) -> tuple[list[float], list[float]]:
    """Call ``one_pass(pass_no, traced) -> seconds`` ``passes`` times, and
    again while less than ``run.seconds`` of timed work has accumulated
    (at the committed ``run_seconds`` of 1 the count alone decides, so a
    faster program is not also a warmer one). A traced run orders its
    untraced (A) and traced (B) passes A B B A, A B B A, ..., with A the
    untraced kind on even seeds and the traced kind on odd ones, so the
    warm-up trend cancels out of ``trace_overhead_frac``. Returns the
    pass times of each kind."""
    plain: list[float] = []
    traced: list[float] = []
    pass_no = 0
    while pass_no < passes or sum(plain) + sum(traced) < run.seconds:
        with_trace = run.traced and (pass_no % 4 in (1, 2)) != (run.seed % 2 == 1)
        took = one_pass(pass_no, with_trace)
        (traced if with_trace else plain).append(took)
        print(f"pass {pass_no}{' traced' if with_trace else ''}: {took:.3f} s", file=sys.stderr)
        pass_no += 1
    return plain, traced


class PassProbe:
    """Per traced pass: JVM GC time and Spark stage counters, for the
    core-utilisation and GC layer metrics."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.stages = StageCounters(spark)

    def begin(self) -> None:
        self.stages.take()
        self._gc0 = jvm_gc_ms(self.spark)

    def end(self, wall_s: float) -> dict:
        st = self.stages.take()
        return {
            "spark.core_util": st["executorRunTime"] / 1000.0 / (wall_s * CORES),
            "spark.jvm_gc_s": (jvm_gc_ms(self.spark) - self._gc0) / 1000.0,
        }


def record_peak_rss(run: Run) -> None:
    """Peak resident memory of this process plus the Spark JVM, read
    before the output checks so it covers the program, not the oracle."""
    py, jvm = peak_rss_mb([os.getpid()]), peak_rss_mb([jvm_pid(run.spark)])
    print(f"peak rss: python {py:.1f} MiB, jvm {jvm:.1f} MiB", file=sys.stderr)
    run.layer["peak_rss_mb"] = py + jvm


def end_to_end(run: Run, setup_s: float, passes: list[float]) -> dict:
    """The user-facing metrics."""
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "peak_rss_mb": run.layer["peak_rss_mb"],
        "ok_frac": (run.attempted - run.failed) / run.attempted,
    }
