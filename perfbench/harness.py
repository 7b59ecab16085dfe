"""Session set-up and tear-down shared by every workload.

The set-up launches a fresh JVM through the package's ``get_spark`` and
runs the workload's warm-up. A set-up costs 15-20 s on 4 cores, so the
benchmark's run budget affords one per run. Every path the run writes
sits under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

from pyspark import SparkContext

from flink_stream_processing_spark.session import get_spark

from spans import Tracer

# A fixed heap in place of the package's 16 GB default: the whole driver
# process (heap and off-heap, about 1.6 GB resident) stays inside the
# 2048 MB process size the reference job gives its one TaskManager, and the
# run stays light on a machine shared with other work. The heap starts at
# its full size (-Xms): a heap that grows only when the collector decides to
# grow it left peak_rss_mb varying by 20 % between runs of the same inputs.
DRIVER_MEM = "1g"
DERBY = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}


@contextmanager
def phase(name: str):
    """Log how long a phase of the run took, on standard error."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        print(f"perfbench: {name} {time.perf_counter() - t0:.2f} s", file=sys.stderr)


def cores() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    trace: bool
    cores: int
    work: str
    rate: int | None = None  # open-loop events/s; None keeps the workload's own
    tracer: Tracer = field(default_factory=Tracer)
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def path(self, *parts: str) -> str:
        """A file path under the work directory; its directory exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, *parts: str) -> str:
        """A directory under the work directory, created."""
        p = os.path.join(self.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def fail(self, n: int, why: str) -> None:
        if n:
            self.failed += n
            self.problems.append(why)


def start_session(run: Run):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = run.dir("tmp")
    java_opts = f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.stream.error.file={run.path('derby.log')}"
    return get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{run.cores}]",
        shuffle_partitions=run.cores,
        extra_conf={
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": java_opts,
            # Keep every progress report, not the last 100: the output
            # checks rebuild each query's batches from them.
            "spark.sql.streaming.numRecentProgressUpdates": "1000000",
        },
    )


def stop_session(spark) -> None:
    """Stop the session and end its JVM, so no process outlives the run."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def timed_setup(run: Run, warm_up: Callable):
    """Start a session in a fresh JVM and warm the workload up; ``setup_s``
    is the time until the warm-up's first result."""
    t0 = time.perf_counter()
    with run.tracer.span("session.get_spark", "session"):
        spark = start_session(run)
    if run.trace:
        run.metric("session.start_s", time.perf_counter() - t0, "s")
    warm_up(spark)
    run.metric("setup_s", time.perf_counter() - t0, "s")
    return spark


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
