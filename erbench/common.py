"""Session set-up, spans and per-unit accounting shared by the workloads."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

from procstat import tree_stats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
# driver memory for the whole local[N] JVM: the package default (32g) is
# twice this 15 GB machine; 3g holds every workload here with room to spare
DRIVER_MEMORY = "3g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def prepare_workdir(name: str) -> str:
    """A fresh scratch directory for one run, inside the checkout."""
    work = os.path.join(REPO_ROOT, ".erbench_work", name)
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "eventlog", "local", "data"):
        os.makedirs(os.path.join(work, sub))
    return work


def start_session(work: str):
    """``get_spark`` on ``local[nproc]`` with the event log on and every
    scratch path under ``work``. Returns the session."""
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # Python workers import the package by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO_ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from nomenklatura_spark.session import get_spark

    n = cpus()
    return get_spark(
        "erbench",
        cpus=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit (it exits when its
    stdin closes), so no process of the run outlives it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans with wall-clock (epoch) bounds, so Spark jobs can
    be attributed to them by submission time. When ``enabled`` is false,
    ``span`` only times the outermost (unit) level."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, always: bool = False, cpu: bool = False):
        """Context manager for one span. ``always`` records it even when
        tracing is off; ``cpu`` adds the process tree's CPU seconds over
        the span as ``counts["cpu_s"]``."""
        return _SpanCtx(self, name, always or self.enabled, cpu)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, record: bool,
                 cpu: bool) -> None:
        self.tracer, self.name, self.record, self.cpu = tracer, name, record, cpu
        self.span: Span | None = None
        self.cpu0 = 0.0

    def __enter__(self) -> Span:
        t = self.tracer
        self.span = Span(self.name, 0.0,
                         parent=t._stack[-1] if t._stack else None)
        if self.record:
            t.spans.append(self.span)
            t._stack.append(len(t.spans) - 1)
        if self.cpu:
            self.cpu0 = tree_stats()["cpu_s"]
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        if self.cpu:
            self.span.counts["cpu_s"] = tree_stats()["cpu_s"] - self.cpu0
        if self.record:
            self.tracer._stack.pop()


def log_unit(i: int, span: Span) -> None:
    print(f"erbench: unit {i} {span.wall:.2f} s "
          f"cpu {span.counts.get('cpu_s', 0):.1f} s", file=sys.stderr)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def die(msg: str) -> None:
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(2)
