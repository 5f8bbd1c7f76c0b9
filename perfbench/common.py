"""What both workloads share: the run context, session life cycle and stats."""

from __future__ import annotations

import os
import resource
from dataclasses import dataclass, field
from time import perf_counter

# Heap cap of the one local-mode JVM; the engine's own default (16g) is sized
# for a dedicated box, and the benchmark shares its machine.  Only the cap is
# set: the heap grows as the engine needs it, so peak RSS follows the engine.
DRIVER_MEMORY = "2g"


@dataclass
class Run:
    """One benchmark invocation: arguments, directories and what it measured."""

    workload: str
    seed: int
    trace: bool
    work: str                                     # scratch directory, removed at the end
    spark_conf: dict = field(default_factory=dict)
    spark: object = None
    tracer: object = None                         # spans.Tracer in a traced run
    attempted: int = 0
    failures: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)   # end-to-end metric -> value
    report: dict = field(default_factory=dict)    # extra figures for humans

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        """Count one checked operation; record it as failed unless ``ok``."""
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}" if detail else what)

    def build_session(self):
        """Build the engine's session with the benchmark's fixed confs."""
        from asterlake.session import build_session

        os.environ["ASTERLAKE_DRIVER_MEMORY"] = DRIVER_MEMORY
        local = os.path.join(self.work, "spark-local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local, exist_ok=True)
        os.makedirs(tmp, exist_ok=True)
        self.spark_conf = {
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        }
        self.spark = build_session(app_name=f"perfbench-{self.workload}",
                                   extra_conf=self.spark_conf)
        return self.spark

    def peak_rss_mb(self) -> float:
        """JVM high-water RSS plus this Python process's maximum RSS."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024

    def stop(self) -> None:
        """Stop Spark and wait until its JVM has exited."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None


def timed(fn, *args, **kwargs):
    """``(seconds, result)`` of one call."""
    t = perf_counter()
    out = fn(*args, **kwargs)
    return perf_counter() - t, out


def tail(values) -> float:
    """Highest order statistic with at least ten samples above it."""
    ordered = sorted(values)
    if len(ordered) < 11:
        raise ValueError(f"{len(ordered)} samples: too few for a tail with ten above")
    return ordered[-11]
