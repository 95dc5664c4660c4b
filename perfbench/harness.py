"""Run plumbing shared by the workloads: the per-run scratch root, the
Spark session, and the recorder that times calls and counts failures."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from collections import defaultdict
from contextlib import nullcontext
from typing import Any, Callable

from perfbench import stats

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS_DIR = os.path.join(REPO, ".perfbench_runs")
TRACE_DIR = os.path.join(REPO, ".perfbench_traces")
MIN_FREE_BYTES = 2 << 30

# Snapshot descriptors and the head pointer are fsync'ed by the engine on
# every commit; data and manifest parquet files are left to the page cache.
FLUSH_POLICY = "engine default: fsync on snapshot + head pointer, none on parquet"


class RunRoot:
    """A fresh scratch directory inside the checkout for one run's tables,
    Spark scratch and temp files. Removed on exit, also after a failure or
    SIGTERM."""

    def __init__(self) -> None:
        free = shutil.disk_usage(REPO).free
        if free < MIN_FREE_BYTES:
            raise RuntimeError(
                f"only {free >> 20} MiB free under {REPO}; need {MIN_FREE_BYTES >> 20} MiB"
            )
        self.path = os.path.join(RUNS_DIR, f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
        self.tables = os.path.join(self.path, "tables")
        self.spark_local = os.path.join(self.path, "spark-local")
        self.tmp = os.path.join(self.path, "tmp")
        for d in (self.tables, self.spark_local, self.tmp):
            os.makedirs(d)
        # Python's tempfile, PySpark's launcher and the worker processes all
        # honour TMPDIR; the JVM gets java.io.tmpdir from the session conf.
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        self._prev_term = signal.signal(signal.SIGTERM, self._on_term)

    def _on_term(self, signum, frame):  # noqa: ARG002
        raise SystemExit(128 + signum)

    def close(self) -> None:
        signal.signal(signal.SIGTERM, self._prev_term)
        for _ in range(5):  # a dying JVM may still be deleting its own files
            shutil.rmtree(self.path, ignore_errors=True)
            if not os.path.exists(self.path):
                break
            time.sleep(0.2)
        try:
            os.rmdir(RUNS_DIR)  # only succeeds when no other run is live
        except OSError:
            pass


def start_spark(root: RunRoot, cores: int):
    """The engine's own session factory, with every file the JVM writes kept
    under the run root and without console progress bars."""
    from circus_train_spark.session import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": root.spark_local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={root.tmp} -XX:-UsePerfData",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(root.path, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class OpFailed(Exception):
    """Raised by :meth:`Recorder.timed` after it has counted the failure."""


class Recorder:
    """Times calls into the engine, counts operations and failures, and
    groups timings by cycle (one pass of a workload's operation sequence)."""

    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.tracer = None  # set for traced cycles only
        self.cycle = 0
        self.measuring = False
        self.attempted = 0
        self.failed: set[tuple] = set()
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cycles: list[dict] = []  # completed measured cycles
        self._ops: list[tuple[str, float]] = []
        self._notes: dict[str, Any] = {}
        self._last: tuple | None = None

    def begin_cycle(self, index: int, measuring: bool, tracer=None) -> None:
        self.cycle, self.measuring, self.tracer = index, measuring, tracer
        self._ops, self._notes, self._last = [], {}, None

    def end_cycle(self) -> None:
        """Keep the cycle's timings; call only when every operation ran."""
        if self.measuring:
            for op, dt in self._ops:
                self.samples[op].append(dt)
            self.cycles.append(
                {
                    "cycle": self.cycle,
                    "traced": self.tracer is not None,
                    "cycle_s": sum(dt for _, dt in self._ops),
                    "ops": list(self._ops),
                    "notes": dict(self._notes),
                }
            )

    def timed(self, op: str, fn: Callable, *args, **kwargs):
        """Call ``fn`` and time it. A raised exception counts the operation
        as failed and aborts the cycle via :class:`OpFailed`."""
        key = (self.cycle, op, len(self._ops))
        if self.measuring:
            self.attempted += 1
        self._last = key
        ctx = (
            self.tracer.op(f"{self.workload}.{op}", f"c{self.cycle}.{op}.{len(self._ops)}")
            if self.tracer
            else nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with ctx:
                result = fn(*args, **kwargs)
        except Exception:
            self._fail(key, traceback.format_exc())
            raise OpFailed(op) from None
        self._ops.append((op, time.perf_counter() - t0))
        return result

    def check(self, ok: bool, what: str) -> bool:
        """Output check for the last timed operation, made outside its
        timed region."""
        if not ok:
            self._fail(self._last, f"check failed: {what}")
        return ok

    def note(self, key: str, value: Any) -> None:
        self._notes[key] = value

    def _fail(self, key: tuple | None, detail: str) -> None:
        if not self.measuring:
            raise RuntimeError(f"set-up or warm-up failed: {detail}")
        self.failed.add(key)
        self.errors.append(f"cycle {self.cycle} {key[1] if key else '?'}: {detail}")

    # -- summaries -------------------------------------------------------
    def op_median(self, op: str) -> float | None:
        return stats.median(self.samples.get(op, []))

    def cycle_median(self, traced: bool = False) -> float | None:
        return stats.median([c["cycle_s"] for c in self.cycles if c["traced"] == traced])


def steal_s() -> float | None:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (Linux ``/proc/stat``); None where that is not available."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def environment(cores: int | None, root: RunRoot, seed: int) -> dict:
    import pyarrow
    import pyspark

    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(REPO, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", REPO, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
    return {
        "seed": seed,
        "master": f"local[{cores}]" if cores else "none (no Spark session)",
        "nproc": os.cpu_count(),
        "loadavg_start": os.getloadavg(),
        "table_root": root.tables,
        "spark_local_dir": root.spark_local if cores else None,
        "flush_policy": FLUSH_POLICY,
        "git_commit": commit,
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
