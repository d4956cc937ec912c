"""Run context shared by the workloads: session set-up timing, the memory
sampler and the Spark process teardown."""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


@dataclass
class Run:
    root: str  # checkout root: the program under test and the cache live here
    work: str  # this run's scratch dir inside the checkout, removed at exit
    seed: int
    seconds: float
    tracer: object
    cpus: int = field(default_factory=lambda: os.cpu_count() or 1)
    setups: list[float] = field(default_factory=list)
    ops: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    @property
    def master(self) -> str:
        return f"local[{self.cpus}]"

    @contextmanager
    def operation(self):
        """One attempted operation; an exception inside counts it as failed
        and is reported, and the run goes on with the next one."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            traceback.print_exc()

    def check(self, errs: list[str]) -> None:
        for e in errs:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        self.errors += errs

    def open_session(self, app: str):
        """``session.get_spark`` timed as one set-up."""
        from ingestr_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app, master=self.master)
        self.setups.append(time.perf_counter() - t0)
        return spark

    def sessions(self, app: str):
        """Set up twice, the cold start that launches the JVM and one
        restart of the context in it; return the second session, open."""
        self.open_session(app).stop()
        return self.open_session(app)


def median(xs) -> float:
    return float(statistics.median(xs))


class RssSampler:
    """Peak resident memory of every process descended from this one
    (Spark's JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    @staticmethod
    def _tree_rss_kb(root_pid: int) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            pid = int(name)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * PAGE_KB
        total, todo = 0, list(children.get(root_pid, []))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo += children.get(pid, [])
        return total

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._tree_rss_kb(me))
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark() -> None:
    """Stop the active context, then the JVM gateway, and wait for the JVM
    process to end."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
