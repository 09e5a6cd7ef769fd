"""Benchmark plumbing shared by the workloads: the isolated temp root, the
Spark session, spans and job groups, correctness bookkeeping, and the
peak-RSS sampler over this process tree."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

CORES = 4
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES
DRIVER_MEMORY = "2g"


def load_spec(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def median(xs) -> float:
    return float(statistics.median(xs))


def timing_summary(xs: list[float]) -> dict:
    """Median, the sample count and the highest percentile that keeps at
    least ten samples above it (none below 20 samples)."""
    xs = sorted(xs)
    out = {"n": len(xs), "median": median(xs)}
    n = len(xs)
    for p in (99, 95, 90):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p}"] = xs[min(n - 1, int(n * p / 100))]
            break
    return out


@dataclass
class Outcome:
    metrics: dict
    details: dict
    summary: list = field(default_factory=list)


class OperationFailed(RuntimeError):
    """A timed operation raised; the measurement loop stops."""


# ------------------------------------------------------------------ RSS
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_bytes(pid: int) -> int:
    """Summed proportional set size of pid and its descendants: resident
    pages, with pages shared between processes (forked Python workers)
    split among them instead of counted once per process."""
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak of the summed resident memory (PSS) of this process, the
    driver JVM and the Python workers, sampled from /proc every
    `interval` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def start(self):
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=10)
        return self.peak / 2**20


# ---------------------------------------------------------------- bench
class Bench:
    """Per-run state: temp root, session, spans, check counters."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.eventlog_dir: str | None = None
        self.tracing = False  # job groups on (traced pass only)
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, dict] = {}
        self.spans: list[tuple[str, float, float]] = []
        self.stream_groups: dict[str, str] = {}
        self._sessions = 0
        # every temp file Python, Spark and the JVM write stays under root
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        self.rss = RssSampler()

    def path(self, *parts: str) -> str:
        """A directory under root, created if missing."""
        p = os.path.join(self.root, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    # ------------------------------------------------------------ session
    def start_session(self, eventlog: bool = False) -> float:
        """(Re)start the Spark session through the program's own builder;
        return its wall time."""
        from gliner_spark.plans.session import build_session

        self._sessions += 1
        conf = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": self.path("spark-local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('jvm-tmp')}",
        }
        if eventlog:
            self.eventlog_dir = self.path("eventlog", str(self._sessions))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                "spark.eventLog.compress": "false",
            })
        if not self.rss._thread.is_alive() and self.rss.peak == 0:
            self.rss.start()
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}", master=MASTER,
            shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, shut the JVM down and wait for every child process."""
        self.rss.stop()
        self.stop_session()
        try:
            from pyspark import SparkContext
        except ImportError:
            return
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # gateway already gone; only the process matters
                pass
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for p in descendants(os.getpid()):
            try:
                os.kill(p, 9)
            except OSError:
                pass

    # ------------------------------------------------- spans, job groups
    @contextlib.contextmanager
    def span(self, layer: str):
        """Time a call into one layer; in the traced pass also tag its
        Spark jobs with the layer as job group."""
        sc = self.spark.sparkContext
        if self.tracing:
            sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.spans.append((layer, t0, t1))
            if self.tracing:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def timed(self, layer: str, fn):
        """Run one counted operation under a span → (wall_s, result).
        An exception counts as a failed operation and ends measurement."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.span(layer):
                res = fn()
        except Exception as exc:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OperationFailed(f"{layer}: {exc}") from exc
        return time.perf_counter() - t0, res

    # ------------------------------------------------------------ checks
    def check(self, name: str, ok: bool, **detail) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} FAILED: {detail}", file=sys.stderr)
        self.checks[name] = {"ok": bool(ok), **detail}
        return ok
