"""Observation from outside the engine: wall-clock spans around public
functions, per-wave Spark job groups, process RSS and host context.

Nothing here edits the engine. Spans wrap a function where the engine
resolves it (a module attribute looked up at call time) for the length of
a traced iteration and put the original back afterwards; job groups are
set and read through the public ``on_wave`` hook. Spans stay in memory
and are summarised when the run ends."""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import subprocess
import threading
import time
from contextlib import contextmanager

from perfbench.stats import GroupLedger, GroupTotals, Span, StageRow

# (module, attribute, span name). Eager calls run Spark jobs inside the
# call; lazy planners only build a plan, so their span is planning time
# and their execution cost lands in the eager spans and job groups.
EAGER = [
    ("wss_spark.crawl.checkpoint", "write_seen_keys", "checkpoint.write_seen_keys"),
    ("wss_spark.crawl.checkpoint", "compact_seen_keys", "checkpoint.compact_seen_keys"),
    ("wss_spark.crawl.checkpoint", "write_snapshot", "checkpoint.write_snapshot"),
    ("wss_spark.crawl.checkpoint", "read_state", "checkpoint.read_state"),
    ("wss_spark.crawl.checkpoint", "read_seen_keys", "checkpoint.read_seen_keys"),
    ("wss_spark.crawl.checkpoint", "evict_seen_keys", "checkpoint.evict_seen_keys"),
    ("wss_spark.crawl.recrawl", "evict_urls", "recrawl.evict_urls"),
]
LAZY = [
    ("wss_spark.crawl.frontier", "discover", "frontier.discover.plan_s"),
    ("wss_spark.crawl.frontier", "split_by_budget", "frontier.split_by_budget.plan_s"),
    ("wss_spark.crawl.frontier", "robots_gate", "frontier.robots_gate.plan_s"),
    ("wss_spark.crawl.frontier", "parse_pages", "frontier.parse_pages.plan_s"),
    ("wss_spark.crawl.bloom", "prefilter", "bloom.prefilter.plan_s"),
    ("wss_spark.crawl.bloom", "update", "bloom.update.plan_s"),
]
LOG_NAMES = ("entities", "fetch_log", "metrics")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        i = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0,
                               self._stack[-1] if self._stack else None))
        self._stack.append(i)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[i].end = time.perf_counter()

    def _wrap(self, fn, name_of):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(args, kwargs)):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in EAGER + LAZY:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._restore.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, lambda a, k, n=name: n))
        # write_log(root, name, wave, df) is split by log name, because
        # write_log.entities executes the fetch join and the extraction
        ckpt = importlib.import_module("wss_spark.crawl.checkpoint")
        orig = ckpt.write_log
        self._restore.append((ckpt, "write_log", orig))
        ckpt.write_log = self._wrap(orig, lambda a, k: "checkpoint.write_log."
                                    + (a[1] if len(a) > 1 else k["name"]))

    def uninstall(self) -> None:
        while self._restore:
            mod, attr, orig = self._restore.pop()
            setattr(mod, attr, orig)


class JobGroups:
    """One Spark job group per wave, opened and closed from ``on_wave``."""

    def __init__(self, spark, ledger: GroupLedger):
        self.sc = spark.sparkContext
        self.ledger = ledger
        self.name: str | None = None
        self.t0 = 0.0

    def open(self, label: str) -> None:
        self.name = self.ledger.next_name(label)
        self.label = label
        self.t0 = time.perf_counter()
        self.sc.setJobGroup(self.name, label)

    def close(self, label: str | None = None) -> GroupTotals:
        wall = time.perf_counter() - self.t0
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the async listener bus: drain it so
        # the group's last jobs are listed before the group is read
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(self.name))
        stages = {j: self._stages(st, j) for j in job_ids}
        return self.ledger.close(label or self.label, wall, job_ids, stages)

    def _stages(self, st, job_id: int) -> list[StageRow]:
        info = st.getJobInfo(job_id)
        if info is None:
            return []
        gw = self.sc._gateway
        store = self.sc._jsc.sc().statusStore()
        rows = []
        for sid in info.stageIds:
            attempts = store.stageData(int(sid), False, None, False,
                                       gw.new_array(gw.jvm.double, 0))
            for i in range(attempts.size()):
                d = attempts.apply(i)
                rows.append(StageRow(
                    stage_id=int(sid), attempt=d.attemptId(),
                    status=d.status().toString(), tasks=d.numCompleteTasks(),
                    shuffle_read_bytes=d.shuffleReadBytes(),
                    shuffle_write_bytes=d.shuffleWriteBytes(),
                    spill_bytes=d.memoryBytesSpilled() + d.diskBytesSpilled(),
                    run_ms=d.executorRunTime(),
                ))
        return rows


def _children(pids: set[int]) -> set[int]:
    out = set(pids)
    parent_of = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent_of[int(stat.split("/")[2])] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent_of.items():
            if ppid in out and pid not in out:
                out.add(pid)
                grew = True
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and every process under it (the
    Python worker daemon and its workers), sampled on a thread."""

    def __init__(self, root_pid: int, period_s: float = 0.25):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(
                _rss_bytes(p) for p in _children({self.root_pid})))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) of the
    process tree under ``root_pid``, plus this process."""
    ticks = 0
    for pid in _children({root_pid}):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    t = os.times()
    return ticks / os.sysconf("SC_CLK_TCK") + t.user + t.system


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot. Under a hypervisor,
    steal is time a vCPU was runnable but another guest held the core."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def source_sha(root: str) -> str:
    """The git commit when ``root`` is a checkout with history, else a
    sha256 over the engine's sources, so a result row names its code."""
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "wss_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "tree:" + h.hexdigest()[:16]


def calibration_s(spark, nproc: int) -> float:
    """Wall of one fixed query, so a slow-host day shows in the data."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, numPartitions=nproc).selectExpr(
        "sum(hash(id) % 1000) AS s").collect()
    return time.perf_counter() - t0


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(path):
        for fn in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size
