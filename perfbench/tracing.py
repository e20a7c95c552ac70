"""Measurement plumbing: layer spans, Spark event-log totals, the
process-tree RSS sampler, load readings and process shutdown.

Everything here observes the engine from outside: spans wrap the
benchmark's own calls into the package's public functions, and each
span tags the Spark jobs it starts with a job group so the event log
can attribute task metrics to it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import signal
import threading
import time


class Tracer:
    """In-memory spans (name, start, end, parent, run id) with counts
    recorded at the same boundary. Disabled tracers record nothing and
    leave the Spark job group untouched."""

    def __init__(self, run_id: str, enabled: bool, sc=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.group_prefix = "probe"
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        if not self.enabled:
            yield {}
            return
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, "counts": dict(counts),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(sid), name)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self._stack[-1]
                    self.sc.setJobGroup(self.group(parent), self.spans[parent]["name"])
                else:
                    self.sc.setJobGroup(f"{self.group_prefix}/-", "untraced")

    def group(self, sid: int) -> str:
        return f"{self.group_prefix}/{sid}"

    def jobs_in(self, rec: dict) -> int:
        """Spark jobs started under a finished span (its own group)."""
        return len(self.sc.statusTracker().getJobIdsForGroup(self.group(rec["id"])))

    def self_seconds(self, names_from: set[int] | None = None) -> dict[str, float]:
        """Per-layer self time: a span's duration minus the part of it
        its child spans cover (children run sequentially here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if names_from is not None and s["id"] not in names_from:
                continue
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ event log

def parse_event_log(log_dir: str, app_id: str, group_prefix: str) -> dict:
    """Task-metric totals over the jobs whose job group starts with
    ``group_prefix``, from the Spark event log of one application."""
    paths = glob.glob(os.path.join(log_dir, f"{app_id}*"))
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    stage_in_scope: dict[int, bool] = {}
    tot = {
        "tasks": 0, "failed_tasks": 0, "jobs": 0, "cpu_ns": 0, "run_ms": 0,
        "gc_ms": 0, "shuffle_write_b": 0, "spill_b": 0, "input_b": 0,
        "input_rows": 0,
    }
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                mine = group.startswith(group_prefix + "/")
                tot["jobs"] += mine
                for sid in ev.get("Stage IDs", []):
                    stage_in_scope.setdefault(sid, mine)
            elif kind == "SparkListenerTaskEnd":
                if not stage_in_scope.get(ev.get("Stage ID"), False):
                    continue
                tot["tasks"] += 1
                info = ev.get("Task Info") or {}
                tot["failed_tasks"] += bool(info.get("Failed"))
                m = ev.get("Task Metrics") or {}
                tot["cpu_ns"] += m.get("Executor CPU Time", 0)
                tot["run_ms"] += m.get("Executor Run Time", 0)
                tot["gc_ms"] += m.get("JVM GC Time", 0)
                tot["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                tot["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                inp = m.get("Input Metrics") or {}
                tot["input_b"] += inp.get("Bytes Read", 0)
                tot["input_rows"] += inp.get("Records Read", 0)
    return tot


# ------------------------------------------------------------ processes

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    pid = os.getpid() if pid is None else pid
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_rss_bytes() -> int:
    """Anonymous resident memory (resident minus file-backed pages) of
    every process this benchmark started: the driver JVM, the Python
    daemon and its workers, not this process. statm is a counter read;
    smaps-style page walks cost ~90 ms a sample and stall the JVM."""
    total = 0
    for p in descendants():
        try:
            with open(f"/proc/{p}/statm") as f:
                fields = f.read().split()
        except OSError:
            continue
        total += (int(fields[1]) - int(fields[2])) * _PAGE
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory.

    ``held_peak`` is the highest level held for ``window`` consecutive
    samples (about a second): the peak a machine must provide, without
    the sub-second spikes of worker forks that make a raw maximum jump
    from run to run."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.samples.append(tree_rss_bytes())
            self.peak = max(self.peak, self.samples[-1])
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())

    def held_peak(self, window: int = 4) -> int:
        s = self.samples
        if len(s) < window:
            return min(s) if s else 0
        return max(min(s[i:i + window]) for i in range(len(s) - window + 1))


def cpu_ticks() -> tuple[int, int]:
    """(stolen, busy-or-stolen) jiffies of the whole machine so far:
    time the hypervisor gave to other guests while this one wanted
    to run, against all non-idle time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = v[:8]
    return steal, user + nice + system + irq + softirq + steal


class Interval:
    """Wall time of a block and the share of the machine's wanted CPU
    time the hypervisor gave to other guests meanwhile (steal).

    ``net`` is the wall time net of steal, wall * (1 - steal share)^2.
    An operation's critical path hands work back and forth between
    threads on different vCPUs (driver, executor, Python worker), and
    it moves only while both ends run, each (1 - steal) of the time. On
    a shared host, neighbours' load moved median wall times by up to
    40% between runs; over two sets of five kNN runs with mean steal
    of 0-26%, the linear correction wall * (1 - steal) left 12% and 18%
    spread in the median op time, the squared one 4% and 5%. The
    benchmark reports net times and prints the raw ones beside them."""

    def __enter__(self):
        self._ticks = cpu_ticks()
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t
        stolen, wanted = (b - a for a, b in zip(self._ticks, cpu_ticks()))
        self.steal = stolen / wanted if wanted else 0.0
        self.net = self.wall * (1.0 - self.steal) ** 2


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def shutdown_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, close the JVM gateway and wait until every
    process this benchmark started has exited (killing stragglers)."""
    import subprocess

    from pyspark import SparkContext

    # orphans are re-parented away from this process once the JVM
    # exits, so remember the whole tree before stopping anything
    started = descendants()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if spark is not None:
        spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 10
    while True:
        left = [p for p in started if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            if time.time() > deadline + 10:
                raise RuntimeError(f"processes did not exit: {left}")
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    with contextlib.suppress(ChildProcessError, OSError):
        os.waitpid(pid, os.WNOHANG)
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
