"""Outside-in probes: process tree, host, Spark status store, stream progress.

Nothing here reaches into the engine. The process-tree and host readings
come from ``/proc``; the Spark readings come from the JVM's own status store
(the data behind the Spark UI, populated even with the UI disabled) and
from a streaming-query listener registered on the session.
"""

from __future__ import annotations

import json
import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------- /proc


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of the tree under ``root``, reaped children included
    (utime + stime + cutime + cstime of every live member)."""
    ticks = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / CLK_TCK


def tree_peak_rss_mb(root: int) -> float:
    """Summed VmHWM (peak resident set) over the live tree under ``root``."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_cpu() -> dict[str, int]:
    """Aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    return dict(zip(keys, vals))


def host_delta(before: dict[str, int], after: dict[str, int]) -> dict[str, float]:
    d = {k: after[k] - before[k] for k in before}
    total = sum(d.values()) or 1
    busy = d["user"] + d["nice"] + d["system"] + d["irq"] + d["softirq"]
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {
        "busy_cpu_s": busy / CLK_TCK,
        "steal_share": d["steal"] / total,
        "load1": load1,
    }


def stop_tree(pids: list[int], timeout: float = 30.0) -> list[int]:
    """Wait for ``pids`` to exit; SIGKILL whatever outlives ``timeout``.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout
    alive = [p for p in pids if _stat_fields(p) is not None]
    while alive and time.monotonic() < deadline:
        time.sleep(0.1)
        alive = [p for p in alive if _stat_fields(p) is not None]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    return alive


# ------------------------------------------------------------- Spark status


class StatusStore:
    """Reads the jobs and stages that ran since the previous call.

    Spark numbers jobs consecutively, so the jobs of one benchmark call are
    exactly the ids after the last one read. Micro-batch jobs run on the
    stream's own thread and carry the query's ``runId`` as their job group
    instead of the caller's, so attributing by id range (not by job group)
    is what gives a drain its stages.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._bus = self._sc.listenerBus()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "DefaultScalaModule$").__getattr__("MODULE$"))
        self._jvm = jvm
        self._next_job = 0
        self._seen_stages: set[tuple[int, int]] = set()
        self.drain()  # skip the jobs that ran before tracing started

    def _json(self, objs) -> list[dict]:
        lst = self._jvm.java.util.ArrayList()
        for o in objs:
            lst.add(o)
        return json.loads(self._mapper.writeValueAsString(lst))

    def drain(self) -> tuple[list[dict], list[dict]]:
        """(new jobs, new completed stage attempts) since the last call."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(60_000)
        raw_jobs = []
        while True:
            try:
                raw_jobs.append(self._store.job(self._next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            self._next_job += 1
        jobs = self._json(raw_jobs)
        raw_stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            try:
                raw_stages.append(self._store.lastStageAttempt(sid))
            except Py4JJavaError:  # stage of a job that never submitted it
                pass
        stages = []
        for s in self._json(raw_stages):
            key = (s["stageId"], s["attemptId"])
            if s["status"] == "COMPLETE" and key not in self._seen_stages:
                self._seen_stages.add(key)
                stages.append(s)
        return jobs, stages


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending every progress record (as a dict)
    to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
