"""Measurements read from outside the engine: the process tree in /proc
and Spark's own status store.

Process tree CPU is split three ways: the Spark driver's Python process,
the JVM, and the Python workers the JVM forks (the Arrow/Python
boundary). CPU of processes that already exited is counted through their
parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import json
import os

CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu seconds, reaped-children cpu seconds)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields after the comm: state ppid ... utime(14) stime cutime cstime
    own = (int(rest[11]) + int(rest[12])) / CLK
    reaped = (int(rest[13]) + int(rest[14])) / CLK
    return int(rest[1]), own, reaped


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_split(root: int) -> dict[str, float]:
    """Cumulative CPU seconds of the tree under ``root``, by role."""
    split = {"driver": 0.0, "jvm": 0.0, "python_worker": 0.0}
    for pid in tree(root):
        st = _stat(pid)
        if st is None:
            continue
        _, own, reaped = st
        if pid == root:
            split["driver"] += own + reaped
        elif _comm(pid) == "java":
            split["jvm"] += own
            split["python_worker"] += reaped  # the JVM only forks Python
        else:
            split["python_worker"] += own + reaped
    split["total"] = sum(split.values())
    return split


def peak_rss_mb(root: int) -> float:
    """Sum of the high-water RSS (VmHWM) of every live process in the tree."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


class StatusStore:
    """Reader over the live application status store. Jobs and stages are
    fetched as JSON in one JVM call each and attributed to spans by job id
    window, which also catches jobs started from helper threads that do
    not inherit the caller's job group."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        scala = jvm.com.fasterxml.jackson.module.scala
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(
            getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$")
        )
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def jobs(self) -> list[dict]:
        return json.loads(self._json.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> dict[int, dict]:
        raw = self._store.stageList(None, False, True, self._quantiles, None)
        return {s["stageId"]: s for s in json.loads(self._json.writeValueAsString(raw))}


SPARK_METRICS = (
    "tasks", "task_wait_s", "task_skew", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "failed_tasks",
    "input_records", "input_mb", "output_mb",
)


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Sum the runtime metrics of the stages that ran (skipped stages have
    no submission time). ``task_wait_s`` is the time each stage waited
    from submission to its first task launch; ``task_skew`` is max/median
    task run time per stage, weighted by the stage's run time."""
    t = dict.fromkeys(SPARK_METRICS, 0.0)
    skew_w = skew_sum = 0.0
    for s in stages:
        if s.get("submissionTime") is None:
            continue
        t["tasks"] += s["numTasks"]
        t["failed_tasks"] += s["numFailedTasks"]
        if s.get("firstTaskLaunchedTime") is not None:
            t["task_wait_s"] += (s["firstTaskLaunchedTime"] - s["submissionTime"]) / 1e3
        t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
        t["gc_s"] += s["jvmGcTime"] / 1e3
        t["shuffle_read_mb"] += s["shuffleReadBytes"] / 1e6
        t["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
        t["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / 1e6
        t["input_records"] += s["inputRecords"]
        t["input_mb"] += s["inputBytes"] / 1e6
        t["output_mb"] += s["outputBytes"] / 1e6
        dist = s.get("taskMetricsDistributions")
        if dist and s["numTasks"] > 1:
            med, top = dist["executorRunTime"]
            if med > 0:
                skew_sum += s["executorRunTime"] * top / med
                skew_w += s["executorRunTime"]
    t["task_skew"] = skew_sum / skew_w if skew_w else 1.0
    return t
