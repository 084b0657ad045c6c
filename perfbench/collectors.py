"""Measurement collectors that live beside the program, never inside it.

- :class:`Spans` times calls into each layer's public functions from the
  benchmark's own code (name, start, end, parent).
- :class:`StreamProgress` is a StreamingQueryListener that keeps the
  ``batchDuration`` / ``durationMs`` breakdown of every micro-batch.
- :class:`JobGroupCounter` counts Spark jobs per job group and raises
  instead of undercounting once the status store may have evicted jobs
  (``spark.ui.retainedJobs``).
- :func:`read_event_log` folds an uncompressed ``eventlog_v2_*`` event
  log into per-job-group task totals and per-node SQL metric totals.
- :func:`tree_peak_rss_mb` sums VmHWM over this process and its
  descendants (driver Python, the Spark JVM, the Python workers).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# --- spans ---------------------------------------------------------------


class Spans:
    """In-memory spans, written out once at the end of a run."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.perf_counter(), "end": None, "parent": parent}
        self.records.append(rec)
        self._stack.append(len(self.records) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [r["end"] - r["start"] for r in self.records
                if r["name"] == name and r["end"] is not None]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def summary(self) -> dict:
        """name -> {n, total_s, self_s}; self time excludes child spans."""
        out: dict[str, dict] = {}
        child_s = defaultdict(float)
        for r in self.records:
            if r["parent"] is not None and r["end"] is not None:
                child_s[r["parent"]] += r["end"] - r["start"]
        for i, r in enumerate(self.records):
            if r["end"] is None:
                continue
            s = out.setdefault(r["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            s["n"] += 1
            s["total_s"] += r["end"] - r["start"]
            s["self_s"] += r["end"] - r["start"] - child_s[i]
        return out


# --- streaming progress ----------------------------------------------------


class StreamProgress(StreamingQueryListener):
    """Keeps every progress event that carried input rows."""

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self._batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        if p.numInputRows > 0:
            with self._lock:
                self._batches.append({
                    "batch_s": p.batchDuration / 1000.0,
                    "duration_ms": dict(p.durationMs),
                    "rows": p.numInputRows,
                })

    def count(self) -> int:
        with self._lock:
            return len(self._batches)

    def since(self, start: int, n: int, timeout_s: float = 30.0) -> list[dict]:
        """The batches after the first ``start``, once ``n`` of them have
        arrived (progress events are delivered asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while self.count() < start + n and time.monotonic() < deadline:
            time.sleep(0.05)
        with self._lock:
            return list(self._batches[start:])

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


# --- job counts --------------------------------------------------------------


class JobGroupCounter:
    """Jobs per job group from the status store, with a loud guard.

    ``StatusTracker.getJobIdsForGroup`` reads the UI status store, which
    keeps only ``spark.ui.retainedJobs`` jobs; past that it silently
    returns fewer ids. :meth:`count` therefore refuses to answer once
    the session has started more jobs than the store retains.
    """

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self.retained = int(self._sc.getConf().get("spark.ui.retainedJobs", "1000"))

    def total_jobs(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().numTotalJobs())

    def count(self, group: str) -> int:
        # the status store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        total = self.total_jobs()
        if total > self.retained:
            raise RuntimeError(
                f"job count for group {group!r} would undercount: the session "
                f"started {total} jobs but spark.ui.retainedJobs={self.retained}"
            )
        return len(self._sc.statusTracker().getJobIdsForGroup(group) or [])


# --- event log -------------------------------------------------------------


def _event_files(log_dir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith(("events_", "eventlog", "local-")) and not f.endswith(
                (".zstd", ".lz4", ".snappy", ".lzf", ".inprogress.crc")
            ):
                out.append(os.path.join(root, f))
    if not out:
        raise FileNotFoundError(f"no uncompressed event log under {log_dir!r}")
    return sorted(out)


def _plan_metrics(plan: dict, acc_node: dict[int, tuple[str, str]]) -> None:
    for m in plan.get("metrics", []):
        acc_node[int(m["accumulatorId"])] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", []):
        _plan_metrics(child, acc_node)


def _new_group() -> dict:
    return {"jobs": 0, "job_s": [], "task_s": [], "cpu_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "acc": defaultdict(float)}


def read_event_log(log_dir: str) -> dict:
    """Fold an uncompressed event log (``spark.eventLog.compress=false``)
    into per-job-group totals: jobs, (result-stage name, seconds) per
    job, task durations, executor CPU, shuffle bytes written, spill
    bytes, and ``sql`` — (plan node, metric name) -> value, from the
    task-side and driver-side accumulator updates of the group's
    SQL executions."""
    acc_node: dict[int, tuple[str, str]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    job_info: dict[int, tuple[str, str, int]] = {}
    driver_acc: list[tuple[int, int, float]] = []
    groups: dict[str, dict] = defaultdict(_new_group)
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    groups[group]["jobs"] += 1
                    if props.get("spark.sql.execution.id"):
                        exec_group[int(props["spark.sql.execution.id"])] = group
                    for sid in ev.get("Stage IDs", []):
                        stage_group[int(sid)] = group
                    stages = sorted(ev.get("Stage Infos", []), key=lambda st: st["Stage ID"])
                    name = stages[-1]["Stage Name"] if stages else ""
                    job_info[ev["Job ID"]] = (group, name, ev["Submission Time"])
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_info:
                    group, name, t0 = job_info[ev["Job ID"]]
                    groups[group]["job_s"].append((name, (ev["Completion Time"] - t0) / 1000.0))
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(int(ev["Stage ID"]), "")]
                    info, metrics = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    g["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000.0)
                    g["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
                    g["shuffle_write_bytes"] += (
                        metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    g["spill_bytes"] += (
                        metrics.get("Memory Bytes Spilled", 0) + metrics.get("Disk Bytes Spilled", 0)
                    )
                    for acc in info.get("Accumulables", []):
                        update = acc.get("Update")
                        if isinstance(update, (int, float)) or (
                            isinstance(update, str) and update.lstrip("-").isdigit()
                        ):
                            g["acc"][int(acc["ID"])] += float(update)
                elif kind.endswith(("SparkListenerSQLExecutionStart",
                                    "SparkListenerSQLAdaptiveExecutionUpdate")):
                    _plan_metrics(ev.get("sparkPlanInfo", {}), acc_node)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_acc.append((int(ev["executionId"]), int(acc_id), float(value)))
    for exec_id, acc_id, value in driver_acc:
        groups[exec_group.get(exec_id, "")]["acc"][acc_id] += value
    for g in groups.values():
        sql: dict[tuple[str, str], float] = defaultdict(float)
        for acc_id, value in g.pop("acc").items():
            if acc_id in acc_node:
                sql[acc_node[acc_id]] += value
        g["sql"] = dict(sql)
    return dict(groups)


def sql_metric(log: dict, groups: list[str], metric: str, node_prefix: str = "") -> float:
    """Sum of one SQL metric over the plan nodes named ``node_prefix*``
    of the given job groups (ms for timing metrics)."""
    return sum(v for g in groups for (node, name), v in log.get(g, {}).get("sql", {}).items()
               if name == metric and node.startswith(node_prefix))


def op_layers(log: dict, groups: list[str], n_ops: int) -> dict:
    """Per-operation figures every workload reaches: Spark scheduling
    and executor work, the Python/Arrow boundary and the file sources."""
    gs = [log[g] for g in groups if g in log]
    n = max(n_ops, 1)
    return {
        "spark.jobs_per_op": sum(g["jobs"] for g in gs) / n,
        "spark.tasks_per_op": sum(len(g["task_s"]) for g in gs) / n,
        "spark.task_s_per_op": sum(sum(g["task_s"]) for g in gs) / n,
        "spark.task_cpu_s_per_op": sum(g["cpu_s"] for g in gs) / n,
        "spark.shuffle_write_bytes_per_op": sum(g["shuffle_write_bytes"] for g in gs) / n,
        "spark.spill_bytes_per_op": sum(g["spill_bytes"] for g in gs) / n,
        "python.bytes_in_per_op": sql_metric(log, groups, "data sent to Python workers") / n,
        "python.bytes_out_per_op": sql_metric(log, groups, "data returned from Python workers") / n,
        "python.run_s_per_op": sql_metric(log, groups, "time to run Python workers") / 1000.0 / n,
        "sources.bytes_read_per_op": sql_metric(log, groups, "size of files read", "Scan") / n,
        "sources.files_read_per_op": sql_metric(log, groups, "number of files read", "Scan") / n,
    }


# --- memory ----------------------------------------------------------------


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _kind(pid: int, root: int) -> str:
    if pid == root:
        return "driver_python"
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            comm = fh.read().strip()
    except OSError:
        return "other"
    return "jvm" if comm == "java" else "python_workers" if comm.startswith("python") else "other"


def tree_peak_rss_mb(root: int | None = None) -> dict:
    """Per-process peak resident memory (VmHWM) of ``root`` and every
    live descendant, summed by kind (driver_python, jvm,
    python_workers, other) and in ``total``."""
    root = os.getpid() if root is None else root
    out: dict[str, float] = defaultdict(float)
    for pid in descendants(root):
        out[_kind(pid, root)] += _status_kb(pid, "VmHWM") / 1024.0
    out["total"] = sum(out.values())
    return dict(out)


# --- host stamp --------------------------------------------------------------


def host_stamp(repo: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not report the
            # commit of a repository it happens to sit inside
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(repo)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "commit": commit,
    }
