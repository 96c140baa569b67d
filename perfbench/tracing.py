"""Spans, Spark status-store readers and ``/proc`` stamps.

A :class:`Tracer` records one span per layer call made by the benchmark
(name, start, end, parent, run id) and runs each call under its own Spark
job group.  Disabled, a span only sets the job group; enabled, the span
also collects, from Spark's status store (which works with the UI off):

- per stage: run time, CPU time, GC time, shuffle bytes, spill and task
  duration quantiles;
- per SQL plan node: every SQL metric, e.g. "time to run Python workers",
  "data sent to Python workers", "shuffle bytes written", "sort time",
  "spill size".

The collection runs inside the span, so a traced call's wall time holds
the tracer's own cost.  Everything stays in memory until
:meth:`Tracer.dump` writes one JSON.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager
from pathlib import Path

from py4j.protocol import Py4JJavaError

_UNITS = {
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": 1024.0**2,
    "GiB": 1024.0**3,
    "TiB": 1024.0**4,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Value of a formatted SQL metric as bytes, seconds or a count.

    Aggregated metrics read ``"total (min, med, max ...)\\n<total> (...)"``,
    single-task ones just ``"<total>"``."""
    if not text:
        return 0.0
    m = _VALUE.match(text.rsplit("\n", 1)[-1].strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def rebind(self, spark) -> None:
        """Follow a restarted session."""
        self.spark = spark

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one layer call.  Yields the span dict; on exit the
        status-store data are attached when enabled, then ``end`` and
        ``wall_s`` are filled."""
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{self.run_id}-{sid}",
            **attrs,
        }
        self.spans.append(rec)
        sc = self.spark.sparkContext
        sc.setJobGroup(rec["group"], name, False)
        self._stack.append(sid)
        rec["start"] = time.monotonic()
        try:
            yield rec
            if self.enabled:
                self.collect(rec)
        finally:
            rec["end"] = time.monotonic()
            rec["wall_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            if parent:
                sc.setJobGroup(parent, self.spans[self._stack[-1]]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self, rec: dict) -> None:
        """Attach the status-store data of a finished span."""
        rec.update(collect_group(self.spark, rec["group"]))

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans, **extra}, indent=1))


def _seq(scala_seq) -> list:
    """A Scala ``Seq`` reached through py4j, as a Python list."""
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _task_quantiles(store, jvm, gateway, stage_id: int, attempt: int) -> tuple[float, float]:
    """(median, max) task duration of one stage attempt, in seconds."""
    qs = gateway.new_array(jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    opt = store.taskSummary(stage_id, attempt, qs)
    if opt.isEmpty():
        return 0.0, 0.0
    d = opt.get().duration()
    return d.apply(0) / 1000.0, d.apply(1) / 1000.0


def collect_group(spark, group: str) -> dict:
    """Stages and SQL plan metrics of every job run under ``group``."""
    sc = spark.sparkContext
    jvm, gateway = sc._jvm, sc._gateway  # noqa: SLF001
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    job_ids, stage_ids = set(), set()
    for job in _seq(store.jobsList(None)):
        g = job.jobGroup()
        if not g.isEmpty() and g.get() == group:
            job_ids.add(job.jobId())
            stage_ids.update(_seq(job.stageIds()))
    stages = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # a stage skipped by AQE has no attempt
            continue
        if st.numCompleteTasks() == 0:
            continue
        med, mx = _task_quantiles(store, jvm, gateway, sid, st.attemptId())
        stages.append(
            {
                "stage": sid,
                "tasks": st.numCompleteTasks(),
                "run_s": st.executorRunTime() / 1000.0,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1000.0,
                "shuffle_write_b": st.shuffleWriteBytes(),
                "shuffle_read_b": st.shuffleReadBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                "peak_mem_b": st.peakExecutionMemory(),
                "task_med_s": med,
                "task_max_s": mx,
            }
        )
    sql_store = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
    executions, nodes = [], []
    for ex in _seq(sql_store.executionsList()):
        ex_jobs = {int(k) for k in _seq(ex.jobs().keys().toList())}
        if not ex_jobs & job_ids:
            continue
        eid = ex.executionId()
        end = ex.completionTime()
        executions.append(
            {
                "execution": eid,
                "start_s": ex.submissionTime() / 1000.0,
                "end_s": end.get().getTime() / 1000.0 if end.isDefined() else None,
            }
        )
        values = sql_store.executionMetrics(eid)
        for node in _seq(sql_store.planGraph(eid).allNodes()):
            metrics = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                metrics[m.name()] = parse_metric(v.get() if v.isDefined() else None)
            nodes.append({"execution": eid, "name": node.name(), "desc": node.desc()[:300], "metrics": metrics})
    return {"jobs": sorted(job_ids), "stages": stages, "executions": executions, "nodes": nodes}


def node_sum(span: dict, metric: str, name: str | None = None, desc: tuple[str, ...] = ()) -> float:
    """Sum of ``metric`` over the span's plan nodes, optionally only nodes
    whose name equals ``name`` and whose description contains every
    string in ``desc``."""
    return sum(
        n["metrics"].get(metric, 0.0)
        for n in span.get("nodes", [])
        if (name is None or n["name"] == name) and all(d in n["desc"] for d in desc)
    )


def stage_sum(span: dict, key: str) -> float:
    return sum(s[key] for s in span.get("stages", []))


def cpu_ticks() -> tuple[int, int]:
    """(steal ticks, total ticks) from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def calib_ms() -> float:
    """Wall time of a fixed single-threaded Python loop.  A busy host
    slows it even when the guest sees almost no steal time (shared
    physical cores and caches)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1e3


def noise_snapshot() -> dict:
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    steal, total = cpu_ticks()
    return {"steal": steal, "total": total, "load1": load1, "calib_ms": calib_ms()}


def noise_block(start: dict, end: dict) -> dict:
    """Steal share, load average and calibration-loop time around a
    measured region: a high ``steal_pct``, ``load1`` or ``calib_ms`` marks
    a run taken on a busy machine."""
    dt = max(end["total"] - start["total"], 1)
    return {
        "steal_pct": round(100.0 * (end["steal"] - start["steal"]) / dt, 2),
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "calib_ms_start": round(start["calib_ms"], 1),
        "calib_ms_end": round(end["calib_ms"], 1),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree(root_pid: int) -> list[int]:
    kids = _children()
    todo, pids = [root_pid], []
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(kids.get(pid, []))
    return pids


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and its descendants,
    including their reaped children (the JVM plus the Python workers)."""
    ticks = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def reset_peak_rss(root_pid: int) -> None:
    """Reset the peak resident set size (VmHWM) of ``root_pid`` and all
    its descendants to their current resident size."""
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def _tree_status_mb(root_pid: int, key: str) -> float:
    total_kb = 0
    for pid in _tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith(key):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def rss_mb(root_pid: int) -> float:
    """Current resident set size (VmRSS) of ``root_pid`` and all its
    descendants."""
    return _tree_status_mb(root_pid, "VmRSS:")


def peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``root_pid`` and all
    its descendants, since their start or the last
    :func:`reset_peak_rss`: the JVM plus its Python daemon and workers."""
    return _tree_status_mb(root_pid, "VmHWM:")
