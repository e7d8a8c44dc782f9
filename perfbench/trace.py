"""Tracing for the benchmark: spans around public calls, the Spark event
log reduced to one row per op and stage, and a process-tree RSS sampler.

Stdlib only.  Spans are kept in memory and written when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PY_METRICS = {
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_to_mb",
    "data returned from Python workers": "py_from_mb",
}
ROWS = "number of output rows"


# ------------------------------------------------------------------ spans
class Tracer:
    """Records (name, start, end, parent, op id) spans.  With
    ``enabled=False`` every call is a no-op, so the untraced run pays
    nothing but a context-manager enter/exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "start": time.time(), "end": None, "parent": parent,
               "op": op_id if op_id is not None else (self.spans[parent]["op"] if parent is not None else None)}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# ------------------------------------------------------------------ event log
def read_events(path: str):
    """Yield the events of an uncompressed, non-rolling event-log file."""
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def _walk_plan(node: dict, path: str, out: dict, exec_id) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (exec_id, path, name, m["name"], m.get("metricType", "sum"))
    for i, c in enumerate(node.get("children", [])):
        _walk_plan(c, f"{path}/{i}", out, exec_id)


def reduce_log(events) -> dict:
    """Reduce an event stream to {"stages": [row per op and stage],
    "ops": {op: summary}}.  An op is a job group (``setJobGroup``)."""
    job_group: dict[int, str] = {}
    job_times: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    exec_group: dict[int, str] = {}
    exec_times: dict[int, list] = {}
    accum_meta: dict[int, tuple] = {}
    accum_val: dict[int, float] = {}
    stage_info: dict[int, dict] = {}
    tasks: dict[int, list] = {}

    for e in events:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            grp = props.get("spark.jobGroup.id")
            if grp is None:
                continue
            job_group[jid] = grp
            job_times[jid] = [e.get("Submission Time"), None]
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_group[int(xid)] = grp
        elif ev == "SparkListenerJobEnd":
            if e["Job ID"] in job_times:
                job_times[e["Job ID"]][1] = e.get("Completion Time")
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            stage_info[si["Stage ID"]] = {
                "name": si.get("Stage Name", ""),
                "submit": si.get("Submission Time"),
                "complete": si.get("Completion Time"),
            }
        elif ev == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            tasks.setdefault(e["Stage ID"], []).append({
                "dur": (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0,
                "gc": m.get("JVM GC Time", 0) / 1000.0,
                "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                "sread": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "swrite": sw.get("Shuffle Bytes Written", 0),
            })
            for a in info.get("Accumulables", []):
                v = _number(a.get("Update"))
                if v is not None:
                    accum_val[a["ID"]] = accum_val.get(a["ID"], 0) + v
        elif ev.endswith("SparkListenerSQLExecutionEnd"):
            exec_times.setdefault(int(e["executionId"]), [None, None])[1] = e.get("time")
        elif ev.endswith("SparkListenerSQLExecutionStart") or ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            xid = int(e["executionId"])
            if ev.endswith("ExecutionStart"):
                exec_times.setdefault(xid, [None, None])[0] = e.get("time")
                if e.get("jobGroupId"):
                    exec_group.setdefault(xid, e["jobGroupId"])
            _walk_plan(e["sparkPlanInfo"], "0", accum_meta, xid)
        elif ev.endswith("SparkListenerDriverAccumUpdates"):
            for aid, v in e.get("accumUpdates", []):
                accum_val[aid] = accum_val.get(aid, 0) + v

    stages: list[dict] = []
    ops: dict[str, dict] = {}

    def op_rec(op):
        return ops.setdefault(op, empty_op())

    for jid, grp in job_group.items():
        r = op_rec(grp)
        r["jobs"] += 1
        s, c = job_times[jid]
        if s is not None and c is not None:
            r["job_intervals"].append((s / 1000.0, c / 1000.0))
    for xid, (s, c) in exec_times.items():
        if xid in exec_group and s is not None and c is not None:
            op_rec(exec_group[xid])["exec_intervals"].append((s / 1000.0, c / 1000.0))
    for sid, ts in sorted(tasks.items()):
        if sid not in stage_job:
            continue
        grp = job_group[stage_job[sid]]
        r = op_rec(grp)
        durs = sorted(t["dur"] for t in ts)
        si = stage_info.get(sid, {})
        wall = ((si.get("complete") or 0) - (si.get("submit") or 0)) / 1000.0
        row = {
            "op": grp, "stage": sid, "name": si.get("name", ""), "tasks": len(ts),
            "wall_s": wall, "task_s": sum(durs), "task_max_s": durs[-1],
            "task_median_s": statistics.median(durs),
            "shuffle_read_mb": sum(t["sread"] for t in ts) / 1e6,
            "shuffle_write_mb": sum(t["swrite"] for t in ts) / 1e6,
            "spill_mb": sum(t["spill"] for t in ts) / 1e6,
            "gc_s": sum(t["gc"] for t in ts),
        }
        stages.append(row)
        r["tasks"] += row["tasks"]
        r["task_s"] += row["task_s"]
        r["gc_s"] += row["gc_s"]
        r["shuffle_mb"] += row["shuffle_write_mb"]
        r["spill_mb"] += row["spill_mb"]
        if wall > r["longest_stage_s"]:
            r["longest_stage_s"] = wall
            med = row["task_median_s"]
            r["task_skew"] = row["task_max_s"] / med if med > 0 else 1.0

    scale = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}
    for aid, (xid, path, node, metric, mtype) in accum_meta.items():
        grp = exec_group.get(xid)
        if grp is None or aid not in accum_val:
            continue
        r = op_rec(grp)
        val = accum_val[aid]
        if metric in PY_METRICS:
            r["py"][PY_METRICS[metric]] += val * scale.get(mtype, 1.0)
        r["nodes"].append({"exec": xid, "path": path, "node": node, "metric": metric, "value": val})
    return {"stages": stages, "ops": ops}


def empty_op() -> dict:
    """Summary of an op that ran no Spark job."""
    return {
        "jobs": 0, "job_intervals": [], "exec_intervals": [], "tasks": 0, "task_s": 0.0,
        "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0, "task_skew": 0.0,
        "longest_stage_s": -1.0, "py": {v: 0.0 for v in PY_METRICS.values()}, "nodes": [],
    }


def _number(v):
    """Task accumulable updates are numbers, or numeric strings for SQL
    metrics; anything else (e.g. block-status lists) is skipped."""
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


# ------------------------------------------------------------------ plan rules
def rows_of(op: dict, node_pred) -> float:
    """Sum of "number of output rows" over plan nodes matching node_pred."""
    return sum(n["value"] for n in op["nodes"] if n["metric"] == ROWS and node_pred(n["node"]))


def _rows_by_path(op: dict) -> dict:
    return {(n["exec"], n["path"]): (n["node"], n["value"])
            for n in op["nodes"] if n["metric"] == ROWS}


def around(op: dict, node_pred, above_pred=lambda name: True) -> tuple[float, float]:
    """For every plan node matching ``node_pred``: (rows of the nearest
    descendant that counts rows, rows of the nearest ancestor matching
    ``above_pred`` that counts rows), summed over the op's plans.  For the
    pip ray-cast stage this is (bbox-refined candidates, ray-cast
    survivors); for a parquet scan under a Filter, (0, rows kept)."""
    rows = _rows_by_path(op)
    paths = {(n["exec"], n["path"]) for n in op["nodes"] if node_pred(n["node"])}
    below = above = 0.0
    for xid, p in paths:
        kids = sorted((k for k in rows if k[0] == xid and k[1].startswith(p + "/")),
                      key=lambda k: k[1].count("/"))
        if kids:
            below += rows[kids[0]][1]
        q = p
        while "/" in q:
            q = q.rsplit("/", 1)[0]
            if (xid, q) in rows and above_pred(rows[(xid, q)][0]):
                above += rows[(xid, q)][1]
                break
    return below, above


def covered(intervals, start: float, end: float) -> float:
    """Length of the union of intervals clipped to [start, end]."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


# ------------------------------------------------------------------ processes
def descendants(root: int) -> list[int]:
    """PIDs of every live descendant of `root`, from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            parent[int(d)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        frontier.extend(kids)
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and its live descendants,
    including what they got from children they reaped.  Time the
    hypervisor steals from the guest is not charged to any process."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def jit_cpu_s(root: int) -> float:
    """User + system CPU seconds of the JIT compiler threads of `root` and
    its live descendants (the JVM's "C1/C2 CompilerThread"s).  Exact only
    while compiler threads do not exit, so the JVM is started with
    -XX:-UseDynamicNumberOfCompilerThreads."""
    ticks = 0
    for pid in [root, *descendants(root)]:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += int(fields[11]) + int(fields[12])  # utime stime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole guest, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def alive(pids) -> list[int]:
    """The pids that still exist and are not zombies."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except OSError:
            continue
    return out


class RssSampler:
    """Summed RSS of this process and all its descendants (driver, JVM,
    Python workers), sampled from /proc/<pid>/statm on a daemon thread.
    Samples are kept as (time, rss_bytes) so a caller can take the peak
    inside any time window."""

    INTERVAL = 0.25  # seconds between samples

    def __init__(self):
        self.samples: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> int:
        rss = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return rss

    def peak(self, start: float = 0.0, end: float = float("inf")) -> int:
        return max((v for t, v in self.samples if start <= t <= end), default=0)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), self.sample()))
            self._stop.wait(self.INTERVAL)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
