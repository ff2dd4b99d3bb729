"""Spans around the benchmark's calls into the engine, plus what /proc and
Spark's event log say about each span.

Each span runs its Spark work under its own job group, so the jobs, tasks,
executor time, shuffle, scan and Python-UDF bytes in the event log can be
attributed to it afterwards. Nothing inside `lucene_solr_spark` is touched.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------- /proc

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after it are space-separated
    return [raw[raw.index("(") + 1: raw.rindex(")")]] + raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """root and every process below it."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st:
                children[int(st[2])].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            pass
    return total


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds of the Spark Python workers below `root` (the daemon's
    reaped children included), i.e. every python process but `root`."""
    total = 0
    for pid in descendants(root):
        st = _stat(pid)
        if pid != root and st and st[0].startswith("python"):
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in st[12:16])
    return total / _TICK


class RssSampler:
    """Peak resident memory of a process tree, sampled on a thread."""

    def __init__(self, root: int, period_s: float = 0.25):
        self.root, self.period_s, self.peak = root, period_s, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(self.root)))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(descendants(self.root)))


# ----------------------------------------------------------------- spans

class Tracer:
    """In-memory spans. Disabled, `span` only yields."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, qid: int | None = None, cpu: bool = False):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "qid": qid, "group": f"span-{sid}"}
        self.spans.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        cpu0 = python_worker_cpu_s(os.getpid()) if cpu else None
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if cpu:
                rec["python_cpu_s"] = python_worker_cpu_s(os.getpid()) - cpu0
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
            rec["jobs"], rec["tasks"] = len(jobs), tasks
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def by_name(self, name: str, qids: set | None = None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (qids is None or s["qid"] in qids)]


def self_time(span: dict, spans: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = [(c["start"], c["end"]) for c in spans if c["parent"] == span["id"]]
    return span["end"] - span["start"] - covered(kids, span["start"], span["end"])


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] that the union of the (start, end) intervals covers."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


# ------------------------------------------------------------- event log

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PASS_THROUGH = ("Sort", "WholeStageCodegen", "InputAdapter", "AQEShuffleRead",
                 "ShuffleQueryStage", "Project")


def _plan_accumulators(node: dict, py_bytes: set, scorer_rows: set) -> None:
    """Python-UDF byte counters, and the 'shuffle records written' of the
    exchange that feeds each grouped pandas UDF (= rows handed to it)."""
    name = node["nodeName"]
    if "InPandas" in name or "ArrowEvalPython" in name:
        py_bytes.update(m["accumulatorId"] for m in node["metrics"]
                        if m["name"] in (_PY_SENT, _PY_RECV))
        if "GroupsInPandas" in name:
            todo = list(node["children"])
            while todo:
                c = todo.pop()
                if c["nodeName"] == "Exchange":
                    scorer_rows.update(m["accumulatorId"] for m in c["metrics"]
                                       if m["name"] == "shuffle records written")
                elif c["nodeName"].startswith(_PASS_THROUGH):
                    todo.extend(c["children"])
    for c in node["children"]:
        _plan_accumulators(c, py_bytes, scorer_rows)


def read_event_log(log_dir: str) -> defaultdict[str, dict]:
    """Per job group: job intervals, tasks and their metrics (a group with no
    Spark job reads as zeros)."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    events = []
    with open(files[0]) as f:
        for line in f:
            events.append(json.loads(line))
    py_bytes, scorer_rows = set(), set()
    for e in events:
        if "sparkPlanInfo" in e:
            _plan_accumulators(e["sparkPlanInfo"], py_bytes, scorer_rows)

    stage_group: dict[int, str] = {}
    job_start: dict[int, tuple[str, float]] = {}
    groups: dict[str, dict] = defaultdict(lambda: {
        "jobs": [], "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_write_bytes": 0,
        "shuffle_read_bytes": [], "input_bytes": 0, "input_rows": 0,
        "python_bytes": 0, "scorer_rows": 0})
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if gid:
                job_start[e["Job ID"]] = (gid, e["Submission Time"] / 1000)
                for s in e["Stage IDs"]:
                    stage_group[s] = gid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_start:
            gid, t0 = job_start[e["Job ID"]]
            groups[gid]["jobs"].append((t0, e["Completion Time"] / 1000))
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
            g = groups[stage_group[e["Stage ID"]]]
            m = e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            if read:
                g["shuffle_read_bytes"].append(read)
            im = m.get("Input Metrics") or {}
            g["input_bytes"] += im.get("Bytes Read", 0)
            g["input_rows"] += im.get("Records Read", 0)
            for acc in e["Task Info"].get("Accumulables", ()):
                if acc["ID"] in py_bytes:
                    g["python_bytes"] += int(acc.get("Update", 0))
                elif acc["ID"] in scorer_rows:
                    g["scorer_rows"] += int(acc.get("Update", 0))
    return groups


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else default
