"""Tracing for the benchmark, built only from the benchmark's side.

- `Recorder` keeps spans in memory: one around each call the
  benchmark makes into a layer of the package.
- `StreamProbe` is a `StreamingQueryListener` that records every
  micro-batch's progress.
- `EventLog` reads Spark's own uncompressed JSON event log: jobs,
  stages, task metrics and SQL executions.
- `attach_log_spans` hangs the event log's jobs, stages, planning
  intervals and the listener's micro-batches under the recorded
  spans; `self_times` and `layer_metrics` summarise the tree.
- `RssSampler` samples the resident memory of this process's
  descendants (the Spark JVM and its Python workers) from /proc.

Nothing here touches the package's code.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

MB = 1024 * 1024

# Python-worker SQL metrics (ms, a "timing" metric) in the event log.
PY_TIME_METRIC = "time to run Python workers"


class Recorder:
    """Spans of one run.  A span is a dict with id, parent, name,
    layer, start and end (epoch seconds) and free-form attributes."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        sp = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None, **attrs) -> dict:
        sp = {"id": len(self.spans), "parent": parent, "name": name, "layer": layer, "start": start, "end": end, **attrs}
        self.spans.append(sp)
        return sp


class StreamProbe(StreamingQueryListener):
    """Records micro-batch progress.  Callbacks run on the Py4J
    callback thread; list.append is atomic."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
        self.batches.append(
            {
                "run_id": str(p.runId),
                "batch": p.batchId,
                "start": start,
                "end": start + p.batchDuration / 1000.0,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class EventLog:
    """The parts of one uncompressed Spark event log the benchmark
    uses.  Times are epoch seconds."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.sql_starts: list[float] = []
        python_row_ids: set[int] = set()
        tasks: list[tuple[tuple[int, int], dict, dict]] = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    self.jobs[e["Job ID"]] = {
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": e["Stage IDs"],
                        "stream_id": (e.get("Properties") or {}).get("sql.streaming.queryId"),
                    }
                elif kind == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    self.stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                        "start": si.get("Submission Time", 0) / 1000.0,
                        "end": si.get("Completion Time", 0) / 1000.0,
                        "name": si["Stage Name"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(((e["Stage ID"], e["Stage Attempt ID"]), e, e["Task Info"]))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    self.sql_starts.append(e["time"] / 1000.0)
                    _python_row_metrics(e["sparkPlanInfo"], python_row_ids)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _python_row_metrics(e["sparkPlanInfo"], python_row_ids)
        self.sql_starts.sort()
        for key, e, info in tasks:
            st = self.stages.setdefault(key, {"start": info["Launch Time"] / 1000.0, "end": info["Finish Time"] / 1000.0, "name": "?"})
            agg = st.setdefault("metrics", _zero_metrics())
            agg["tasks"] += 1
            agg["failed_tasks"] += e["Task End Reason"].get("Reason") != "Success"
            m = e.get("Task Metrics") or {}
            agg["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            agg["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            agg["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
            agg["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB
            agg["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            agg["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / MB
            agg["input_rows"] += m.get("Input Metrics", {}).get("Records Read", 0)
            out = m.get("Output Metrics", {})
            agg["output_mb"] += out.get("Bytes Written", 0) / MB
            # An unpartitioned write task writes its rows to one file.
            agg["output_files"] += out.get("Records Written", 0) > 0
            for acc in info.get("Accumulables", []):
                if acc.get("Name") == PY_TIME_METRIC:
                    agg["python_s"] += float(acc.get("Update", 0)) / 1000.0
                elif acc.get("ID") in python_row_ids:
                    agg["python_rows"] += int(acc.get("Update", 0))


def _zero_metrics() -> dict:
    keys = ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb",
            "spill_mb", "input_mb", "input_rows", "output_mb", "output_files", "python_s", "python_rows")
    return dict.fromkeys(keys, 0)


def _python_row_metrics(node: dict, out: set[int]) -> None:
    """Accumulator ids of "number of output rows" on plan nodes that
    run Python workers (MapInPandas, ArrowEvalPython, ...)."""
    names = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}
    if PY_TIME_METRIC in names and "number of output rows" in names:
        out.add(names["number of output rows"])
    for child in node.get("children", []):
        _python_row_metrics(child, out)


def find_event_log(log_dir: str) -> str:
    files = [os.path.join(dp, f) for dp, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")]
    logs = [f for f in files if os.path.getsize(f) > 0 and not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log under {log_dir}, found {files}")
    return logs[0]


def _innermost(t: float, candidates: list[dict]) -> dict | None:
    best = None
    for sp in candidates:
        if sp["start"] <= t <= sp["end"] and (best is None or sp["start"] >= best["start"]):
            best = sp
    return best


def _step_name(rec: Recorder, sp: dict) -> str | None:
    """The workload step (query) a recorded span belongs to."""
    while sp is not None and sp["layer"] != "step":
        sp = rec.spans[sp["parent"]] if sp["parent"] is not None else None
    return sp["name"] if sp is not None else None


def attach_log_spans(rec: Recorder, log: EventLog, probe: StreamProbe | None) -> None:
    """Add event-log and listener children under the recorded spans.
    A child belongs to the innermost recorded span its start falls in.
    Streaming jobs and micro-batches carry their sink as `stream`: the
    step (registry query) whose span encloses them.  The measured sinks
    set no query name, so the mapping is by time interval; a job's
    `stream_id` is the query id from its properties."""
    recorded = [sp for sp in rec.spans if sp["layer"] in ("operators", "action", "pass")]
    seen: set[tuple[int, int]] = set()
    for jid, job in sorted(log.jobs.items()):
        parent = _innermost(job["start"], recorded)
        if parent is None or job["end"] is None:
            continue
        jsp = rec.add(f"job {jid}", "exec.job", job["start"], job["end"], parent["id"],
                      stream=_step_name(rec, parent) if job["stream_id"] else None,
                      stream_id=job["stream_id"])
        # A later job lists the shuffle stages it reuses; their tasks
        # ran once, under the first job that lists them.
        for key, st in log.stages.items():
            if key[0] in job["stages"] and "metrics" in st and key not in seen:
                seen.add(key)
                rec.add(f"stage {key[0]}.{key[1]}", "exec.stage", st["start"], st["end"], jsp["id"],
                        stage_name=st["name"], **st["metrics"])
    for sp in [s for s in rec.spans if s["layer"] == "action"]:
        first = next((t for t in log.sql_starts if sp["start"] <= t <= sp["end"]), None)
        if first is not None:
            rec.add("plan", "plans", sp["start"], first, sp["id"])
    for b in probe.batches if probe else []:
        parent = _innermost(b["start"], recorded)
        if parent is not None:
            rec.add(f"batch {b['batch']}", "streaming", b["start"], b["end"], parent["id"],
                    stream=_step_name(rec, parent), run_id=b["run_id"],
                    state_rows=b["state_rows"], state_bytes=b["state_bytes"])


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(rec: Recorder) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of
    it that its children cover, summed by layer."""
    children: dict[int, list[dict]] = {}
    for sp in rec.spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in rec.spans:
        kids = _clip([(c["start"], c["end"]) for c in children.get(sp["id"], [])], sp["start"], sp["end"])
        sp["self_s"] = (sp["end"] - sp["start"]) - _union(kids)
        out[sp["layer"]] = out.get(sp["layer"], 0.0) + sp["self_s"]
    return out


def _descendants(rec: Recorder, root: dict) -> list[dict]:
    ids, out = {root["id"]}, []
    for sp in rec.spans[root["id"] + 1 :]:
        if sp["parent"] in ids:
            ids.add(sp["id"])
            out.append(sp)
    return out


def layer_metrics(rec: Recorder, pass_span: dict) -> dict[str, float]:
    """Per-layer figures of one traced pass.  construct + plan +
    exec.wall + unattributed add up to the pass's wall time: exec.wall
    is the union of job intervals inside the materialize/sink calls,
    after their planning interval."""
    spans = _descendants(rec, pass_span)
    by = lambda layer: [s for s in spans if s["layer"] == layer]  # noqa: E731
    run_s = pass_span["end"] - pass_span["start"]
    construct = by("operators")
    plan = {s["parent"]: s for s in by("plans")}
    exec_wall = 0.0
    for act in by("action"):
        lo = plan[act["id"]]["end"] if act["id"] in plan else act["start"]
        jobs = [(j["start"], j["end"]) for j in spans if j["layer"] == "exec.job" and j["parent"] == act["id"]]
        exec_wall += _union(_clip(jobs, lo, act["end"]))
    stages = by("exec.stage")
    total = lambda key: sum(s[key] for s in stages)  # noqa: E731
    batches = by("streaming")
    durations = sorted(b["end"] - b["start"] for b in batches)
    last_state = {b["run_id"]: b for b in sorted(batches, key=lambda b: b["start"])}
    construct_s = sum(s["end"] - s["start"] for s in construct)
    plan_s = sum(s["end"] - s["start"] for s in plan.values())
    construct_ids = {s["id"] for s in construct}
    return {
        "trace.run_s": run_s,
        "operators.construct_s": construct_s,
        "operators.construct_jobs": sum(1 for j in spans if j["layer"] == "exec.job" and j["parent"] in construct_ids),
        "plans.plan_s": plan_s,
        "exec.wall_s": exec_wall,
        "unattributed_s": run_s - construct_s - plan_s - exec_wall,
        "sources.input_mb": total("input_mb"),
        "sources.input_rows": total("input_rows"),
        "functions.python_s": total("python_s"),
        "functions.python_rows": total("python_rows"),
        "exec.tasks": total("tasks"),
        "exec.run_s": total("run_s"),
        "exec.cpu_s": total("cpu_s"),
        "exec.gc_s": total("gc_s"),
        "exec.shuffle_write_mb": total("shuffle_write_mb"),
        "exec.shuffle_read_mb": total("shuffle_read_mb"),
        "exec.spill_mb": total("spill_mb"),
        "exec.failed_tasks": total("failed_tasks"),
        "writers.output_mb": total("output_mb"),
        "writers.files": total("output_files"),
        "streaming.batches": len(batches),
        "streaming.batch_s_p50": statistics.median(durations) if durations else 0.0,
        "streaming.batch_s_max": durations[-1] if durations else 0.0,
        "streaming.state_rows": sum(b["state_rows"] for b in last_state.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last_state.values()) / MB,
    }


class RssSampler:
    """Peak summed RSS of this process's descendants, sampled from
    /proc on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self._interval = interval_s
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def sample(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self._peak = max(self._peak, rss)

    def take_peak_mb(self) -> float:
        """Peak since the previous call, in MB."""
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak / MB

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [(pid, None) for pid in children.get(os.getpid(), [])]
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                # A JVM child that has not exec'd yet (Hadoop forking
                # chmod/readlink) shares the JVM's pages: skip it.
                if exe == parent_exe and os.path.basename(exe) == "java":
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            todo.extend((child, exe) for child in children.get(pid, []))
        return total
