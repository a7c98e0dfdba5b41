"""Instruments the benchmark attaches from the outside.

* ``Spans`` — in-memory spans (id, op, name, start, end, parent), written
  out as JSONL when the run ends; self time = span minus its children.
* ``RssSampler`` — peak resident memory of this process and every
  descendant (the driver JVM, the PySpark daemon and its workers).
* ``snapshot`` / ``written`` — bytes and files the engine wrote, from a
  file listing before and after each op.
* ``StreamProgress`` — a ``StreamingQueryListener`` collecting each
  micro-batch's ``durationMs``.
* ``read_event_log`` — Spark's own event log, parsed after the session
  stops, for job, stage and task timing, bytes and spill.

Nothing here runs inside the package under test.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Spans:
    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        row = {
            "id": len(self.rows),
            "op": op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.rows.append(row)
        self._stack.append(row["id"])
        try:
            yield row
        finally:
            self._stack.pop()
            row["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        child = defaultdict(float)
        for r in self.rows:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = defaultdict(float)
        for r in self.rows:
            out[r["name"]] += r["end"] - r["start"] - child[r["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps(r) + "\n")


def _descendants(root: int) -> list[int]:
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> float:
    """CPU time, user plus system, of this process and its descendants
    (the JVM and the Python workers), reaped children included."""
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of the process tree while ``active``."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                kb = sum(_rss_kb(p) for p in _descendants(os.getpid()))
                self.peak_kb = max(self.peak_kb, kb)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @contextmanager
    def sampling(self):
        self.active.set()
        try:
            yield
        finally:
            self.active.clear()


def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under ``roots``."""
    out = {}
    for root in roots:
        for d, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue  # removed while listing
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(bytes, files) of files created or rewritten between two snapshots;
    hidden and ``_``-prefixed files (checksums, commit markers) excluded
    from the file count but not from the bytes."""
    nbytes = nfiles = 0
    for p, (size, mtime) in after.items():
        if before.get(p) != (size, mtime):
            nbytes += size
            if not os.path.basename(p).startswith((".", "_")):
                nfiles += 1
    return nbytes, nfiles


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamProgress(StreamingQueryListener):
    """Micro-batch timing for every streaming query of the session. Job
    groups do not follow a drain onto its stream thread, so drains are
    attributed to ops by time."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.batches: dict[str, list[dict]] = defaultdict(list)

    def onQueryStarted(self, event) -> None:
        self.started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches[str(p.runId)].append(
            {"start": _epoch(p.timestamp), "durationMs": dict(p.durationMs)}
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def drains(self) -> list[dict]:
        """One record per finished drain: start, end and phase totals."""
        out = []
        for run_id, start in self.started.items():
            bs = self.batches.get(run_id, [])
            end = max((b["start"] + b["durationMs"].get("triggerExecution", 0) / 1e3 for b in bs), default=start)
            phase = lambda k: sum(b["durationMs"].get(k, 0) for b in bs) / 1e3  # noqa: E731
            out.append(
                {
                    "start": start,
                    "end": end,
                    "batches": len(bs),
                    "trigger_s": phase("triggerExecution"),
                    "add_batch_s": phase("addBatch"),
                    "query_planning_s": phase("queryPlanning"),
                    "wal_commit_s": phase("walCommit"),
                }
            )
        return out


def read_event_log(log_dir: str) -> dict:
    """Jobs from Spark's event log: group, submit/end (epoch s) and the
    summed task metrics of their stages."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark 4 writes a directory per application (event log format v2)
    # holding rolled ``events_<n>_<appId>`` files
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev["Submission Time"] / 1e3,
                        "end": ev["Submission Time"] / 1e3,
                        "stages": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid is not None:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    s = stage_metrics[ev["Stage ID"]]
                    s["tasks"] += 1
                    s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    s["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    s["spill_b"] += m.get("Disk Bytes Spilled", 0)
    for sid, metrics in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is not None:
            for k, v in metrics.items():
                jobs[jid][k] = jobs[jid].get(k, 0) + v
    return jobs
