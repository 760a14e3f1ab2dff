"""Spans, Spark event-log rollup, process-tree RSS sampling and host context.

A span is taken in the benchmark's own code around one public call into the
package. With tracing on, each span runs under its own Spark job group, and
after the session stops the event log is rolled up per span:

- ``wall_s``: the span's duration;
- ``self_s``: wall minus the union of its child spans;
- ``driver_s``: wall minus the union of the span's Spark job intervals
  (planning, driver-side Python and scheduling gaps);
- ``jobs``, ``executor_cpu_s``, ``python_worker_s`` (the "time to run Python
  workers" task metric), ``shuffle_write_bytes``, ``gc_s``: summed over the
  jobs of the span and its children.

A job without a span's group (the session's warm-up jobs run before a group
can be set) belongs to the innermost span open when it was submitted. The
benchmark runs one client thread, so that span caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time

SPAN_FIELDS = (
    "wall_s", "self_s", "driver_s", "jobs", "executor_cpu_s",
    "python_worker_s", "shuffle_write_bytes", "gc_s",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes Spark's own event log, uncompressed, to ``log_dir``."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


class Tracer:
    """Records spans; with ``sc`` (a SparkContext) set, runs each span's
    jobs under the span's own job group."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None

    @contextlib.contextmanager
    def span(self, name: str):
        rec = {
            "id": f"perfbench-span-{len(self.spans)}", "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", rec["id"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


def read_jobs(log_dir: str) -> list[dict]:
    """Per-job rollup of a finished Spark event log (plain or rolling)."""
    # rolling logs (the default) are eventlog_v2_<app>/events_<n>_<app>
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1]))
    files += [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1000.0, "t1": None,
                        "executor_cpu_s": 0.0, "python_worker_s": 0.0,
                        "shuffle_write_bytes": 0, "gc_s": 0.0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    job["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            job["python_worker_s"] += float(acc.get("Update") or 0) / 1e3
    return [j for j in jobs.values() if j["t1"] is not None]


def rollup(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per span name: the median over its occurrences of every SPAN_FIELDS value."""
    done = [s for s in spans if "t1" in s]
    by_id = {s["id"]: s for s in done}
    children: dict[str, list[dict]] = {}
    for s in done:
        if s["parent"] in by_id:
            children.setdefault(s["parent"], []).append(s)
    own_jobs: dict[str, list[dict]] = {}
    for j in jobs:
        owner = j["group"] if j["group"] in by_id else None
        if owner is None:
            open_at = [s for s in done if s["t0"] <= j["t0"] <= s["t1"]]
            if open_at:
                owner = max(open_at, key=lambda s: s["t0"])["id"]
        if owner is not None:
            own_jobs.setdefault(owner, []).append(j)

    def subtree_jobs(sid: str) -> list[dict]:
        out = list(own_jobs.get(sid, []))
        for c in children.get(sid, []):
            out += subtree_jobs(c["id"])
        return out

    per_name: dict[str, list[dict]] = {}
    for s in done:
        wall = s["t1"] - s["t0"]
        sj = subtree_jobs(s["id"])
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        busy = _union_len(_clip([(j["t0"], j["t1"]) for j in sj], s["t0"], s["t1"]))
        per_name.setdefault(s["name"], []).append({
            "wall_s": wall,
            "self_s": wall - _union_len(_clip(kids, s["t0"], s["t1"])),
            "driver_s": wall - busy,
            "jobs": len(sj),
            "executor_cpu_s": sum(j["executor_cpu_s"] for j in sj),
            "python_worker_s": sum(j["python_worker_s"] for j in sj),
            "shuffle_write_bytes": sum(j["shuffle_write_bytes"] for j in sj),
            "gc_s": sum(j["gc_s"] for j in sj),
        })
    return {
        name: {f: statistics.median(o[f] for o in occ) for f in SPAN_FIELDS}
        for name, occ in per_name.items()
    }


def attributed_fraction(spans: list[dict], t0: float, t1: float) -> float:
    """Share of [t0, t1] covered by top-level spans."""
    top = [(s["t0"], s["t1"]) for s in spans if s["parent"] is None and "t1" in s]
    return _union_len(_clip(top, t0, t1)) / (t1 - t0)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, RSS bytes) for every process visible in /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while the table was read
        table[int(entry)] = (int(fields[1]), int(fields[21]) * page)
    return table


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        kids = [c for c, (ppid, _rss) in table.items() if ppid == pid]
        out += kids
        todo += kids
    return out


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers it forks), sampled from a daemon thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            table = _proc_table()
            rss = sum(table.get(p, (0, 0))[1] for p in [pid, *descendants(pid, table)])
            self.peak_bytes = max(self.peak_bytes, rss)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="utf-8") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def git_commit(root: str) -> str:
    """HEAD of the checkout, read from ``.git`` directly; "none" outside git."""
    git = os.path.join(root, ".git")
    try:
        with open(os.path.join(git, "HEAD"), encoding="utf-8") as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        ref_file = os.path.join(git, ref)
        if os.path.exists(ref_file):
            with open(ref_file, encoding="utf-8") as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs"), encoding="utf-8") as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "none"
