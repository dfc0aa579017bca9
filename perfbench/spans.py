"""Spans around the program's public calls, Spark event-log task
metrics per span, and a peak-RSS sampler over the process tree.

Spans are kept in memory and written out as JSON lines when the run
ends.  Each span sets a Spark job group named after it; the event log
(``spark.eventLog.enabled``) is parsed after the session stops, and
every job is attributed to the span whose group it carries, or else to
the span open at its submission time (jobs submitted from the
program's own worker threads carry no group).
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, **attrs):
        """Time one call.  With tracing off only the duration is kept
        (callers read it back for the end-to-end metrics)."""
        rec = {"name": name, **attrs}
        if self.enabled and self.sc is not None:
            self._n += 1
            rec["group"] = f"{name}#{self._n}"
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["s"] = rec["end"] - rec["start"]
            if self.enabled and self.sc is not None:
                self.sc.setJobGroup("bench.idle", "bench.idle")
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a spanned version of itself."""
        fn = getattr(owner, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")


def attach_task_metrics(spans: list[dict], event_dir: str) -> None:
    """Count the jobs of each span and sum executor CPU, GC, shuffle
    write and spill of their tasks into it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    totals: dict[int, dict] = {}
    files = sorted(os.path.join(root, n)
                   for root, _dirs, names in os.walk(event_dir)
                   for n in names if not n.startswith(("appstatus", ".")))
    for fname in files:
        with open(fname) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"group": props.get("spark.jobGroup.id"),
                                 "t": ev["Submission Time"] / 1000.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    jid = stage_job.get(ev["Stage ID"])
                    acc = totals.setdefault(jid, {
                        "executor_cpu_s": 0.0, "gc_s": 0.0,
                        "shuffle_write_bytes": 0, "shuffle_records": 0,
                        "spill_bytes": 0})
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    acc["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                    acc["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
    by_group = {s.get("group"): s for s in spans if s.get("group")}
    # innermost span open at a time: spans are sequential or nested, so
    # the latest-starting span that contains t is the innermost one
    ordered = sorted(spans, key=lambda s: s["start"])
    for jid, job in jobs.items():
        span = by_group.get(job["group"])
        if span is None:
            inside = [s for s in ordered if s["start"] <= job["t"] <= s["end"]]
            span = inside[-1] if inside else None
        if span is None:
            continue
        span["spark_jobs"] = span.get("spark_jobs", 0) + 1
        for k, v in totals.get(jid, {}).items():
            span[k] = span.get(k, 0) + v


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the Python driver, the JVM and the Python workers) from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            fields = stat[stat.rfind(")") + 2:].split()
            parent[int(d)] = int(fields[1])
            rss[int(d)] = int(fields[21]) * self._page
        root = os.getpid()
        total, todo = 0, [root]
        children: dict[int, list[int]] = {}
        for pid, ppid in parent.items():
            children.setdefault(ppid, []).append(pid)
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo += children.get(pid, [])
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())
        return self.peak / 2**20
