"""Tracing for the ``--trace 1`` run: spans recorded around the benchmark's
calls into the program, a py4j call counter, and the fold of the Spark event
log into per-span engine counters.

Spans stay in memory and are written out when the run ends.  Engine work is
attributed to a span by time window: a job belongs to the innermost span whose
[start, end] holds the job's submission time.  Job-group properties cannot be
used because ``plans.incremental._run_concurrently`` submits from plain
threads, which do not inherit them.
"""

from __future__ import annotations

import contextlib
import gc
import glob
import json
import os
import threading
import time


_RELEASE = "m\nd\n"  # py4j's "memory delete" command


class Py4jCounter:
    """Counts every command the Python driver sends to the JVM, from any
    thread, by wrapping the gateway client's ``send_command``.  Releases of
    garbage-collected JavaObjects are not counted: py4j's finalizer thread
    sends them whenever Python's collector runs, so they would make the
    count differ between runs of the same code."""

    def __init__(self) -> None:
        self.calls = 0
        self._lock = threading.Lock()
        self._client = None
        self._orig = None

    def install(self, spark) -> None:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith(_RELEASE):
                with self._lock:
                    self.calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = counted
        self._client, self._orig = client, orig

    def uninstall(self) -> None:
        if self._client is not None:
            self._client.send_command = self._orig
            self._client = None


class Tracer:
    """In-memory span recorder.  ``enabled=False`` makes every span a no-op,
    so untraced runs pay nothing but a context-manager call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.py4j = Py4jCounter()
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, op_id, parent: str | None = None):
        """Yield the span's record; the caller may add attributes to it, also
        after the block ends."""
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "op": op_id, "parent": parent,
               "start": time.time()}
        calls = self.py4j.calls
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["py4j_calls"] = self.py4j.calls - calls
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, op_id, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        """Record a span measured elsewhere (streaming progress)."""
        if self.enabled:
            with self._lock:
                self.spans.append({"name": name, "op": op_id, "parent": parent,
                                   "start": start, "end": end, **attrs})

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


# -- event log ----------------------------------------------------------------

_COUNTERS = ("tasks", "executor_cpu_ms", "gc_ms", "input_records", "output_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs of every application logged under ``log_dir`` (plain or v2
    rolling layout, uncompressed), each with its window and task totals."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    paths = sorted(set(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
                   | {p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)})
    for app, path in enumerate(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    jobs[key] = {"submit": ev["Submission Time"] / 1000.0,
                                 "end": None, "stages": set(),
                                 **{c: 0 for c in _COUNTERS}}
                    for sid in ev["Stage IDs"]:
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerJobEnd":
                    jobs[(app, ev["Job ID"])]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    key = stage_job.get((app, ev["Stage Info"]["Stage ID"]))
                    if key is not None:
                        jobs[key]["stages"].add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    key = stage_job.get((app, ev["Stage ID"]))
                    m = ev.get("Task Metrics")
                    if key is None or not m:
                        continue
                    j = jobs[key]
                    sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                    j["tasks"] += 1
                    j["executor_cpu_ms"] += m["Executor CPU Time"] / 1e6
                    j["gc_ms"] += m["JVM GC Time"]
                    j["input_records"] += m["Input Metrics"]["Records Read"]
                    j["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    j["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    j["shuffle_write_bytes"] += sw["Shuffle Bytes Written"]
                    j["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    out = []
    for j in jobs.values():
        j["stages"] = len(j["stages"])
        if j["end"] is None:
            j["end"] = j["submit"]
        out.append(j)
    return out


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Add engine counters to each span: the jobs submitted inside it and not
    inside a shorter span of the same op (so a parent's counters are its self
    work plus nothing double-counted from children) — and ``no_job_s``, the
    part of the span during which no job of any kind ran."""
    for s in spans:
        s.update(jobs=0, stages=0, **{c: 0 for c in _COUNTERS})
    by_len = sorted(spans, key=lambda s: s["end"] - s["start"])
    for j in jobs:
        for s in by_len:
            if s["start"] <= j["submit"] <= s["end"]:
                s["jobs"] += 1
                s["stages"] += j["stages"]
                for c in _COUNTERS:
                    s[c] += j[c]
                break
    windows = sorted((j["submit"], j["end"]) for j in jobs)
    for s in spans:
        busy, cursor = 0.0, s["start"]
        for a, b in windows:
            a, b = max(a, cursor), min(b, s["end"])
            if b > a:
                busy += b - a
                cursor = b
        s["no_job_s"] = max(0.0, (s["end"] - s["start"]) - busy)


# -- store directories ----------------------------------------------------------

def version_stats(store_path: str) -> dict:
    """Bytes, data files and rows of an IndexStore's current version, read
    from the directory and the parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    with open(os.path.join(store_path, "_CURRENT")) as f:
        v = int(f.read().strip())
    vdir = os.path.join(store_path, f"v={v}")
    files = [os.path.join(vdir, n) for n in os.listdir(vdir) if n.endswith(".parquet")]
    return {
        "version": v,
        "bytes": sum(os.path.getsize(p) for p in files),
        "files": len(files),
        "rows": sum(pq.ParquetFile(p).metadata.num_rows for p in files),
    }


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def retained_mb(spark) -> tuple[float, float]:
    """Peak resident memory of this Python driver plus the JVM heap still in
    use after a full GC.  Input generation and the checks run in a child
    process, so the Python peak is the program's driver side.  The heap
    figure is the live set, which holds whatever the program caches (cached
    blocks, broadcasts, memos); unlike the JVM's peak RSS it does not depend
    on when the collector chose to grow the heap.  The heap
    figure is each heap pool's usage as the full GC left it, so allocation by
    background threads right after the GC does not count.  Returns
    (Python MB, JVM heap MB)."""
    gc.collect()  # drop Python cycles that still pin JVM objects
    jvm = spark.sparkContext._jvm
    heap = 0
    # two rounds: Spark's ContextCleaner frees broadcast and shuffle blocks
    # only after a GC has found their owners unreachable, so the first GC
    # still sees blocks of finished jobs, depending on when GC last ran
    for _ in range(2):
        time.sleep(0.5)
        jvm.java.lang.System.gc()
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        after = pool.getCollectionUsage()
        if pool.getType().name() == "HEAP" and after is not None:
            heap += after.getUsed()
    return _hwm_kb("self") / 1024.0, heap / 2**20
