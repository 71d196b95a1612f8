"""Tracing for the ``--trace 1`` run.

Spans are recorded from the benchmark's own files only: :meth:`Tracer.install`
wraps the public entry points of the crawl's modules (round functions,
maintenance calls, SnapStore writes and commits) and restores them on
:meth:`Tracer.uninstall`. No program source changes. A span records name,
start, end, parent and run id; spans stay in memory until the run ends.

Spark's own work inside a span comes from the event log that the traced run
switches on through ``get_spark(extra=...)``: jobs and stages are attributed
to the span whose wall interval holds their submission time, which is exact
in local mode with one driver.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager

SNAPSTORE_WRITES = ("append", "overwrite", "append_local")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._next_id = 0
        self._patched: list[tuple[object, str, object]] = []
        self.phase: str | None = None  # copied into every span opened

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        # a span opened on a write-pool thread belongs to the main thread's
        # open span (the round that submitted the write)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "phase": self.phase, "start": time.time(), **attrs}
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, attrs=None, after=None) -> None:
        orig = getattr(owner, attr)

        def traced(*a, **k):
            with self.span(name, **(attrs(a, k) if attrs else {})) as rec:
                out = orig(*a, **k)
                if after is not None:
                    after(rec, a, out)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def install(self) -> None:
        import sparkcrawl.crawl as C
        import sparkcrawl.rounds as R
        import sparkcrawl.session as S
        from sparkcrawl.snapstore import SnapStore

        def round_attrs(a, k):
            return {"round": a[3] if len(a) > 3 else k["round_n"]}

        def round_after(rec, a, out):
            rec["counts"] = {k: v for k, v in out.items()
                             if isinstance(v, int)}

        # crawl.py binds these names at import; patch both homes
        for mod in (C, R):
            self.wrap(mod, "one_round", "rounds.one_round", round_attrs,
                      round_after)
            self.wrap(mod, "prepare_pages", "rounds.prepare_pages")
            self.wrap(mod, "init_crawl", "rounds.init_crawl")
        self.wrap(R, "corpus_caps", "rounds.corpus_caps")
        self.wrap(R, "forget_seen", "rounds.forget_seen")
        self.wrap(R, "recrawl_enqueue", "rounds.recrawl_enqueue")
        self.wrap(S, "prewarm_python_workers", "session.prewarm")

        def write_attrs(a, k):
            return {"table": a[1] if len(a) > 1 else k["table"]}

        def write_after(rec, a, snap_id):
            store, table = a[0], rec["table"]
            with open(store._manifest_path(table, snap_id)) as f:
                data_dir = os.path.join(store._tdir(table),
                                        json.load(f)["files"][-1])
            n = size = 0
            for d, _, files in os.walk(data_dir):
                for fn in files:
                    if fn.endswith(".parquet"):
                        n += 1
                        size += os.path.getsize(os.path.join(d, fn))
            rec["files"], rec["bytes"] = n, size

        for meth in SNAPSTORE_WRITES:
            self.wrap(SnapStore, meth, "snapstore.write", write_attrs,
                      write_after)
        self.wrap(SnapStore, "commit_round", "snapstore.commit")

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                covered = union_s([(c["start"], c["end"])
                                   for c in kids.get(s["id"], [])])
                f.write(json.dumps({**s, "self": s["dur"] - covered}) + "\n")


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals."""
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


# ---------------------------------------------------------------- event log

def read_event_log(events_dir: str) -> list[dict]:
    """All events of the (single) application logged under ``events_dir``.
    Spark 4 writes rolling, zstd-compressed files even with the UI off."""
    import pyarrow as pa

    def order(path: str):
        base = os.path.basename(path)
        parts = base.split("_")
        return int(parts[1]) if base.startswith("events_") else 0

    paths = sorted(
        (p for p in glob.glob(os.path.join(events_dir, "**", "*"),
                              recursive=True)
         if os.path.isfile(p) and not os.path.basename(p).startswith(
             ("appstatus", "."))),
        key=order,
    )
    events = []
    for p in paths:
        if p.endswith(".zstd"):
            with pa.OSFile(p) as raw, pa.CompressedInputStream(raw, "zstd") as z:
                data = z.read()
        else:
            with open(p, "rb") as f:
                data = f.read()
        for line in data.decode("utf-8").splitlines():
            if line.strip():
                events.append(json.loads(line))
    return events


class SparkWork:
    """Jobs, stages and task metrics from an event log, queryable by wall
    interval (epoch seconds)."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        tasks: dict[int, list[dict]] = {}
        for e in events:
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3}
            elif ev == "SparkListenerJobEnd":
                self.jobs.setdefault(e["Job ID"], {})["end"] = (
                    e["Completion Time"] / 1e3)
            elif ev == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": info.get("Submission Time", 0) / 1e3}
            elif ev == "SparkListenerTaskEnd":
                tasks.setdefault(e["Stage ID"], []).append(
                    e.get("Task Metrics") or {})
        for sid, st in self.stages.items():
            ts = tasks.get(sid, [])
            sr = [t.get("Shuffle Read Metrics", {}) for t in ts]
            st.update(
                tasks=len(ts),
                run_s=sum(t.get("Executor Run Time", 0) for t in ts) / 1e3,
                cpu_s=sum(t.get("Executor CPU Time", 0) for t in ts) / 1e9,
                gc_s=sum(t.get("JVM GC Time", 0) for t in ts) / 1e3,
                spill_b=sum(t.get("Memory Bytes Spilled", 0)
                            + t.get("Disk Bytes Spilled", 0) for t in ts),
                sw_b=sum(t.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0) for t in ts),
                sr_b=sum(r.get("Remote Bytes Read", 0)
                         + r.get("Local Bytes Read", 0) for r in sr),
            )

    def within(self, start: float, end: float, cores: int) -> dict:
        jobs = [j for j in self.jobs.values()
                if "end" in j and start <= j["start"] <= end]
        stages = [s for s in self.stages.values() if start <= s["start"] <= end]
        wall = end - start
        busy = union_s([(max(j["start"], start), min(j["end"], end))
                        for j in jobs if j["end"] > start])
        run_s = sum(s["run_s"] for s in stages)
        mb = 1024.0 * 1024.0
        return {
            "spark_jobs": len(jobs),
            "spark_stages": len(stages),
            "spark_tasks": sum(s["tasks"] for s in stages),
            "driver_gap_s": wall - busy,
            "task_run_s": run_s,
            "task_cpu_s": sum(s["cpu_s"] for s in stages),
            "task_gc_s": sum(s["gc_s"] for s in stages),
            "shuffle_write_mb": sum(s["sw_b"] for s in stages) / mb,
            "shuffle_read_mb": sum(s["sr_b"] for s in stages) / mb,
            "spill_mb": sum(s["spill_b"] for s in stages) / mb,
            "core_busy_share": run_s / (wall * cores) if wall > 0 else 0.0,
        }
