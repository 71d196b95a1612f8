"""Process plumbing for one benchmark run: the run context recorded with
every result, a sampler for the peak memory of the whole process tree, and
a shutdown that waits for the JVM and its Python workers to exit."""

from __future__ import annotations

import os
import random
import threading
import time


def machine_calib(reps: int = 200) -> dict:
    """Single-thread extraction kernel on one fixed page, no Spark: the same
    calibration ``bench.py`` records, so results from drifted or different
    hosts can be told apart before they are compared."""
    from sparkcrawl.extract import extract_page

    rng = random.Random(1234)
    words = "alpha bravo charlie delta echo foxtrot golf hotel india".split()
    paras = "".join(
        "<p>" + " ".join(rng.choice(words) for _ in range(10)) + "</p>"
        for _ in range(90)
    )
    anchors = "".join(
        f'<a href="/p{rng.randrange(500)}.html">x</a> ' for _ in range(40)
    )
    html = (
        '<html><head><title>calib</title><meta charset="utf-8"></head>'
        f"<body>{paras}{anchors}</body></html>"
    ).encode()
    url = "http://h7.example/p13.html"
    for _ in range(20):
        extract_page(html, url)
    t0 = time.perf_counter()
    for _ in range(reps):
        extract_page(html, url)
    wall = time.perf_counter() - t0
    return {"kernel": f"extract_page x{reps} (1 thread)",
            "pages_per_sec": round(reps / wall, 1)}


def run_context(spark, cores: int, seed: int, workload: dict) -> dict:
    """What a result must carry so that runs from different boxes, drifted
    hosts or other input sizes are never compared."""
    import pyspark

    from sparkcrawl import synth

    return {
        "nproc": os.cpu_count(),
        "master": f"local[{cores}]",
        "seed": seed,
        "workload": workload,
        "corpus_version": synth.FORMAT_VERSION,
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "machine_calib": machine_calib(),
    }


def _processes() -> dict[int, tuple[int, str]]:
    """pid → (parent pid, command name) of every live process."""
    procs: dict[int, tuple[int, str]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        head, tail = stat.rsplit(")", 1)
        procs[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
    return procs


def descendants(pid: int, procs=None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for p, (ppid, _) in (procs or _processes()).items():
        kids.setdefault(ppid, []).append(p)
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it, so a sum over processes counts the
    Python workers' shared pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Samples the summed resident memory (PSS) of this process and all its
    descendants (the driver JVM and the Python workers it forks) on a
    background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _processes()
            # a "java" child of the JVM is one it is spawning, caught before
            # its exec: it still shares the JVM's memory, which would count
            # twice
            tree = [p for p in descendants(me, procs)
                    if not (procs[p][1] == "java"
                            and procs[procs[p][0]][1] == "java")]
            kb = sum(_pss_kb(p) for p in [me, *tree])
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it was launched with, and wait
    for every process this run started to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the gateway server exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    reap()


def reap(timeout_s: float = 30.0) -> None:
    """Terminate and wait for any descendant still alive (Python workers
    orphaned by the JVM exit are reparented away, so this sees only ours)."""
    import signal

    deadline = time.monotonic() + timeout_s
    sent_kill = False
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            if sent_kill:
                return
            sig, sent_kill = signal.SIGKILL, True
            deadline = time.monotonic() + 10
        else:
            sig = signal.SIGTERM
        for p in left:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
