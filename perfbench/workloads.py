"""The benchmark's workloads and the closed loop that runs each of them.

One client: the benchmark process is the single Spark driver and issues its
next operation only after the previous one returns. Inputs come from
``synth.generate(seed=...)``; the program receives only the generated
corpus. Why each workload exists is recorded in ``Workload.why`` and in
README.md.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import time
import traceback
from dataclasses import dataclass, field

FAT_PAGES = {"n_links": (30, 50), "n_paras": (60, 120)}


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str           # "crawl" or "maintenance"
    why: str
    corpus: dict        # synth.generate parameters except the seed
    cfg: dict           # CrawlConfig fields
    smoke: dict         # corpus and cfg of the --smoke scale
    sample_pages: int   # pages in the traced run's kernel sample

    def config(self):
        from sparkcrawl.config import CrawlConfig

        return CrawlConfig(**self.cfg)

    def key(self) -> str:
        """Names the cache of the corpus and of the results checked against
        it: changes with every input and config parameter."""
        from sparkcrawl import synth

        doc = json.dumps([synth.FORMAT_VERSION, self.corpus, self.cfg],
                         sort_keys=True)
        return hashlib.sha1(doc.encode()).hexdigest()[:12]

    def scaled_down(self) -> "Workload":
        return dataclasses.replace(self, sample_pages=20, **self.smoke)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="crawl_bulk",
            kind="crawl",
            why="fat pages (~8 KB, ~40 links), cap-bound rounds: extraction, "
                "canonicalization and dedup scale with volume; seen sidecar "
                "off",
            corpus=dict(n_hosts=40, pages_per_host=25, n_seeds=40,
                        max_per_round=60, **FAT_PAGES),
            # round 0 plans robots, round 1 fetches the seeds, round 2 is
            # cap-bound; a fourth round would add wall, not a new shape
            cfg=dict(round_size=600, max_rounds=3, depth_limit=12),
            smoke=dict(corpus=dict(n_hosts=6, pages_per_host=10, n_seeds=6,
                                   max_per_round=60, **FAT_PAGES),
                       cfg=dict(round_size=60, max_rounds=3, depth_limit=12)),
            sample_pages=120,
        ),
        Workload(
            name="seen_maintenance",
            kind="maintenance",
            why="light-page crawl with the seen sidecar on, then seen-TTL "
                "upkeep on its store: forget half the seen set, "
                "re-enqueue by freshness, refetch one round",
            corpus=dict(n_hosts=60, pages_per_host=30, n_seeds=60,
                        max_per_round=8),
            cfg=dict(round_size=300, max_rounds=3, depth_limit=12,
                     bloom_min_seen=0),
            smoke=dict(corpus=dict(n_hosts=6, pages_per_host=10, n_seeds=6,
                                   max_per_round=8),
                       cfg=dict(round_size=30, max_rounds=3, depth_limit=12,
                                bloom_min_seen=0)),
            sample_pages=400,
        ),
    )
}


def get_workload(name: str, smoke: bool) -> Workload:
    wl = WORKLOADS[name]
    return wl.scaled_down() if smoke else wl


def corpus_dir(wl: Workload, seed: int, cache_root: str) -> str:
    """The workload's corpus for ``seed``, generated once and then reused:
    the seed fixes every input byte."""
    from sparkcrawl.synth import generate

    corpus = os.path.join(cache_root, f"{wl.name}-{wl.key()}",
                          f"seed-{seed}", "corpus")
    if not os.path.exists(os.path.join(corpus, "_DONE")):
        shutil.rmtree(corpus, ignore_errors=True)
        generate(corpus, seed=seed, procs=os.cpu_count(), **wl.corpus)
        with open(os.path.join(corpus, "_DONE"), "w") as f:
            f.write("ok")
    return corpus


@dataclass
class Outcome:
    """What one run measured; run.py turns it into metrics."""
    attempted: int = 0
    failed: int = 0
    setup_samples: list = field(default_factory=list)   # data set-up walls, s
    rounds: list = field(default_factory=list)          # timed round summaries
    batch_s: list = field(default_factory=list)         # one per timed batch
    steps: dict = field(default_factory=dict)           # maintenance step walls
    cycles: list = field(default_factory=list)          # maintenance counts
    batches: list = field(default_factory=list)         # (store, summaries)
    crawls: list = field(default_factory=list)          # ditto, oracle-gated
    errors: list = field(default_factory=list)

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        self.errors.append(what)


def crawl(spark, corpus: str, store_dir: str, cfg) -> tuple[float, list]:
    """``run_crawl`` on a fresh store. Returns its set-up wall (everything
    before the first round: index the corpus, load robots, seed the
    frontier, probe corpus caps) and the per-round summaries."""
    import sparkcrawl.crawl as C

    t0 = time.perf_counter()
    summaries = C.run_crawl(spark, corpus, store_dir, cfg)
    wall = time.perf_counter() - t0
    return wall - sum(s["wall_ms"] for s in summaries) / 1e3, summaries


def warm_up(spark, corpus: str, work: str, cfg, out: Outcome, tracer) -> None:
    """Untimed warm-up: the workload's own set-up on a throwaway store, so
    the timed crawl starts on a JVM that has loaded and compiled the
    crawl's scan, join and write paths. It is the run's cold set-up
    sample."""
    tracer.phase = "warmup"
    store = os.path.join(work, "warmup")
    setup, _ = crawl(spark, corpus, store,
                     dataclasses.replace(cfg, max_rounds=0))
    out.setup_samples.append(setup)
    shutil.rmtree(store, ignore_errors=True)


def run_crawl_workload(spark, wl: Workload, corpus: str, work: str,
                       seconds: float, tracer) -> Outcome:
    """Warm up, then whole crawls on fresh stores, every round on the
    clock, until the rounds have run ``seconds``. The rounds are gated
    later, by :func:`gate_crawls`, once Spark has stopped."""
    cfg, out = wl.config(), Outcome()
    warm_up(spark, corpus, work, cfg, out, tracer)
    timed = 0.0
    while not out.batches or timed < seconds:
        store = os.path.join(work, f"crawl{len(out.batches)}")
        tracer.phase = "timed"
        try:
            setup, summaries = crawl(spark, corpus, store, cfg)
        except Exception:
            out.attempted += 1
            out.fail(1, traceback.format_exc())
            break
        out.setup_samples.append(setup)
        out.rounds.extend(summaries)
        out.batch_s.append(sum(s["wall_ms"] for s in summaries) / 1e3)
        out.batches.append((store, summaries))
        out.crawls.append((store, summaries))
        timed += out.batch_s[-1]
    return out


def gate_crawls(out: Outcome, corpus: str, cfg) -> None:
    """Check every timed crawl round against the oracle's crawl of the
    same corpus and config (computed once per corpus, then cached beside
    it)."""
    from sparkcrawl.snapstore import SnapStore

    from perfbench import gate

    oracle = gate.oracle_summary(
        corpus, cfg, os.path.join(os.path.dirname(corpus), "oracle.json"))
    for store, summaries in out.crawls:
        out.attempted += len(summaries)
        bad = gate.check_crawl(SnapStore(store), summaries, oracle)
        if bad:
            out.fail(len(bad), f"oracle mismatch in rounds {bad} of {store}")


def run_maintenance_workload(spark, wl: Workload, corpus: str, work: str,
                             seconds: float, tracer) -> Outcome:
    """Crawl the corpus into the input store, then run maintenance cycles
    on fresh copies of that store until the cycles have run ``seconds``.
    The crawl's rounds are timed and gated like ``crawl_bulk``'s: they are
    the workload's light-page, sidecar-on rounds. Every cycle's counts must
    equal those of the first cycle ever run on this corpus, cached beside
    it."""
    cfg, out = wl.config(), Outcome()
    base = os.path.join(work, "base")
    tracer.phase = "timed"
    _, summaries = crawl(spark, corpus, base, cfg)
    out.rounds.extend(summaries)
    out.crawls.append((base, summaries))
    expected_path = os.path.join(os.path.dirname(corpus), "maintenance.json")
    expected = None
    if os.path.exists(expected_path):
        with open(expected_path) as f:
            expected = json.load(f)
    timed = 0.0
    while not out.batch_s or timed < seconds:
        store = os.path.join(work, f"maint{len(out.batch_s)}")
        failed = out.failed
        counts = maintenance_cycle(spark, cfg, corpus, base, store, out,
                                   expected)
        if counts is None:
            break
        if expected is None and out.failed == failed:
            expected = counts
            tmp = f"{expected_path}.tmp-{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(counts, f)
            os.replace(tmp, expected_path)
        timed += out.batch_s[-1]
    return out


def maintenance_cycle(spark, cfg, corpus: str, base: str, store_dir: str,
                      out: Outcome, expected: dict | None) -> dict | None:
    """Copy the crawled store ``base`` to ``store_dir``, then run and
    time forget_seen (the first half of the rounds), recrawl_enqueue (one
    round's worth) and one resumed refetch round, and gate them: counts
    are non-zero, seen_total moves by exactly -forgot
    +recrawled, and the refetch round schedules only queued URLs. Counts
    must also equal ``expected``, when given. Returns the cycle's counts,
    or None if a step raised."""
    import sparkcrawl.crawl as C
    import sparkcrawl.rounds as R
    from sparkcrawl.snapstore import SnapStore

    from perfbench import gate

    t0 = time.perf_counter()
    shutil.copytree(base, store_dir)
    out.setup_samples.append(time.perf_counter() - t0)
    store = SnapStore(store_dir)
    last = store.committed_rounds()[-1]
    seen_before = int(store.round_manifest(last)["meta"]["seen_total"])
    out.attempted += 3
    try:
        t0 = time.perf_counter()
        forgot = R.forget_seen(spark, store, cfg,
                               up_to_round=last // 2)["forgot"]
        t1 = time.perf_counter()
        recrawled = R.recrawl_enqueue(spark, store, cfg,
                                      budget=cfg.round_size)["recrawled"]
        t2 = time.perf_counter()
        summaries = C.run_crawl(
            spark, corpus, store_dir,
            dataclasses.replace(cfg, max_rounds=last + 2), resume=True)
        t3 = time.perf_counter()
    except Exception:
        out.fail(3, traceback.format_exc())
        return None
    for k, v in (("forget_s", t1 - t0), ("recrawl_enqueue_s", t2 - t1),
                 ("refetch_s", t3 - t2)):
        out.steps.setdefault(k, []).append(v)
    out.batch_s.append(t3 - t0)
    out.rounds.extend(summaries)
    out.batches.append((store_dir, summaries))
    counts = {"forgot": int(forgot), "recrawled": int(recrawled),
              "refetched": sum(int(s.get("scheduled", 0)) for s in summaries)}
    out.cycles.append(counts)

    def same(k: str) -> bool:
        return counts[k] > 0 and (expected is None or counts[k] == expected[k])

    # the queue recrawl_enqueue left is the frontier of the last crawled round
    man = store.round_manifest(last)
    queued = set(gate.read_columns(
        store, "frontier", ["canon"], man["tables"]["frontier"])["canon"])
    refetched = set(gate.store_schedule(store, {last + 1}).get(last + 1, []))
    checks = {
        "forget": same("forgot"),
        "recrawl_enqueue": same("recrawled") and (
            int(man["meta"]["seen_total"])
            == seen_before - counts["forgot"] + counts["recrawled"]),
        "refetch": same("refetched") and len(summaries) == 1
        and refetched <= queued,
    }
    for step, ok in checks.items():
        if not ok:
            out.fail(1, f"{step} gate failed: {counts} vs {expected}")
    return counts
