"""Crawl-engine benchmark. One workload per invocation:

    python3 perfbench/run.py --workload crawl_bulk --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout, writes only under ``.perfbench/`` there,
and prints a readable report followed, as the last line of stdout, by one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics listed in BENCHMARK.json; ``--trace 1`` the
per-layer ones, from a run with spans and the Spark event log switched on.

Every workload, untraced then traced, with failed_share and the tracing
overhead:

    python3 perfbench/run.py --all [--seed N] [--smoke]

``--smoke`` shrinks every workload to toy size (figures not comparable).
See perfbench/README.md for the workloads, metrics and the layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
# driver heap: the default 8g is far more than these corpora need, and the
# box's memory is shared. The JVM starts at its full heap, so that heap
# resizing does not move peak_rss_mb from run to run.
DRIVER_MEM = "2g"


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_layout() -> None:
    missing = [p for p in ("sparkcrawl", "oracle", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.exit(f"perfbench: not a sparkcrawl checkout, missing {missing} "
                 f"under {ROOT}")


def isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    this run's directory, and put the repo on the workers' import path."""
    for d in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["SPARKCRAWL_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["SPARKCRAWL_INDEX_STORE"] = os.path.join(work, "index_store")
    os.environ["SPARKCRAWL_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")


def du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1024.0 * 1024.0)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end(out, session_s: float, prewarm_s: float, peak_mb: float):
    """name → (value, sample count). Shared by both modes, so the traced
    run's copy of these is the basis of the tracing overhead."""
    walls = [s["wall_ms"] / 1e3 for s in out.rounds]
    urls = sum(int(s.get("scheduled", 0)) + int(s.get("dedup_dropped", 0))
               for s in out.rounds)
    return {
        "setup_s": (session_s + prewarm_s + median(out.setup_samples),
                    len(out.setup_samples)),
        "round_s_p50": (median(walls), len(walls)),
        "crawl_urls_per_s": (urls / sum(walls) if walls else 0.0, len(walls)),
        "batch_s": (median(out.batch_s), len(out.batch_s)),
        "peak_rss_mb": (peak_mb, 1),
        "store_mb": (du_mb(out.batches[-1][0]) if out.batches else 0.0,
                     len(out.batches[-1:])),
    }


def _fit(xs, ys) -> tuple[float, float]:
    """Least-squares intercept and slope of ys on xs."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    mx, my = sum(xs) / n, sum(ys) / n
    sxx = sum((x - mx) ** 2 for x in xs)
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx if sxx else 0.0
    return my - slope * mx, slope


# tables the crawl and maintenance steps write (host_lat only with an
# adaptive host budget, which no workload uses; forgotten only on
# seen_maintenance)
TABLES = ("pages_idx", "redirects_idx", "robots_corpus", "frontier", "seen",
          "seen_filter", "robots", "extracted", "frontier_log", "metrics",
          "forgotten")
COUNTS = ("scheduled", "fetched", "links_extracted", "dedup_dropped",
          "enqueued")
SPARK = ("spark_jobs", "spark_stages", "spark_tasks", "driver_gap_s",
         "task_run_s", "task_cpu_s", "task_gc_s", "shuffle_write_mb",
         "shuffle_read_mb", "spill_mb", "core_busy_share")


def per_layer(spans, sw, out, cores, kern, filt, e2e) -> dict:
    """name → (value, sample count), from spans, the event log and the
    kernel measurements. Per-round figures are medians over the timed
    rounds; work counts are those of the last timed batch, which repeat
    exactly for a seed."""
    from perfbench.trace import union_s

    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    timed = [s for s in by_name.get("rounds.one_round", [])
             if s["phase"] == "timed"]

    def med(name: str):
        xs = [s["dur"] for s in by_name.get(name, [])]
        return median(xs), len(xs)

    m: dict[str, tuple[float, int]] = {}
    m["session.start_s"] = med("session.start")
    # later calls return at once: the worker pool is already warm
    first = sorted(by_name.get("session.prewarm", []), key=lambda s: s["start"])
    m["session.prewarm_s"] = (first[0]["dur"] if first else 0.0, len(first[:1]))
    for f in ("prepare_pages", "init_crawl", "corpus_caps"):
        m[f"rounds.{f}_s"] = med(f"rounds.{f}")
    m["rounds.round_s"] = (median(s["dur"] for s in timed), len(timed))
    # round 0 plans robots and schedules nothing
    empty = [s["dur"] for s in timed if s["round"] == 0]
    m["rounds.empty_round_s"] = (median(empty), len(empty))
    fixed, slope = _fit(
        [s["counts"].get("scheduled", 0) + s["counts"].get("dedup_dropped", 0)
         for s in timed], [s["dur"] for s in timed])
    m["rounds.fixed_s"] = (fixed, len(timed))
    m["rounds.per_url_ms"] = (slope * 1e3, len(timed))
    for k in ("forget_s", "recrawl_enqueue_s", "refetch_s"):
        xs = out.steps.get(k, [])
        m[f"rounds.{k}"] = (median(xs), len(xs))
    last = out.batches[-1][1] if out.batches else []
    for k in COUNTS:
        m[f"rounds.{k}"] = (sum(int(s.get(k, 0)) for s in last), len(last))
    for k in ("forgot", "recrawled"):
        m[f"rounds.{k}"] = (out.cycles[-1][k] if out.cycles else 0,
                            len(out.cycles[-1:]))

    per_round = [sw.within(s["start"], s["end"], cores) for s in timed]
    for k in SPARK:
        m[f"rounds.{k}"] = (median(r[k] for r in per_round), len(per_round))

    writes = by_name.get("snapstore.write", [])
    for table in TABLES:
        xs = [s["dur"] for s in writes if s["table"] == table]
        m[f"snapstore.write_s.{table}"] = (median(xs), len(xs))
    timed_ids = {s["id"] for s in timed}
    pool = [union_s([(w["start"], w["end"]) for w in writes
                     if w["parent"] == r["id"]]) for r in timed]
    m["snapstore.write_pool_s"] = (median(pool), len(pool))
    commits = [s["dur"] for s in by_name.get("snapstore.commit", [])
               if s["parent"] in timed_ids]
    m["snapstore.commit_s"] = (median(commits), len(commits))
    timed_writes = [w for w in writes if w["phase"] == "timed"]
    m["snapstore.files_written"] = (sum(w["files"] for w in timed_writes),
                                    len(timed_writes))
    m["snapstore.mb_written"] = (
        sum(w["bytes"] for w in timed_writes) / (1024.0 * 1024.0),
        len(timed_writes))
    m.update(kern)
    m.update(filt)
    for k, v in e2e.items():
        m[f"trace.{k}"] = v
    return m


def run_one(args, spec: dict) -> int:
    import numpy as np

    import sparkcrawl.session as S
    from perfbench import context, gate, kernels, workloads
    from perfbench.trace import SparkWork, Tracer, read_event_log

    wl = workloads.get_workload(args.workload, args.smoke)
    cfg = wl.config()
    cache = os.path.join(STATE, "cache")
    corpus = workloads.corpus_dir(wl, args.seed, cache)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(STATE, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    isolate(work)
    cores = os.cpu_count() or 1
    tracer = Tracer(run_id=tag)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEM}",
    }
    if args.trace:
        extra.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": os.path.join(work, "events")})
        tracer.install()

    kern = filt = {}
    with context.MemSampler() as mem:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = S.get_spark(cores=cores, app=f"perfbench-{wl.name}",
                                extra=extra)
        session_s = time.perf_counter() - t0
        try:
            ctx = context.run_context(spark, cores, args.seed, {
                "name": wl.name, "corpus": wl.corpus, "cfg": wl.cfg,
                "smoke": args.smoke, "driver_mem": DRIVER_MEM})
            t0 = time.perf_counter()
            S.prewarm_python_workers(spark)
            prewarm_s = time.perf_counter() - t0
            runner = (workloads.run_crawl_workload if wl.kind == "crawl"
                      else workloads.run_maintenance_workload)
            out = runner(spark, wl, corpus, work, args.seconds, tracer)
            if args.trace and out.batches:
                from sparkcrawl.snapstore import SnapStore

                tracer.phase = "kernels"
                kern = kernels.kernel_rates(
                    corpus, args.seed, wl.sample_pages,
                    int(spark.conf.get(
                        "spark.sql.execution.arrow.maxRecordsPerBatch")))
                seen = gate.read_columns(SnapStore(out.batches[-1][0]),
                                         "seen", ["url_hash"])["url_hash"]
                filt = kernels.filter_rates(np.array(seen, dtype=np.int64),
                                            cfg, args.seed)
        finally:
            tracer.uninstall()
            context.stop_spark(spark)
    workloads.gate_crawls(out, corpus, cfg)
    e2e = end_to_end(out, session_s, prewarm_s, mem.peak_mb)
    if args.trace:
        sw = SparkWork(read_event_log(os.path.join(work, "events")))
        metrics = per_layer(tracer.spans, sw, out, cores, kern, filt, e2e)
        names = spec["per_layer"]
    else:
        metrics = e2e
        names = spec["end_to_end"]
    return report(args, tag, ctx, names, metrics, out, tracer, work)


def report(args, tag, ctx, names, metrics, out, tracer, work) -> int:
    results = os.path.join(STATE, "results")
    os.makedirs(results, exist_ok=True)
    if args.trace:
        tracer.dump(os.path.join(results, f"{tag}.spans.jsonl"))
    unknown = set(metrics) - {m["name"] for m in names}
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if unknown or missing:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: extra "
                           f"{sorted(unknown)}, missing {missing}")
    print(f"# {tag}  context: {json.dumps(ctx)}")
    for m in names:
        v, n = metrics[m["name"]]
        print(f"{m['name']:32s} {v:14.4f} {m['unit']:8s} n={n}")
    walls = [s["wall_ms"] / 1e3 for s in out.rounds]
    if walls:
        # too few rounds for any percentile with ten samples beyond it
        print(f"{'round_s_max':32s} {max(walls):14.4f} {'s':8s} n={len(walls)}")
    attempted = max(out.attempted, 1)
    print(f"{'failed_share':32s} {out.failed / attempted:14.4f} {'ratio':8s} "
          f"n={attempted}")
    for e in out.errors:
        print(f"FAILED: {e}", file=sys.stderr)
    doc = {
        "correct": out.failed == 0,
        "attempted": attempted,
        "failed": out.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]][0],
                                "unit": m["unit"]} for m in names},
    }
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({**doc, "context": ctx,
                   "samples": {k: v[1] for k, v in metrics.items()},
                   "errors": out.errors}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(doc))
    return 0


def run_all(args, spec: dict) -> int:
    """Every workload in fresh processes, untraced then traced; prints each
    end-to-end metric per workload, failed_share and the tracing overhead."""
    seconds = args.seconds or spec["run_seconds"]
    rows = []
    for w in spec["workloads"]:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   w["name"], "--seed", str(args.seed), "--seconds",
                   str(seconds), "--trace", str(trace)]
            if args.smoke:
                cmd.append("--smoke")
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True)
            lines = p.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if p.returncode or not lines:
                print(f"{w['name']} trace={trace}: exit {p.returncode}")
                return 1
            res[trace] = json.loads(lines[-1])
        rows.append((w["name"], res))
    print(f"\n{'workload':20s} {'metric':18s} {'value':>12s} {'unit':8s} "
          f"{'traced':>12s} {'overhead':>9s}")
    ok = True
    for name, res in rows:
        e2e, traced = res[0]["metrics"], res[1]["metrics"]
        for m in spec["end_to_end"]:
            v = e2e[m["name"]]["value"]
            t = traced[f"trace.{m['name']}"]["value"]
            over = f"{(t - v) / v:+8.1%}" if v else ""
            print(f"{name:20s} {m['name']:18s} {v:12.4f} {m['unit']:8s} "
                  f"{t:12.4f} {over:>9s}")
        for trace in (0, 1):
            r = res[trace]
            ok &= r["correct"]
            print(f"{name:20s} {'failed_share' + ('*' if trace else ''):18s} "
                  f"{r['failed'] / r['attempted']:12.4f} {'ratio':8s} "
                  f"({r['failed']}/{r['attempted']})")
    print("* traced run")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--all", action="store_true")
    args = ap.parse_args()
    check_layout()
    sys.path.insert(0, ROOT)
    spec = load_spec()
    if args.all:
        return run_all(args, spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"--workload must be one of "
                 f"{[w['name'] for w in spec['workloads']]}")
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    return run_one(args, spec)


if __name__ == "__main__":
    sys.exit(main())
