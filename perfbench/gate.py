"""Correctness gates. Every timed operation is checked; one that raises or
whose output a gate rejects counts as failed.

- Crawl rounds: the ordered per-round schedule, the per-round work counts,
  the seen set and a per-URL digest of the extracted text must equal
  ``oracle.crawler.crawl`` on the same corpus and ``CrawlConfig``.
- Maintenance steps: counts repeat the first run's for the seed, seen_total
  moves by exactly -forgot +recrawled, and the refetch round schedules only
  re-enqueued URLs.
"""

from __future__ import annotations

import hashlib
import json
import os

# per-round counters the oracle mirrors exactly (tests/test_pipeline.py)
COUNT_KEYS = (
    "queued_start", "robots_fetched", "robots_deferred", "robots_denied",
    "budget_deferred", "cap_deferred", "scheduled", "fetched", "fetch_miss",
    "http_error", "retried", "redirected", "links_extracted", "sitemap_urls",
    "nofollow_dropped", "url_guard_dropped", "ext_dropped", "regex_dropped",
    "depth_dropped", "offsite_dropped", "dup_in_batch", "dedup_dropped",
    "enqueued",
)


def digest(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def oracle_summary(corpus_dir: str, cfg, cache_path: str) -> dict:
    """The oracle's crawl, reduced to what the gate compares; computed once
    per corpus and config, then read from ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    from oracle.crawler import crawl

    o = crawl(corpus_dir, cfg)
    out = {
        "rounds": o.rounds,
        "seen": sorted(o.seen),
        "text": {c: digest(t) for c, t in o.text.items()},
        "metrics": [{k: int(m.get(k, 0)) for k in COUNT_KEYS}
                    for m in o.metrics],
        "finish_reason": o.finish_reason,
    }
    tmp = f"{cache_path}.tmp-{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, cache_path)
    return out


def read_columns(store, table: str, columns: list[str],
                 snapshot_id: int | None = None) -> dict[str, list]:
    """Columns of a committed snapshot, read without Spark. Files of one
    table may differ in column nullability, so they are read one by one."""
    import glob

    import pyarrow.parquet as pq

    snap = store.latest(table) if snapshot_id is None else snapshot_id
    out: dict[str, list] = {c: [] for c in columns}
    for rel in store._load_manifest(table, snap)["files"]:
        d = os.path.join(store._tdir(table), rel)
        for f in sorted(glob.glob(os.path.join(d, "**", "*.parquet"),
                                  recursive=True)):
            t = pq.read_table(f, columns=columns)
            for c in columns:
                out[c].extend(t[c].to_pylist())
    return out


def store_schedule(store, rounds=None) -> dict[int, list[str]]:
    """Per-round scheduled canonical urls in pop order, from frontier_log
    (the same rows ``sparkcrawl.crawl.schedule_view`` selects)."""
    cols = ["round", "canon", "priority", "seq", "state"]
    t = read_columns(store, "frontier_log", cols)
    rows = sorted(
        (r, -p, s, c)
        for r, c, p, s, st in zip(*(t[n] for n in cols))
        if st != "ROBOTS_DENIED" and (rounds is None or r in rounds)
    )
    out: dict[int, list[str]] = {}
    for r, _, _, c in rows:
        out.setdefault(r, []).append(c)
    return out


def check_crawl(store, summaries: list[dict], oracle: dict) -> list[int]:
    """Rounds (by number) that the gate rejects."""
    bad: set[int] = set()
    sched = store_schedule(store)
    for s in summaries:
        r = s["round"]
        if r >= len(oracle["rounds"]) or sched.get(r, []) != oracle["rounds"][r]:
            bad.add(r)
            continue
        want = oracle["metrics"][r]
        if any(int(s.get(k, 0)) != want[k] for k in COUNT_KEYS):
            bad.add(r)
    ran = {s["round"] for s in summaries}
    if not ran:
        return []
    # end state: a wrong seen set or a missing/extra page fails the last round
    last = max(ran)
    if len(ran) != len(oracle["rounds"]):
        bad.add(last)
    if set(read_columns(store, "seen", ["canon"])["canon"]) != set(oracle["seen"]):
        bad.add(last)
    ext = read_columns(store, "extracted", ["round", "canon", "text"])
    got = dict(zip(ext["canon"], zip(ext["round"], ext["text"])))
    if set(got) != set(oracle["text"]):
        bad.add(last)
    for c, (r, t) in got.items():
        if oracle["text"].get(c) != digest(t or ""):
            bad.add(r)
    return sorted(bad & ran)
