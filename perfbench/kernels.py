"""Single-threaded kernel and seen-filter rates for the traced run, measured
outside Spark on the workload's own data: a seed-drawn sample of the
corpus's 2xx pages, and the ``url_hash`` keys of the crawl's seen table at
the configured bits per bucket."""

from __future__ import annotations

import random
import time

import numpy as np

MIN_TIMED_S = 0.3  # repeat each kernel until it has run at least this long


def _rate(fn, n_items: int) -> float:
    fn()  # warm-up pass
    t0, reps = time.perf_counter(), 0
    while True:
        fn()
        reps += 1
        wall = time.perf_counter() - t0
        if wall >= MIN_TIMED_S:
            return n_items * reps / wall


def page_sample(corpus_dir: str, seed: int, n: int) -> tuple[list, list]:
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(corpus_dir, "pages.parquet"),
                      columns=["url", "html", "status"])
    ok = t.filter(pc.and_(pc.greater_equal(t["status"], 200),
                          pc.less(t["status"], 300)))
    idx = sorted(random.Random(seed).sample(range(ok.num_rows),
                                            min(n, ok.num_rows)))
    ok = ok.take(idx)
    return ok["html"].to_pylist(), ok["url"].to_pylist()


def kernel_rates(corpus_dir: str, seed: int, n_pages: int,
                 max_batch_rows: int) -> dict:
    import pandas as pd

    from sparkcrawl.canon import canonicalize_url
    from sparkcrawl.extract import extract_page
    from sparkcrawl.udfs import canonicalize_udf, extract_page_udf

    html, urls = page_sample(corpus_dir, seed, n_pages)
    links = [l.url for h, u in zip(html, urls) for l in extract_page(h, u)[1]]

    def extract():
        for h, u in zip(html, urls):
            extract_page(h, u)

    def canon():
        for u in links:
            canonicalize_url(u)

    # the Python bodies behind the Arrow UDFs, one batch per call
    rows = min(len(html), max_batch_rows)
    html_s, url_s = pd.Series(html[:rows]), pd.Series(urls[:rows])
    link_s = pd.Series(links[:max_batch_rows])
    return {
        "extract.pages_per_s": (_rate(extract, len(html)), len(html)),
        "canon.urls_per_s": (_rate(canon, len(links)), len(links)),
        "udfs.pages_per_s": (
            _rate(lambda: extract_page_udf.func(html_s, url_s), rows), rows),
        "udfs.canon_urls_per_s": (
            _rate(lambda: canonicalize_udf.func(link_s), len(link_s)),
            len(link_s)),
    }


def filter_rates(seen_hashes: np.ndarray, cfg, seed: int,
                 n_absent: int = 200_000) -> dict:
    """Bloom and cuckoo add / probe / delete rates per bucket, plus the
    false-positive share the bloom sidecar would give on known-absent keys
    and its bytes per key."""
    from sparkcrawl.bloom import BloomFilter
    from sparkcrawl.cuckoo import CuckooFilter, capacity_for_bits

    keys = np.unique(seen_hashes.astype(np.int64))
    nb = cfg.n_buckets
    by_bucket = [keys[np.mod(keys, nb) == b] for b in range(nb)]
    m, k = cfg.bloom_bits_per_bucket, cfg.bloom_k
    rng = np.random.default_rng(seed)
    absent = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                          size=n_absent, dtype=np.int64)
    absent = absent[~np.isin(absent, keys)]
    absent_by_bucket = [absent[np.mod(absent, nb) == b] for b in range(nb)]

    def bloom_build():
        return [BloomFilter.build(ks, m, k) for ks in by_bucket]

    blooms = bloom_build()
    cap = capacity_for_bits(m)

    def cuckoo_build():
        out = []
        for ks in by_bucket:
            cf = CuckooFilter(cap)
            cf.add_many(ks)
            out.append(cf)
        return out

    n = len(keys)
    n_del = sum(len(ks[::2]) for ks in by_bucket)

    def cuckoo_delete_rate() -> float:
        # deletes need a freshly filled table each pass; time only the deletes
        timed, reps = 0.0, 0
        while timed < MIN_TIMED_S:
            filled = cuckoo_build()
            t0 = time.perf_counter()
            for cf, ks in zip(filled, by_bucket):
                cf.delete_many(ks[::2])
            timed += time.perf_counter() - t0
            reps += 1
        return n_del * reps / timed

    cuckoos = cuckoo_build()
    maybe = sum(int(bf.contains_many(ab).sum())
                for bf, ab in zip(blooms, absent_by_bucket))
    return {
        "bloom.add_keys_per_s": (_rate(bloom_build, n), n),
        "bloom.probe_keys_per_s": (_rate(
            lambda: [bf.contains_many(ks) for bf, ks in zip(blooms, by_bucket)],
            n), n),
        "cuckoo.add_keys_per_s": (_rate(cuckoo_build, n), n),
        "cuckoo.delete_keys_per_s": (cuckoo_delete_rate(), n_del),
        "cuckoo.probe_keys_per_s": (_rate(
            lambda: [cf.contains_many(ks) for cf, ks in zip(cuckoos, by_bucket)],
            n), n),
        "seenfilter.fpp": (maybe / max(len(absent), 1), len(absent)),
        "seenfilter.bytes_per_key": (
            sum(len(bf.to_bytes()) for bf in blooms) / max(n, 1), n),
    }
