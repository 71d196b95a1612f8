"""Bench harness (driver contract): headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the
flagship crawl over a deterministic synthetic corpus. Prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "crawl": {"urls_scheduled": N, "urls_per_sec": R, ...}}

Crawl throughput is computed from the pipeline's own metrics (scheduled /
wall_ms per round) per BASELINE.md — Spark startup and corpus generation are
excluded. Scaling evidence (local[4] vs local[16] over a 2-executor
standalone cluster) lives in BENCH/cluster.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "perhost_topk", "sessionize",
    "window_hourly", "dedup_exact", "minhash_lsh_pairs", "simhash",
    "ngram_jaccard", "ann_bruteforce", "embed_neardup", "embed_norms",
    "seen_antijoin",
    # round 2 additions
    "ann_ivf_multiprobe", "multimodal_decode", "rolling_avg", "link_filter",
    # round 4 additions (media decode→index→probe; data-hygiene sweeps;
    # the streaming windowed-agg gate)
    "media_ann", "contamination", "tfidf_top_terms", "stream_window_counts",
    # round 4b: iterative propagation + sub-document dedup
    "pagerank", "paragraph_dedup",
    # round 4d: two-pass unigram-LM quality scoring (CCNet-style)
    "lm_perplexity",
    # round 4e: DSIR importance weights + domain-reputation filtering
    "dsir_weights", "host_quality",
    # round 4f: cumulative data-hygiene retention funnel
    "filter_funnel",
    # round 4g: PII scrub, exact-substring span dedup, training shards,
    # SemDeDup cluster-bounded cosine dedup
    "pii_redact", "dup_spans", "shard_assign", "semdedup",
    # round 4h: integer-fixed-point Lloyd's, winnowing fingerprints,
    # mixture resampling manifest
    "kmeans_embed", "winnowing", "mixture_weights",
    # round 4i: BM25 retrieval, freshness-driven recrawl scheduling
    "bm25_search", "recrawl_priority",
    # round 4j: applyInPandasWithState running totals
    "stream_stateful_totals",
    # round 4k: as-of join (window formulation), bucketed range join
    "asof_join", "range_join",
    # round 4l: model-inference quality filter, C4-style blocklist filter,
    # product-quantization ANN (persisted codes/codebook index + ADC)
    "quality_classifier", "badwords_filter", "ann_pq",
    # round 5: Gopher composite quality rules (map-only text pass) and
    # distributed BPE tokenizer training (one corpus shuffle + vocab-sized
    # driver-paced merge iterations)
    "gopher_rules", "bpe_merges",
]

BENCH_HOSTS = int(os.environ.get("SPARKCRAWL_BENCH_HOSTS", "100"))
BENCH_PPH = int(os.environ.get("SPARKCRAWL_BENCH_PPH", "300"))


def bench_corpus() -> str:
    """Deterministic bench corpus, cached across runs (pure fn of params).

    Every host is seeded and budgets are generous so rounds saturate the
    global round cap — the bench measures engine throughput, not politeness
    starvation (the politeness-bound regime is covered by the tests).

    The cache dir is keyed on synth.FORMAT_VERSION so a synth-semantics
    change can never regenerate different data under the same name
    (VERDICT r3 #2) — the corpus version also lands in the bench JSON so
    round-over-round walls are only compared like-for-like."""
    from sparkcrawl import synth
    from sparkcrawl.synth import generate

    base = "/dev/shm" if os.path.isdir("/dev/shm") else "/tmp"
    d = (f"{base}/sparkcrawl_bench_corpus_{synth.FORMAT_VERSION}"
         f"_{BENCH_HOSTS}x{BENCH_PPH}")
    marker = os.path.join(d, "_DONE")
    if not os.path.exists(marker):
        generate(d, seed=42, n_hosts=BENCH_HOSTS, pages_per_host=BENCH_PPH,
                 n_seeds=BENCH_HOSTS, max_per_round=60,
                 n_links=(30, 50), n_paras=(60, 120),
                 procs=min(16, os.cpu_count() or 8))
        open(marker, "w").write("ok")
    return d


def machine_calib() -> dict:
    """Pinned single-thread microbench of the crawl's dominant kernel
    (pure-Python page extraction — no Spark, no JVM). Emitted with every
    bench JSON so round-over-round walls can be normalized for sandbox
    machine drift/steal (VERDICT r3: a uniform ~40% wall inflation with
    identical plans was adjudicated as VM slowdown; this number makes that
    adjudication one division instead of a forensic session)."""
    import random
    import time

    from sparkcrawl.extract import extract_page

    # fixed ~Common-Crawl-weight page: ~90 paragraphs + 40 links, seeded rng
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
    # warm-up then a fixed rep count; single thread so steal shows directly
    for _ in range(20):
        extract_page(html, url)
    reps = 400
    t0 = time.monotonic()
    for _ in range(reps):
        extract_page(html, url)
    wall = time.monotonic() - t0
    return {"kernel": "extract_page x400 (1 thread)",
            "wall_sec": round(wall, 3),
            "pages_per_sec": round(reps / wall, 1)}


def run_crawl_bench(spark) -> tuple[dict, dict]:
    import shutil
    import tempfile

    from sparkcrawl.config import CrawlConfig
    from sparkcrawl.crawl import run_crawl

    corpus = bench_corpus()
    # store on tmpfs: the sandbox VM disk has bursty writeback latency that
    # adds 10-20% run-to-run noise to the crawl wall (same rationale as the
    # scaling harness; real clusters run NVMe)
    base = "/dev/shm" if os.path.isdir("/dev/shm") else None
    store = tempfile.mkdtemp(prefix="sparkcrawl_bench_store_", dir=base)
    cfg = CrawlConfig(round_size=4000, max_rounds=10, depth_limit=12)
    try:
        summaries = run_crawl(spark, corpus, store, cfg)
        scheduled = sum(s.get("scheduled", 0) for s in summaries)
        enqueued = sum(s.get("enqueued", 0) for s in summaries)
        deduped = sum(s.get("dedup_dropped", 0) for s in summaries)
        wall_ms = sum(s["wall_ms"] for s in summaries) or 1
        crawl = {
            "rounds": len(summaries),
            "urls_scheduled": int(scheduled),
            "urls_enqueued": int(enqueued),
            "urls_dedup_dropped": int(deduped),
            "wall_sec": round(wall_ms / 1000.0, 3),
            "urls_per_sec": round((scheduled + deduped) / (wall_ms / 1000.0), 1),
        }
        maint = run_maintenance_bench(spark, corpus, store, cfg)
        return crawl, maint
    finally:
        shutil.rmtree(store, ignore_errors=True)


def run_maintenance_bench(spark, corpus: str, store: str,
                          cfg) -> dict:
    """Maintenance-loop leg (round-5 surface: seen-TTL forget → freshness
    re-enqueue → refetch), run on the crawl leg's finished store so it
    measures the real post-crawl state, not a fixture. Three timed phases:

    - ``forget``: expire every seen key first enqueued in the first half of
      the crawl (QUEUED keys exempt). The bench store uses the default
      bloom sidecar, so this is the EXPENSIVE honest path — a full rebuild
      pass over the kept seen set (the cost the cuckoo backend exists to
      avoid; cost ∝ |seen|, the design-point-relevant term).
    - ``enqueue``: score the forgotten population by the Cho &
      Garcia-Molina expected-missed-changes policy and re-enqueue the
      top-``round_size`` as QUEUED frontier rows (seen + sidecar re-entry
      in the same commit).
    - ``refetch``: resume the crawl for exactly one more round — the
      priority-ordered pop IS the recrawl policy order.
    """
    import time

    from sparkcrawl.rounds import forget_seen, recrawl_enqueue
    from sparkcrawl.crawl import run_crawl
    from sparkcrawl.snapstore import SnapStore

    half = cfg.max_rounds // 2
    t0 = time.monotonic()
    forgot = forget_seen(spark, SnapStore(store), cfg, up_to_round=half)
    t1 = time.monotonic()
    enq = recrawl_enqueue(spark, SnapStore(store), cfg,
                          budget=cfg.round_size)
    t2 = time.monotonic()
    import dataclasses
    refetch_cfg = dataclasses.replace(cfg, max_rounds=cfg.max_rounds + 1)
    summaries = run_crawl(spark, corpus, store, refetch_cfg, resume=True)
    t3 = time.monotonic()
    refetch_sched = sum(s.get("scheduled", 0) for s in summaries)
    assert forgot["forgot"] > 0, "maintenance leg forgot zero keys"
    assert refetch_sched > 0, "refetch round scheduled zero urls"
    return {
        "forgot": int(forgot["forgot"]),
        "reenqueued": int(enq["recrawled"]),
        "refetch_scheduled": int(refetch_sched),
        "forget_wall_sec": round(t1 - t0, 3),
        "enqueue_wall_sec": round(t2 - t1, 3),
        "refetch_wall_sec": round(t3 - t2, 3),
        "wall_sec": round(t3 - t0, 3),
    }


def run_warc_ingest_bench(spark) -> dict:
    """WARC ingest leg (VERDICT r4 #7 — the S3 seam had unit tests but had
    never run at bench volume): the bench corpus is exported once to gzip
    WARC shards (cached next to the corpus, one shard per core so ingest
    gets one binaryFile task each), then the measured leg streams
    shards → warc_pages parse → pinned extraction kernel (the same
    Arrow-batched extract_page the crawl's fetch stage runs) and reports
    pages/s. text_chars is a content checksum-ish guard: a parser that
    silently drops records or bodies moves it."""
    import time

    from pyspark.sql import functions as F

    from sparkcrawl.udfs import extract_page_udf
    from sparkcrawl.warc import export_warc, warc_to_pages

    corpus = bench_corpus()
    warc_dir = os.path.join(corpus, "warc")
    marker = os.path.join(warc_dir, "_DONE")
    if not os.path.exists(marker):
        pages = spark.read.parquet(os.path.join(corpus, "pages.parquet"))
        shards = export_warc(pages.repartition(32), warc_dir, compress=True)
        assert shards, "bench corpus exported zero WARC shards"
        open(marker, "w").write("ok")
    n_shards = len([f for f in os.listdir(warc_dir)
                    if f.endswith(".warc.gz")])
    t0 = time.monotonic()
    ingested = warc_to_pages(spark, warc_dir).select(
        "url",
        F.length(extract_page_udf("html", "url")["text"]).alias("tlen"),
    )
    row = ingested.agg(
        F.count(F.lit(1)).alias("n"), F.sum("tlen").alias("chars")
    ).collect()[0]
    wall = time.monotonic() - t0
    return {
        "shards": n_shards,
        "pages": int(row["n"]),
        "text_chars": int(row["chars"]),
        "wall_sec": round(wall, 3),
        "pages_per_sec": round(row["n"] / wall, 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from sparkcrawl import synth
    from sparkcrawl.queries import queries, register_views
    from sparkcrawl.session import get_spark

    calib = machine_calib()
    spark = get_spark(cores=cpus, app="sparkcrawl-bench")
    q = queries()
    timings: dict[str, float] = {}
    try:
        # worker fast path active? (VERDICT r4 #6: a version-gate skip on a
        # future pyspark must show in the artifact, not read as a mystery
        # perf regression — workerperf also WARNs once per worker)
        from sparkcrawl.workerperf import probe as _fastpath_probe

        worker_fastpath = _fastpath_probe(spark)
        # warm the JVM/Arrow paths once (excluded from timings); the
        # stateful-stream warmup at the smallest SF initializes the
        # RocksDB-less HDFS state store + the pandas worker pool that
        # applyInPandasWithState uses, so the headline walls of the
        # streaming gates measure the operator, not one-time process
        # bring-up (~4 s of state-store/worker init on this sandbox)
        q["depth_histogram"](spark, sf_dir).collect()
        warm_sf = "/root/testdata/sf0.001"
        q["stream_stateful_totals"](
            spark, warm_sf if os.path.isdir(warm_sf) else sf_dir
        ).collect()
        # index_build leg: the ANN queries probe build-once PERSISTED
        # indexes (sparkcrawl/indexstore.py — committed store tables, the
        # operational shape at 100 TB). Their one-time build used to land
        # silently inside whichever query's wall ran first; it is now a
        # first-class field (build + first probe per family) and the
        # headline loop below measures the warm probe — the steady-state
        # latency a user of the persisted index actually sees. On a
        # container whose index store is already warm these fields are
        # ~probe-sized; `index_cold` says which reading this artifact got.
        index_build: dict[str, float] = {}
        from sparkcrawl.indexstore import index_store

        index_cold = not any(
            t.startswith(("ivf_", "pq_", "mivf_"))
            for t in (
                os.listdir(index_store().root)
                if os.path.isdir(index_store().root)
                else []
            )
        )
        # the stream warmup above registered the sf0.001 views; re-register
        # sf_dir's now so the first index_build field doesn't absorb it
        register_views(spark, sf_dir)
        for name in ("ann_ivf_multiprobe", "ann_pq", "media_ann"):
            t0 = time.monotonic()
            q[name](spark, sf_dir).count()
            index_build[name] = round(time.monotonic() - t0, 3)
        for name in HEADLINE:
            t0 = time.monotonic()
            df = q[name](spark, sf_dir)
            n = df.count()
            timings[name] = round(time.monotonic() - t0, 3)
            assert n >= 0
        crawl, maintenance = run_crawl_bench(spark)
        warc_ingest = run_warc_ingest_bench(spark)
    finally:
        spark.stop()

    total = round(sum(timings.values()) + crawl["wall_sec"], 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_plus_crawl",
                "value": total,
                "unit": "sec",
                # suite size varies round-over-round as coverage widens —
                # compare totals only after normalizing on suite_n /
                # queries_wall_sec (BENCH_r03 ran 40 queries, r04 runs 43)
                "suite_n": len(HEADLINE),
                "queries_wall_sec": round(sum(timings.values()), 3),
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "index_build": {**index_build, "cold": index_cold},
                "crawl": crawl,
                "maintenance": maintenance,
                "warc_ingest": warc_ingest,
                "cpus": cpus,
                "corpus_version": synth.FORMAT_VERSION,
                "machine_calib": calib,
                "worker_fastpath": worker_fastpath,
            }
        )
    )


if __name__ == "__main__":
    main()
