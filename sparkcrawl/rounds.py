"""One crawl round as a checkpointed DataFrame job (SURVEY.md §3.4).

Mirrors oracle/crawler.py stage by stage — the oracle docstring is the pin.
Everything is native DataFrame ops except the UDF projections
(canonicalize/host at link discovery, text/links at extraction, robots eval,
bloom probe at dedup).

Scale notes (the 10^10-URL design point):
- per-round IO ∝ live queue + new links (frontier table holds QUEUED only)
- seen and pages are laid out in ``bucket = pmod(xxhash64(canon), N_BUCKETS)``
  hive partitions; the fetch join and the dedup joins carry ``bucket``
  as a join column so partition pruning / storage-partitioned joins apply
- the fat ``pages_idx`` table is never shuffled and never broadcast: the
  round batch (slim frontier rows, ≤ round_size) broadcasts against the
  streamed corpus scan, and the extraction UDFs inherit the scan's
  partition parallelism
- dedup is bloom-prefiltered (sparkcrawl/seenfilter.py): candidates the
  per-bucket filters reject skip the exact check; only the maybe-seen
  fraction consults the exact ``seen`` table, via broadcast semi-join that
  streams (never shuffles) the seen scan. The exact join stays
  authoritative — filter false positives cannot drop URLs. The sidecar is a
  bucket-keyed Spark table probed AND rebuilt via per-bucket cogroups — no
  whole-sidecar collect/broadcast anywhere (at the design point the full
  sidecar is ~12.5 GB; a bucket blob is ~3 MiB)
- the per-host budget window is salted two-phase (frontier.py) so one hot
  host cannot pin a single task (P5)
- ``html`` is projected away immediately after the extraction UDFs (F6);
  no stage after extraction ever sees the binary column
- job-count discipline: ~5 sequential job slots per round — labeled
  DataFrames give every per-partition metric family from ONE groupBy
  (per-partition lineage per BASELINE.json:6 without per-counter jobs),
  scalar counters ride ``Observation`` metrics on writes that must happen
  anyway, and the four table writes at round end run concurrently from
  driver threads (independent tables, independent cached inputs)
- crash-safe resume: every read and every append-parent is pinned to the
  snapshot ids in the PREVIOUS round's committed manifest — snapshots
  written by a crashed round attempt are orphaned, never inherited
  (Iceberg retry-from-last-committed-metadata semantics)
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as _T

from sparkcrawl.config import CrawlConfig
from sparkcrawl.cuckoo import MAGIC as _CUCKOO_MAGIC
from sparkcrawl.frontier import (
    FRONTIER_COLS,
    N_BUCKETS,
    canonicalized,
    label_candidates,
    links_to_candidates,
    redirects_to_candidates,
    sitemaps_to_candidates,
    with_bucket,
)
from sparkcrawl.seenfilter import (
    delete_bucket_keys,
    empty_sidecar,
    merge_bucket_blobs,
    probe_partitioned,
)
from sparkcrawl.snapstore import SnapStore
from sparkcrawl.udfs import extract_page_udf, robots_allowed_udf

METRICS_SCHEMA = _T.StructType(
    [
        _T.StructField("round", _T.IntegerType()),
        _T.StructField("key", _T.StringType()),
        _T.StructField("partition_id", _T.IntegerType()),
        _T.StructField("n", _T.LongType()),
    ]
)

def _verdict_counts(df: DataFrame, verdict_col: str) -> list[tuple[str, int, int]]:
    """Collect (verdict, partition_id, n) triples in ONE job."""
    rows = (
        df.groupBy(
            F.col(verdict_col).alias("key"),
            F.spark_partition_id().alias("partition_id"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    return [(r["key"], r["partition_id"], r["n"]) for r in rows]


def _fp_col():
    return F.unhex(F.sha2(F.concat(F.lit("GET\x00"), F.col("canon")), 256)).alias("fp")


def prepare_pages(
    spark: SparkSession, store: SnapStore, pages_path: str,
    cfg: CrawlConfig = CrawlConfig(),
) -> int:
    """One-time corpus indexing: pages → (bucket, url_hash, canon, …),
    hive-partitioned by bucket. Stands in for the live network (S2) — the
    Common-Crawl-style corpus IS the fetch source (BASELINE.json:6)."""
    pages = spark.read.parquet(pages_path)
    # corpus fetch latency (P4 adaptive-budget input); older corpora without
    # the column behave as a uniform 1000 ms network
    lat = (
        F.col("latency_ms").cast("long")
        if "latency_ms" in pages.columns
        else F.lit(1000).cast("long")
    )
    # HTTP status (F5); corpora without the column behave as an all-200 web
    status = (
        F.col("status").cast("int")
        if "status" in pages.columns
        else F.lit(200).cast("int")
    )
    # 3xx redirect target (RedirectMiddleware); absent column ⇒ no redirects
    location = (
        F.col("location").cast("string")
        if "location" in pages.columns
        else F.lit(None).cast("string")
    )
    # ≤1 page per canonical url (the oracle's corpus is a canon-keyed dict);
    # min (url, warc_ts, xxhash64(html)) wins — fully deterministic under any
    # partitioning even when two corpus rows share canon AND url but differ
    # in payload. Collision-free on synth corpora, so this never diverges
    # from the oracle there.
    w = Window.partitionBy("canon").orderBy(
        "url", "warc_ts", F.xxhash64("html")
    )
    idx = (
        with_bucket(canonicalized(pages), n_buckets=cfg.n_buckets)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .repartition(cfg.n_buckets, "bucket")
        .select(
            "bucket", "url_hash", "canon",
            F.col("url").alias("page_url"),
            "html", "warc_ts", "lang",
            lat.alias("latency_ms"),
            status.alias("status"),
            location.alias("location"),
        )
    )
    # small parquet row groups: extraction parallelism is bounded by scan
    # splits, and splits cannot cross row-group boundaries — the default
    # 128 MB block gives ONE row group per bucket file (unsplittable → task
    # count stuck at N_BUCKETS no matter the cluster size)
    snap = store.overwrite(
        "pages_idx", idx, partition_by=["bucket"],
        options={"parquet.block.size": str(8 * 1024 * 1024)},
    )
    # One-time slim redirect index (VERDICT r3 #4): the per-round redirect
    # leg needs ONLY (bucket, url_hash, canon, page_url, status, location)
    # of 3xx rows. Reading those out of pages_idx per round can't prune —
    # 3xx rows are hash-scattered, so virtually every row group contains one
    # and row-group stats eliminate nothing: at the 10^10-page design point
    # that is a full-corpus metadata+column scan per round, thousands of
    # times. Materializing the ~6%-of-pages slice once (no html, still
    # bucket-partitioned so the fetch join stays co-aligned) makes the leg's
    # per-round scan proportional to the redirect population instead.
    redirects = (
        store.read(spark, "pages_idx", snap)
        .filter((F.col("status") >= 300) & (F.col("status") < 400)
                & F.col("location").isNotNull())
        .select("bucket", "url_hash", "canon", "page_url", "status", "location")
    )
    store.overwrite("redirects_idx", redirects, partition_by=["bucket"])
    return snap


def init_crawl(spark: SparkSession, store: SnapStore, seeds_path: str,
               cfg: CrawlConfig) -> None:
    """Round-(-1) state: seeds into frontier + seen (dont_filter semantics —
    bypass dedup but record fingerprints) + bloom sidecar; empty robots."""
    from sparkcrawl.frontier import seeds_to_frontier

    seeds = spark.read.parquet(seeds_path)
    fr = with_bucket(seeds_to_frontier(seeds), n_buckets=cfg.n_buckets).persist()
    seed_obs = Observation()
    f_snap = store.overwrite(
        "frontier",
        fr.select(*FRONTIER_COLS).observe(seed_obs, F.count(F.lit(1)).alias("n")),
    )
    n_seeds = int(seed_obs.get["n"])
    seen = fr.select(
        "bucket", "url_hash", "canon", _fp_col(),
        F.lit(0).cast("int").alias("first_round"),
    ).repartition(1)
    # parent=None, NOT 'latest': round -1 has no committed predecessor, so a
    # crashed init attempt's orphan seen snapshot must never be chained onto
    # by the retry (duplicate seed keys would fan out the dedup left join)
    s_snap = store.append("seen", seen, partition_by=["bucket"], parent=None)
    tables = {"frontier": f_snap, "seen": s_snap}
    if n_seeds >= cfg.bloom_min_seen:
        blobs = merge_bucket_blobs(
            fr, empty_sidecar(spark), cfg.bloom_bits_per_bucket, cfg.bloom_k,
            kind=cfg.seen_filter_kind,
        )
        tables["seen_filter"] = store.overwrite("seen_filter", blobs)
    empty_robots = spark.createDataFrame(
        [], "host string, status int, body string, fetched_round int"
    )
    tables["robots"] = store.overwrite("robots", empty_robots)
    store.commit_round(-1, tables, meta={"seen_total": n_seeds})
    fr.unpersist()


def corpus_caps(spark: SparkSession, store: SnapStore,
                cfg: CrawlConfig) -> dict:
    """Once-per-crawl corpus capabilities: whether pages_idx contains ANY
    followable-3xx or retryable-status row. Two tiny column-pruned,
    filter-pushed scans (parquet row-group stats prune all-200 corpora to
    zero reads) that let every round skip the redirect/retry plan branches
    entirely when the corpus cannot produce them — a per-round second scan
    leg and a frontier union are pure overhead on an all-2xx corpus. At the
    10^10-page design point this is one metadata-cheap job at crawl start,
    amortized over thousands of rounds."""
    idx = store.read(spark, "pages_idx")
    caps = {"has_redirects": False, "has_retryable": False,
            "has_sitemaps": False}
    if cfg.redirect_enabled and cfg.redirect_max_times > 0:
        # probe the same slim one-time index the round leg will read
        caps["has_redirects"] = bool(
            store.read(spark, "redirects_idx").limit(1).count()
        )
    if cfg.retry_enabled and cfg.retry_times > 0:
        caps["has_retryable"] = bool(
            idx.filter(
                F.col("status").isin(list(cfg.retry_http_codes))
            ).limit(1).count()
        )
    if cfg.obey_robots and cfg.sitemap_enabled:
        # any `Sitemap:` directive in the robots corpus? (tiny table — hosts,
        # not pages — so this is a metadata-cheap scan even at design scale)
        caps["has_sitemaps"] = bool(
            store.read(spark, "robots_corpus")
            .filter(F.col("body").rlike(CrawlConfig.SITEMAP_LINE_RE))
            .limit(1)
            .count()
        )
    return caps


def one_round(spark: SparkSession, store: SnapStore, cfg: CrawlConfig,
              round_n: int, host_budget: DataFrame | None = None,
              corpus_caps: dict | None = None) -> dict:
    """Run crawl round ``round_n``; commits new snapshots + round manifest.
    Returns summary counters (driver uses ``queued_end`` for termination)."""
    prev_manifest = store.round_manifest(round_n - 1)
    snaps = prev_manifest["tables"]  # crash-safe pins
    seen_total = int(prev_manifest["meta"]["seen_total"])
    frontier = store.read(spark, "frontier", snaps["frontier"])
    robots_prev = store.read(spark, "robots", snaps["robots"])
    pages_idx = store.read(spark, "pages_idx")  # immutable post-init
    counts: list[tuple[str, int, int]] = []
    par = spark.sparkContext.defaultParallelism
    _prof = os.environ.get("SPARKCRAWL_PROFILE") == "1"
    _t = [time.monotonic()]
    _stage_ms: dict[str, int] = {}

    def _tick(label: str) -> None:
        if _prof:
            now = time.monotonic()
            _stage_ms[label] = int((now - _t[0]) * 1000)
            print(f"    [r{round_n}] {label}: {now - _t[0]:.2f}s", flush=True)
            _t[0] = now

    # --- stage 2: robots fetch for new hosts (page fetches defer one round) ---
    if cfg.obey_robots:
        corpus_robots = store.read(spark, "robots_corpus").select("host", "status", "body")
        robots_obs = Observation()
        new_robots = (
            frontier.select("host").distinct()
            .join(robots_prev.select("host"), "host", "left_anti")
            .join(corpus_robots, "host", "left")
            .withColumn("fetched_round", F.lit(round_n).cast("int"))
            .select("host", "status", "body", "fetched_round")
            .persist()
        )
        # the append itself is deferred to the end-of-round concurrent write
        # pool (one fewer sequential job barrier per round); new_robots is
        # persisted, so the in-round union below materializes it once and
        # the deferred write reuses the cache
        robots_all = robots_prev.unionByName(new_robots)
        _tick("robots_plan")

        # --- stages 3-4: robots eval + per-host budget, one labeled DF ---
        cand = frontier.join(robots_all, "host", "left")
        eligible_flag = F.col("fetched_round") < round_n
        cand = cand.withColumn(
            "allowed",
            F.when(~eligible_flag, F.lit(None)).otherwise(
                robots_allowed_udf("status", "body", "canon")
            ),
        )
    else:
        new_robots = None
        robots_obs = None
        cand = frontier.withColumn("fetched_round", F.lit(-1).cast("int")).withColumn(
            "allowed", F.lit(True)
        )

    if host_budget is not None:
        cand = cand.join(host_budget.select("host", "max_per_round"), "host", "left")
    else:
        cand = cand.withColumn("max_per_round", F.lit(None).cast("int"))
    cand = cand.withColumn(
        "cap", F.coalesce("max_per_round", F.lit(cfg.max_per_round_default))
    )
    # P4/A3 adaptive budget: previous round's latency EWMA tightens the
    # static cap (pinned integer formula — CrawlConfig.adaptive_cap)
    host_lat_prev = None
    if cfg.adaptive_budget and "host_lat" in snaps:
        host_lat_prev = store.read(spark, "host_lat", snaps["host_lat"])
        cand = cand.join(
            F.broadcast(host_lat_prev.select("host", "ewma_ms")), "host", "left"
        ).withColumn(
            "cap",
            F.when(
                F.col("ewma_ms").isNotNull(),
                F.greatest(
                    F.lit(1),
                    F.least(
                        F.col("cap"),
                        F.expr(
                            f"CAST({int(cfg.autothrottle_target_ms)} DIV "
                            "greatest(ewma_ms, 1L) AS INT)"
                        ),
                    ),
                ),
            ).otherwise(F.col("cap")),
        )

    queued_prev = int(
        prev_manifest.get("meta", {}).get(
            "queued_end", prev_manifest.get("meta", {}).get("seen_total", 1 << 62)
        )
    )
    work = (
        label_candidates(cand, cfg, salt=queued_prev >= cfg.salt_min_candidates)
        .select(*FRONTIER_COLS, "verdict")
        .persist()
    )
    counts.extend(_verdict_counts(work, "verdict"))
    n_pass = sum(n for k, _, n in counts if k == "pass")
    _tick("work_materialize")

    # --- stage 5: global priority order + round cap ---
    # When every pass row fits the global cap (the common case), the scheduled
    # set IS the pass set — skip the global sort entirely. The per-round order
    # is recovered on read (schedule_view sorts by priority/seq), so only the
    # SET must match the oracle here. Otherwise take the top-K and repartition
    # immediately: orderBy+limit yields a single partition (TakeOrdered) which
    # must never be allowed to define downstream parallelism.
    passed = work.filter(F.col("verdict") == "pass")
    if n_pass <= cfg.round_size:
        scheduled = passed.select(*FRONTIER_COLS)
        deferred_cap = passed.select(*FRONTIER_COLS).limit(0)
    elif cfg.round_size >= cfg.topk_histogram_min:
        # threshold-cutoff top-K (VERDICT r2 #9): priorities are a small
        # discrete set (seed priorities shifted by depth/retry/redirect
        # adjusts), so a groupBy(priority) histogram is tiny. All rows
        # strictly above the boundary priority pass outright; the boundary
        # priority is topped up by smallest seq. The only single-partition
        # exchange is the boundary top-up (≪ K rows), never the full K-row
        # result — at round_size ~10^7 the sort path's GlobalLimit would
        # funnel every scheduled row through one task.
        hist = sorted(
            (
                (r["priority"], r["n"])
                for r in passed.groupBy("priority")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            ),
            reverse=True,
        )
        acc = 0
        p_star, k_rem = hist[-1][0], cfg.round_size  # fallback: all in boundary
        for prio, n in hist:
            if acc + n >= cfg.round_size:
                p_star, k_rem = prio, cfg.round_size - acc
                break
            acc += n
        above = passed.filter(F.col("priority") > p_star).select(*FRONTIER_COLS)
        boundary = passed.filter(F.col("priority") == p_star).select(*FRONTIER_COLS)
        b_top = boundary.orderBy(F.col("seq").asc()).limit(k_rem)
        scheduled = (
            above.unionByName(b_top).repartition(par, "url_hash").persist()
        )
        b_keys = b_top.select("canon")
        if k_rem <= cfg.dedup_broadcast_max:
            b_keys = F.broadcast(b_keys)
        deferred_cap = (
            passed.filter(F.col("priority") < p_star)
            .select(*FRONTIER_COLS)
            .unionByName(boundary.join(b_keys, "canon", "left_anti"))
        )
    else:
        # global top-K: Sort + LocalLimit-per-partition + single-partition
        # GlobalLimit (shuffle volume ≤ round_size × partitions of slim
        # rows); repartition immediately so the single partition never
        # defines downstream parallelism. Cheapest shape while round_size
        # is operator-bounded small; the histogram path above takes over at
        # topk_histogram_min.
        scheduled = (
            passed.select(*FRONTIER_COLS)
            .orderBy(F.col("priority").desc(), F.col("seq").asc())
            .limit(cfg.round_size)
            .repartition(par, "url_hash")
            .persist()
        )
        sched_keys = scheduled.select("canon")
        if cfg.round_size <= cfg.dedup_broadcast_max:
            sched_keys = F.broadcast(sched_keys)
        deferred_cap = passed.select(*FRONTIER_COLS).join(
            sched_keys, "canon", "left_anti"
        )
    n_sched = min(n_pass, cfg.round_size)

    # --- stages 6-7: fetch = corpus ⨝ broadcast(batch); extraction UDFs ---
    keys = with_bucket(scheduled, n_buckets=cfg.n_buckets)
    # extraction runs in the scan stage itself: hits are hash-uniform across
    # the bucket-partitioned corpus files, so the Python stage inherits even
    # scan parallelism with ZERO movement of html bytes (no shuffle, no
    # broadcast of the fat side). One combined UDF decodes+parses each page
    # once, and the struct lands in the persisted cache so it can never be
    # re-evaluated by downstream projections.
    # F5 HTTP-status filter: non-2xx hits are fetched (politeness/latency
    # accounting still applies) but never extracted — their html is nulled
    # BEFORE the UDF so the python stage pays nothing for them and their
    # link list is empty by construction (HttpErrorMiddleware semantics).
    # Broadcast guard (VERDICT r3 #4b, mirrors dedup_broadcast_max): the
    # batch size is driver-known (n_sched), so past fetch_broadcast_max the
    # round uses the shuffle join instead of an unbounded multi-GB broadcast
    # — see CrawlConfig.fetch_broadcast_max for the design-scale plan.
    fetch_bcast = n_sched <= cfg.fetch_broadcast_max

    def _keys_side(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if fetch_bcast else df

    fetched = (
        pages_idx.select(
            "bucket", "url_hash", "canon", "page_url", "html", "latency_ms",
            "status", "location",
        )
        .join(_keys_side(keys), ["bucket", "url_hash", "canon"], "inner")
        .withColumn(
            "html", F.when(F.col("status") == 200, F.col("html"))
        )
        .withColumn("page", extract_page_udf("html", "page_url"))
        .drop("html")
        .persist()
    )
    if _prof and os.environ.get("SPARKCRAWL_PROFILE2") == "1":
        fetched.count()
        _tick("fetch_extract_only")
    missed = keys.join(
        _keys_side(fetched.select("bucket", "url_hash", "canon")),
        ["bucket", "url_hash", "canon"],
        "left_anti",
    ).select(*FRONTIER_COLS)

    # --- stages 7b-8: link discovery, filters, batch dedup, bloom + exact ---
    # No window over the exploded links: dropped rows and in-batch duplicates
    # never consult the seen set (their status is decided locally), so the
    # per-canon winner comes from a map-side-combining
    # groupBy(canon).min_by aggregation instead of a row_number window. The
    # round-1 window shape shuffled AND globally sorted every exploded link
    # row with zero map-side reduction; the groupBy ships one
    # partially-aggregated row per (map partition, canon), shrinking the
    # peak-frontier round's dominant shuffle by the in-batch duplication
    # factor — this was the measured scaling bottleneck (VERDICT r1).
    # (Struct min_by buffers are var-length, so Spark plans SortAggregate —
    # per-partition sorts, but the shuffle-volume win is what matters.)
    seen_keys = store.read(spark, "seen", snaps["seen"]).select(
        "bucket", "url_hash", "canon"
    )
    use_bloom = seen_total >= cfg.bloom_min_seen
    sidecar_prev: DataFrame | None = None
    # Redirect + retry outcome predicates (RedirectMiddleware/RetryMiddleware
    # semantics pinned in CrawlConfig; oracle/crawler.py mirrors the same
    # precedence: 200 → redirect-followable 3xx → retryable → terminal).
    # corpus_caps (computed once per crawl) folds the predicates to FALSE —
    # and the plan branches away entirely below — when the corpus cannot
    # produce the outcome: on an all-2xx corpus the branches are pure
    # overhead (a second scan leg + a frontier union per round).
    caps = corpus_caps or {
        "has_redirects": True, "has_retryable": True, "has_sitemaps": True
    }
    is_3xx = (F.col("status") >= 300) & (F.col("status") < 400)
    redirect_follow = (
        F.lit(cfg.redirect_enabled and caps["has_redirects"])
        & is_3xx
        & F.col("location").isNotNull()
        & (F.col("redirects") < F.lit(cfg.redirect_max_times))
    )
    retryable = (
        F.lit(cfg.retry_enabled and caps["has_retryable"])
        & F.col("status").isin(list(cfg.retry_http_codes))
        & (F.col("retries") < F.lit(cfg.retry_times))
    )
    # candidate pool = discovered links ∪ followed redirect targets; the src
    # tag keeps the links_extracted counter link-only while the drop-reason
    # and dedup accounting covers both (one combined counts job)
    link_cand = links_to_candidates(
        fetched.withColumn("links", F.col("page.links")), cfg, round_n
    ).select(*FRONTIER_COLS, "drop_reason").withColumn("src", F.lit("link"))
    # The redirect leg reads the one-time slim `redirects_idx` table (only
    # followable-3xx rows, no html — VERDICT r3 #4) instead of consuming the
    # `fetched` cache: both union legs land in the same counts job, and a
    # second consumer of the NOT-YET-materialized cache would race the link
    # leg into computing the extraction twice per partition (measured: +33%
    # on the peak cluster round). Scanning pages_idx here instead would be a
    # per-round full-corpus metadata+column scan at design scale — 3xx rows
    # are hash-scattered, so row-group stats prune nothing.
    if cfg.redirect_enabled and caps["has_redirects"]:
        redir_src = (
            store.read(spark, "redirects_idx")
            .join(_keys_side(keys), ["bucket", "url_hash", "canon"], "inner")
            .filter(redirect_follow)
        )
        redir_cand = (
            redirects_to_candidates(redir_src, cfg, round_n)
            .select(*FRONTIER_COLS, "drop_reason")
            .withColumn("src", F.lit("redirect"))
        )
        cand0_all = link_cand.unionByName(redir_cand)
    else:
        cand0_all = link_cand
    # Sitemap discovery (SitemapSpider robots.txt handling, pinned in
    # CrawlConfig): `Sitemap:` directives of robots bodies fetched THIS
    # round become candidates alongside the round's links — they ride the
    # same batch-dedup/seen/enqueue machinery and the same counts job. The
    # leg is gated on corpus capability exactly like redirect/retry (on a
    # directive-free corpus it is a per-round union of a provably-empty
    # branch), and new_robots is already persisted for its deferred write,
    # so this adds no extra robots scan.
    sitemap_leg = (
        cfg.obey_robots
        and cfg.sitemap_enabled
        and caps.get("has_sitemaps", True)
        and new_robots is not None
    )
    if sitemap_leg:
        sm_cand = (
            sitemaps_to_candidates(new_robots, cfg, round_n)
            .select(*FRONTIER_COLS, "drop_reason")
            .withColumn("src", F.lit("sitemap"))
        )
        cand0_all = cand0_all.unionByName(sm_cand)
    cand0 = with_bucket(cand0_all, n_buckets=cfg.n_buckets).persist()
    # one counts job over ALL candidate rows (materializes the cand0 cache):
    # drop-reason + viable tallies per partition; dropped rows are never
    # needed again — only counted
    tagged_counts = _verdict_counts(
        cand0.withColumn(
            "k",
            F.concat_ws(
                "|",
                F.col("src"),
                F.when(
                    F.col("drop_reason").isNotNull(),
                    F.concat(F.lower(F.col("drop_reason")), F.lit("_dropped")),
                ).otherwise(F.lit("viable")),
            ),
        ),
        "k",
    )
    n_viable = 0
    n_links_extracted = 0
    n_sitemap_urls = 0
    for k, p, n in tagged_counts:
        src, _, st = k.partition("|")
        if src == "link":
            n_links_extracted += n
        if src == "sitemap":
            n_sitemap_urls += n
        if st == "viable":
            n_viable += n
        else:
            counts.append((st, p, n))
    counts.append(("links_extracted", -1, n_links_extracted))
    if sitemap_leg:
        counts.append(("sitemap_urls", -1, n_sitemap_urls))
    _tick("cand_counts")

    # Only rank-1 viable rows ever consult the seen set: this shrinks the
    # dedup join's probe side from all exploded links (batch dup rate on
    # real crawls is huge) to the batch's distinct viable canons — and makes
    # its inputs small enough that the join strategy is stable instead of
    # flapping between broadcast and SMJ on AQE stats.
    rank1 = (
        cand0.filter(F.col("drop_reason").isNull())
        .groupBy("canon")
        .agg(
            F.min_by(
                F.struct(*[c for c in FRONTIER_COLS if c != "canon"], "bucket"),
                F.col("seq"),
            ).alias("_w")
        )
        .select("canon", "_w.*")
    )

    have_sidecar = "seen_filter" in snaps
    if use_bloom and have_sidecar:
        # bucket-partitioned probe (VERDICT r2 #1): the sidecar is a normal
        # Spark table; candidates cogroup with it on bucket so each task
        # loads ONLY its bucket's blob — no driver collect, no whole-sidecar
        # broadcast (~12.5 GB at the 10^10 design point). The cogroup
        # exchange ships slim rank-1 candidate rows + one blob per bucket.
        sidecar_prev = store.read(spark, "seen_filter", snaps["seen_filter"])
        probe_schema = _T.StructType(
            rank1.schema.fields + [_T.StructField("_maybe", _T.BooleanType())]
        )
        # exact check ONLY for bloom-positive rows. rank1 is persisted so
        # its consumers share one materialization of the aggregation.
        rank1 = probe_partitioned(rank1, sidecar_prev, probe_schema).persist()
        if n_viable <= cfg.dedup_broadcast_max:
            # broadcast the maybe-keys to stream (never shuffle) the seen
            # scan, broadcast the confirmed dups back
            maybe_keys = rank1.filter(F.col("_maybe")).select(
                "bucket", "url_hash", "canon"
            )
            seen_hits = seen_keys.join(
                F.broadcast(maybe_keys), ["bucket", "url_hash", "canon"], "left_semi"
            ).withColumn("_seen", F.lit(True))
            labeled1 = rank1.join(
                F.broadcast(seen_hits), ["bucket", "url_hash", "canon"], "left"
            )
        else:
            # broadcast guard (r1 #7): maybe-keys size tracks the round's
            # duplicate-candidate count, which is unbounded on real crawls —
            # past the threshold, shuffle ONLY the maybe rows into the
            # co-partitioned join against seen (both sides bucketed on
            # url_hash); bloom-negative rows are definitely new and bypass
            # the join entirely. Same verdicts, property-tested.
            hit = rank1.filter(F.col("_maybe")).join(
                seen_keys.withColumn("_seen", F.lit(True)),
                ["bucket", "url_hash", "canon"],
                "left",
            )
            labeled1 = rank1.filter(~F.col("_maybe")).withColumn(
                "_seen", F.lit(None).cast("boolean")
            ).unionByName(hit)
    else:
        labeled1 = rank1.join(
            seen_keys.withColumn("_seen", F.lit(True)),
            ["bucket", "url_hash", "canon"],
            "left",
        )
    labeled1 = labeled1.withColumn(
        "status",
        F.when(F.col("_seen").isNotNull(), "dedup_dropped").otherwise("enqueued"),
    ).persist()
    link_counts = _verdict_counts(labeled1, "status")
    counts.extend(link_counts)
    # in-batch duplicates = viable rows minus canon-level winners; the
    # duplicate rows themselves are never used, only counted
    n_rank1 = sum(n for _, _, n in link_counts)
    counts.append(("dup_in_batch", -1, n_viable - n_rank1))
    _tick("linkwork")
    fresh = labeled1.filter(F.col("status") == "enqueued")

    # --- commits: the independent table writes run concurrently (driver
    #     threads; every input is cached, every target table distinct) ---
    ext_obs = Observation()

    def _w_extracted():
        return store.append(
            "extracted",
            fetched.filter(F.col("status") == 200).select(
                F.lit(round_n).alias("round"), "url", "canon", "url_hash",
                F.col("page.text").alias("text"),
                F.size("page.links").alias("n_links"),
                F.col("page.links").alias("links"),
                "meta",  # Response.meta surface for item pipelines
            )
            .observe(ext_obs, F.count(F.lit(1)).alias("n"))
            .coalesce(par),
            parent=snaps.get("extracted"),
        )

    def _w_seen():
        return store.append(
            "seen",
            fresh.select(
                "bucket", "url_hash", "canon", _fp_col(),
                F.lit(round_n).cast("int").alias("first_round"),
            ).repartition(cfg.n_buckets, "bucket"),
            partition_by=["bucket"],
            parent=snaps["seen"],
        )

    def _w_frontier():
        new_frontier = (
            work.filter(F.col("verdict").isin("robots_deferred", "budget_deferred"))
            .select(*FRONTIER_COLS)
            .unionByName(deferred_cap)
            .unionByName(fresh.select(*FRONTIER_COLS))
        )
        if cfg.retry_enabled and caps["has_retryable"]:
            # retryable rows return to QUEUED with retries+1 and adjusted
            # priority (RetryMiddleware); their fingerprints are already in
            # seen, so they bypass dedup by construction. fetched is cached
            # and materialized by now, and the columnar cache prunes to the
            # slim frontier columns — no page-struct bytes move.
            retry_rows = fetched.filter(retryable).select(
                *[c for c in FRONTIER_COLS if c not in ("priority", "retries")],
                (F.col("priority") + F.lit(cfg.retry_priority_adjust))
                .cast("int")
                .alias("priority"),
                (F.col("retries") + 1).cast("int").alias("retries"),
            )
            new_frontier = new_frontier.unionByName(
                retry_rows.select(*FRONTIER_COLS)
            )
        return store.overwrite(
            "frontier", new_frontier.repartition(par, "url_hash")
        )

    log_obs = Observation()

    def _w_log():
        # per-attempt outcome states: FETCHED (2xx) / REDIRECT (followed 3xx,
        # terminal for the source row) / RETRY (re-queued, non-terminal) /
        # HTTP_<code> (terminal: non-retryable non-2xx, retry-exhausted 5xx,
        # redirect-cap-exhausted 3xx) / ERROR (corpus miss) / ROBOTS_DENIED
        log = (
            fetched.select(*FRONTIER_COLS, "status", "location")
            .withColumn(
                "state",
                F.when(F.col("status") == 200, F.lit("FETCHED"))
                .when(redirect_follow, F.lit("REDIRECT"))
                .when(retryable, F.lit("RETRY"))
                .otherwise(F.concat(F.lit("HTTP_"), F.col("status"))),
            )
            .drop("status", "location")
            .unionByName(missed.withColumn("state", F.lit("ERROR")))
            .unionByName(
                work.filter(F.col("verdict") == "robots_denied")
                .select(*FRONTIER_COLS)
                .withColumn("state", F.lit("ROBOTS_DENIED"))
            )
            .withColumn("round", F.lit(round_n).cast("int"))
            .observe(
                log_obs,
                F.sum(F.when(F.col("state") == "FETCHED", 1).otherwise(0)).alias("ok"),
                F.sum(
                    F.when(F.col("state").startswith("HTTP_"), 1).otherwise(0)
                ).alias("http_err"),
                F.sum(
                    F.when(F.col("state") == "RETRY", 1).otherwise(0)
                ).alias("retried"),
                F.sum(
                    F.when(F.col("state") == "REDIRECT", 1).otherwise(0)
                ).alias("redirected"),
            )
            .repartition(max(2, par // 8))
        )
        return store.append("frontier_log", log, parent=snaps.get("frontier_log"))

    def _w_host_lat():
        # P4/A3: integer latency EWMA per host (pinned formula, config.py).
        # Hosts fetched this round fold their obs into the running EWMA;
        # untouched hosts carry theirs forward unchanged.
        obs = fetched.groupBy("host").agg(
            F.expr("sum(latency_ms) DIV count(1)").alias("obs_ms")
        )
        if host_lat_prev is not None:
            prev = host_lat_prev.select("host", F.col("ewma_ms").alias("prev_ms"))
            merged = obs.join(prev, "host", "full_outer").select(
                "host",
                F.when(F.col("obs_ms").isNull(), F.col("prev_ms"))
                .when(F.col("prev_ms").isNull(), F.col("obs_ms"))
                .otherwise(F.expr("(obs_ms + prev_ms) DIV 2"))
                .alias("ewma_ms"),
            )
        else:
            merged = obs.select("host", F.col("obs_ms").alias("ewma_ms"))
        return store.overwrite("host_lat", merged.repartition(max(2, par // 8)))

    def _w_robots():
        return store.append(
            "robots",
            new_robots.observe(robots_obs, F.count(F.lit(1)).alias("n"))
            .repartition(1),
            parent=snaps["robots"],
        )

    def _w_filter():
        # bloom sidecar update (VERDICT r2 #1): fresh keys cogroup with the
        # previous sidecar on bucket and OR-merge INSIDE the grouped-map —
        # per-bucket end to end, the driver only records the snapshot id
        base = fresh.select("bucket", "url_hash")
        old_sc = sidecar_prev
        if not have_sidecar:
            # first activation (seen just crossed bloom_min_seen, or store
            # initialized with bloom off): backfill from the FULL seen set —
            # a partial sidecar would produce false negatives, which the
            # design forbids
            base = base.unionByName(seen_keys.select("bucket", "url_hash"))
            old_sc = empty_sidecar(spark)
        merged = merge_bucket_blobs(
            base, old_sc, cfg.bloom_bits_per_bucket, cfg.bloom_k,
            kind=cfg.seen_filter_kind,
        )
        return store.overwrite("seen_filter", merged)

    with ThreadPoolExecutor(max_workers=7) as pool:
        futs = {
            "extracted": pool.submit(_w_extracted),
            "seen": pool.submit(_w_seen),
            "frontier": pool.submit(_w_frontier),
            "frontier_log": pool.submit(_w_log),
        }
        if cfg.adaptive_budget:
            futs["host_lat"] = pool.submit(_w_host_lat)
        if cfg.obey_robots:
            futs["robots"] = pool.submit(_w_robots)
        if use_bloom:
            futs["seen_filter"] = pool.submit(_w_filter)
        snap_ids = {k: f.result() for k, f in futs.items()}
    filter_snap = snap_ids.get("seen_filter")
    if cfg.obey_robots:
        robots_snap = snap_ids["robots"]
        counts.append(("robots_fetched", -1, int(robots_obs.get["n"])))
    else:
        robots_snap = snaps["robots"]  # unchanged — re-commit the same snapshot
    n_fetched = int(log_obs.get["ok"] or 0)
    n_http_err = int(log_obs.get["http_err"] or 0)
    n_retried = int(log_obs.get["retried"] or 0)
    n_redirected = int(log_obs.get["redirected"] or 0)
    assert n_fetched == int(ext_obs.get["n"])  # extracted rows == 2xx hits
    counts.append(("fetched", -1, n_fetched))
    counts.append(("http_error", -1, n_http_err))
    counts.append(("retried", -1, n_retried))
    counts.append(("redirected", -1, n_redirected))
    counts.append(
        (
            "fetch_miss",
            -1,
            n_sched - n_fetched - n_http_err - n_retried - n_redirected,
        )
    )
    _tick("table_writes")

    # metrics: already collected driver-side (tiny) → write without a job
    key_rename = {"pass": "scheduled_budget_pass"}
    metric_rows = [
        (round_n, key_rename.get(k, k), int(p), int(n)) for k, p, n in counts
    ]
    summary: dict[str, int] = {}
    for _, k, _, n in metric_rows:
        summary[k] = summary.get(k, 0) + n
    queued_start = summary.get("scheduled_budget_pass", 0) + sum(
        summary.get(k, 0)
        for k in ("robots_deferred", "robots_denied", "budget_deferred")
    )
    metric_rows.append((round_n, "queued_start", -1, queued_start))
    metric_rows.append((round_n, "scheduled", -1, n_sched))
    metric_rows.append((round_n, "cap_deferred", -1, n_pass - n_sched))
    queued_end = (
        summary.get("robots_deferred", 0)
        + summary.get("budget_deferred", 0)
        + (n_pass - n_sched)
        + summary.get("enqueued", 0)
        + summary.get("retried", 0)  # retryable rows returned to QUEUED
    )
    metric_rows.append((round_n, "queued_end", -1, int(queued_end)))
    summary["queued_start"] = queued_start
    summary["scheduled"] = n_sched
    summary["cap_deferred"] = n_pass - n_sched
    import pyarrow as pa

    met_snap = store.append_local(
        "metrics",
        pa.table(
            {
                "round": pa.array([r[0] for r in metric_rows], pa.int32()),
                "key": pa.array([r[1] for r in metric_rows], pa.string()),
                "partition_id": pa.array([r[2] for r in metric_rows], pa.int32()),
                "n": pa.array([r[3] for r in metric_rows], pa.int64()),
            }
        ),
        METRICS_SCHEMA,
        parent=snaps.get("metrics"),
    )

    summary["queued_end"] = int(queued_end)
    summary["round"] = round_n
    summary["seen_total"] = seen_total + summary.get("enqueued", 0)
    tables = {
        "frontier": snap_ids["frontier"], "seen": snap_ids["seen"],
        "robots": robots_snap, "extracted": snap_ids["extracted"],
        "frontier_log": snap_ids["frontier_log"], "metrics": met_snap,
    }
    if "host_lat" in snap_ids:
        tables["host_lat"] = snap_ids["host_lat"]
    if filter_snap is not None:
        tables["seen_filter"] = filter_snap
    store.commit_round(round_n, tables, meta={k: int(v) for k, v in summary.items()})

    to_unpersist = [work, scheduled, fetched, cand0, labeled1, new_robots]
    if use_bloom and have_sidecar:
        to_unpersist.append(rank1)
    for df in to_unpersist:
        if df is not None:
            df.unpersist()
    _tick("commit_unpersist")
    if _prof:
        # after commit_round — the manifest meta is int-valued counters only
        summary["stage_ms"] = _stage_ms  # type: ignore[assignment]
    return summary


def forget_seen(spark: SparkSession, store: SnapStore, cfg: CrawlConfig,
                up_to_round: int) -> dict:
    """Seen-TTL / recrawl maintenance: forget every seen key first enqueued
    at or before ``up_to_round`` — except keys still QUEUED in the frontier
    (see below) — so those URLs become crawlable again when rediscovered.
    Real crawlers refresh (the reference leaves its dupefilter
    append-only per job — scrapy/dupefilters.py::RFPDupeFilter — so a
    recrawl means a new JOBDIR; at the 10^10-URL design point re-seeding is
    not an option and the seen set must age in place).

    Two sidecar paths, chosen by sniffing the committed blobs' magic (NOT
    cfg — a store built under one kind must maintain correctly after the
    config flips):

    - **cuckoo** blobs: in-place ``delete_bucket_keys`` — one cogroup task
      per bucket, streaming ONLY the expired keys. This is the path that
      justifies the cuckoo backend: cost scales with |expired|, not |seen|.
    - **bloom** blobs: full rebuild from the kept keys (bloom bits are
      shared across keys, so subtraction is impossible) — a complete pass
      over the kept seen set, ~10^10 keys at the design point.

    Commits new ``seen``/``seen_filter`` snapshots and REWRITES the last
    round manifest (atomic rename, same protocol as commit_round) with the
    shrunken ``seen_total``, so resume continues from the post-forget state.
    """
    rounds_done = store.committed_rounds()
    if not rounds_done:
        raise ValueError("forget_seen: store has no committed rounds")
    last = rounds_done[-1]
    man = store.round_manifest(last)
    snaps = dict(man["tables"])
    meta = dict(man.get("meta", {}))

    seen = store.read(spark, "seen", snaps["seen"])
    # Keys still QUEUED in the frontier are exempt: forgetting one would let
    # a later rediscovery enqueue it a SECOND time while the first row still
    # waits (duplicate frontier rows → double fetch). The frontier table
    # holds QUEUED rows only, so its keys are exactly the exemption set; at
    # the design point this anti-join is the same co-bucketed shape as the
    # dedup path's O3 join.
    frontier_keys = store.read(spark, "frontier", snaps["frontier"]).select(
        "url_hash", "canon"
    )
    old_enough = seen.filter(F.col("first_round") <= up_to_round)
    expired = old_enough.join(
        frontier_keys, ["url_hash", "canon"], "left_anti"
    ).persist()
    n_expired = expired.count()
    out = {"round": last, "forgot": int(n_expired), "sidecar": "none"}
    # Commit the forgotten keys as a table: the recrawl re-enqueue step
    # (recrawl_enqueue) scores exactly this population, and the committed
    # snapshot is its lineage — which maintenance run forgot which keys.
    # Overwrite (not append): each maintenance run's candidates are ITS
    # forgotten keys, never a stale earlier run's.
    snaps["forgotten"] = store.overwrite("forgotten", expired)
    if n_expired == 0:
        store.commit_round(last, snaps, meta=meta)
        expired.unpersist()
        return out
    kept = seen.filter(F.col("first_round") > up_to_round).unionByName(
        old_enough.join(frontier_keys, ["url_hash", "canon"], "left_semi")
    )
    snaps["seen"] = store.overwrite("seen", kept, partition_by=["bucket"])

    if "seen_filter" in snaps:
        sidecar = store.read(spark, "seen_filter", snaps["seen_filter"])
        head = sidecar.select("filter").head(1)
        is_cuckoo = bool(head) and bytes(head[0]["filter"])[:4] == _CUCKOO_MAGIC
        if is_cuckoo:
            new_sc = delete_bucket_keys(expired, sidecar)
            out["sidecar"] = "cuckoo_delete"
        else:
            new_sc = merge_bucket_blobs(
                kept.select("bucket", "url_hash"), empty_sidecar(spark),
                cfg.bloom_bits_per_bucket, cfg.bloom_k,
                kind=cfg.seen_filter_kind,
            )
            out["sidecar"] = "rebuild"
        snaps["seen_filter"] = store.overwrite("seen_filter", new_sc)

    expired.unpersist()
    meta["seen_total"] = max(
        0, int(meta.get("seen_total", n_expired)) - int(n_expired)
    )
    meta["forgot_keys"] = int(meta.get("forgot_keys", 0)) + int(n_expired)
    store.commit_round(last, snaps, meta=meta)
    return out


def recrawl_enqueue(spark: SparkSession, store: SnapStore, cfg: CrawlConfig,
                    budget: int) -> dict:
    """Freshness-driven re-enqueue after seen-TTL forgetting (VERDICT r4 #5
    — connect the ``recrawl_priority`` policy to the maintenance loop): score
    the keys the preceding :func:`forget_seen` committed to the
    ``forgotten`` table by Cho & Garcia-Molina's expected-missed-changes
    formula (the same integer-micro-unit arithmetic the battery's
    ``recrawl_priority`` query pins cross-engine) and return the
    top-``budget`` of them to the frontier as QUEUED rows.

    Mapping onto the crawl's observables: a URL is fetched at most once per
    store, so the change-rate signal lives at HOST granularity — λ_host =
    (n_terminal_fetches − 1) per round over the host's first→last fetched
    round span (staged long division, exact in BIGINT micro-units); a URL's
    age is rounds since its own last frontier_log observation, measured to
    ``last_round + 1`` (the round a resumed crawl will run next), so age ≥ 1
    and the score total-orders by (score DESC, url_hash ASC). Terminal
    fetch outcomes only (state ∉ {ROBOTS_DENIED, RETRY}) count as
    observations — the same population schedule_view calls "scheduled",
    minus the non-terminal RETRY echoes.

    Re-enqueued rows re-enter ``seen`` + the sidecar in the same
    maintenance commit: enqueue-time dedup consults only seen, so a later
    link rediscovery would otherwise enqueue a SECOND row while this one
    still waits (the exact double-fetch forget_seen's QUEUED exemption
    guards against). Their frontier ``priority`` carries the score (clamped
    to int32 milli-units), so the next round's priority-ordered pop IS the
    recrawl policy order; ``seq`` follows the seed rule (xxhash64(canon)),
    ``depth`` resets to 0, and ``meta`` records the score for lineage. The
    round manifest is rewritten to the post-enqueue snapshots — the crawl
    resumes straight into the refetch.

    Overflow: age ≤ rounds+1 (~1e4 at the design point) and λ_micro ≤
    1e6 · per-host-per-round budget, so the score product stays ≤ ~1e13 —
    far inside BIGINT; no staged reorder needed for the product itself.
    """
    from sparkcrawl.frontier import FRONTIER_COLS, with_bucket

    rounds_done = store.committed_rounds()
    if not rounds_done:
        raise ValueError("recrawl_enqueue: store has no committed rounds")
    last = rounds_done[-1]
    man = store.round_manifest(last)
    snaps = dict(man["tables"])
    meta = dict(man.get("meta", {}))
    if "forgotten" not in snaps:
        raise ValueError(
            "recrawl_enqueue: no forgotten table in the last round manifest "
            "— run forget_seen first (the re-enqueue scores exactly the "
            "population that maintenance run forgot)"
        )
    forgotten = store.read(spark, "forgotten", snaps["forgotten"])
    log = store.read(spark, "frontier_log", snaps["frontier_log"])

    fetches = log.filter(~F.col("state").isin("ROBOTS_DENIED", "RETRY"))
    # λ per host, micro-units per round: staged division (exact, same
    # pattern as the battery query — the remainder multiplies by 1e6 only
    # after the quotient split, so intermediates stay < span·1e6)
    host_rate = (
        fetches.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_obs"),
             F.min("round").alias("first_r"),
             F.max("round").alias("last_r"))
        .select(
            "host",
            F.expr(
                "CAST(CASE WHEN last_r - first_r >= 1 THEN "
                "((n_obs - 1) DIV (last_r - first_r)) * 1000000 "
                "+ (((n_obs - 1) % (last_r - first_r)) * 1000000) "
                "DIV (last_r - first_r) ELSE 0 END AS BIGINT)"
            ).alias("rate_micro"),
        )
    )
    # a key's last observation: any frontier_log state (a ROBOTS_DENIED key
    # has no terminal fetch but was observed — and it also carries the host
    # the forgotten/seen schema doesn't)
    url_last = log.groupBy("url_hash", "canon").agg(
        F.max("round").alias("last_obs_r"), F.max("host").alias("host"))
    scored = (
        forgotten.select("url_hash", "canon", "first_round")
        .join(url_last, ["url_hash", "canon"], "left")
        .join(host_rate, "host", "left")
        .select(
            "url_hash", "canon", "host",
            (
                (F.lit(last + 1)
                 - F.coalesce("last_obs_r", F.col("first_round")))
                .cast("long")
                * F.coalesce("rate_micro", F.lit(0)).cast("long")
            ).alias("score_micro"),
        )
    )
    # distributed top-k (TakeOrderedAndProject), deterministic total order
    picked = scored.orderBy(
        F.desc("score_micro"), F.asc("url_hash")
    ).limit(int(budget)).persist()
    n_picked = picked.count()
    out = {"round": last, "recrawled": int(n_picked)}
    if n_picked == 0:
        picked.unpersist()
        return out

    rows = with_bucket(
        picked.select(
            F.col("canon").alias("url"), "canon", "url_hash", "host",
            F.lit(0).cast("int").alias("depth"),
            F.expr("CAST(LEAST(score_micro DIV 1000, 2000000000) AS INT)")
            .alias("priority"),
            F.xxhash64("canon").alias("seq"),
            F.lit(last + 1).cast("int").alias("discovered_round"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).cast("int").alias("retries"),
            F.lit(0).cast("int").alias("redirects"),
            F.concat(
                F.lit('{"recrawl_score_micro":'),
                F.col("score_micro").cast("string"), F.lit("}")
            ).alias("meta"),
        ),
        n_buckets=cfg.n_buckets,
    ).persist()

    frontier = store.read(spark, "frontier", snaps["frontier"])
    snaps["frontier"] = store.overwrite(
        "frontier", frontier.unionByName(rows.select(*FRONTIER_COLS)))
    snaps["seen"] = store.append(
        "seen",
        rows.select("bucket", "url_hash", "canon", _fp_col(),
                    F.lit(last + 1).cast("int").alias("first_round")),
        partition_by=["bucket"],
        parent=snaps["seen"],
    )
    if "seen_filter" in snaps:
        sidecar = store.read(spark, "seen_filter", snaps["seen_filter"])
        merged = merge_bucket_blobs(
            rows.select("bucket", "url_hash"), sidecar,
            cfg.bloom_bits_per_bucket, cfg.bloom_k,
            kind=cfg.seen_filter_kind,
        )
        snaps["seen_filter"] = store.overwrite("seen_filter", merged)
    rows.unpersist()
    picked.unpersist()
    meta["seen_total"] = int(meta.get("seen_total", 0)) + int(n_picked)
    meta["recrawled_keys"] = (
        int(meta.get("recrawled_keys", 0)) + int(n_picked))
    store.commit_round(last, snaps, meta=meta)
    return out
