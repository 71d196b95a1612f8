"""Crawl configuration shared by the Spark pipeline and the oracle.

Field meanings mirror upstream Scrapy settings (public
``scrapy/settings/default_settings.py`` names noted) but values are pinned
for determinism — FIXTURES.md §3/§4.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# Scrapy-style IGNORED_EXTENSIONS (public default list, scrapy/linkextractors/
# __init__.py upstream): binary/media/office suffixes a text crawl never
# follows. ~50 suffixes; the single most-used link filter in practice.
IGNORED_EXTENSIONS: tuple[str, ...] = (
    # archives
    "7z", "7zip", "apk", "bz2", "cdr", "dmg", "gz", "iso", "jar", "rar",
    "tar", "tgz", "zip", "xz",
    # images
    "bmp", "gif", "ico", "jpeg", "jpg", "mng", "pct", "png", "pst", "psp",
    "tif", "tiff", "ai", "drw", "dxf", "eps", "ps", "svg", "webp",
    # audio
    "mp3", "wma", "ogg", "wav", "ra", "aac", "mid", "au", "aiff", "m4a",
    # video
    "3gp", "asf", "asx", "avi", "mov", "mp4", "mpg", "qt", "rm", "swf",
    "wmv", "m4v", "flv", "webm",
    # office / other
    "css", "pdf", "doc", "docx", "exe", "bin", "rss", "odt", "xls", "xlsx",
    "ppt", "pptx",
)


@dataclass(frozen=True)
class CrawlConfig:
    round_size: int = 1000          # global per-round cap (CONCURRENT_REQUESTS analogue)
    depth_limit: int = 6            # DEPTH_LIMIT
    depth_priority: int = 1         # DEPTH_PRIORITY: priority = parent - depth*this
    max_per_round_default: int = 8  # CONCURRENT_REQUESTS_PER_DOMAIN analogue
    max_rounds: int = 50
    obey_robots: bool = True        # ROBOTSTXT_OBEY
    respect_nofollow: bool = True
    url_length_limit: int = 2083    # URLLENGTH_LIMIT
    allowed_domains: tuple[str, ...] | None = None  # None → allow all (offsite off)
    # --- redirect + retry (SURVEY.md §2.2; upstream symbols
    #     scrapy/downloadermiddlewares/redirect.py::RedirectMiddleware and
    #     retry.py::RetryMiddleware — pinned-spec cites per SURVEY.md §0).
    # Pinned round semantics, mirrored bit-for-bit in oracle/crawler.py:
    # * 3xx with a Location and redirects < redirect_max_times: the source
    #   row is terminal REDIRECT; the target (Location urljoined against the
    #   fetched page url) becomes a candidate with depth UNCHANGED, priority
    #   += redirect_priority_adjust, redirects+1, retries carried, seq =
    #   seq_for_redirect(parent_seq, canon). Only URL_GUARD and OFFSITE
    #   apply to redirect targets (the F4 LinkExtractor filters do not —
    #   they gate link discovery, not request replacement); dedup applies
    #   like any candidate. Defaults match upstream REDIRECT_ENABLED /
    #   REDIRECT_MAX_TIMES / REDIRECT_PRIORITY_ADJUST.
    # * retryable status (retry_http_codes) with retries < retry_times: the
    #   row returns to QUEUED with retries+1 and priority +=
    #   retry_priority_adjust (logged RETRY, metric `retried`). Exhausted
    #   retries (and non-retryable non-2xx, F5) are terminal HTTP_<code>.
    #   Defaults match upstream RETRY_ENABLED / RETRY_TIMES /
    #   RETRY_HTTP_CODES / RETRY_PRIORITY_ADJUST.
    redirect_enabled: bool = True
    redirect_max_times: int = 20
    redirect_priority_adjust: int = 2
    retry_enabled: bool = True
    retry_times: int = 2
    retry_http_codes: tuple[int, ...] = (500, 502, 503, 504, 522, 524, 408, 429)
    retry_priority_adjust: int = -1
    # --- sitemap discovery (SitemapSpider analogue; upstream symbols
    #     scrapy/spiders/sitemap.py::SitemapSpider and its documented
    #     robots.txt handling — "you can point sitemap_urls to a robots.txt
    #     and it will be parsed to extract sitemap urls" — pinned-spec cites
    #     per SURVEY.md §0). Pinned round semantics, mirrored bit-for-bit in
    #     oracle/crawler.py:
    # * When a NEW host's robots.txt is fetched (stage 2; requires
    #   obey_robots), its `Sitemap:` directives (SITEMAP_LINE_RE, one per
    #   line, case-insensitive) become frontier candidates THIS round: depth
    #   0, priority = sitemap_priority, seq = seq_for_sitemap(src_host,
    #   canon) (the source host in the hash keeps min-seq batch dedup
    #   deterministic when two hosts advertise the same sitemap url),
    #   parent_url = http://<src_host>/robots.txt, meta null. Like redirect
    #   targets — request replacement, not link discovery — only URL_GUARD →
    #   OFFSITE gate them (F4's LinkExtractor filters do not); batch + seen
    #   dedup apply downstream like any candidate. Metric: `sitemap_urls`
    #   counts parsed directives pre-filter.
    # * A fetched sitemap document (root <urlset>/<sitemapindex>) yields its
    #   <loc> entries as its link set (extract.py kernels; text pinned "")
    #   and flows through the NORMAL link path — F1-F4 filters, depth+1,
    #   depth_priority decay — matching SitemapSpider's sitemap_rules
    #   gating urls extracted FROM sitemaps. A <sitemapindex> therefore
    #   recurses organically: child sitemaps are fetched next round as
    #   ordinary candidates.
    sitemap_enabled: bool = True
    sitemap_priority: int = 0
    # Pinned `Sitemap:` directive regex — Java∩Python subset; corpus robots
    # bodies are \n-terminated (Java MULTILINE ^ also accepts \r/
    # line breaks, Python only \n — identical on \n-only bodies, pinned in
    # synth.py). Group 1 is the url.
    SITEMAP_LINE_RE = r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"
    # --- F4 LinkExtractor allow/deny (SURVEY.md §2.2, [scrapy:
    #     scrapy/linkextractors/lxmlhtml.py::LxmlLinkExtractor] pinned) ---
    # Patterns are unanchored regex (re.search / Spark rlike — stay in the
    # Java∩Python regex subset) applied to the CANONICAL url; pinned drop
    # order: NOFOLLOW → DEPTH → URL_GUARD → EXT → REGEX → OFFSITE.
    allow_patterns: tuple[str, ...] | None = None   # keep only links matching ANY
    deny_patterns: tuple[str, ...] = ()             # drop links matching ANY
    deny_extensions: tuple[str, ...] = IGNORED_EXTENSIONS  # () disables
    seed: int = 42
    # --- P4/A3 adaptive per-host budget (AutoThrottle analogue,
    #     [scrapy: scrapy/extensions/throttle.py::AutoThrottle] — pinned-spec
    #     cite per SURVEY.md §0: reference checkout empty) ---
    # When on, round N+1's per-host cap derives from a latency EWMA over the
    # per-round host_lat table (rounds discretize time — SURVEY.md §2.4 P4).
    # ALL arithmetic is pinned integer (α = 1/2) so the distributed pipeline
    # and the single-process oracle agree bit-exactly (float EWMAs would
    # diverge on summation order):
    #   obs_N  = sum(latency_ms of host's fetched pages) DIV n_fetched
    #   ewma_N = (obs_N + ewma_{N-1}) DIV 2          (first obs: ewma = obs)
    #   cap    = clamp(target_ms DIV max(ewma, 1), 1, cap_static)
    # The corpus stands in for the network, so page latency is corpus data
    # (pages.latency_ms, deterministic in synth.py).
    adaptive_budget: bool = False
    autothrottle_target_ms: int = 1000

    def adaptive_cap(self, ewma_ms: int, cap_static: int) -> int:
        """Pinned cap formula (oracle side; rounds.py mirrors it in SQL)."""
        return max(1, min(cap_static, self.autothrottle_target_ms // max(ewma_ms, 1)))
    # --- CloseSpider stop conditions ([scrapy:
    #     scrapy/extensions/closespider.py::CloseSpider] — pinned-spec cite
    #     per SURVEY.md §0) ---
    # 0 disables each, matching the upstream defaults. Checks run at ROUND
    # boundaries (the round is this engine's concurrency unit, so like
    # upstream — which closes only after in-flight requests drain — the
    # counters may overshoot the threshold by up to one round). Pinned
    # cumulative counters, identical in oracle/crawler.py:
    #   pagecount  = fetched + http_error + redirected + retried
    #                (responses received: every scheduled row that matched a
    #                corpus page, any status; fetch_miss got no response)
    #   itemcount  = fetched (each 2xx page yields exactly one extracted row)
    #   errorcount = http_error + fetch_miss
    # Pinned check order when several trip in the same round: pagecount →
    # itemcount → errorcount → timeout. finish_reason ∈ {finished,
    # max_rounds, closespider_pagecount, closespider_itemcount,
    # closespider_errorcount, closespider_timeout}; 'finished' = frontier
    # drained, 'max_rounds' = round budget exhausted (upstream has no round
    # budget — engine-specific reason, named honestly). closespider_timeout
    # is wall-clock and therefore engine-only (the oracle is instant; it
    # never reports it).
    closespider_pagecount: int = 0
    closespider_itemcount: int = 0
    closespider_errorcount: int = 0
    closespider_timeout: float = 0.0

    # --- D2 bloom prefilter sidecar (SURVEY.md §2.3) ---
    # Probabilistic per-bucket URL-seen filters prune the exact dedup join's
    # probe volume; semantics never depend on them (no false negatives by
    # construction; false positives resolved by the exact join). Sized here
    # for sandbox corpora — at the 10^10-URL design point raise bits/bucket
    # (and N_BUCKETS) so each blob holds ~n_keys/bucket at ~1% FPP.
    bloom_bits_per_bucket: int = 1 << 17   # 16 KiB/bucket at n_buckets=32
    bloom_k: int = 7
    # Sidecar filter family (the north star names "bloom/cuckoo-filter URL-
    # seen set"): "bloom" (default — smaller per key, OR-mergeable) or
    # "cuckoo" (sparkcrawl/cuckoo.py — same memory budget via
    # bloom_bits_per_bucket, same no-false-negative contract, plus in-place
    # DELETION so seen-TTL/recrawl maintenance subtracts expired keys from
    # blobs instead of rebuilding the sidecar from the full 10^10-key seen
    # table). Blobs self-describe by magic, so flipping this mid-store is
    # safe: old buckets keep probing under their old kind.
    seen_filter_kind: str = "bloom"
    # --- layout knobs (promoted from frontier.py module constants, r1 #9) ---
    # n_buckets: url_hash bucket count for the seen/pages hive layout; scale
    # with the corpus so each bucket's bloom blob holds ~n_keys/n_buckets at
    # ~1% FPP (≈ 10 bits/key). Design-point arithmetic (corrected r3 — the
    # old comment was off by 10×): 10^10 keys × 10 bits = 10^11 bits
    # ≈ 12.5 GB of filter TOTAL; at n_buckets = 4096 that is ~3 MiB per
    # bucket blob. 12.5 GB never moves whole: the probe and the OR-merge are
    # bucket-cogrouped (seenfilter.py), so each task touches exactly one
    # ~3 MiB blob and the driver handles only snapshot ids.
    # salt_n: salt fan-out for the hot-host budget window (P5) — bound the
    # biggest single host's queue to ~rows_per_task × salt_n.
    n_buckets: int = 32
    salt_n: int = 16
    # Dedup broadcast guard (r1 #7): the bloom path broadcasts maybe-seen
    # keys + confirmed hits; on real crawls most links are dups, so that
    # broadcast grows with the round's duplicate-candidate count. Past this
    # many viable link rows the round falls back to the co-partitioned
    # shuffle join (same verdicts, property-tested) instead of broadcasting.
    # ~2M keys ≈ 60 MB serialized — a sane executor-memory budget.
    dedup_broadcast_max: int = 2_000_000
    # Fetch-join broadcast guard (VERDICT r3 #4b): the fetch joins the round
    # batch against the bucket-partitioned corpus scan via broadcast(batch)
    # so the html bytes never move and extraction runs inside the scan
    # stage. At the design point's round_size ~10^7 that broadcast is
    # multi-GB to every executor; past this many scheduled rows the round
    # falls back to a shuffle join on the bucket-aligned keys (identical
    # fetched set, property-tested). In the fallback Spark must exchange
    # the corpus leg too — on the real Iceberg deployment both tables are
    # bucket-partitioned by url_hash, so storage-partitioned joins
    # (spark.sql.sources.v2.bucketing.enabled) eliminate that exchange;
    # pages_idx is bucket-partitioned precisely to keep that plan available.
    fetch_broadcast_max: int = 2_000_000
    # Strategy threshold: while the seen set is below this many keys the
    # exact dedup join runs directly (Spark/AQE broadcasts the small seen
    # side — fewer stages per round); past it, the bloom probe + broadcast
    # semi-join path streams the seen scan without ever shuffling it. The
    # sidecar is backfilled from the full seen set at the crossover, so
    # late activation cannot produce false negatives.
    bloom_min_seen: int = 1_000_000
    # Round-cap strategy threshold (VERDICT r2 #9): when the global cap
    # binds AND round_size is at least this large, the top-K selection runs
    # as a priority-histogram threshold cutoff (tiny groupBy(priority)
    # histogram → boundary priority → top-up boundary rows by seq) instead
    # of orderBy+limit, whose GlobalLimit funnels the whole K-row result
    # through ONE partition. Below the threshold the sort path is cheaper
    # (one job fewer); the scheduled SET is identical on both paths
    # (property-tested + oracle-tested). 64k (round 4, was 1M): the funnel
    # is a SERIAL cost — the peak round of the 4→16 scaling experiment
    # (round_size 500k, cap binding) paid it identically at both cluster
    # sizes, and serial seconds are exactly what the N→4N efficiency bar
    # punishes. At 64k rows (~6 MB slim) the funnel and the histogram job
    # break even on wall; above it the histogram wins at every cluster size.
    topk_histogram_min: int = 1 << 16
    # Below this many queued candidates the budget window skips its salted
    # pre-phase (P5): one exchange instead of two. Skew only threatens when a
    # single host's queue outgrows a task, which cannot happen under this
    # bound. Verdicts are identical on both paths.
    salt_min_candidates: int = 1_000_000

    def host_allowed(self, host: str) -> bool:
        if self.allowed_domains is None:
            return True
        return any(host == d or host.endswith("." + d) for d in self.allowed_domains)

    # --- F4 pinned kernels (oracle side; frontier.py mirrors them as native
    # Spark SQL regex on the same strings — keep the regexes identical) ---

    # path of a canonical url: everything between authority and '?'/'#'
    # (canon has no fragment, but the pin tolerates one)
    PATH_RE = r"^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)"

    def ext_deny_regex(self) -> str | None:
        """Regex matching a denied extension at the end of the url path."""
        if not self.deny_extensions:
            return None
        return r"\.(" + "|".join(self.deny_extensions) + r")$"

    def link_filter_reason(self, canon: str) -> str | None:
        """EXT / REGEX drop verdict for a canonical url (None = keep)."""
        ext_re = self.ext_deny_regex()
        if ext_re is not None:
            m = re.search(self.PATH_RE, canon)
            path = m.group(1) if m else ""
            if re.search(ext_re, path.lower()):
                return "EXT"
        if self.allow_patterns is not None and not any(
            re.search(p, canon) for p in self.allow_patterns
        ):
            return "REGEX"
        if any(re.search(p, canon) for p in self.deny_patterns):
            return "REGEX"
        return None
