"""Arrow-batched pandas UDF wrappers over the pinned kernels.

These five UDFs (URL canonicalization, host, redirect resolution, page
extraction, robots verdict) are the ONLY Python that touches row data in the
pipeline (SURVEY.md §2.11); everything else is native DataFrame ops. The
batch loop inside a pandas UDF is the sanctioned pattern when no vectorized
kernel exists (BASELINE.json:15 "no per-row Python" = no per-row Spark UDF
dispatch; Arrow moves data in 2048-row batches, sparkcrawl/session.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkcrawl.canon import canonicalize_url, resolve_redirect, url_host
from sparkcrawl.extract import extract_page
# The worker-side fast path (sparkcrawl/workerperf.py) installs from the
# package __init__ — UDFs are pickled by value, so this module may never be
# imported inside a worker; sparkcrawl.canon/extract (and hence the package
# __init__) always are.

LINKS_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("nofollow", T.BooleanType()),
        ]
    )
)

PAGE_TYPE = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("links", LINKS_TYPE),
    ]
)


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    # exploded link batches repeat raw urls heavily (chain/random intra-host
    # edges) — canonicalize each DISTINCT url once per batch, then dict-map
    mapping = {u: canonicalize_url(u) for u in urls.dropna().unique()}
    return urls.map(lambda u: mapping[u] if u is not None else None)


@F.pandas_udf(T.StringType())
def host_udf(urls: pd.Series) -> pd.Series:
    mapping = {u: url_host(u) for u in urls.dropna().unique()}
    return urls.map(lambda u: mapping[u] if u is not None else None)


@F.pandas_udf(T.StringType())
def resolve_redirect_udf(base_url: pd.Series, location: pd.Series) -> pd.Series:
    return pd.Series(
        [
            resolve_redirect(b, l) if b is not None and l is not None else None
            for b, l in zip(base_url, location)
        ]
    )


@F.pandas_udf(PAGE_TYPE)
def extract_page_udf(html: pd.Series, base_url: pd.Series) -> pd.DataFrame:
    """Hot-path extraction: ONE decode+parse per page yielding (text, links)
    — halves Python CPU vs separate text and link passes. The
    pipeline persists the struct column so the UDF evaluates exactly once
    per page regardless of how many downstream projections read its fields."""
    texts, links = [], []
    for b, base in zip(html, base_url):
        if b is None or base is None:
            texts.append(None)
            links.append([])
        else:
            t, ls = extract_page(b, base)
            texts.append(t)
            links.append(
                [{"url": l.url, "text": l.text, "nofollow": l.nofollow} for l in ls]
            )
    return pd.DataFrame({"text": texts, "links": links})


@F.pandas_udf(T.BooleanType())
def robots_allowed_udf(status: pd.Series, body: pd.Series, url: pd.Series) -> pd.Series:
    # candidates arrive host-clustered (repartitioned by host), so memoizing
    # the parsed ruleset per body parses each host's robots once per batch
    from sparkcrawl.robots import AGENT, parse_robots

    parsers: dict[str, object] = {}

    def one(s, b, u):
        s_i = None if s is None or pd.isna(s) else int(s)
        if s_i is None or 400 <= s_i < 500:
            return True
        if s_i >= 500:
            return False
        b = b or ""
        rp = parsers.get(b)
        if rp is None:
            rp = parsers[b] = parse_robots(b)
        return rp.can_fetch(AGENT, u)

    return pd.Series([one(s, b, u) for s, b, u in zip(status, body, url)], dtype=bool)
