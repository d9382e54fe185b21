"""URL canonicalization — the crawl-ingest staple the north-rule corpus
needs before any url-keyed dedup/grouping (re-crawls of one page arrive
under fragment/tracking/case/port variants and must collapse to ONE
key, or per-url dedup and domain stats silently fragment).

Pure Column expressions (JVM, no UDF), engine-replayable step by step:

1. trim; drop the fragment (``#…`` — never sent to servers);
2. lowercase the scheme and the host (case-insensitive per RFC 3986);
   the PATH keeps its case (case-sensitive on most servers);
3. drop default ports (``:80`` for http, ``:443`` for https);
4. drop tracking query params (``utm_*``, ``gclid``, ``fbclid``,
   ``msclkid``, ``ref``) and SORT the survivors (param order is not
   semantic) — empty query drops its ``?``;
5. empty path → ``/``.

Scheme-less inputs (no ``://``) pass through fragment-stripped and
trimmed but otherwise untouched — assembling ``"://" || host`` around an
empty scheme would mint a mangled key that collides across relative
URLs; nulls propagate to null.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TRACKING_PARAMS = ("gclid", "fbclid", "msclkid", "ref")
TRACKING_PREFIX = "utm_"


def _is_tracking(kv: Column) -> Column:
    key = F.split(kv, "=")[0]
    cond = key.startswith(TRACKING_PREFIX)
    for p in TRACKING_PARAMS:
        cond = cond | (key == p)
    return cond


def url_domain(url: Column) -> Column:
    """Host of an http(s) URL ('' when absent); a host-only URL such as
    ``https://example.com`` still yields its host."""
    return F.regexp_extract(url, r"https?://([^/?#]+)", 1)


def normalize_url(url: Column) -> Column:
    u = F.regexp_replace(F.trim(url), "#.*", "")        # fragment off
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?]*)", 1))
    tail = F.regexp_replace(rest, r"^[^/?]*", "")       # path + query
    # default-port strip via anchored regexp (identical form in SQL)
    host = F.when(scheme == "http",
                  F.regexp_replace(hostport, ":80$", "")) \
            .when(scheme == "https",
                  F.regexp_replace(hostport, ":443$", "")) \
            .otherwise(hostport)
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_replace(tail, r"^[^?]*\??", "")
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda kv: (kv != "") & ~_is_tracking(kv)))
    qstr = F.array_join(kept, "&")
    assembled = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qstr == "", F.lit("")).otherwise(F.concat(F.lit("?"), qstr)))
    return F.when(scheme == "", u).otherwise(assembled)
