"""URL canonicalization + 64-bit hashing (V1 in SURVEY.md §2.9).

The reference keeps an in-memory seen-set keyed by integer repo ids
(``/root/reference/src/infrastructure/github_api.py:463,548-555``); the
web-frontier analog keys on a 64-bit hash of the *canonical* URL so that
``http://Host:80/a/../b#f`` and ``http://host/b`` dedupe to the same row.

``hash64`` is defined as the first 15 hex digits of md5 parsed as an integer
(60 bits, always non-negative, fits int64). md5 was chosen over xxhash because
the exact same value is computable in all three places we need it:

* pure Python  (``hash64`` below — oracle + datagen),
* JVM columns  (``hash64_col`` — ``conv(substring(md5(c),1,15),16,10)``,
  stays inside whole-stage codegen; the crawl frontier's url_hash and every
  text-dedup hash in ``crawlspark.textops``),
* DuckDB SQL   (``CAST(('0x' || substr(md5(c),1,15)) AS BIGINT)``,
  ``textops.DUCK_H60``) in the query oracles.
"""

from __future__ import annotations

import hashlib
import posixpath
from urllib.parse import urlsplit, urlunsplit

import pandas as pd

_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize_url(url: str) -> str:
    """Deterministic URL canonicalization: lowercase scheme+host, strip the
    default port, resolve ``.``/``..`` path segments, drop the fragment, sort
    query parameters, collapse an empty path to ``/``."""
    parts = urlsplit(url.strip())
    scheme = parts.scheme.lower()
    host = parts.hostname or ""
    host = host.lower().rstrip(".")
    port = parts.port
    netloc = host
    if port is not None and _DEFAULT_PORTS.get(scheme) != port:
        netloc = f"{host}:{port}"
    path = parts.path or "/"
    # resolve ./ and ../ without touching a trailing slash
    trailing = path.endswith("/") and path != "/"
    path = posixpath.normpath(path)
    # posixpath.normpath preserves a leading double slash (POSIX special
    # case); collapse it — crawl canonicalization treats //a and /a as twins
    if path.startswith("//"):
        path = "/" + path.lstrip("/")
    # a path that resolved to root must not grow the trailing slash back
    # (/x/../ -> /, not //), or canonicalization loses idempotence
    if trailing and path != "/":
        path += "/"
    if not path.startswith("/"):
        path = "/" + path
    query = parts.query
    if query:
        query = "&".join(sorted(query.split("&")))
    return urlunsplit((scheme, netloc, path, query, ""))


def hash64(s: str) -> int:
    """First 15 hex digits of md5 as int (range [0, 2^60); fits int64)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def url_hash64(url: str) -> int:
    return hash64(canonicalize_url(url))


def host_of(url: str) -> str:
    h = urlsplit(url.strip()).hostname or ""
    return h.lower().rstrip(".")


def canonicalize_series(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_url)


# --- Spark-side helpers (imported lazily so the oracle stays Spark-free) ----

def hash64_col(col):
    """JVM-side hash64 of a string column (same value as ``hash64``):
    conv(substring(md5(c), 1, 15), 16, 10) cast to long. Stays in
    whole-stage codegen."""
    from pyspark.sql import functions as F

    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def canonical_url_udf():
    """Vectorized pandas UDF: url -> canonical url (north_rule: URL
    canonicalization runs as a vectorized Arrow/pandas UDF)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def _canon(urls: pd.Series) -> pd.Series:
        return canonicalize_series(urls)

    return _canon
