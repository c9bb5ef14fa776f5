"""URL canonicalization and URL-part functions.

Rebuild of the semantics the reference gets from w3lib/scrapy request
fingerprinting (reference: search_gov_spiders/job_state/dupefilter.py:8-25 —
canonical URL before hashing) and elasticsearch/i14y_helper.py:145-181
(ensure_http_prefix, get_url_path, get_base_extension, get_domain_name).
Implementation is original, written against the documented behavior:

  canonicalize(url) =
    lowercase scheme + host, strip default port, strip fragment,
    sort query parameters (key, value) keeping duplicates and blanks,
    resolve path dot-segments, '' path -> '/'.

Hot path: ``canonicalize_udf`` is an Arrow-batched pandas UDF (no per-row
Python at the DataFrame layer); ``url_hash_col`` is native xxhash64.
"""

from __future__ import annotations

import posixpath
from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21}


def ensure_http_prefix(url: str) -> str:
    """Prefix scheme-less URLs with https:// (i14y_helper.py:145-147 parity)."""
    if url is None:
        return None
    return url if url.startswith(("http://", "https://")) else f"https://{url}"


def _normalize_path(path: str) -> str:
    if not path:
        return "/"
    # resolve /./ and /../ segments without touching trailing-slash intent
    normalized = posixpath.normpath(path)
    if path.endswith("/") and not normalized.endswith("/"):
        normalized += "/"
    if normalized == ".":
        return "/"
    if not normalized.startswith("/"):
        normalized = "/" + normalized
    return normalized


def canonicalize_url(url: str) -> str | None:
    """Canonical form used for dedup fingerprinting.

    Deterministic, idempotent: canonicalize(canonicalize(u)) == canonicalize(u).
    """
    if url is None:
        return None
    url = url.strip()
    if not url.lower().startswith(("http://", "https://")):
        url = ensure_http_prefix(url)
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    scheme = (parts.scheme or "https").lower()
    host = (parts.hostname or "").lower()
    port = None
    try:
        port = parts.port
    except ValueError:
        port = None
    netloc = host
    if port is not None and port != DEFAULT_PORTS.get(scheme):
        netloc = f"{host}:{port}"
    if parts.username:
        cred = parts.username + (f":{parts.password}" if parts.password else "")
        netloc = f"{cred}@{netloc}"
    path = _normalize_path(parts.path)
    query = urlencode(sorted(parse_qsl(parts.query, keep_blank_values=True)))
    return urlunsplit((scheme, netloc, path, query, ""))


def get_url_path(url: str) -> str:
    return urlsplit(ensure_http_prefix(url)).path


def get_domain_name(url: str) -> str:
    return urlsplit(ensure_http_prefix(url)).netloc


def get_base_extension(url: str) -> tuple[str, str]:
    """(basename, extension-without-dot) of the URL path."""
    path = get_url_path(url)
    base = posixpath.basename(path)
    if "." in base:
        stem, _, ext = base.rpartition(".")
        return stem, ext
    return base, ""


# ---------------------------------------------------------------------------
# Vectorized UDFs (Arrow-batched; the only Python in the canonicalize hot path)
# ---------------------------------------------------------------------------

# Fast-path pattern: scheme://host[/path][#fragment] with no port, no
# userinfo, no query, and a path free of dot-segments and '//' runs. For
# such URLs canonicalization reduces to lowercasing scheme+host and
# dropping the fragment — pure vectorized pandas string ops. Everything
# else (queries to sort, ports to strip, '..' to resolve) falls back to
# the per-row reference implementation. The fast path covers the
# overwhelming majority of real crawl URLs.
_FAST_URL_RE = (
    r"^(?P<scheme>[Hh][Tt][Tt][Pp][Ss]?)://"
    r"(?P<host>[A-Za-z0-9](?:[A-Za-z0-9.-]*[A-Za-z0-9])?)"
    r"(?P<path>/[^?#]*)?(?:#.*)?$"
)
_DOT_SEGMENT_RE = r"/\.|//"


def canonicalize_batch(urls: pd.Series) -> pd.Series:
    """Vectorized canonicalization (one Arrow batch). NULL rows stay NULL
    and cost nothing — ``with_canonical``'s single-pass mode feeds the UDF
    a column that is NULL wherever the JVM fast path already answered."""
    out = pd.Series(index=urls.index, dtype=object)
    present = urls.notna()
    if not present.any():
        return out
    s = urls[present].str.strip()
    parts = s.str.extract(_FAST_URL_RE)
    path = parts["path"]
    # interior whitespace goes to the slow path: urlsplit (WHATWG) strips
    # ASCII tab/newline from URLs, which the fast-path regex would keep
    fast = (
        parts["scheme"].notna()
        & ~path.fillna("").str.contains(_DOT_SEGMENT_RE, regex=True)
        & ~path.fillna("").str.contains(r"\s", regex=True)
    )
    if fast.any():
        out[fast[fast].index] = (
            parts.loc[fast, "scheme"].str.lower()
            + "://"
            + parts.loc[fast, "host"].str.lower()
            + path[fast].fillna("/")
        )
    slow = s.index[~fast]
    if len(slow):
        out[slow] = s[slow].map(canonicalize_url)
    return out


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_batch(urls)


def with_canonical(df, url_col: str = "url", out_col: str = "canon_url"):
    """Canonicalization hot path: ONE vectorized Arrow UDF pass.

    A "JVM-native fast path" (classify fast-pattern URLs with native
    expressions, route only the rest to Python) was built and MEASURED
    SLOWER, twice:

    * java.util.regex form: the anchored pattern is evaluated up to
      ~10x per row across the union branches' filters + projections —
      4x slower than the UDF on a 24M-row wave (254 s vs ~61 s at 2
      cores).
    * regex-free string-primitive form (instr/substring_index/translate/
      contains): Catalyst inlines every derived subexpression into each
      use site (CollapseProject treats them as cheap), so the parse tree
      is re-evaluated dozens of times per row — 40x slower than the UDF
      (71 s vs 1.65 s on 2M rows at 8 cores).

    The Arrow UDF canonicalizes ~4.2M rows/s at 32 cores (24M rows in
    5.7 s) with pandas vectorized string ops on the fast pattern and
    per-row urlsplit only for the messy tail — and it scales linearly
    with cores (one Python worker per core). That is the plan to ship.
    """
    return df.withColumn(out_col, canonicalize_udf(F.col(url_col)))


# ---------------------------------------------------------------------------
# Native Column builders (JVM-side fast paths)
# ---------------------------------------------------------------------------

def url_hash_col(canon_url: Column | str) -> Column:
    """64-bit frontier identity hash of the canonical URL (JVM xxhash64).

    The identity hash is never salted — salting applies only to shuffle
    keys (SURVEY.md §7 hard part (d)).
    """
    return F.xxhash64(canon_url)


def url_host_col(url: Column | str) -> Column:
    """Hostname, lowercased (native try_parse_url — stays in codegen).

    try_parse_url, not parse_url: crawl candidates contain malformed URLs
    (javascript: links, whitespace) and a single bad row must yield null,
    not abort the stage.
    """
    return F.lower(F.try_parse_url(url, F.lit("HOST")))


def url_path_col(url: Column | str) -> Column:
    return F.coalesce(F.try_parse_url(url, F.lit("PATH")), F.lit(""))


def url_query_col(url: Column | str) -> Column:
    return F.try_parse_url(url, F.lit("QUERY"))


def url_extension_col(url: Column | str) -> Column:
    """Lowercased file extension of the URL path ('' when none)."""
    return F.lower(F.regexp_extract(url_path_col(url), r"\.([A-Za-z0-9]+)$", 1))


def ensure_http_prefix_col(url: Column | str) -> Column:
    c = F.col(url) if isinstance(url, str) else url
    return F.when(c.rlike(r"^https?://"), c).otherwise(F.concat(F.lit("https://"), c))


def url_sha256_col(url: Column | str) -> Column:
    """Document id = sha256 of the (http-prefixed) URL (i14y_helper.py:170-173)."""
    return F.sha2(ensure_http_prefix_col(url), 256)
