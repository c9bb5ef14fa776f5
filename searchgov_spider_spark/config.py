"""Crawl configuration mirroring the reference's Scrapy settings.

Behavior parity sources (reference, read-only):
- /root/reference/search_gov_crawler/search_gov_spiders/settings.py:28-80
- /root/reference/search_gov_crawler/search_gov_spiders/helpers/domain_spider.py:10-50
- /root/reference/search_gov_crawler/search_gov_spiders/spiders/domain_spider.py:122-134
"""

from __future__ import annotations

from dataclasses import dataclass

# Media/archive/office extensions never fetched and classified as media spans
# (reference: helpers/domain_spider.py:10-27 FILTER_EXTENSIONS).
FILTER_EXTENSIONS: tuple[str, ...] = (
    # archives
    "7z", "7zip", "bz2", "rar", "tar", "tar.gz", "xz", "zip", "gz",
    # images
    "mng", "pct", "bmp", "gif", "jpg", "jpeg", "png", "pst", "psp", "image",
    "tif", "tiff", "ai", "drw", "dxf", "eps", "ps", "svg", "cdr", "ico",
    # audio
    "mp3", "wma", "ogg", "wav", "ra", "aac", "mid", "au", "aiff", "media",
    # video
    "3gp", "asf", "asx", "avi", "mov", "mp4", "mpg", "qt", "rm", "swf",
    "wmv", "m4a", "m4v", "flv", "webm",
    # office suites
    "ppt", "pptx", "pps", "odt", "ods", "odg", "odp",
    # other
    "css", "exe", "bin", "rss", "dmg", "iso", "apk", "js", "xml", "ibooks",
    "ics", "nc", "nc4", "prj", "sfx", "eventsource", "fetch", "stylesheet",
    "websocket", "xhr", "font", "manifest", "hdf", "geojson",
)

# MIME allow-lists per output target (reference: helpers/domain_spider.py:30-50).
ALLOWED_CONTENT_TYPES: tuple[str, ...] = (
    "text/html",
    "text/plain",
    "application/msword",
    "application/pdf",
    "application/vnd.ms-excel",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
)
ES_ALLOWED_CONTENT_TYPES: tuple[str, ...] = ("text/html", "application/pdf")
CONTENT_TYPES_BY_TARGET: dict[str, tuple[str, ...]] = {
    "csv": ALLOWED_CONTENT_TYPES,
    "endpoint": ALLOWED_CONTENT_TYPES,
    "elasticsearch": ES_ALLOWED_CONTENT_TYPES,
}

# Link tags whose hrefs are followed (reference: helpers/domain_spider.py:54).
LINK_TAGS: tuple[str, ...] = ("a", "area", "va-link")

# Child discovery order: discovery_idx = parent_fetch_rank * STRIDE + link
# position. Bounded (fetch_rank <= per-wave budget, positions < STRIDE), so
# it never overflows a long, and reproducible by the pure-Python oracle.
DISCOVERY_STRIDE = 1 << 16

# HTTP status codes counted as "unwanted" by crawl monitors
# (reference: settings.py:128-129, monitors.py:21-48).
UNWANTED_HTTP_CODES: tuple[int, ...] = (400, 407, 429, 500, 502, 503, 504, 523, 540, 541)
MAX_UNWANTED_PER_CODE = 50

# Bad HTTP codes that should be retried across waves is disabled in the
# reference (RETRY_ENABLED=False, settings.py:36); we keep the same default.


@dataclass(frozen=True)
class CrawlConfig:
    """Per-job crawl knobs, defaults matching the reference Scrapy config.

    The reference's depth clamp (DEPTH_LIMIT=3 into [1, 250]) lives in
    ``operators.filters.normalize_job_rules``, its 100 KB sink batch
    size in ``sources.sinks``, and its per-request timeout and size cap
    (settings.py:38, :50) in ``sources.fetch``. ``frontier_buckets`` is
    unused: the engine no longer passes it to the state store, whose
    writes keep each wave frame's own partitioning. It stays for callers
    that still read it."""

    download_delay_sec: float = 1.0          # settings.py:46 DOWNLOAD_DELAY
    per_domain_concurrency: int = 1          # settings.py:44-45
    wave_seconds: float = 60.0               # fetch budget window per wave per domain
    max_waves: int = 64
    user_agent: str = "usasearch"            # settings.py:28
    # dedup / frontier scale knobs
    bloom_capacity: int = 1 << 20
    bloom_fpp: float = 0.01
    bloom_shards: int = 1                    # >1 shards the bloom by url_hash
    frontier_buckets: int = 32               # unused (see class docstring)
    salt_buckets: int = 8                    # salting factor for hot-domain windows

    def wave_budget(self, crawl_delay: float | None = None) -> int:
        """Max fetches per domain per wave under the politeness delay.

        The reference fetches at most 1 request/sec/domain
        (CONCURRENT_REQUESTS_PER_DOMAIN=1, DOWNLOAD_DELAY=1); a wave that
        models `wave_seconds` of wall-clock therefore fetches at most
        wave_seconds / max(delay, robots crawl_delay) URLs per domain.
        """
        delay = max(self.download_delay_sec, crawl_delay or 0.0)
        return max(1, int(self.wave_seconds / delay) * self.per_domain_concurrency)


DEFAULT_CONFIG = CrawlConfig()
