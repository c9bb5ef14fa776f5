"""Synthetic .gov link graph + seeds + robots + pure-Python crawl oracle.

The generator is fully deterministic (seeded; no wall clock). It builds the
golden span sequence FIRST and renders the HTML body FROM it, so the
engine's extraction parser must round-trip the bytes back to the exact
(kind, text, media_ref, order) sequence — the BASELINE per-row invariant.

``simulate_crawl`` is an independent, sequential reimplementation of the
crawl semantics (filters → robots → politeness budget → fetch → extract →
dedup) used as the golden oracle for the Spark engine, mirroring how the
reference pins exact emitted-URL counts from cached crawls
(tests/search_gov_spiders/test_full_crawl.py:53-119).

Graph shape per FIXTURES.md §2: BFS-reachable trees per domain + cross
links + duplicate edges + off-site edges + query-string URLs + deny-path
subtrees + media links + robots-blocked subtree + fragment/uppercase
variants (canonicalization dedup cases). One hot domain holds most pages to
exercise salting.
"""

from __future__ import annotations

import html
import random
import re
from dataclasses import dataclass, field
from urllib.parse import urlsplit

from ..config import DISCOVERY_STRIDE, CrawlConfig, FILTER_EXTENSIONS
from ..functions.urls import canonicalize_url

DOMAINS = (
    ("hot.example.gov", 0.55),
    ("agency-a.gov", 0.20),
    ("agency-b.gov", 0.15),
    ("stories.example.gov", 0.10),
)

_VOCAB = (
    "federal agency data public service report program health notice policy "
    "budget form guide search record energy water land grant census history "
    "safety weather science research veteran travel tax library park permit"
).split()

_FILTER_EXT_SET = frozenset(FILTER_EXTENSIONS)


# ---------------------------------------------------------------------------
# Generation
# ---------------------------------------------------------------------------

@dataclass
class Page:
    url: str
    domain: str
    http_status: int
    content_type: str
    content_language: str | None
    spans: list[dict]
    out_links: list[str]
    body: bytes | None
    canon_url: str = ""

    def __post_init__(self):
        if not self.canon_url:
            self.canon_url = canonicalize_url(self.url)


def _words(rng: random.Random) -> str:
    return " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(3, 10)))


def _link_kind(ref: str) -> str:
    path = ref.split("#", 1)[0].split("?", 1)[0]
    last = path.rsplit("/", 1)[-1]
    if last.lower().endswith(".tar.gz"):
        return "media"
    ext = last.rsplit(".", 1)[-1].lower() if "." in last else ""
    return "media" if ext in _FILTER_EXT_SET else "link"


def render_html(title: str, lang: str, spans: list[dict]) -> bytes:
    """Render HTML whose extraction equals ``spans`` exactly."""
    parts = [f'<html lang="{lang}"><head><title>{html.escape(title)}</title>', "</head><body>"]
    for s in spans:
        if s["kind"] == "text":
            parts.append(f"<p>{html.escape(s['text'])}</p>")
        elif s["kind"] == "media" and s["media_ref"].rsplit("/", 1)[-1].startswith("img"):
            parts.append(f'<img src="{s["media_ref"]}">')
        else:  # link span or media-classified anchor
            parts.append(f'<a href="{s["media_ref"]}">{html.escape(_anchor_text(s))}</a>')
    parts.append("</body></html>")
    return "\n".join(parts).encode("utf-8")


def _anchor_text(span: dict) -> str:
    return "more info"  # anchor text is never a text span (ancestor::a excluded)


def _mk_pdf(
    rng: random.Random, refs: list[str], title: str
) -> tuple[list[dict], list[str], bytes]:
    """Golden PDF: spans first, bytes rendered from them (pdfgen).

    Span order must equal operators/pdf.parse_pdf emission: per page one
    text span, then visible links (in text order), then annotation links.
    """
    from .pdfgen import render_pdf

    n_pages = 2 if rng.random() < 0.4 else 1
    avail = list(refs)
    pages: list[dict] = []
    spans: list[dict] = []
    out_links: list[str] = []
    seen: set[str] = set()

    def add(kind, text=None, ref=None):
        spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)})

    for p in range(n_pages):
        lines = [_words(rng) for _ in range(rng.randint(1, 3))]
        visible: list[str] = []
        if avail and rng.random() < 0.5:
            v = avail.pop(0)
            lines.append(f"see {v} for details")
            visible.append(v)
        annots: list[str] = []
        while avail and rng.random() < 0.6:
            annots.append(avail.pop(0))
        text = "\n".join(lines)
        pages.append({"text": text, "annot_links": annots})
        add("text", text=text)
        for ref in visible + annots:
            kind = _link_kind(ref)
            add(kind, ref=ref)
            if kind == "link" and ref not in seen:
                seen.add(ref)
                out_links.append(ref)

    body = render_pdf(
        pages,
        title=title,
        lang="en",
        creation_date=f"D:2024010{1 + rng.randint(0, 8)}120000Z",
        mod_date="D:20240301093000Z",
    )
    return spans, out_links, body


def _mk_spans(rng: random.Random, refs: list[str]) -> tuple[list[dict], list[str]]:
    """Interleave text spans with link/media spans; return (spans, out_links)."""
    spans: list[dict] = []
    out_links: list[str] = []
    seen = set()

    def add(kind, text=None, ref=None):
        spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)})

    add("text", text=_words(rng))
    for ref in refs:
        if rng.random() < 0.7:
            add("text", text=_words(rng))
        kind = _link_kind(ref)
        add(kind, ref=ref)
        if kind == "link" and ref not in seen:
            seen.add(ref)
            out_links.append(ref)
    if rng.random() < 0.5:
        add("text", text=_words(rng))
    return spans, out_links


def generate_graph(n_pages: int = 400, seed: int = 7, branching: int = 4) -> dict:
    """Build the synthetic web. Returns dict with pages (list[Page]),
    seeds_rows, robots_rows."""
    rng = random.Random(seed)
    doms = [d for d, _ in DOMAINS]
    weights = [w for _, w in DOMAINS]

    # assign pages to domains; index 0 per domain is its root
    by_domain: dict[str, list[int]] = {d: [] for d in doms}
    page_domain: list[str] = []
    pos_in_domain: list[int] = []  # i's index in by_domain[page_domain[i]]
    for i in range(n_pages):
        d = doms[i] if i < len(doms) else rng.choices(doms, weights)[0]
        page_domain.append(d)
        pos_in_domain.append(len(by_domain[d]))
        by_domain[d].append(i)

    def page_url(i: int) -> str:
        d = page_domain[i]
        if i < len(doms):
            return f"https://{d}/"
        return f"https://{d}/p/{pos_in_domain[i]}"

    # robots-blocked existing pages on the hot domain
    private_idx = set(by_domain["hot.example.gov"][-3:]) if len(by_domain["hot.example.gov"]) > 6 else set()

    urls = {}
    for i in range(n_pages):
        if i in private_idx:
            urls[i] = f"https://{page_domain[i]}/private/p{pos_in_domain[i]}"
        else:
            urls[i] = page_url(i)

    pages: list[Page] = []
    for i in range(n_pages):
        d = page_domain[i]
        siblings = by_domain[d]
        k = pos_in_domain[i]
        refs: list[str] = []
        # tree children keep every domain BFS-reachable
        for c in range(branching):
            ck = k * branching + 1 + c
            if ck < len(siblings):
                refs.append(urls[siblings[ck]])
        # extra edge types
        if refs and rng.random() < 0.25:
            refs.append(refs[0])  # duplicate edge (D2)
        if rng.random() < 0.20:
            other = rng.choice([x for x in doms if x != d])
            refs.append(urls[rng.choice(by_domain[other])])  # cross-domain
        if rng.random() < 0.15:
            refs.append(f"https://www.external-site.com/x{i}")  # offsite
        if rng.random() < 0.20:
            refs.append(urls[rng.choice(siblings)] + "?ref=abc")  # query URL
        if d == "stories.example.gov" and rng.random() < 0.4:
            refs.append(f"https://{d}/tag/t{i}")  # deny-path subtree
        if rng.random() < 0.20:
            refs.append(urls[rng.choice(siblings)] + "#section")  # fragment variant
        if rng.random() < 0.25:
            refs.append(f"https://{d}/assets/img{i}.png")  # media link
        if rng.random() < 0.15:
            refs.append("https://hot.example.gov/private/doc.html")  # robots-blocked

        # page payload
        roll = rng.random()
        is_root = i < len(doms)
        status = 200
        if not is_root:
            if roll > 0.97:
                status = 404
            elif roll > 0.94:
                status = rng.choice([429, 500])
        ctype_roll = rng.random()
        if not is_root and ctype_roll > 0.95:
            ctype = "application/pdf"
            spans, out_links, body = _mk_pdf(rng, refs, f"Report {i} {d}")
            out_links = []  # PDF links are content, never followed (LinkExtractor is HTML-only)
        elif not is_root and ctype_roll > 0.92:
            ctype, body, spans, out_links = "application/json", b"{}", [], []
        else:
            ctype = "text/html; charset=UTF-8"
            spans, out_links = _mk_spans(rng, refs)
            body = render_html(f"Page {i} {d}", "en", spans)
        lang = "en" if rng.random() < 0.3 else None
        pages.append(
            Page(
                url=urls[i], domain=d, http_status=status, content_type=ctype,
                content_language=lang, spans=spans, out_links=out_links, body=body,
            )
        )

    seeds_rows = [
        # name, allowed_domains, starting_urls, allow_qs, handle_js, target, depth, deny, prio
        ("hot", "hot.example.gov", "https://hot.example.gov/", False, False, "csv", 3, None, 1),
        ("agency-a", "agency-a.gov", "https://agency-a.gov/", False, False, "csv", 5, None, 2),
        ("agency-b", "agency-b.gov", "https://agency-b.gov/", True, False, "endpoint", 4, None, 3),
        ("stories", "stories.example.gov", "https://stories.example.gov/", False, False, "csv", 10, ["/tag/"], 4),
    ]
    robots_rows = [
        ("hot.example.gov", "usasearch", [], ["/private/"], 1.0, []),
        ("agency-a.gov", "*", [], ["/internal/"], None, []),
    ]
    return {"pages": pages, "seeds_rows": seeds_rows, "robots_rows": robots_rows}


# ---------------------------------------------------------------------------
# Spark DataFrame adapters
# ---------------------------------------------------------------------------

PAGES_SCHEMA = (
    "url string, domain string, http_status int, content_type string, "
    "content_language string, spans array<struct<kind:string,text:string,"
    "media_ref:string,offset:int>>, out_links array<string>, body binary, canon_url string"
)
SEEDS_SCHEMA = (
    "name string, allowed_domains string, starting_urls string, allow_query_string boolean, "
    "handle_javascript boolean, output_target string, depth_limit int, "
    "deny_paths array<string>, domain_priority int"
)
ROBOTS_SCHEMA = (
    "domain string, user_agent string, allow_prefixes array<string>, "
    "disallow_prefixes array<string>, crawl_delay double, sitemap_urls array<string>"
)


def graph_to_dfs(spark, graph: dict):
    pages_df = spark.createDataFrame(
        [
            (p.url, p.domain, p.http_status, p.content_type, p.content_language,
             p.spans, p.out_links, p.body, p.canon_url)
            for p in graph["pages"]
        ],
        PAGES_SCHEMA,
    )
    seeds_df = spark.createDataFrame(graph["seeds_rows"], SEEDS_SCHEMA)
    robots_df = spark.createDataFrame(graph["robots_rows"], ROBOTS_SCHEMA)
    return pages_df, seeds_df, robots_df


# ---------------------------------------------------------------------------
# Pure-Python crawl oracle
# ---------------------------------------------------------------------------

@dataclass
class SimJob:
    name: str
    allowed_hosts: list[str]
    allowed_domain_paths: list[str]
    allow_query_string: bool
    depth_limit: int
    deny_regexes: list[str]
    priority: int
    output_target: str
    start_urls: list[str]


def _sim_jobs(seeds_rows) -> list[SimJob]:
    jobs = []
    for (name, alw, starts, qs, _js, target, depth, deny, prio) in seeds_rows:
        entries = [e.strip() for e in alw.split(",") if e.strip()]
        hosts = list(dict.fromkeys(e.split("/", 1)[0] for e in entries))
        paths = [
            e for e in entries
            if "/" in e and not re.match(r"^https?://", e) and not re.search(r":\d+$", e.split("/", 1)[0])
        ]
        jobs.append(
            SimJob(
                name=name, allowed_hosts=hosts, allowed_domain_paths=paths,
                allow_query_string=bool(qs), depth_limit=max(1, min(250, depth or 3)),
                deny_regexes=deny or [], priority=prio if prio is not None else 100,
                output_target=target or "csv",
                start_urls=[s.strip() for s in starts.split(",") if s.strip()],
            )
        )
    return jobs


def _sim_filter_reason(url: str, depth: int, job: SimJob) -> str | None:
    host = (urlsplit(url).hostname or "").lower()
    if not host or not any(host == d.lower() or host.endswith("." + d.lower()) for d in job.allowed_hosts):
        return "offsite_domain"
    if job.allowed_domain_paths and not any(p in url for p in job.allowed_domain_paths):
        return "offsite_path"
    if not job.allow_query_string and urlsplit(url).query:
        return "query_string"
    if any(re.search(rx, url) for rx in job.deny_regexes):
        return "deny_path"
    path = urlsplit(url).path or ""
    m = re.search(r"\.([A-Za-z0-9]+)$", path)
    ext = m.group(1).lower() if m else ""
    if ext in _FILTER_EXT_SET or url.lower().endswith(".tar.gz"):
        return "extension"
    if depth > job.depth_limit:
        return "depth"
    return None


def _sim_robots(robots_rows, user_agent: str):
    by_domain: dict[str, dict] = {}
    for (dom, ua, allow, deny, delay, _sm) in robots_rows:
        cur = by_domain.get(dom)
        pref = 0 if ua == user_agent else (1 if ua == "*" else 2)
        if pref == 2:
            continue
        if cur is None or pref < cur["pref"]:
            by_domain[dom] = {"pref": pref, "allow": allow or [], "deny": deny or [], "delay": delay}
    return by_domain


def _robots_allowed(rules: dict | None, url: str) -> tuple[bool, float | None]:
    if rules is None:
        return True, None
    path = urlsplit(url).path or ""
    allow_len = max((len(p) for p in rules["allow"] if path.startswith(p)), default=0)
    deny_len = max((len(p) for p in rules["deny"] if path.startswith(p)), default=0)
    return (deny_len == 0) or (allow_len >= deny_len), rules["delay"]


_VALID_CTYPE = {
    "csv": ["text/html", "text/plain", "application/msword", "application/pdf",
            "application/vnd.ms-excel",
            "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
            "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet"],
    "elasticsearch": ["text/html", "application/pdf"],
}
_VALID_CTYPE["endpoint"] = _VALID_CTYPE["csv"]


@dataclass
class SimResult:
    seen: set = field(default_factory=set)
    emitted: set = field(default_factory=set)
    scheduled_per_wave: list = field(default_factory=list)
    waves: int = 0
    fetched_ok: int = 0
    documents: int = 0


def simulate_crawl(
    graph: dict,
    config: CrawlConfig = CrawlConfig(wave_seconds=30.0),
    max_waves: int = 32,
) -> SimResult:
    """Sequential golden-oracle crawl, semantics-equal to plans.crawl.CrawlEngine."""
    pages_by_canon = {p.canon_url: p for p in graph["pages"]}
    jobs = {j.name: j for j in _sim_jobs(graph["seeds_rows"])}
    robots = _sim_robots(graph["robots_rows"], config.user_agent)
    res = SimResult()

    # frontier: canon -> entry dict; ordering key (priority, depth, disc, job, url)
    frontier: dict[str, dict] = {}

    def consider(url: str, canon: str, job: SimJob, depth: int, disc: int):
        if _sim_filter_reason(url, depth, job) is not None:
            return
        host = (urlsplit(canon).hostname or "").lower()
        ok, delay = _robots_allowed(robots.get(host), url)
        if not ok:
            return
        if canon in res.seen:
            return
        entry = {"url": url, "canon": canon, "job": job.name, "domain": host,
                 "depth": depth, "disc": disc, "priority": job.priority, "delay": delay}
        cur = frontier.get(canon)
        key = lambda e: (e["depth"], e["disc"], e["job"], e["url"])  # noqa: E731
        if cur is None or key(entry) < key(cur):
            frontier[canon] = entry

    for j in jobs.values():
        for su in j.start_urls:
            consider(su, canonicalize_url(su), j, 0, 0)

    for wave in range(max_waves):
        if not frontier:
            break
        by_dom: dict[str, list[dict]] = {}
        for e in frontier.values():
            by_dom.setdefault(e["domain"], []).append(e)
        scheduled: list[dict] = []
        for dom, entries in by_dom.items():
            entries.sort(key=lambda e: (e["priority"], e["depth"], e["disc"], e["canon"]))
            delay = max((e["delay"] or 0.0) for e in entries)
            budget = config.wave_budget(delay)
            for rank, e in enumerate(entries[:budget], start=1):
                e["rank"] = rank
                scheduled.append(e)
        res.scheduled_per_wave.append(len(scheduled))
        res.waves = wave + 1
        for e in scheduled:
            del frontier[e["canon"]]
            res.seen.add(e["canon"])
        for e in scheduled:
            page = pages_by_canon.get(e["canon"])
            if page is None or page.http_status != 200:
                continue
            res.fetched_ok += 1
            job = jobs[e["job"]]
            if any(re.search(t, page.content_type or "") for t in _VALID_CTYPE[job.output_target]):
                res.emitted.add(e["url"])
                res.documents += 1
            if page.content_type and page.content_type.startswith("text/html"):
                for pos, link in enumerate(page.out_links):
                    consider(
                        link, canonicalize_url(link), job,
                        e["depth"] + 1, e["rank"] * DISCOVERY_STRIDE + pos,
                    )
    return res
