"""Crawl-sites config: the boot-time gate between a sites JSON file and
the engine's seeds table.

Behavioral parity with the reference's `CrawlSite`/`CrawlSites`
(search_gov_spiders/crawl_sites.py): required-field + type validation
(:38-104), deny_paths uniqueness (:66-71), output_target membership
(:73-79), cron-schedule validation (:81-87, APScheduler `from_crontab`
restated as a dependency-free 5-field crontab checker), job_id
derivation `name.lower().replace(" ","-").replace("---","-")` (:37),
and the file-level uniqueness rules — job_id and
(output_target, allowed_domains) (:118-141, CrawlSites.__post_init__).

Altitude note: config validation is a driver-side operation over a
file of at most a few thousand records — plain Python is the right
tool (no Spark job for a config parse). The Spark boundary is
``to_seeds_df``, which emits the engine's SEEDS schema consumed by
``operators.filters.normalize_job_rules`` (S1); from there everything
is DataFrame plans. The reference's APScheduler/Redis scheduling loop
itself is external orchestration in the Spark restatement (SURVEY.md
§3.2): cron/Airflow invoking ``spark-submit --py-files jobs/crawl_job.py``
per scheduled site, with resume handled by the wave checkpoints.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field, fields
from pathlib import Path

from ..config import CONTENT_TYPES_BY_TARGET

_OPTIONAL_FIELDS = {"schedule", "deny_paths", "sitemap_url", "check_sitemap_hours", "job_id"}

# crontab field -> (min, max); names accepted where cron allows them
_CRON_FIELDS = (
    ("minute", 0, 59, {}),
    ("hour", 0, 23, {}),
    ("day", 1, 31, {}),
    (
        "month", 1, 12,
        {m: i + 1 for i, m in enumerate(
            "jan feb mar apr may jun jul aug sep oct nov dec".split())},
    ),
    (
        "day_of_week", 0, 7,  # both 0 and 7 mean sunday, as in vixie cron
        {d: i for i, d in enumerate("sun mon tue wed thu fri sat".split())},
    ),
)


def _cron_atom_ok(atom: str, lo: int, hi: int, names: dict[str, int]) -> bool:
    """One comma-separated atom: *, */step, N, N-M, N-M/step, names."""
    body, _, step = atom.partition("/")
    if step and not (step.isdigit() and int(step) > 0):
        return False
    if body == "*":
        return True

    def val(tok: str) -> int | None:
        tok = tok.lower()
        if tok in names:
            return names[tok]
        return int(tok) if tok.isdigit() else None

    lo_tok, dash, hi_tok = body.partition("-")
    v1 = val(lo_tok)
    if v1 is None or not lo <= v1 <= hi:
        return False
    if dash:
        v2 = val(hi_tok)
        return v2 is not None and lo <= v2 <= hi and v1 <= v2
    return not step  # a bare value takes no step


def validate_crontab(expr: str) -> None:
    """Raise ValueError unless ``expr`` is a valid 5-field crontab
    (reference: APScheduler CronTrigger.from_crontab at crawl_sites.py:84)."""
    parts = expr.split()
    if len(parts) != len(_CRON_FIELDS):
        raise ValueError(f"Invalid cron expression in schedule value: {expr}")
    for part, (_, lo, hi, names) in zip(parts, _CRON_FIELDS):
        if not part or not all(_cron_atom_ok(a, lo, hi, names) for a in part.split(",")):
            raise ValueError(f"Invalid cron expression in schedule value: {expr}")


@dataclass
class CrawlSite:
    """One crawl-site record; validation per reference crawl_sites.py:32-104."""

    name: str
    allow_query_string: bool
    allowed_domains: str
    handle_javascript: bool
    starting_urls: str
    output_target: str
    depth_limit: int
    job_id: str | None = field(default=None, init=False)
    deny_paths: list | None = None
    schedule: str | None = None
    sitemap_url: str | None = None
    check_sitemap_hours: int | None = None

    _TYPES = {
        "name": str, "allow_query_string": bool, "allowed_domains": str,
        "handle_javascript": bool, "starting_urls": str, "output_target": str,
        "depth_limit": int, "deny_paths": list, "schedule": str,
        "sitemap_url": str, "check_sitemap_hours": int,
    }

    def __post_init__(self):
        missing = [
            f.name for f in fields(self)
            if f.name not in _OPTIONAL_FIELDS and getattr(self, f.name) is None
        ]
        if missing:
            raise TypeError(
                f"All CrawlSite fields are required!  Add values for {','.join(missing)}"
            )
        for fname, ftype in self._TYPES.items():
            value = getattr(self, fname)
            if fname in _OPTIONAL_FIELDS:
                if value is None:
                    continue
                # parity: optional fields report the union form (:47-58)
                if not isinstance(value, ftype):
                    raise TypeError(
                        f"Invalid type! Field {fname} with value {value} "
                        f"must be one of types {[ftype.__name__, 'NoneType']}"
                    )
            # parity note: like the reference's isinstance checks, a bool
            # passes for an int field (bool subclasses int) but not vice versa
            elif not isinstance(value, ftype):
                raise TypeError(
                    f"Invalid type! Field {fname} with value {value} must be type {ftype.__name__}"
                )
        if self.deny_paths is not None and len(set(self.deny_paths)) != len(self.deny_paths):
            raise TypeError(f"Values in deny_paths must be unique! {self.name} has duplicates!")
        if self.output_target not in CONTENT_TYPES_BY_TARGET:
            raise TypeError(
                f"Invalid output_target value {self.output_target}! "
                f"Must be one of {list(CONTENT_TYPES_BY_TARGET)}"
            )
        if self.schedule:
            validate_crontab(self.schedule)
        self.job_id = self.name.lower().replace(" ", "-").replace("---", "-")

    def to_dict(self, *, exclude: tuple = ()) -> dict:
        out = {f.name: getattr(self, f.name) for f in fields(self)}
        for fname in exclude:
            out.pop(fname, None)
        return out


@dataclass
class CrawlSites:
    """Validated list of sites; file-level uniqueness per crawl_sites.py:118-141."""

    root: list[CrawlSite]

    def __iter__(self):
        yield from self.root

    def __post_init__(self):
        seen_ids: set[str] = set()
        seen_domains: set[str] = set()
        for site in self:
            if site.job_id in seen_ids:
                raise TypeError(f"Duplicate job_id found: {site.job_id} in site:\n{site}")
            seen_ids.add(site.job_id)
            key = f"{site.output_target}::{site.allowed_domains}"
            if key in seen_domains:
                raise TypeError(
                    "The combination of allowed_domain and output_target must be "
                    f"unique in file. Duplicate site domain:\n{site}"
                )
            seen_domains.add(key)

    @classmethod
    def from_file(cls, file: str | Path) -> "CrawlSites":
        records = json.loads(Path(file).read_text(encoding="UTF-8"))
        return cls([CrawlSite(**record) for record in records])

    def scheduled(self):
        yield from (s for s in self if s.schedule)

    def to_seeds_df(self, spark):
        """The Spark boundary: emit the engine's seeds table
        (testing.graph.SEEDS_SCHEMA shape) for normalize_job_rules (S1),
        every site at domain_priority 1. One row per site — a config
        file is broadcast-sized by nature."""
        rows = [
            (
                s.name, s.allowed_domains, s.starting_urls, s.allow_query_string,
                s.handle_javascript, s.output_target, s.depth_limit,
                list(s.deny_paths or []), 1,
            )
            for s in self
        ]
        schema = (
            "name string, allowed_domains string, starting_urls string, "
            "allow_query_string boolean, handle_javascript boolean, "
            "output_target string, depth_limit int, deny_paths array<string>, "
            "domain_priority int"
        )
        return spark.createDataFrame(rows, schema)
