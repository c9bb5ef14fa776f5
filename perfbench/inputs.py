"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same inputs, and the program under test receives only what is generated
here. Nothing in this module starts Spark.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from searchgov_spider_spark.testing.graph import generate_graph

# -- crawl -------------------------------------------------------------------

CRAWL_PAGES = 2000
CRAWL_BRANCHING = 4
# Start URLs per job. Each job's domain gets a politeness budget of 30 URLs
# per 30 s wave, so 30 starts fill every wave from the first one: the crawl
# has no BFS ramp-up and every seed schedules the same URLs per wave.
CRAWL_STARTS_PER_JOB = 30


def crawl_web(seed: int) -> dict:
    """``generate_graph`` web whose seed rows list many start URLs per job.

    The rows keep ``generate_graph``'s job rules; only ``starting_urls``
    grows to the domain root plus its first pages, in page order.
    """
    graph = generate_graph(n_pages=CRAWL_PAGES, seed=seed, branching=CRAWL_BRANCHING)
    by_domain: dict[str, list[str]] = {}
    for p in graph["pages"]:
        if "/private/" not in p.url:
            by_domain.setdefault(p.domain, []).append(p.url)
    rows = []
    for row in graph["seeds_rows"]:
        domain = row[1]
        starts = by_domain.get(domain, [])[:CRAWL_STARTS_PER_JOB]
        rows.append((row[0], row[1], ",".join(starts), *row[3:]))
    graph["seeds_rows"] = rows
    return graph


# -- analytics ---------------------------------------------------------------

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def analytics_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """The four tables the headline queries read, with the schemas and
    value shapes of the repository's synthetic TPC-H-ish test data (TESTDATA.md). ``scale`` 1.0
    is 100k events, 5k documents, 2k embeddings and 600k line items."""
    rng = np.random.default_rng(seed)
    n_ev = max(100, int(100_000 * scale))
    n_doc = max(50, int(5_000 * scale))
    n_emb = max(50, int(2_000 * scale))
    n_li = max(100, int(600_000 * scale))

    gaps = rng.exponential(259.0, n_ev)
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps) * 1e6, unit="us").round("us")
    events = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, n_ev // 67), n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(rng.integers(10, 100)))))
    documents = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, max(1, n_li // 4), n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, n_li // 30), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("N", "R", "A"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": (
            pd.Timestamp("1995-01-02") + pd.to_timedelta(rng.integers(0, 2500, n_li), unit="D")
        ).astype("datetime64[us]"),
    })
    return {"events": events, "documents": documents, "embeddings": embeddings, "lineitem": lineitem}
