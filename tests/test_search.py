"""Tests for the search-index pipeline (inverted index, BM25, PageRank,
unigram-LM scoring) against pure-Python oracles on a small corpus."""

from __future__ import annotations

import math

import pytest

from searchgov_spider_spark.pipelines import search as psearch

DOCS = [
    (0, "dup table scan fast fast table"),
    (1, "hash join merge join hash join"),
    (2, "sort order value window stream"),
    (3, "table scan slow merge order"),
    (4, "dup dup dup stream window"),
    (5, "fast fast fast fast fast"),
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _tokens(text):
    return [t.lower() for t in text.split() if t]


def test_inverted_index_matches_python(docs_df):
    rows = {r.term: r for r in psearch.inverted_index(docs_df).collect()}
    # Python oracle
    post = {}
    for doc_id, text in DOCS:
        for t in set(_tokens(text)):
            post.setdefault(t, []).append(doc_id)
    for term, doc_ids in post.items():
        r = rows[term]
        assert r.doc_ids == sorted(doc_ids)
        assert r.df == len(doc_ids)
        assert len(r.tfs) == r.df
    assert set(rows) == set(post)
    # tf values align with postings order
    r = rows["dup"]
    assert r.doc_ids == [0, 4]
    assert r.tfs == [1, 3]
    assert r.total_tf == 4


def _bm25_python(queries, k1=psearch.BM25_K1, b=psearch.BM25_B):
    """Independent BM25 on DOCS; returns {(qid, doc_id): score}."""
    toks = {d: _tokens(t) for d, t in DOCS}
    n = len(DOCS)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, qtext in queries:
        terms = set(_tokens(qtext))
        dft = {t: sum(1 for v in toks.values() if t in v) for t in terms}
        for d, v in toks.items():
            s = 0.0
            hit = False
            for t in terms:
                tf = v.count(t)
                if not tf or not dft[t]:
                    continue
                hit = True
                idf = math.log((n - dft[t] + 0.5) / (dft[t] + 0.5) + 1.0)
                s += idf * (tf * (k1 + 1.0)) / (
                    tf + k1 * (1.0 - b + b * len(v) / avgdl)
                )
            if hit:
                out[(qid, d)] = s
    return out

QUERIES = (("qa", "dup stream"), ("qb", "fast table scan"))


def test_bm25_scores_match_python(docs_df):
    got = {
        (r.query_id, r.doc_id): r.score
        for r in psearch.bm25_topk(docs_df, queries=QUERIES, k=10).collect()
    }
    want = _bm25_python(QUERIES)
    assert set(got) == set(want)
    for key, s in want.items():
        assert got[key] == pytest.approx(s, abs=1e-12)


def test_bm25_rank_ordering_and_k(docs_df):
    rows = psearch.bm25_topk(docs_df, queries=QUERIES, k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 2
        scores = [r.score for r in rs]
        assert scores == sorted(scores, reverse=True)
    # doc 4 ("dup dup dup stream window") must top the dup query
    assert by_q["qa"][0].doc_id == 4


def test_bm25_identical_documents_rank_by_doc_id(spark):
    """Identical documents may score a few ulps apart (their term scores are
    summed in different orders); both engines must still rank each pair by
    doc_id, so Spark and the DuckDB twin agree on every rank."""
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(0)
    vocab = "join hash row batch scan column customer filter small slow merge order".split()
    docs = []
    for pair in range(15):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 40)))
        docs += [(2 * pair, text), (2 * pair + 1, text)]
    queries = (("q", " ".join(vocab[:10])),)
    got = psearch.bm25_topk(
        spark.createDataFrame(docs, "doc_id long, text string"), queries=queries, k=len(docs)
    ).collect()
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(docs, columns=["doc_id", "text"]))
    want = con.sql(psearch.bm25_topk_sql(queries=queries, k=len(docs))).fetchall()

    rank = {r.doc_id: r.rank for r in got}
    assert len(rank) == len(docs)
    for pair in range(15):
        assert rank[2 * pair + 1] == rank[2 * pair] + 1
    assert rank == {doc_id: r for _q, doc_id, _n, _s, r in want}


def test_pagerank_sums_to_one_and_matches_python(docs_df):
    ranks = {r.doc_id: r["rank"] for r in psearch.pagerank_docs(docs_df).collect()}
    n = len(DOCS)
    assert len(ranks) == n
    # rank mass conserved: no dangling nodes, so sum == 1
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-12)
    # python power iteration
    edges = [
        (s, (s * a + bb) % n) for s in range(n) for a, bb in psearch.PR_EDGE_COEFFS
    ]
    outdeg = {s: sum(1 for e in edges if e[0] == s) for s in range(n)}
    r = {v: 1.0 / n for v in range(n)}
    for _ in range(psearch.PR_ITERS):
        nxt = {v: (1.0 - psearch.PR_DAMPING) / n for v in range(n)}
        for s, d in edges:
            nxt[d] += psearch.PR_DAMPING * (r[s] / outdeg[s])
        r = nxt
    for v in range(n):
        assert ranks[v] == pytest.approx(r[v], abs=1e-12)


def test_lm_score_matches_python(docs_df):
    got = {r.doc_id: r for r in psearch.lm_score(docs_df).collect()}
    counts = {}
    total = 0
    for _, text in DOCS:
        for t in _tokens(text):
            counts[t] = counts.get(t, 0) + 1
            total += 1
    vsize = len(counts)
    for doc_id, text in DOCS:
        toks = _tokens(text)
        ll = sum(math.log((counts[t] + 1) / (total + vsize)) for t in toks)
        avg = ll / len(toks)
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.avg_logprob == pytest.approx(avg, abs=1e-12)
        assert r.ppl == pytest.approx(math.exp(-avg), rel=1e-12)
    # rare-token docs are higher perplexity than the repetitive doc 5
    assert got[5].ppl < got[0].ppl


def test_ppl_buckets_tiering(spark):
    # two sources, 6 docs each; doc text repetitiveness controls ppl
    rows = [
        (i, " ".join(["common"] * 5 + ["rare%d" % i] * (i % 6)), "s%d" % (i // 6))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.doc_id: r for r in psearch.ppl_buckets(df, n_buckets=3).collect()}
    assert len(got) == 12
    for src in ("s0", "s1"):
        members = [r for r in got.values() if r.source == src]
        # 6 docs into 3 tiles -> 2 per bucket
        from collections import Counter
        assert Counter(r.bucket for r in members) == {1: 2, 2: 2, 3: 2}
        by_bucket = sorted(members, key=lambda r: (r.bucket, r.ppl))
        ppls = [r.ppl for r in by_bucket]
        assert ppls == sorted(ppls)  # bucket order == ppl order
        for r in members:
            assert r.keep == (r.bucket < 3)


def test_tfidf_topk_matches_python(docs_df):
    got = {}
    for r in psearch.tfidf_topk(docs_df, k=2).collect():
        got.setdefault(r.doc_id, []).append((r.rank, r.term, r.tfidf))
    toks = {d: _tokens(t) for d, t in DOCS}
    n = len(DOCS)
    df_t = {}
    for v in toks.values():
        for t in set(v):
            df_t[t] = df_t.get(t, 0) + 1
    for d, v in toks.items():
        scored = sorted(
            (
                (round(v.count(t) * math.log(n / df_t[t]), 9), t)
                for t in set(v)
            ),
            key=lambda x: (-x[0], x[1]),
        )[:2]
        want = [(i + 1, t, s) for i, (s, t) in enumerate(scored)]
        assert sorted(got[d]) == [(r, t, pytest.approx(s, abs=1e-9)) for r, t, s in want]


def test_vocab_coverage_oov(spark):
    from searchgov_spider_spark.pipelines.textstats import vocab_coverage

    rows = [
        (0, "a a a b b c"),
        (1, "c c c c"),
        (2, "a b a b"),
    ]
    # corpus counts: a=5, c=5, b=4 -> vocab_size=2 keeps {a, c}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in vocab_coverage(df, vocab_size=2).collect()}
    assert (got[0].n_tokens, got[0].n_oov) == (6, 2)
    assert got[0].oov_rate == pytest.approx(2 / 6, abs=1e-9)
    assert (got[1].n_oov, got[2].n_oov) == (0, 2)


def test_bfs_depths_matches_python(spark):
    docs = spark.createDataFrame([(i, "x") for i in range(23)], "doc_id long, text string")
    got = {r.doc_id: r.depth for r in psearch.bfs_depths(docs, source_mod=11).collect()}
    n = 23
    adj = {}
    for s in range(n):
        for a, b in psearch.PR_EDGE_COEFFS:
            adj.setdefault(s, set()).add((s * a + b) % n)
    # python BFS from sources {0, 11, 22}
    depth = {s: 0 for s in range(n) if s % 11 == 0}
    frontier = set(depth)
    for d in range(1, psearch.BFS_MAX_DEPTH + 1):
        frontier = {v for u in frontier for v in adj[u] if v not in depth}
        for v in frontier:
            depth[v] = d
        if not frontier:
            break
    want = {v: depth.get(v, -1) for v in range(n)}
    assert got == want
    assert got[0] == 0 and max(got.values()) >= 1


def test_hits_normalization_and_positivity(spark):
    docs = spark.createDataFrame([(i, "x") for i in range(9)], "doc_id long, text string")
    rows = psearch.hits(docs).collect()
    assert len(rows) == 9
    assert sum(r.hub for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert sum(r.auth for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert all(r.hub >= 0 and r.auth >= 0 for r in rows)


def test_degree_stats_matches_python(spark):
    docs = spark.createDataFrame([(i, "x") for i in range(13)], "doc_id long, text string")
    got = {r.doc_id: (r.outdeg, r.indeg, r.dangling) for r in psearch.degree_stats(docs).collect()}
    n = 13
    outd = {v: 0 for v in range(n)}
    ind = {v: 0 for v in range(n)}
    for s in range(n):
        for a, b in psearch.PR_EDGE_COEFFS:
            outd[s] += 1
            ind[(s * a + b) % n] += 1
    for v in range(n):
        assert got[v] == (outd[v], ind[v], outd[v] == 0), v
    # the synthetic generator gives every node 3 out-edges, none dangling
    assert all(o == 3 and not d for (o, _, d) in got.values())


def test_length_histogram_buckets(spark):
    from searchgov_spider_spark.pipelines.textstats import length_histogram

    rows = [(0, "", "s"), (1, "a", "s"), (2, "ab", "s"), (3, "abc", "s"),
            (4, "abcd", "s"), (5, "x" * 1024, "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.bucket: r.n_docs for r in length_histogram(df).collect()}
    # len 0 -> -1; 1 -> 0; 2,3 -> 1; 4 -> 2; 1024 -> 10
    assert got == {-1: 1, 0: 1, 1: 2, 2: 1, 10: 1}


def test_source_entropy_matches_python(spark):
    import math
    from collections import Counter

    from searchgov_spider_spark.pipelines.textstats import source_entropy

    rows = [
        (0, "a a a a", "uniformish"),       # single token -> H = 0
        (1, "a b c d", "diverse"),          # uniform over 4 -> H = ln 4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in source_entropy(df).collect()}
    assert got["uniformish"].entropy == 0.0
    assert got["uniformish"].norm_entropy == 0.0
    assert got["diverse"].vocab == 4
    assert got["diverse"].entropy == pytest.approx(math.log(4), abs=1e-9)
    assert got["diverse"].norm_entropy == pytest.approx(1.0, abs=1e-9)


def test_anchor_texts_matches_python(docs_df):
    from collections import Counter

    n = len(DOCS)
    anchors = {d: " ".join(_tokens(t)[:2]) for d, t in DOCS}
    per_dst = {}
    for a, b in psearch.PR_EDGE_COEFFS:
        for src in range(n):
            dst = (src * a + b) % n
            per_dst.setdefault(dst, Counter())[anchors[src]] += 1
    rows = {r.doc_id: r for r in psearch.anchor_texts(docs_df).collect()}
    assert set(rows) == set(per_dst)
    for dst, cnt in per_dst.items():
        r = rows[dst]
        assert r.in_links == sum(cnt.values())
        assert r.n_distinct_anchors == len(cnt)
        top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        assert (r.top_anchor, r.top_anchor_count) == top


def test_host_links_offsite_ratio(docs_df):
    from collections import Counter

    n = len(DOCS)
    n_hosts = 25
    out_e = Counter()
    cross_e = Counter()
    for a, b in psearch.PR_EDGE_COEFFS:
        for src in range(n):
            dst = (src * a + b) % n
            h = f"d{src % n_hosts}.gov"
            out_e[h] += 1
            if src % n_hosts != dst % n_hosts:
                cross_e[h] += 1
    rows = {r.src_host: r for r in psearch.host_links(docs_df).collect()}
    assert set(rows) == set(out_e)
    for h in out_e:
        r = rows[h]
        assert r.out_edges == out_e[h]
        assert r.cross_host_edges == cross_e[h]
        assert r.cross_ppm == cross_e[h] * 1_000_000 // out_e[h]


def test_mirror_hosts_resemblance(spark):
    # A and B share 2 of (3 ∪ 3) = 2/4 fps; C is disjoint
    pages = spark.createDataFrame(
        [
            ("a.gov", "f1"), ("a.gov", "f2"), ("a.gov", "f3"),
            ("b.gov", "f2"), ("b.gov", "f3"), ("b.gov", "f4"),
            ("c.gov", "f9"),
            ("a.gov", "f1"),  # duplicate page rows collapse (distinct)
        ],
        "host string, fp string",
    )
    rows = psearch.mirror_hosts(pages, threshold_ppm=400_000).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.host_a, r.host_b) == ("a.gov", "b.gov")
    assert (r.shared, r.size_a, r.size_b) == (2, 3, 3)
    assert r.jaccard_ppm == 2 * 1_000_000 // 4
    # threshold is inclusive-integer: raising it past 500000 drops the pair
    assert psearch.mirror_hosts(pages, threshold_ppm=500_001).count() == 0


def test_mirror_hosts_df_cut_drops_boilerplate(spark):
    # 'boiler' sits on 3 hosts; with max_hosts_per_fp=2 it generates no
    # pairs, so a/b only match via their genuinely shared 'f2'
    pages = spark.createDataFrame(
        [
            ("a.gov", "boiler"), ("a.gov", "f2"),
            ("b.gov", "boiler"), ("b.gov", "f2"),
            ("c.gov", "boiler"), ("c.gov", "f9"),
        ],
        "host string, fp string",
    )
    rows = psearch.mirror_hosts(pages, threshold_ppm=1, max_hosts_per_fp=2).collect()
    assert {(r.host_a, r.host_b) for r in rows} == {("a.gov", "b.gov")}
    # sizes still count the boilerplate fp (the cut only gates pair GENERATION)
    assert rows[0].shared == 1 and rows[0].size_a == 2
    assert rows[0].jaccard_ppm == 1_000_000 // 3


def test_mirror_hosts_random_matches_python(spark):
    """Seeded random (host, fp) table vs a pure-python resemblance
    oracle with the same df-cut."""
    import random
    from collections import defaultdict
    from itertools import combinations

    rng = random.Random(11)
    pages = [
        (f"h{rng.randint(0, 7)}.gov", f"f{rng.randint(0, 30)}")
        for _ in range(300)
    ]
    df = spark.createDataFrame(pages, "host string, fp string")
    cap, thr = 4, 200_000
    got = {
        (r.host_a, r.host_b): (r.shared, r.size_a, r.size_b, r.jaccard_ppm)
        for r in psearch.mirror_hosts(df, threshold_ppm=thr, max_hosts_per_fp=cap).collect()
    }
    sets = defaultdict(set)
    for h, f in pages:
        sets[h].add(f)
    fp_hosts = defaultdict(set)
    for h, f in set(pages):
        fp_hosts[f].add(h)
    rare = {f for f, hs in fp_hosts.items() if len(hs) <= cap}
    exp = {}
    for a, b in combinations(sorted(sets), 2):
        shared = len(sets[a] & sets[b] & rare)
        if not shared:
            continue
        jac = shared * 1_000_000 // (len(sets[a]) + len(sets[b]) - shared)
        if jac >= thr:
            exp[(a, b)] = (shared, len(sets[a]), len(sets[b]), jac)
    assert got == exp


class TestOpic:
    def test_cash_conserved_and_matches_python(self, spark):
        from searchgov_spider_spark.pipelines.search import opic

        # ring + chord graph incl. one dangling node (4 has no out-edges)
        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 0), (0, 4)]
        nodes_df = spark.createDataFrame([(i,) for i in range(5)], "node long")
        edges_df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r for r in opic(nodes_df, edges_df, n_iter=4, unit=1000).collect()}

        # pure-python oracle of the documented semantics
        from collections import defaultdict

        outs = defaultdict(list)
        for s, d in edges:
            outs[s].append(d)
        cash = {i: 1000 for i in range(5)}
        hist = {i: 0 for i in range(5)}
        for _ in range(4):
            share, residual = {}, {}
            for n in range(5):
                o = outs.get(n)
                if not o:
                    share[n], residual[n] = 0, cash[n]
                else:
                    share[n] = cash[n] // len(o)
                    residual[n] = cash[n] - share[n] * len(o)
                    hist[n] += cash[n]
            nxt = dict(residual)
            for s, d in edges:
                nxt[d] = nxt.get(d, 0) + share[s]
            cash = nxt
        assert {n: r.cash for n, r in got.items()} == cash
        assert {n: r.history for n, r in got.items()} == hist
        # cash conservation: circulation total never changes
        assert sum(r.cash for r in got.values()) == 5 * 1000
        assert all(r.importance == r.history + r.cash for r in got.values())

    def test_importance_ranks_hub_first(self, spark):
        from searchgov_spider_spark.pipelines.search import opic

        # star: everything points at 0
        nodes_df = spark.createDataFrame([(i,) for i in range(6)], "node long")
        edges_df = spark.createDataFrame([(i, 0) for i in range(1, 6)], "src long, dst long")
        got = sorted(opic(nodes_df, edges_df).collect(), key=lambda r: -r.importance)
        assert got[0].node == 0
