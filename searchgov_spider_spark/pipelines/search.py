"""Search-index operators: inverted index, BM25 ranking, link-graph
PageRank, and unigram language-model scoring.

The reference crawler exists to feed search.gov's index (its sinks POST
i14y documents to the indexing endpoint, searchgov-spider
`elasticsearch/es_batch_upload.py` / `i14y_helper.py`); these operators
are the index-side continuation of that pipeline re-expressed as Spark
plans:

* ``inverted_index`` — posting lists per term (the physical structure the
  reference's Elasticsearch sink ultimately builds),
* ``bm25_topk`` — the standard BM25 ranking function evaluated as a
  broadcast join + hash aggregation (no per-row Python),
* ``pagerank`` — power-iteration link rank; the scale analog of the
  reference's static domain-priority ordering
  (`helpers/domain_spider.py` spider priorities): rank from the link
  graph feeds the frontier's priority column,
* ``lm_score`` — add-one-smoothed unigram log-likelihood / perplexity
  per document, the classic LM quality filter for training corpora.

Every operator has a DuckDB-SQL twin built from the same constants so
the driver's value-hash gate verifies exact results (floats agree well
inside the gate's 1e-9 rounding: both engines do IEEE arithmetic on
identical operands in identical association; only ``ln``/``exp`` differ
by ulps).

Scale shapes (100 TB): tokenize+explode is embarrassingly parallel;
term statistics are one hash-agg with map-side combine; query terms and
per-term df are broadcast (vocabulary << corpus); BM25 scoring touches
only postings of query terms (filter pushed before the explode output
shuffles); PageRank shuffles once per iteration on dst with AQE handling
skew; nothing collects to the driver.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import tokens_col, tokens_sql

# Fixed benchmark queries over the synthetic corpus vocabulary ("dup" is
# the rare high-idf term). Tuples of (query_id, query_text); tokenization
# is the same whitespace split as the corpus side.
SEARCH_QUERIES: tuple[tuple[str, str], ...] = (
    ("q_dup", "dup stream window"),
    ("q_join", "hash join merge"),
    ("q_scan", "fast table scan"),
    ("q_sort", "sort order value"),
)

BM25_K1 = 1.2
BM25_B = 0.75

PR_DAMPING = 0.85
PR_ITERS = 3
# Synthetic deterministic link graph over doc_ids: each doc links to
# (a*doc_id + b) mod N for each (a, b) below. Mirrored in the SQL twin.
PR_EDGE_COEFFS: tuple[tuple[int, int], ...] = ((7, 1), (13, 3), (31, 7))


def _terms(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, term) rows: lowercased whitespace tokens, empties dropped."""
    return docs.select(
        "doc_id",
        F.explode(F.transform(tokens_col(text_col), F.lower)).alias("term"),
    ).filter(F.col("term") != "")


def _terms_sql(table: str = "documents") -> str:
    return f"""(
      SELECT doc_id, lower(w) AS term
      FROM {table}, unnest({tokens_sql('text')}) AS u(w)
      WHERE w <> ''
    )"""


# ---------------------------------------------------------------------------
# Inverted index
# ---------------------------------------------------------------------------

def inverted_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Posting lists: (term, df, total_tf, doc_ids, tfs), postings sorted
    by doc_id.

    Plan: explode -> hash-agg to (term, doc_id, tf) -> hash-agg to
    term-level arrays. The per-term collect_list is bounded by document
    frequency; for web-scale vocabularies the heavy terms are exactly the
    ones a real index stores as blocked posting lists — partition by term
    and the build is one shuffle. At a truly 100-TB corpus the stopword-
    class terms (df ~ |corpus|) must shard: key the agg by
    (term, doc_id % K) to emit K bounded posting blocks per hot term —
    the same rows, the same single shuffle, no straggler task; BM25's
    scorer consumes blocked postings unchanged since it re-explodes them.
    """
    tf = _terms(docs, text_col).groupBy("term", "doc_id").agg(
        F.count("*").alias("tf")
    )
    postings = tf.groupBy("term").agg(
        F.count("*").alias("df"),
        F.sum("tf").alias("total_tf"),
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("p"),
    )
    return postings.select(
        "term",
        "df",
        "total_tf",
        F.col("p.doc_id").alias("doc_ids"),
        F.col("p.tf").alias("tfs"),
    )


def inverted_index_sql(table: str = "documents") -> str:
    """Oracle twin of the driver-gate shape: posting arrays are emitted
    as comma-joined strings (the gate's pandas canonicalizer cannot hash
    list cells) and the HUGEINT ``sum(tf)`` is pinned ``::BIGINT``."""
    return f"""
        WITH terms AS (SELECT * FROM {_terms_sql(table)}),
        tf AS (
          SELECT term, doc_id, count(*) AS tf FROM terms GROUP BY term, doc_id
        )
        SELECT term,
               count(*) AS df,
               sum(tf)::BIGINT AS total_tf,
               array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids,
               array_to_string(list(tf ORDER BY doc_id), ',') AS tfs
        FROM tf GROUP BY term ORDER BY term
    """


# ---------------------------------------------------------------------------
# BM25 top-k
# ---------------------------------------------------------------------------

def bm25_topk(
    docs: DataFrame,
    queries: Sequence[tuple[str, str]] = SEARCH_QUERIES,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents per query under BM25.

    idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)          [Robertson]
    s(t, d) = idf(t) * (tf * (k1+1)) / (tf + k1 * (1 - b + b * dl/avgdl))

    Plan: the (query_id, term) table is broadcast against the corpus
    (doc_id, term, tf) postings, so only postings of query terms survive
    the join; corpus statistics (N, avgdl) ride along as a broadcast
    1-row aggregate; the final per-query top-k is a window over the
    already-small scored set (Catalyst applies WindowGroupLimit).
    """
    spark = docs.sparkSession
    qterms = spark.createDataFrame(
        [
            (qid, tok.lower())
            for qid, qtext in queries
            for tok in qtext.split()
            if tok
        ],
        "query_id string, term string",
    ).distinct()

    tf = _terms(docs, text_col).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    )
    # both consumers (df-per-term and scoring) need only query-term
    # postings — semi-join down to them ONCE and persist, so the
    # token-explode + tf aggregation lineage (the dominant scan) runs a
    # single time instead of once per consumer; the persisted frame is
    # |query terms| postings, tiny at any corpus size
    tfq = tf.join(F.broadcast(qterms.select("term").distinct()), "term").persist()
    dl = docs.select(
        "doc_id", F.size(tokens_col(text_col)).cast("long").alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    dft = tfq.groupBy("term").agg(F.count("*").alias("dft"))

    idf = F.log(
        (F.col("n_docs") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
        + F.lit(1.0)
    )
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * F.lit(k1 + 1.0)) / norm

    scored = (
        tfq.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("long").alias("n_terms"),
            F.sum(term_score).alias("score"),
        )
    )
    # identical documents score a few ulps apart depending on the order the
    # term scores were summed in; rank on the score rounded to 9 places so
    # such ties break on doc_id here and in the DuckDB twin alike
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("score", 9)), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_terms", "score", "rank")
    )


def bm25_topk_sql(
    queries: Sequence[tuple[str, str]] = SEARCH_QUERIES,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    table: str = "documents",
) -> str:
    qvals = ", ".join(
        f"('{qid}', '{tok.lower()}')"
        for qid, qtext in queries
        for tok in qtext.split()
        if tok
    )
    return f"""
        WITH qterms AS (
          SELECT DISTINCT * FROM (VALUES {qvals}) AS q(query_id, term)
        ), terms AS (SELECT * FROM {_terms_sql(table)}),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
        ), dl AS (
          SELECT doc_id, len({tokens_sql('text')})::BIGINT AS dl FROM {table}
        ), stats AS (
          SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl
        ), dft AS (
          SELECT term, count(*) AS dft FROM tf
          WHERE term IN (SELECT term FROM qterms) GROUP BY term
        ), scored AS (
          SELECT q.query_id, tf.doc_id,
                 count(*)::BIGINT AS n_terms,
                 sum(
                   ln((s.n_docs - dft.dft + 0.5) / (dft.dft + 0.5) + 1.0)
                   * (tf.tf * {k1 + 1.0!r})
                   / (tf.tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl.dl / s.avgdl))
                 ) AS score
          FROM tf
          JOIN qterms q USING (term)
          JOIN dft USING (term)
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN stats s
          GROUP BY q.query_id, tf.doc_id
        ), ranked AS (
          SELECT query_id, doc_id, n_terms, score,
                 row_number() OVER (
                   PARTITION BY query_id ORDER BY round(score, 9) DESC, doc_id ASC
                 )::BIGINT AS rank
          FROM scored
        )
        SELECT query_id, doc_id, n_terms, score, rank
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


# ---------------------------------------------------------------------------
# PageRank over a deterministic synthetic link graph
# ---------------------------------------------------------------------------

def synthetic_edges(docs: DataFrame) -> DataFrame:
    """Deterministic link graph over doc_ids: src -> (a*src + b) mod N for
    each (a, b) in PR_EDGE_COEFFS. N rides along as a broadcast 1-row
    aggregate (no driver-side count action)."""
    nodes = docs.select(F.col("doc_id").alias("src"))
    n = docs.agg(F.count("*").alias("n_nodes"))
    edges = None
    for a, bb in PR_EDGE_COEFFS:
        e = nodes.crossJoin(F.broadcast(n)).select(
            "src",
            ((F.col("src") * a + bb) % F.col("n_nodes")).alias("dst"),
        )
        edges = e if edges is None else edges.unionByName(e)
    return edges


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = PR_ITERS,
    damping: float = PR_DAMPING,
) -> DataFrame:
    """Power-iteration PageRank: rank(v) = (1-d)/N + d * sum over in-edges
    of rank(u)/outdeg(u). ``nodes`` must have column ``node``; ``edges``
    columns ``src``/``dst``. Dangling nodes keep the teleport term only.

    Plan per iteration: one shuffle on dst (hash-agg of contributions)
    plus a left join back onto nodes; out-degrees are computed once.
    At web scale this is the standard edge-partitioned power iteration —
    contributions combine map-side, hot dst pages are AQE-skew-split,
    and the rank vector stays a DataFrame (never driver-side).
    """
    n = nodes.agg(F.count("*").alias("n_nodes"))
    deg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    e = edges.join(deg, "src")
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    for _ in range(n_iter):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("outdeg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.crossJoin(F.broadcast(n))
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - damping) / F.col("n_nodes")
                    + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def pagerank_docs(docs: DataFrame) -> DataFrame:
    """PageRank over the synthetic doc_id link graph; returns
    (doc_id, rank) — the crawl-priority feed."""
    nodes = docs.select(F.col("doc_id").alias("node"))
    ranks = pagerank(nodes, synthetic_edges(docs))
    return ranks.select(F.col("node").alias("doc_id"), "rank")


def pagerank_docs_sql(
    n_iter: int = PR_ITERS,
    damping: float = PR_DAMPING,
    table: str = "documents",
) -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    ctes = [
        f"nodes AS (SELECT doc_id AS node FROM {table})",
        "nn AS (SELECT count(*)::BIGINT AS n_int, count(*)::DOUBLE AS n FROM nodes)",
        f"edges AS ({edge_selects})",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "e AS (SELECT src, dst, outdeg FROM edges JOIN deg USING (src))",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)",
    ]
    prev = "r0"
    for i in range(1, n_iter + 1):
        ctes.append(
            f"c{i} AS (SELECT dst AS node, sum(rank / outdeg) AS s "
            f"FROM e JOIN {prev} ON e.src = {prev}.node GROUP BY dst)"
        )
        ctes.append(
            f"r{i} AS (SELECT nodes.node, "
            f"{1.0 - damping!r} / (SELECT n FROM nn) "
            f"+ {damping!r} * coalesce(s, 0.0) AS rank "
            f"FROM nodes LEFT JOIN c{i} USING (node))"
        )
        prev = f"r{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, rank FROM {prev} ORDER BY doc_id"
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (perplexity quality filter)
# ---------------------------------------------------------------------------

def lm_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Add-one-smoothed unigram log-likelihood per document:

    p(w) = (c_w + 1) / (total + V);  avg_logprob = mean over tokens of
    ln p(w);  ppl = exp(-avg_logprob).

    The vocabulary (term -> logprob) is one hash-agg over the corpus and
    broadcasts back onto the token stream (vocab << corpus at any scale);
    the per-doc score is a second hash-agg. Self-scoring means every
    token hits the vocab, so the join is inner.
    """
    terms = _terms(docs, text_col)
    vocab = terms.groupBy("term").agg(F.count("*").alias("c"))
    tot = vocab.agg(
        F.sum("c").alias("total"), F.count("*").alias("v_size")
    )
    logp = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.log(
            (F.col("c") + F.lit(1)).cast("double")
            / (F.col("total") + F.col("v_size")).cast("double")
        ).alias("logp"),
    )
    return (
        terms.join(F.broadcast(logp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("logp").alias("ll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("ll") / F.col("n_tokens")).alias("avg_logprob"),
            F.exp(-(F.col("ll") / F.col("n_tokens"))).alias("ppl"),
        )
    )


def lm_score_sql(table: str = "documents") -> str:
    return f"""
        WITH terms AS (SELECT * FROM {_terms_sql(table)}),
        vocab AS (SELECT term, count(*) AS c FROM terms GROUP BY term),
        tot AS (SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS v_size FROM vocab),
        logp AS (
          SELECT term, ln((c + 1) / (total + v_size)) AS logp
          FROM vocab CROSS JOIN tot
        ), scored AS (
          SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(logp) AS ll
          FROM terms JOIN logp USING (term) GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               ll / n_tokens AS avg_logprob,
               exp(-(ll / n_tokens)) AS ppl
        FROM scored ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

PPL_BUCKETS = 3


def ppl_buckets(
    docs: DataFrame, n_buckets: int = PPL_BUCKETS, text_col: str = "text"
) -> DataFrame:
    """CCNet-style quality tiers: per source, rank documents by LM
    perplexity ascending and ntile into ``n_buckets`` (1 = head / lowest
    ppl = cleanest; CCNet keeps head+middle). ``keep`` = bucket < tail.

    Ordering key is (round(ppl, 9), doc_id) so the bucket boundary is
    insensitive to ln/exp ulp differences across engines. Plan: lm_score's
    two hash-aggs, a join back for ``source``, one window per source —
    the window input is one row per doc (already aggregated), so the sort
    is over the doc table, not the token stream.
    """
    scored = lm_score(docs, text_col)
    src = docs.select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.round(F.col("ppl"), 9).asc(), F.col("doc_id").asc()
    )
    return (
        scored.join(src, "doc_id")
        .withColumn("bucket", F.ntile(n_buckets).over(w).cast("long"))
        .withColumn("keep", F.col("bucket") < n_buckets)
        .select("doc_id", "source", "ppl", "bucket", "keep")
    )


def ppl_buckets_sql(n_buckets: int = PPL_BUCKETS, table: str = "documents") -> str:
    lm = lm_score_sql(table)
    return f"""
        WITH lm AS ({lm})
        SELECT lm.doc_id, d.source, lm.ppl,
               ntile({n_buckets}) OVER (
                 PARTITION BY d.source ORDER BY round(lm.ppl, 9) ASC, lm.doc_id ASC
               )::BIGINT AS bucket,
               ntile({n_buckets}) OVER (
                 PARTITION BY d.source ORDER BY round(lm.ppl, 9) ASC, lm.doc_id ASC
               ) < {n_buckets} AS keep
        FROM lm JOIN {table} d ON d.doc_id = lm.doc_id
        ORDER BY lm.doc_id
    """


# ---------------------------------------------------------------------------
# Per-document TF-IDF top-k terms
# ---------------------------------------------------------------------------

def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """Top-k terms per document by TF-IDF (tf * ln(N/df)) — per-doc
    keyword extraction (complements ``top_keywords``' per-source view).

    Ranking key is (round(score, 9) desc, term asc) so ln ulps can't
    flip ranks between engines. Plan: two hash-aggs (tf, df), df
    broadcast back onto tf (vocabulary << corpus), N as a broadcast
    1-row agg, then a per-doc window; Catalyst turns the row_number
    filter into WindowGroupLimit so only k rows per doc survive the sort.
    """
    tf = _terms(docs, text_col).groupBy("doc_id", "term").agg(
        F.count("*").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 9
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def tfidf_topk_sql(k: int = 3, table: str = "documents") -> str:
    return f"""
        WITH terms AS (SELECT * FROM {_terms_sql(table)}),
        tf AS (
          SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term
        ), dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM {table}),
        scored AS (
          SELECT doc_id, term, round(tf * ln(n_docs::DOUBLE / df), 9) AS tfidf
          FROM tf JOIN dft USING (term) CROSS JOIN n
        ), ranked AS (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
                 )::BIGINT AS rank
          FROM scored
        )
        SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= {k}
        ORDER BY doc_id, rank
    """


# ---------------------------------------------------------------------------
# Triangle counting over the link graph
# ---------------------------------------------------------------------------

def triangle_count(docs: DataFrame) -> DataFrame:
    """Global triangle count of the (undirected) synthetic link graph —
    the standard graph-clustering statistic.

    Plan: canonicalize edges to u < v (kills duplicate orientations),
    then the two-join wedge-close: e1(a,b) ⋈ e2(b,c) forms wedges with
    a < b < c ordering baked into the edge direction, e3(a,c) closes
    them. Ordering means each triangle is counted exactly once and both
    joins shuffle on a single key — the degree-ordered triangle-count
    shape that survives power-law graphs (hot vertices only ever build
    wedges toward higher-ordered neighbors).
    """
    e = synthetic_edges(docs).filter(F.col("src") != F.col("dst"))
    # materialize once: und feeds all three join legs, and an
    # unmaterialized plan would re-run the scan + distinct per leg
    und = (
        e.select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = und.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("v").alias("c"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(e3, ["a", "c"])
    return tri.agg(F.count("*").cast("long").alias("n_triangles"))


def triangle_count_sql(table: str = "documents") -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    return f"""
        WITH nodes AS (SELECT doc_id AS node FROM {table}),
        nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes),
        edges AS ({edge_selects}),
        und AS (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM edges WHERE src <> dst
        )
        SELECT count(*)::BIGINT AS n_triangles
        FROM und e1
        JOIN und e2 ON e1.v = e2.u
        JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
    """


# ---------------------------------------------------------------------------
# BFS depth layers from a source set
# ---------------------------------------------------------------------------

BFS_MAX_DEPTH = 6


def bfs_depths(docs: DataFrame, source_mod: int = 101, max_depth: int = BFS_MAX_DEPTH) -> DataFrame:
    """Hop distance of every node from the source set (doc_id %
    ``source_mod`` == 0) over the synthetic link graph, capped at
    ``max_depth`` — the crawl engine's wave expansion as a standalone
    graph operator (plans/crawl.py runs this exact loop with fetch +
    extraction in the middle; reference BFS: scrapy's default FIFO
    scheduling, SURVEY §2.5 P1).

    One join + hash-agg per level on the frontier only (never the full
    visited set); unreached nodes report depth = -1.
    """
    edges = synthetic_edges(docs).localCheckpoint(eager=True)
    nodes = docs.select(F.col("doc_id").alias("node"))
    level0 = nodes.filter(F.col("node") % source_mod == 0).select(
        "node", F.lit(0).cast("long").alias("depth")
    ).localCheckpoint(eager=True)
    # `depths` stays a lazy union of per-level CHECKPOINTED frontiers:
    # only the new level is materialized each round (2 jobs/level),
    # instead of re-writing the whole visited set per level (O(V*D)).
    depths = level0
    frontier = level0.select("node")
    for d in range(1, max_depth + 1):
        nxt = (
            edges.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(depths.select("node"), "node", "left_anti")
            .withColumn("depth", F.lit(d).cast("long"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        depths = depths.unionByName(nxt)
        frontier = nxt.select("node")
    return nodes.join(depths, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("depth", F.lit(-1)).cast("long").alias("depth"),
    )


def bfs_depths_sql(
    table: str = "documents", source_mod: int = 101, max_depth: int = BFS_MAX_DEPTH
) -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    return f"""
        WITH RECURSIVE nodes AS (SELECT doc_id AS node FROM {table}),
        nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes),
        edges AS ({edge_selects}),
        walk(node, depth) AS (
          SELECT node, 0::BIGINT FROM nodes WHERE node % {source_mod} = 0
          UNION
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN edges e ON e.src = w.node
          WHERE w.depth < {max_depth}
        ),
        best AS (SELECT node, min(depth) AS depth FROM walk GROUP BY node)
        SELECT n.node AS doc_id, coalesce(b.depth, -1)::BIGINT AS depth
        FROM nodes n LEFT JOIN best b USING (node)
        ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# HITS hubs & authorities
# ---------------------------------------------------------------------------

HITS_ITERS = 2


def hits(docs: DataFrame, n_iter: int = HITS_ITERS) -> DataFrame:
    """HITS over the synthetic link graph: ``n_iter`` rounds of
    authority(v) = sum of hub(u) over in-edges, then hub(u) = sum of
    authority(v) over out-edges, L1-normalized each half-step (L1 keeps
    the normalizer a plain sum — exact-order float math both engines).

    Two shuffles per iteration (one per half-step) + a broadcast 1-row
    normalizer — the same edge-partitioned shape as PageRank.
    """
    edges = synthetic_edges(docs)
    nodes = docs.select(F.col("doc_id").alias("node"))
    n = nodes.agg(F.count("*").alias("n_nodes"))
    hub = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n_nodes")).alias("hub")
    )
    auth = None
    # Each half-step is referenced twice downstream (raw scores + their
    # L1 normalizer) and feeds the next half-step, so an unmaterialized
    # plan re-evaluates every prior step per reference — exponential in
    # n_iter (measured 16 s for 2 iterations on 500 nodes). Eagerly
    # truncate lineage once per HALF-STEP result: the raw-score frame is
    # left lazy (its double evaluation — normalizer + join — is two
    # broadcast stages inside the same job, cheaper than scheduling an
    # extra materialization job).
    for _ in range(n_iter):
        a_raw = (
            edges.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("a"))
        )
        a_tot = a_raw.agg(F.sum("a").alias("t"))
        auth = (
            nodes.join(a_raw, "node", "left")
            .crossJoin(F.broadcast(a_tot))
            .select("node", (F.coalesce("a", F.lit(0.0)) / F.col("t")).alias("auth"))
            .localCheckpoint(eager=True)
        )
        h_raw = (
            edges.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("h"))
        )
        h_tot = h_raw.agg(F.sum("h").alias("t"))
        hub = (
            nodes.join(h_raw, "node", "left")
            .crossJoin(F.broadcast(h_tot))
            .select("node", (F.coalesce("h", F.lit(0.0)) / F.col("t")).alias("hub"))
            .localCheckpoint(eager=True)
        )
    return (
        hub.join(auth, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.round("hub", 9).alias("hub"),
            F.round("auth", 9).alias("auth"),
        )
    )


def hits_sql(table: str = "documents", n_iter: int = HITS_ITERS) -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    ctes = [
        f"nodes AS (SELECT doc_id AS node FROM {table})",
        "nn AS (SELECT count(*)::BIGINT AS n_int, count(*)::DOUBLE AS n FROM nodes)",
        f"edges AS ({edge_selects})",
        "h0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS hub FROM nodes)",
    ]
    hub_prev = "h0"
    auth_prev = None
    for i in range(1, n_iter + 1):
        ctes.append(
            f"ar{i} AS (SELECT dst AS node, sum(hub) AS a FROM edges "
            f"JOIN {hub_prev} ON edges.src = {hub_prev}.node GROUP BY dst)"
        )
        ctes.append(
            f"a{i} AS (SELECT nodes.node, coalesce(a, 0.0) / (SELECT sum(a) FROM ar{i}) AS auth "
            f"FROM nodes LEFT JOIN ar{i} USING (node))"
        )
        ctes.append(
            f"hr{i} AS (SELECT src AS node, sum(auth) AS h FROM edges "
            f"JOIN a{i} ON edges.dst = a{i}.node GROUP BY src)"
        )
        ctes.append(
            f"h{i} AS (SELECT nodes.node, coalesce(h, 0.0) / (SELECT sum(h) FROM hr{i}) AS hub "
            f"FROM nodes LEFT JOIN hr{i} USING (node))"
        )
        hub_prev, auth_prev = f"h{i}", f"a{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
        SELECT {hub_prev}.node AS doc_id, round(hub, 9) AS hub, round(auth, 9) AS auth
        FROM {hub_prev} JOIN {auth_prev} ON {hub_prev}.node = {auth_prev}.node
        ORDER BY doc_id
        """
    )


def degree_stats(docs: DataFrame) -> DataFrame:
    """Per-node out/in degrees of the synthetic link graph plus a
    dangling flag — the frontier-health profile a crawl scheduler reads
    (hub pages = high out, sinks = zero out). Two hash-aggs + one join.
    """
    e = synthetic_edges(docs)
    out_d = e.groupBy(F.col("src").alias("doc_id")).agg(
        F.count("*").alias("outdeg")
    )
    in_d = e.groupBy(F.col("dst").alias("doc_id")).agg(
        F.count("*").alias("indeg")
    )
    nodes = docs.select("doc_id")
    return (
        nodes.join(out_d, "doc_id", "left")
        .join(in_d, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("outdeg", F.lit(0)).cast("long").alias("outdeg"),
            F.coalesce("indeg", F.lit(0)).cast("long").alias("indeg"),
            (F.coalesce("outdeg", F.lit(0)) == 0).alias("dangling"),
        )
    )


def degree_stats_sql(table: str = "documents") -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    return f"""
        WITH nodes AS (SELECT doc_id AS node FROM {table}),
        nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes),
        edges AS ({edge_selects}),
        o AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src),
        i AS (SELECT dst AS node, count(*) AS indeg FROM edges GROUP BY dst)
        SELECT n.node AS doc_id,
               coalesce(o.outdeg, 0)::BIGINT AS outdeg,
               coalesce(i.indeg, 0)::BIGINT AS indeg,
               coalesce(o.outdeg, 0) = 0 AS dangling
        FROM nodes n LEFT JOIN o USING (node) LEFT JOIN i USING (node)
        ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Anchor-text aggregation
# ---------------------------------------------------------------------------

def anchor_texts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-target anchor-text rollup over the link graph — the classic
    search-relevance signal the reference's link extraction feeds
    (`search_gov_crawler/search_gov_spiders/spiders/domain_spider.py`
    extracts <a href> links; the index side aggregates their anchor
    strings per target). Anchor for edge (src, dst) is a deterministic
    function of the src document (its first two lowercased tokens), so
    the oracle reconstructs it exactly.

    Output per target: in-link count, distinct-anchor count, and the
    majority anchor with (count DESC, anchor ASC) tie-break.

    Scale shape (100 TB): anchors are a narrow projection of the source
    page; the rollup is one shuffle on dst shared by the ranking window
    AND the final hash-agg (same partition key, no second exchange).
    Popular targets (the hot-dst skew every web graph has) are handled by
    AQE skew-split; nothing collects to the driver.
    """
    edges = synthetic_edges(docs)
    anchors = docs.select(
        F.col("doc_id").alias("src"),
        F.lower(F.concat_ws(" ", F.slice(tokens_col(text_col), 1, 2))).alias("anchor"),
    )
    pairs = (
        edges.join(anchors, "src")
        .groupBy("dst", "anchor")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("n"), F.asc("anchor"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .groupBy("dst")
        .agg(
            F.sum("n").cast("long").alias("in_links"),
            F.count("*").cast("long").alias("n_distinct_anchors"),
            F.max(F.when(F.col("rk") == 1, F.col("anchor"))).alias("top_anchor"),
            F.max(F.when(F.col("rk") == 1, F.col("n"))).cast("long").alias("top_anchor_count"),
        )
        .select(
            F.col("dst").alias("doc_id"),
            "in_links",
            "n_distinct_anchors",
            "top_anchor",
            "top_anchor_count",
        )
    )


def anchor_texts_sql(table: str = "documents") -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    return f"""
        WITH nodes AS (SELECT doc_id AS node FROM {table}),
        nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes),
        edges AS ({edge_selects}),
        anchors AS (
          SELECT doc_id AS src,
                 lower(array_to_string(({tokens_sql('text')})[1:2], ' ')) AS anchor
          FROM {table}
        ),
        pairs AS (
          SELECT dst, anchor, count(*) AS n
          FROM edges JOIN anchors USING (src)
          GROUP BY dst, anchor
        ),
        ranked AS (
          SELECT dst, anchor, n,
                 row_number() OVER (PARTITION BY dst ORDER BY n DESC, anchor) AS rk
          FROM pairs
        )
        SELECT dst AS doc_id,
               sum(n)::BIGINT AS in_links,
               count(*)::BIGINT AS n_distinct_anchors,
               max(CASE WHEN rk = 1 THEN anchor END) AS top_anchor,
               max(CASE WHEN rk = 1 THEN n END)::BIGINT AS top_anchor_count
        FROM ranked
        GROUP BY dst
        ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# Host-level link-graph rollup
# ---------------------------------------------------------------------------

N_HOSTS = 25  # same deterministic doc->host mapping as the crawl queries


def host_links(docs: DataFrame, n_hosts: int = N_HOSTS) -> DataFrame:
    """Host-graph rollup of the page-level link graph: per source host,
    out-edge count, cross-host (offsite) edge count, and the offsite
    ratio in integer ppm. This is the webgraph-compression step every
    crawl scheduler runs — page-level edges collapse to a host graph
    whose cardinality is the seed-list size (1,759 hosts for the
    reference fleet), and the offsite ratio is the aggregate view of the
    F1 offsite filter (operators/filters.py).

    Scale shape: host ids are projections of doc_id (in a real crawl, of
    the canonical URL's authority — a narrow column); the rollup is one
    map-side-combinable hash agg onto |hosts| rows. No joins at all.
    """
    e = synthetic_edges(docs)
    hosted = e.select(
        F.concat(F.lit("d"), (F.col("src") % n_hosts).cast("string"), F.lit(".gov")).alias("src_host"),
        ((F.col("src") % n_hosts) != (F.col("dst") % n_hosts)).cast("long").alias("is_cross"),
    )
    return (
        hosted.groupBy("src_host")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_edges"),
            F.sum("is_cross").cast("long").alias("cross_host_edges"),
        )
        .select(
            "src_host",
            "out_edges",
            "cross_host_edges",
            F.expr("cross_host_edges * 1000000 DIV out_edges").alias("cross_ppm"),
        )
    )


def host_links_sql(table: str = "documents", n_hosts: int = N_HOSTS) -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    return f"""
        WITH nodes AS (SELECT doc_id AS node FROM {table}),
        nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes),
        edges AS ({edge_selects}),
        hosted AS (
          SELECT 'd' || (src % {n_hosts})::VARCHAR || '.gov' AS src_host,
                 CASE WHEN src % {n_hosts} <> dst % {n_hosts} THEN 1 ELSE 0 END AS is_cross
          FROM edges
        ),
        agg AS (
          SELECT src_host,
                 count(*)::BIGINT AS out_edges,
                 sum(is_cross)::BIGINT AS cross_host_edges
          FROM hosted GROUP BY src_host
        )
        SELECT src_host, out_edges, cross_host_edges,
               cross_host_edges * 1000000 // out_edges AS cross_ppm
        FROM agg
        ORDER BY src_host
    """


# ---------------------------------------------------------------------------
# Mirror-host detection
# ---------------------------------------------------------------------------

MIRROR_MAX_HOSTS_PER_FP = 32  # df-cut: fingerprints on more hosts are boilerplate


def mirror_hosts(
    pages: DataFrame,
    threshold_ppm: int = 500_000,
    max_hosts_per_fp: int = MIRROR_MAX_HOSTS_PER_FP,
) -> DataFrame:
    """Mirror-host detection: host pairs whose content-fingerprint sets
    have Jaccard resemblance >= ``threshold_ppm`` (integer ppm). This is
    the crawl-scheduler dedup ABOVE the page level — the reference fleet
    crawls ~1,759 .gov hosts where agency site mirrors (www/non-www,
    state replicas, CDN clones) would otherwise be fetched twice; a
    detected mirror pair lets the scheduler drop one frontier branch
    wholesale (Broder's syntactic-clustering resemblance, applied to
    hosts instead of pages).

    Input: ``pages(host, fp)`` — one row per page with its content
    fingerprint (e.g. ``fingerprints().content_md5``). Output:
    ``(host_a, host_b, shared, size_a, size_b, jaccard_ppm)`` with
    ``host_a < host_b``, resemblance-filtered, integer-exact.

    Scale shape: an inverted index on fp (distinct -> one shuffle), with
    a df-cut — fingerprints present on > ``max_hosts_per_fp`` hosts are
    dropped BEFORE pair generation, so per-fp fanout is bounded at
    max_hosts_per_fp^2/2 (such fps are navigation boilerplate shared by
    everyone and carry no mirror signal; true mirror evidence is content
    shared by FEW hosts). Host set sizes are a map-side-combinable agg
    on |hosts| rows; the pair agg shuffles on (host_a, host_b) bounded
    by shared content, never |hosts|^2.
    """
    hf = pages.select("host", "fp").distinct()
    sizes = hf.groupBy("host").agg(F.count(F.lit(1)).cast("long").alias("size"))
    # df-cut on the inverted list length
    rare = hf.join(
        hf.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nh"))
        .filter(F.col("nh") <= max_hosts_per_fp)
        .select("fp"),
        "fp",
    )
    a = rare.select("fp", F.col("host").alias("host_a"))
    b = rare.select("fp", F.col("host").alias("host_b"))
    shared = (
        a.join(b, "fp")
        .filter(F.col("host_a") < F.col("host_b"))
        .groupBy("host_a", "host_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
    )
    return (
        shared.join(F.broadcast(sizes.withColumnRenamed("host", "host_a")), "host_a")
        .withColumnRenamed("size", "size_a")
        .join(F.broadcast(sizes.withColumnRenamed("host", "host_b")), "host_b")
        .withColumnRenamed("size", "size_b")
        .withColumn(
            "jaccard_ppm",
            F.expr("shared * 1000000 DIV (size_a + size_b - shared)"),
        )
        .filter(F.col("jaccard_ppm") >= threshold_ppm)
        .select("host_a", "host_b", "shared", "size_a", "size_b", "jaccard_ppm")
    )


def mirror_hosts_sql(
    pages_sql: str,
    threshold_ppm: int = 500_000,
    max_hosts_per_fp: int = MIRROR_MAX_HOSTS_PER_FP,
) -> str:
    return f"""
        WITH pages AS ({pages_sql}),
        hf AS (SELECT DISTINCT host, fp FROM pages),
        sizes AS (SELECT host, count(*)::BIGINT AS size FROM hf GROUP BY host),
        rare AS (
          SELECT host, fp FROM hf
          WHERE fp IN (SELECT fp FROM hf GROUP BY fp
                       HAVING count(*) <= {max_hosts_per_fp})
        ),
        shared AS (
          SELECT a.host AS host_a, b.host AS host_b, count(*)::BIGINT AS shared
          FROM rare a JOIN rare b ON a.fp = b.fp AND a.host < b.host
          GROUP BY a.host, b.host
        ),
        scored AS (
          SELECT s.host_a, s.host_b, s.shared,
                 sa.size AS size_a, sb.size AS size_b,
                 s.shared * 1000000 // (sa.size + sb.size - s.shared) AS jaccard_ppm
          FROM shared s
          JOIN sizes sa ON sa.host = s.host_a
          JOIN sizes sb ON sb.host = s.host_b
        )
        SELECT host_a, host_b, shared, size_a, size_b, jaccard_ppm
        FROM scored
        WHERE jaccard_ppm >= {threshold_ppm}
        ORDER BY host_a, host_b
    """


# ---------------------------------------------------------------------------
# OPIC — Adaptive On-line Page Importance Computation
# ---------------------------------------------------------------------------

OPIC_ITERS = 3
OPIC_UNIT = 1_000_000  # starting micro-cash per node


def opic(
    nodes: DataFrame,
    edges: DataFrame,
    n_iter: int = OPIC_ITERS,
    unit: int = OPIC_UNIT,
) -> DataFrame:
    """Adaptive On-line Page Importance (Abiteboul, Preda & Cobena,
    WWW 2003) — the frontier-priority signal PageRank cannot give
    mid-crawl: cash flows along links as pages are (virtually) fetched
    and accumulated ``history`` IS the importance estimate, usable
    incrementally without waiting for convergence. This is the
    synchronous batch round, made integer-exact so both engines agree
    bit-for-bit:

    per round, every non-dangling node banks its cash into history,
    sends ``cash DIV outdeg`` along each out-edge and keeps the integer
    remainder; dangling nodes hold their cash unbanked. Cash is
    conserved exactly (no float drift, no lost remainders), so
    ``sum(cash)`` is invariant and ``importance = history + cash`` is a
    stable integer ranking.

    Plan per round: one shuffle (hash-agg of in-flows on dst, map-side
    combined) + broadcast-free left joins keyed on the node id — the
    same edge-partitioned shape as the pagerank power iteration; at
    10^10 nodes the cash vector stays a DataFrame end-to-end.
    """
    deg = edges.groupBy("src").agg(F.count("*").cast("long").alias("outdeg"))
    state = nodes.select(
        "node",
        F.lit(int(unit)).cast("long").alias("cash"),
        F.lit(0).cast("long").alias("history"),
    )
    for _ in range(int(n_iter)):
        st = state.join(deg, state.node == deg.src, "left").select(
            "node", "cash", "history", "outdeg"
        )
        dangling = F.col("outdeg").isNull()
        share = F.when(dangling, F.lit(0)).otherwise(
            F.expr("cash DIV outdeg")
        ).cast("long")
        banked = st.select(
            "node",
            share.alias("share"),
            F.when(dangling, F.col("cash"))
            .otherwise(F.col("cash") - share * F.col("outdeg"))
            .cast("long")
            .alias("residual"),
            F.when(dangling, F.col("history"))
            .otherwise(F.col("history") + F.col("cash"))
            .cast("long")
            .alias("history"),
        )
        inflow = (
            edges.join(banked.select(F.col("node").alias("src"), "share"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").cast("long").alias("inflow"))
        )
        state = (
            banked.join(inflow, "node", "left")
            .select(
                "node",
                (F.col("residual") + F.coalesce(F.col("inflow"), F.lit(0)))
                .cast("long")
                .alias("cash"),
                "history",
            )
        )
    return state.select(
        "node", "history", "cash",
        (F.col("history") + F.col("cash")).cast("long").alias("importance"),
    )


def opic_docs(docs: DataFrame) -> DataFrame:
    """OPIC over the same synthetic doc_id link graph pagerank uses;
    (doc_id, history, cash, importance)."""
    nodes = docs.select(F.col("doc_id").alias("node"))
    out = opic(nodes, synthetic_edges(docs))
    return out.select(F.col("node").alias("doc_id"), "history", "cash", "importance")


def opic_docs_sql(
    n_iter: int = OPIC_ITERS,
    unit: int = OPIC_UNIT,
    table: str = "documents",
) -> str:
    edge_selects = " UNION ALL ".join(
        f"SELECT node AS src, (node * {a} + {bb}) % (SELECT n_int FROM nn) AS dst FROM nodes"
        for a, bb in PR_EDGE_COEFFS
    )
    ctes = [
        f"nodes AS (SELECT doc_id AS node FROM {table})",
        "nn AS (SELECT count(*)::BIGINT AS n_int FROM nodes)",
        f"edges AS ({edge_selects})",
        "deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src)",
        f"s0 AS (SELECT node, {int(unit)}::BIGINT AS cash, 0::BIGINT AS history FROM nodes)",
    ]
    prev = "s0"
    for i in range(1, int(n_iter) + 1):
        ctes.append(
            f"""b{i} AS (
              SELECT s.node,
                     CASE WHEN d.outdeg IS NULL THEN 0
                          ELSE s.cash // d.outdeg END::BIGINT AS share,
                     CASE WHEN d.outdeg IS NULL THEN s.cash
                          ELSE s.cash - (s.cash // d.outdeg) * d.outdeg END::BIGINT AS residual,
                     CASE WHEN d.outdeg IS NULL THEN s.history
                          ELSE s.history + s.cash END::BIGINT AS history
              FROM {prev} s LEFT JOIN deg d ON s.node = d.src
            )"""
        )
        ctes.append(
            f"i{i} AS (SELECT dst AS node, sum(share)::BIGINT AS inflow "
            f"FROM edges JOIN b{i} ON edges.src = b{i}.node GROUP BY dst)"
        )
        ctes.append(
            f"s{i} AS (SELECT b{i}.node, "
            f"(residual + coalesce(inflow, 0))::BIGINT AS cash, history "
            f"FROM b{i} LEFT JOIN i{i} USING (node))"
        )
        prev = f"s{i}"
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node AS doc_id, history, cash, (history + cash)::BIGINT AS importance "
        f"FROM {prev} ORDER BY doc_id"
    )
