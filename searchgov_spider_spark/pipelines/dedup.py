"""Corpus deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine near-dup.

Scale design (the whole point of these operators):

- Exact dedup is a single hash aggregate on a digest key — map-side
  partial aggregation, one shuffle, no O(n^2) anywhere.
- MinHash+LSH: signature computation is per-row (narrow); candidate
  generation shuffles once on (band_idx, band_key) so only same-bucket
  docs ever meet — the classic shingle→minhash→band→bucket-join plan.
  Verification joins candidate pairs back to shingle sets and computes
  exact Jaccard, so false positives never escape.
- SimHash: 4 bands x 8 bits of a 32-bit signature. By pigeonhole, any
  pair within Hamming distance 3 agrees exactly on >= 1 band, so the
  band-equality join is a *complete* blocking scheme for hd<=3 — exact
  results with a shuffle keyed on (band, value) instead of a cross join.
- n-gram Jaccard runs inside user-chosen blocks (e.g. same source);
  embedding near-dup runs inside label blocks. Both are exact within
  the block and embarrassingly parallel across blocks.

Every hash is the portable md5-based 32-bit family
(functions/hashing.py), so each operator ships a DuckDB oracle-SQL
generator that reproduces bit-identical values. Reference analogs: the
crawler's own dedup is URL-level (operators/dedup.py, SURVEY.md §2.4);
these content-level operators are the corpus-prep additions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash32_col, portable_hash32_sql
from .textstats import tokens_col, tokens_sql

# MinHash defaults: 16 permutations in 4 bands of 4 rows.
MINHASH_PERMS = 16
MINHASH_BANDS = 4

SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def normalized_text_col(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def normalized_text_sql(expr: str) -> str:
    return f"lower(trim(regexp_replace({expr}, '\\s+', ' ', 'g')))"


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after whitespace/case normalization)
    documents: (dup_key, n_docs, keep_doc_id). One hash aggregate."""
    return (
        docs.select(F.col("doc_id"), F.md5(normalized_text_col(text_col)).alias("dup_key"))
        .groupBy("dup_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_dup_groups_sql(table: str = "documents") -> str:
    return f"""
        SELECT md5({normalized_text_sql('text')}) AS dup_key,
               count(*) AS n_docs, min(doc_id) AS keep_doc_id
        FROM {table}
        GROUP BY 1
        ORDER BY dup_key
    """


# ---------------------------------------------------------------------------
# Shingles + MinHash + LSH
# ---------------------------------------------------------------------------

def shingles_col(toks: Column, n: int = 3) -> Column:
    """Distinct word n-grams as space-joined strings; [] when < n tokens."""
    size = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), size - n + 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(size >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_sql(toks_expr: str, n: int = 3) -> str:
    return (
        f"list_distinct([array_to_string(array_slice({toks_expr}, i, i + {n - 1}), ' ') "
        f"for i in generate_series(1, len({toks_expr}) - {n - 1})])"
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1: a*h + b stays inside int64


def minhash_coeffs(perms: int = MINHASH_PERMS) -> list[tuple[int, int]]:
    """Deterministic affine-permutation coefficients (a_i, b_i), derived
    from the portable hash family and inlined as literals on both
    engines. a_i in [1, p-1], b_i in [0, p-1]."""
    from ..functions.hashing import portable_hash32

    return [
        (
            (portable_hash32(f"a|{i}") % (MINHASH_PRIME - 1)) + 1,
            portable_hash32(f"b|{i}") % MINHASH_PRIME,
        )
        for i in range(perms)
    ]


def minhash_signature_cols(hs: Column, perms: int = MINHASH_PERMS) -> list[Column]:
    """perms mins of affine permutations (a_i*h + b_i) mod p over the
    precomputed shingle-hash array ``hs`` — the classic one-hash MinHash:
    each shingle is md5-hashed ONCE, the permutations are int64
    arithmetic. (The previous family hashed every shingle perms times —
    16x the md5 work for identical statistical behavior.)"""
    def perm(a, b):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    return [F.array_min(F.transform(hs, perm(a, b))) for a, b in minhash_coeffs(perms)]


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", ngram: int = 3, perms: int = MINHASH_PERMS
) -> DataFrame:
    """(doc_id, shingles, sig: array<long>[perms]); drops docs with no shingles."""
    sh = shingles_col(tokens_col(text_col), ngram)
    base = (
        docs.select("doc_id", sh.alias("shingles"))
        .filter(F.size("shingles") > 0)
        .withColumn("hs", F.transform("shingles", lambda s: portable_hash32_col(s)))
    )
    sigs = minhash_signature_cols(F.col("hs"), perms)
    return base.select("doc_id", "shingles", F.array(*sigs).alias("sig"))


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    ngram: int = 3,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard >= threshold.

    Plan: narrow signature computation → explode to (band, key) [rows x
    bands] → shuffle once on the band key → same-bucket self-join →
    distinct pairs → join back for exact verification. No cross join.

    The verify compares in integer parts-per-million (inter * 1e6 DIV
    union >= round(threshold * 1e6)) — the SAME comparison sketch_eval's
    ground truth uses, so a pair sitting in the half-ulp band below the
    threshold cannot pass the candidate verify while failing truth
    (round-3 advisor finding: the old round(jaccard, 6) filter admitted
    jaccard in [threshold - 5e-7, threshold), breaking the
    precision_ppm-pinned-at-1e6 property). The reported ``jaccard``
    column stays the 6-dp rounded ratio.
    """
    threshold_ppm = int(round(threshold * 1_000_000))
    rows = perms // bands
    # persist: the signature frame feeds four join branches (two bucket
    # sides, two shingle sides) — without it the shingle+md5 subplan
    # re-executes per branch
    sigs = minhash_signatures(docs, text_col, ngram, perms).persist()

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws("-", *[F.col("sig")[b * rows + r].cast("string") for r in range(rows)]).alias("key"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("doc_id", F.explode(band_structs).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    pairs = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sh = sigs.select("doc_id", "shingles")
    # shingle arrays are distinct sets, so |A ∪ B| = |A| + |B| - |A ∩ B|:
    # one array_intersect per pair, no array_union materialization —
    # identical values, roughly half the per-pair array work
    verified = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("shingles", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("shingles", "sh_b"), "doc_b")
        .withColumn("_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("_union", F.size("sh_a") + F.size("sh_b") - F.col("_inter"))
        .withColumn("jaccard", F.round(F.col("_inter") / F.col("_union"), 6))
        .filter(F.expr(f"_inter * 1000000 DIV _union >= {threshold_ppm}"))
    )
    return verified.select("doc_a", "doc_b", "jaccard")


def minhash_lsh_pairs_sql(
    table: str = "documents",
    ngram: int = 3,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
    threshold: float = 0.5,
) -> str:
    """DuckDB mirror of the full LSH plan (signatures, banding, bucket
    join, exact-Jaccard verify) — bit-identical via the md5 hash family."""
    rows = perms // bands
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in minhash_coeffs(perms)
    )
    band_keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(f"sig[{b * rows + r + 1}]::VARCHAR" for r in range(rows))
        + f") AS key_{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, key_{b} AS key FROM banded" for b in range(bands)
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {tokens_sql('text')} AS toks FROM {table}
        ), sh AS (
          SELECT doc_id, {shingles_sql('toks', ngram)} AS shingles FROM toks
        ), sh2 AS (
          SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0
        ), hashed AS (
          SELECT doc_id, shingles,
                 list_transform(shingles, s -> {portable_hash32_sql('s')}) AS hs
          FROM sh2
        ), sigs AS (
          SELECT doc_id, shingles, [{sig_items}] AS sig FROM hashed
        ), banded AS (
          SELECT doc_id, {band_keys} FROM sigs
        ), buckets AS (
          {band_union}
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b ON a.band = b.band AND a.key = b.key
          WHERE a.doc_id < b.doc_id
        )
        , scored AS (
          SELECT p.doc_a, p.doc_b,
                 len(list_intersect(sa.shingles, sb.shingles)) AS inter,
                 len(sa.shingles) AS la, len(sb.shingles) AS lb
          FROM pairs p
          JOIN sh2 sa ON sa.doc_id = p.doc_a
          JOIN sh2 sb ON sb.doc_id = p.doc_b
        )
        SELECT doc_a, doc_b, round(inter / (la + lb - inter), 6) AS jaccard
        FROM scored
        WHERE inter * 1000000 // (la + lb - inter) >= {int(round(threshold * 1_000_000))}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash over token-frequency weights: (doc_id, simhash).

    Plan: explode tokens → one hash-agg to (doc, token, cnt) → one
    hash-agg to per-doc 32 signed bit sums → signature. Both aggregates
    get map-side combine; no window, no UDF.
    """
    tok_counts = (
        docs.select("doc_id", F.explode(tokens_col(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("cnt"))
        .withColumn("h", portable_hash32_col("token"))
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.col("cnt")).otherwise(
                -F.col("cnt")
            )
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = tok_counts.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash"))


def simhash_sql_cte(table: str = "documents") -> str:
    """CTE text computing (doc_id, simhash) in DuckDB; reused by callers."""
    h = portable_hash32_sql("token")
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS b{b}"
        for b in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)" for b in range(SIMHASH_BITS)
    )
    return f"""
        tc AS (
          SELECT doc_id, token, count(*) AS cnt, {h} AS h
          FROM (SELECT doc_id, unnest({tokens_sql('text')}) AS token FROM {table})
          WHERE token <> ''
          GROUP BY doc_id, token
        ), bits AS (
          SELECT doc_id, {bit_sums} FROM tc GROUP BY doc_id
        ), sims AS (
          SELECT doc_id, {sig} AS simhash FROM bits
        )
    """


def simhash_sql(table: str = "documents") -> str:
    return f"WITH {simhash_sql_cte(table)} SELECT doc_id, simhash FROM sims ORDER BY doc_id"


def simhash_near_dups(docs: DataFrame, text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming of the 32-bit SimHash.

    Complete blocking: with 4 bands of 8 bits, any pair at hd <= 3 shares
    at least one exact band (pigeonhole), so the band join loses nothing
    while keying the shuffle on (band, 8-bit value).
    """
    assert max_hamming < SIMHASH_BANDS, "band blocking complete only for hd < bands"
    # persist: the self-join's broadcast build side would otherwise
    # recompute the whole signature lineage (token explode + 32
    # conditional sums, the dominant cost) a second time — at corpus
    # scale the signatures are what you materialize, not re-derive
    sims = simhash(docs, text_col).persist()
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                .alias("key"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = sims.select("doc_id", "simhash", F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )
    pairs = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


def simhash_near_dups_sql(table: str = "documents", max_hamming: int = 3) -> str:
    # the oracle can afford the O(n^2) formulation — results are identical
    return f"""
        WITH {simhash_sql_cte(table)}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.simhash, b.simhash)) AS hamming
        FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# Blocked n-gram Jaccard
# ---------------------------------------------------------------------------

# Default hot-block cap for the blocked O(n^2) pair generators: bounds
# any single block's work to cap^2/2 ≈ 8.4M comparisons. ON by default —
# a 10^7-doc hot block (one common shingle/LSH bucket at corpus scale)
# would otherwise be a 10^14-pair self-join no cluster survives. The
# DuckDB twins mirror the same lowest-id truncation, so the oracle gate
# stays exact whether or not the cap binds.
DEFAULT_MAX_BLOCK = 4096


def _cap_blocks(
    rows: DataFrame, cap: int | None, id_col: str, op_name: str
) -> DataFrame:
    """Guardrail for blocked O(n^2) pair generators: a single hot block
    (10^7 docs under one key) is a quadratic self-join that no cluster
    survives. With a cap, each block keeps its ``cap`` lowest-id members
    (deterministic truncation — work per block is bounded by cap^2) and
    the number of truncated blocks is logged. Exactness within truncated
    blocks is sacrificed knowingly; for full coverage of a hot block use
    the MinHash/SimHash paths, which never go quadratic."""
    if cap is None:
        return rows
    import logging

    from pyspark.sql import Window

    n_over = (
        rows.groupBy("block").count().filter(F.col("count") > cap).count()
    )
    if n_over:
        logging.getLogger(__name__).warning(
            "%s: %d block(s) over max_block_size=%d truncated to their "
            "%d lowest-%s members", op_name, n_over, cap, cap, id_col,
        )
    w = Window.partitionBy("block").orderBy(id_col)
    return (
        rows.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "source",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.2,
    max_block_size: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within blocks (doc_a < doc_b).

    ``max_block_size`` bounds the per-block quadratic work (see
    ``_cap_blocks``); ON by default — pass None only for inputs with a
    proven block-size bound. The SQL twin applies the same cap."""
    sh = docs.select(
        F.col("doc_id"), F.col(block_col).alias("block"), shingles_col(tokens_col(text_col), ngram).alias("sh")
    ).filter(F.size("sh") > 0)
    sh = _cap_blocks(sh, max_block_size, "doc_id", "ngram_jaccard_pairs")
    return (
        sh.alias("a")
        .join(sh.alias("b"), "block")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.sh", "b.sh")) / F.size(F.array_union("a.sh", "b.sh")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_sql(
    table: str = "documents", block_col: str = "source", ngram: int = 3,
    threshold: float = 0.2, max_block_size: int | None = DEFAULT_MAX_BLOCK,
) -> str:
    cap = (
        f"QUALIFY row_number() OVER (PARTITION BY block ORDER BY doc_id) <= {max_block_size}"
        if max_block_size is not None
        else ""
    )
    return f"""
        WITH toks AS (
          SELECT doc_id, {block_col} AS block, {tokens_sql('text')} AS toks FROM {table}
        ), sh AS (
          SELECT doc_id, block, {shingles_sql('toks', ngram)} AS sh FROM toks
        ), sh2 AS (SELECT * FROM sh WHERE len(sh) > 0 {cap})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(len(list_intersect(a.sh, b.sh))
                     / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        FROM sh2 a JOIN sh2 b ON a.block = b.block AND a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.sh, b.sh))
                    / len(list_distinct(list_concat(a.sh, b.sh))), 6) >= {threshold}
        ORDER BY doc_a, doc_b
    """


# ---------------------------------------------------------------------------
# Embedding cosine near-dup (blocked exact)
# ---------------------------------------------------------------------------

def embedding_near_dups(
    emb: DataFrame, block_col: str = "label", threshold: float = 0.95,
    max_block_size: int | None = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Pairs with cosine >= threshold inside blocks. Sequential-fold dot
    products (F.aggregate) so the oracle's doubles match bit-for-bit.

    ``max_block_size`` bounds the per-block quadratic work (see
    ``_cap_blocks``); ON by default — pass None only for inputs with a
    proven block-size bound. The SQL twin applies the same cap."""
    from .similarity import cosine_col

    e = emb.select(
        F.col("vec_id"), F.col(block_col).alias("block"), F.col("embedding").cast("array<double>").alias("v")
    )
    e = _cap_blocks(e, max_block_size, "vec_id", "embedding_near_dups")
    return (
        e.alias("a")
        .join(e.alias("b"), "block")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cosine_col(F.col("a.v"), F.col("b.v")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def embedding_near_dups_sql(
    table: str = "embeddings", block_col: str = "label", threshold: float = 0.95,
    max_block_size: int | None = DEFAULT_MAX_BLOCK,
) -> str:
    from .similarity import cosine_sql

    cos = cosine_sql("a.v", "b.v")
    cap = (
        f"QUALIFY row_number() OVER (PARTITION BY block ORDER BY vec_id) <= {max_block_size}"
        if max_block_size is not None
        else ""
    )
    return f"""
        WITH e AS (
          SELECT vec_id, {block_col} AS block, embedding::DOUBLE[] AS v FROM {table}
          {cap}
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round({cos}, 6) AS cos_sim
        FROM e a JOIN e b ON a.block = b.block AND a.vec_id < b.vec_id
        WHERE round({cos}, 6) >= {threshold}
        ORDER BY vec_a, vec_b
    """


# ---------------------------------------------------------------------------
# Near-dup cluster resolution (connected components -> keep-representative)
# ---------------------------------------------------------------------------

def _components_driver(edges: DataFrame) -> DataFrame:
    """Min-label connected components over a BOUNDED bidirectional edge
    list, vectorized in numpy on the driver: Jacobi min-scatter along
    edges + pointer jumping until fixpoint (labels only decrease, so the
    loop terminates). Returns (doc_id, cluster) for edge-incident nodes;
    cluster = minimum doc_id in the component."""
    import numpy as np
    import pandas as pd

    pdf = edges.select("src", "dst").toPandas()
    src = pdf["src"].to_numpy(dtype=np.int64)
    dst = pdf["dst"].to_numpy(dtype=np.int64)
    ids, codes = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = codes[: len(src)], codes[len(src):]
    labels = np.arange(len(ids), dtype=np.int64)  # code order == id order
    while True:
        before = labels.copy()
        # edge list already holds both directions, so one scatter covers
        # src<-dst and dst<-src
        np.minimum.at(labels, s, labels[d])
        labels = np.minimum(labels, labels[labels])  # pointer jump
        if np.array_equal(labels, before):
            break
    out = pd.DataFrame({"doc_id": ids, "cluster": ids[labels]})
    return edges.sparkSession.createDataFrame(out, "doc_id long, cluster long")


def dup_clusters(
    pairs: DataFrame, nodes: DataFrame, max_iters: int = 20,
    driver_edge_cap: int = 5_000_000,
) -> DataFrame:
    """Resolve near-dup PAIRS into CLUSTERS: (doc_id, cluster) where
    cluster = the minimum doc_id reachable through the pair graph — the
    canonical keep-representative for dedup removal.

    Fast path: the pair list came from a banded-LSH/SimHash candidate
    filter, so it is bounded and tiny next to the corpus; when it fits
    under ``driver_edge_cap`` edges (<=80 MB of int64 pairs at the
    default — the same bounded-driver-transfer pattern as the IVF
    codebook sample and the per-wave delta bloom), components resolve in
    one Arrow collect + vectorized numpy min-label sweep instead of
    O(diameter) Spark actions. Larger graphs take the distributed loop
    below; both paths produce identical labels (tested).

    Spark shape: iterative min-label propagation. Each round joins the
    current labels across the (bidirectional) edge list and takes the
    elementwise min — one shuffle per round, converging in O(graph
    diameter) rounds (near-dup clusters are shallow: pairs come from
    banded LSH/SimHash, so diameters are small). The loop exits early
    when a round changes no label; ``max_iters`` bounds adversarial
    chains. This is the simplified form of the large-star/small-star
    connected-components algorithm; at 100 TB the same loop runs with
    labels checkpointed per round.

    pairs: (doc_a, doc_b); nodes: one column of doc ids (singletons keep
    themselves as cluster).
    """
    id_col = nodes.columns[0]
    all_nodes = nodes.select(F.col(id_col).alias("doc_id")).distinct()
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Size the loop's partitioning to the EDGE count, not the session
    # default: the pair graph came from a banded-LSH candidate filter, so
    # it is tiny next to the corpus, and each propagation round would
    # otherwise shuffle a few KB across spark.sql.shuffle.partitions
    # tasks — per-round scheduling overhead dominating real work. ~2M
    # edges per partition keeps a genuinely large pair graph parallel.
    n_edges = edges.count()  # cheap: reads the materialized checkpoint
    if n_edges <= driver_edge_cap:
        labeled = _components_driver(edges)
        return all_nodes.join(labeled, "doc_id", "left").select(
            "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
        )
    n_parts = max(1, min(edges.rdd.getNumPartitions(), (n_edges // 2_000_000) + 1))
    if n_parts < edges.rdd.getNumPartitions():
        edges = edges.coalesce(n_parts)
    # Iterate ONLY over edge-incident nodes: the propagation loop never
    # touches the singleton majority — they join back as their own
    # cluster at the end.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster", F.col("doc_id"))
        .repartition(n_parts, "doc_id")
    )
    def _propagate(cur: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(cur.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster").alias("n_cluster"))
            .withColumnRenamed("src", "doc_id")
        )
        jumped = cur.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("cluster"), F.coalesce("n_cluster", "cluster")).alias("cluster"),
        )
        # two pointer jumps (path quartering): cluster <- cluster's
        # cluster, twice — a length-D chain converges in O(log D) rounds
        # and each extra jump is one more cheap join, not another action
        for _ in range(2):
            parent = jumped.select(
                F.col("doc_id").alias("cluster"), F.col("cluster").alias("cc")
            )
            jumped = jumped.join(parent, "cluster", "left").select(
                "doc_id",
                F.least("cluster", F.coalesce("cc", "cluster")).alias("cluster"),
            )
        return jumped

    # One lazy checkpoint + sum-probe per propagation round: min-labels
    # only ever DECREASE, so sum(cluster) strictly decreases iff any
    # label changed — one full-scan action per round both detects
    # convergence and materializes every checkpoint partition. (Probing
    # every 2nd round was measured SLOWER here: the un-checkpointed
    # double-round plan is 6 nested joins deep and Catalyst compile time
    # dominates the saved action at gate scale.)
    prev_sum = None
    rounds_done = 0
    while rounds_done < max_iters:
        cur = _propagate(labels)
        rounds_done += 1
        new_labels = cur.localCheckpoint(eager=False)
        new_sum = new_labels.agg(F.sum("cluster")).first()[0]
        labels = new_labels
        if new_sum is None or new_sum == prev_sum:
            break
        prev_sum = new_sum
    return all_nodes.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster", "doc_id").alias("cluster")
    )


def overlap_join(docs: DataFrame, min_overlap: int = 30, text_col: str = "text") -> DataFrame:
    """Exact set-similarity self-join: document pairs sharing at least
    ``min_overlap`` distinct tokens, found via PREFIX FILTERING (the
    ssjoin/PPJoin family) — never the quadratic all-pairs join.

    Theorem: order every token set by one global total order (token
    frequency asc, token asc); if |A ∩ B| >= T then the first
    |A| - T + 1 tokens of A and the first |B| - T + 1 of B must share a
    token. So candidates come from an equi-join on PREFIX tokens only
    (rare tokens first ⇒ tiny join fanout at corpus scale), then
    ``array_intersect`` verifies the exact overlap.

    Output: (doc_a, doc_b, overlap) with doc_a < doc_b.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), F.lower),
                lambda x: x != "",
            )
        ).alias("t"),
    )
    sized = toks.withColumn("s", F.size("t")).filter(F.col("s") >= min_overlap)
    freq = (
        sized.select(F.explode("t").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    ex = sized.select("doc_id", "s", F.explode("t").alias("token")).join(
        F.broadcast(freq), "token"
    )
    w = Window.partitionBy("doc_id").orderBy(F.asc("c"), F.asc("token"))
    prefix = (
        ex.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("s") - min_overlap + 1)
        .select("doc_id", "token")
    )
    cands = (
        prefix.select(F.col("token"), F.col("doc_id").alias("doc_a"))
        .join(prefix.select(F.col("token"), F.col("doc_id").alias("doc_b")), "token")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        cands.join(sized.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")), "doc_a")
        .join(sized.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")), "doc_b")
        .withColumn("overlap", F.size(F.array_intersect("ta", "tb")).cast("long"))
        .filter(F.col("overlap") >= min_overlap)
        .select("doc_a", "doc_b", "overlap")
    )


def overlap_join_sql(min_overlap: int = 30, table: str = "documents") -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> lower(w)),
                   w -> w <> '')) AS t
          FROM {table}
        ), sized AS (
          SELECT doc_id, t, len(t) AS s FROM toks WHERE len(t) >= {min_overlap}
        ), freq AS (
          SELECT u.token, count(*) AS c
          FROM sized, unnest(t) AS u(token) GROUP BY u.token
        ), ex AS (
          SELECT sized.doc_id, sized.s, u.token, freq.c
          FROM sized, unnest(t) AS u(token) JOIN freq ON freq.token = u.token
        ), prefix AS (
          SELECT doc_id, token FROM (
            SELECT doc_id, s, token,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c ASC, token ASC) AS rn
            FROM ex
          ) WHERE rn <= s - {min_overlap} + 1
        ), cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM prefix a JOIN prefix b ON a.token = b.token AND a.doc_id < b.doc_id
        )
        SELECT c.doc_a, c.doc_b,
               len(list_intersect(sa.t, sb.t))::BIGINT AS overlap
        FROM cands c
        JOIN sized sa ON sa.doc_id = c.doc_a
        JOIN sized sb ON sb.doc_id = c.doc_b
        WHERE len(list_intersect(sa.t, sb.t)) >= {min_overlap}
        ORDER BY doc_a, doc_b
    """


def containment_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Set CONTAINMENT join (LCJoin family, cf. PAPERS.md "LCJoin: Set
    Containment Join via List Crosscutting", ICDE 2019): for each
    document, how many OTHER documents' token sets contain all of its
    tokens — boilerplate/subsumption detection.

    Scale shape: every probe document meets only the inverted list of
    its RAREST token (one window to pick it, one equi-join on the token)
    — any container must hold that token too, so the blocking is
    complete and the candidate fanout is the rarest list's length, not
    the corpus. Candidates then pass cheap necessary filters (size,
    62-bit token-mask subset) before the exact ``array_intersect``
    verify. Total cost is sum over probes of |invlist(rarest token)| —
    near-linear on Zipfian vocabularies; a degenerate tiny-vocabulary
    corpus (every rarest list ~O(corpus), like the synthetic test table)
    is this operator's worst case and is bounded by the mask prefilter.

    Output: (doc_id, set_size, n_containers).
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(
                F.transform(F.split(F.trim(F.col(text_col)), r"\s+"), F.lower),
                lambda x: x != "",
            )
        ).alias("t"),
    ).withColumn("s", F.size("t"))
    # 62-bit token Bloom mask: (mask_a & mask_b) == mask_a is NECESSARY
    # for containment, so the long-op test prunes failing candidates
    # before the exact array walk (powers of two are exact doubles, so
    # pow(2, h%62)::long is a portable single-bit value)
    mask = F.aggregate(
        F.transform(
            F.col("t"),
            lambda x: F.pow(F.lit(2.0), F.pmod(F.crc32(x.cast("binary")), F.lit(62))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )
    toks = toks.withColumn("m", mask)
    ex = toks.select("doc_id", F.explode("t").alias("token"))
    freq = ex.groupBy("token").agg(F.count("*").alias("c"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("c"), F.asc("token"))
    rare = (
        ex.join(F.broadcast(freq), "token")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("doc_id").alias("doc_a"), "token")
    )
    cands = rare.join(
        ex.select(F.col("token"), F.col("doc_id").alias("doc_b")), "token"
    ).filter(F.col("doc_a") != F.col("doc_b"))
    verified = (
        cands.join(
            toks.select(
                F.col("doc_id").alias("doc_a"), F.col("t").alias("ta"),
                F.col("s").alias("sa"), F.col("m").alias("ma"),
            ),
            "doc_a",
        )
        .join(
            toks.select(
                F.col("doc_id").alias("doc_b"), F.col("t").alias("tb"),
                F.col("s").alias("sb"), F.col("m").alias("mb"),
            ),
            "doc_b",
        )
        # cheap necessary conditions first (size, bitmask subset), exact
        # array walk only for survivors
        .filter(
            (F.col("sb") >= F.col("sa"))
            & (F.col("ma").bitwiseAND(F.col("mb")) == F.col("ma"))
            & (F.size(F.array_intersect("ta", "tb")) == F.col("sa"))
        )
        .groupBy("doc_a")
        .agg(F.count("*").alias("n_containers"))
    )
    return (
        toks.join(verified, toks.doc_id == verified.doc_a, "left")
        .select(
            "doc_id",
            F.col("s").cast("long").alias("set_size"),
            F.coalesce("n_containers", F.lit(0)).cast("long").alias("n_containers"),
        )
    )


def containment_counts_sql(table: str = "documents") -> str:
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(list_filter(
                   list_transform(regexp_split_to_array(trim(text), '\\s+'), w -> lower(w)),
                   w -> w <> '')) AS t
          FROM {table}
        ), sized AS (SELECT doc_id, t, len(t) AS s FROM toks),
        counted AS (
          SELECT a.doc_id,
                 (SELECT count(*) FROM sized b
                  WHERE b.doc_id <> a.doc_id
                    AND len(list_intersect(a.t, b.t)) = a.s) AS n_containers
          FROM sized a
        )
        SELECT sized.doc_id, sized.s::BIGINT AS set_size,
               coalesce(counted.n_containers, 0)::BIGINT AS n_containers
        FROM sized JOIN counted USING (doc_id)
        ORDER BY doc_id
    """


def dup_rate_report(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus-health report: exact-duplicate rate in integer
    ppm. Two hash-aggs, both map-side combinable: (source, dup_key) ->
    counts, then source -> (n_docs, n_unique, dup_ppm) where dup_ppm =
    (n_docs - n_unique) * 10^6 DIV n_docs. The first-stop diagnosis a
    corpus curator runs before choosing a dedup strategy per source —
    bounded output (|sources| rows), no joins, scale-free."""
    keyed = docs.select(
        "source", F.md5(normalized_text_col(text_col)).alias("dup_key")
    )
    per_key = keyed.groupBy("source", "dup_key").agg(F.count("*").alias("n"))
    return (
        per_key.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_unique"),
        )
        .select(
            "source",
            "n_docs",
            "n_unique",
            F.expr("(n_docs - n_unique) * 1000000 DIV n_docs").alias("dup_ppm"),
        )
    )


def dup_rate_report_sql(table: str = "documents") -> str:
    return f"""
        WITH k AS (
          SELECT source, md5({normalized_text_sql('text')}) AS dup_key
          FROM {table}
        ),
        pk AS (
          SELECT source, dup_key, count(*) AS n FROM k GROUP BY source, dup_key
        ),
        agg AS (
          SELECT source, sum(n)::BIGINT AS n_docs, count(*)::BIGINT AS n_unique
          FROM pk GROUP BY source
        )
        SELECT source, n_docs, n_unique,
               (n_docs - n_unique) * 1000000 // n_docs AS dup_ppm
        FROM agg
        ORDER BY source
    """


# ---------------------------------------------------------------------------
# Sketch-quality evaluation: LSH banding recall vs brute-force truth
# ---------------------------------------------------------------------------


def sketch_eval(
    docs: DataFrame,
    n_sample: int = 150,
    ngram: int = 3,
    threshold_ppm: int = 100_000,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Measured quality of the MinHash-LSH dedup path on a deterministic
    sample: brute-force exact-Jaccard ground truth (all pairs of the
    first ``n_sample`` docs) vs the pairs the production
    ``minhash_lsh_pairs`` surfaces at the same threshold. Because the
    production path exact-verifies its candidates, precision is 1 by
    construction and the number that matters is **banding recall** —
    the fraction of true pairs whose signatures collide in at least one
    band. This is the monitoring query a 100-TB dedup pipeline runs on
    a sampled slice per corpus drop to catch a drifting shingle
    distribution before it silently under-dedups; the O(sample^2) truth
    join is confined to the sample by construction.

    Output: ONE row (n_truth, n_candidates, n_hit, recall_ppm,
    precision_ppm) — all-integer (jaccard compared as inter*1e6 DIV
    union on both engines).
    """
    sample = docs.filter(F.col("doc_id") < n_sample)
    sh = (
        sample.select(
            "doc_id", shingles_col(tokens_col("text"), ngram).alias("sh")
        )
        .filter(F.size("sh") > 0)
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("inter", inter)
        .withColumn(
            "jac_ppm",
            F.expr("inter * 1000000 DIV (size(sh_a) + size(sh_b) - inter)"),
        )
        .filter(F.col("jac_ppm") >= threshold_ppm)
        .select("doc_a", "doc_b")
    )
    cand = minhash_lsh_pairs(
        sample, ngram=ngram, perms=perms, bands=bands,
        threshold=threshold_ppm / 1_000_000,
    ).select("doc_a", "doc_b")
    hit = truth.join(cand, ["doc_a", "doc_b"])
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return counts.select(
        F.col("n_truth").cast("long").alias("n_truth"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.expr("n_hit * 1000000 DIV nullif(n_truth, 0)").alias("recall_ppm"),
        F.expr("n_hit * 1000000 DIV nullif(n_candidates, 0)").alias("precision_ppm"),
    )


def sketch_eval_sql(
    table: str = "documents",
    n_sample: int = 150,
    ngram: int = 3,
    threshold_ppm: int = 100_000,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
) -> str:
    sample = f"(SELECT * FROM {table} WHERE doc_id < {n_sample})"
    lsh = minhash_lsh_pairs_sql(
        sample, ngram=ngram, perms=perms, bands=bands,
        threshold=threshold_ppm / 1_000_000,
    )
    return f"""
        WITH sh AS (
          SELECT doc_id, {shingles_sql('toks', ngram)} AS sh
          FROM (SELECT doc_id, {tokens_sql('text')} AS toks
                FROM {table} WHERE doc_id < {n_sample})
        ),
        sh_ne AS (SELECT * FROM sh WHERE len(sh) > 0),
        truth AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM sh_ne a JOIN sh_ne b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.sh, b.sh)) * 1000000
                // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                >= {threshold_ppm}
        ),
        cand AS (SELECT doc_a, doc_b FROM ({lsh})),
        hit AS (SELECT * FROM truth INTERSECT SELECT * FROM cand),
        n AS (
          SELECT (SELECT count(*) FROM truth)::BIGINT AS n_truth,
                 (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
                 (SELECT count(*) FROM hit)::BIGINT AS n_hit
        )
        SELECT n_truth, n_candidates, n_hit,
               n_hit * 1000000 // nullif(n_truth, 0) AS recall_ppm,
               n_hit * 1000000 // nullif(n_candidates, 0) AS precision_ppm
        FROM n
    """


def keep_best(
    clusters: DataFrame, quality: DataFrame, quality_col: str = "quality"
) -> DataFrame:
    """Quality-aware near-dup survivor selection — the keep policy real
    corpus pipelines use instead of keep-first: within each dup cluster
    the member with the highest quality survives (lowest doc_id breaks
    ties), so dedup stops deleting the best copy of a page just because
    a worse mirror was discovered earlier.

    ``clusters``: (doc_id, cluster) from ``dup_clusters``;
    ``quality``:  (doc_id, <quality_col>) — any integer quality signal
    (chars, Gopher score, LM tier).

    Returns one row per cluster: (cluster, n_docs, keep_doc_id,
    best_quality). Plan: one join keyed on doc_id + one hash-agg on the
    cluster label (max_by rides the same agg — no window over all
    members), both map-side combinable; at 10^10 docs this is two
    shuffles total, and only cluster-cardinality rows come out.
    """
    q = F.col(quality_col)
    joined = clusters.join(quality.select("doc_id", quality_col), "doc_id")
    return joined.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.max_by("doc_id", F.struct(q.alias("q"), (-F.col("doc_id")).alias("tie")))
        .alias("keep_doc_id"),
        F.max(q).cast("long").alias("best_quality"),
    )


def keep_best_sql(clusters_with_chain: str, quality_rel: str, quality_col: str) -> str:
    """DuckDB twin: ``clusters_with_chain`` is a complete WITH chain
    (including the WITH keyword) ending in cl(doc_id, cluster);
    ``quality_rel`` exposes (doc_id, quality_col)."""
    return f"""
        {clusters_with_chain},
        j AS (
          SELECT cl.doc_id, cl.cluster, q.{quality_col} AS q
          FROM cl JOIN {quality_rel} q USING (doc_id)
        ),
        r AS (
          SELECT cluster, doc_id, q,
                 row_number() OVER (PARTITION BY cluster ORDER BY q DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cluster)::BIGINT AS n_docs,
                 max(q) OVER (PARTITION BY cluster)::BIGINT AS best_quality
          FROM j
        )
        SELECT cluster, n_docs, doc_id AS keep_doc_id, best_quality
        FROM r WHERE rn = 1
        ORDER BY cluster
    """
