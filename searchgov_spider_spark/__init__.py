"""searchgov_spider_spark — a PySpark-native crawl analytics engine.

A from-scratch rebuild of the capabilities of gsa-tts-archived/searchgov-spider
(reference snapshot at /root/reference, read-only) expressed as Spark DataFrame
operations and vectorized pandas/Arrow UDFs:

- URL frontier + fetch scheduler as a batch-iterative BFS wave loop
  (``plans.crawl.CrawlEngine``), with per-wave parquet/Iceberg checkpoints.
- URL-seen dedup as an exact ``left_anti`` join on ``(url_hash, canon_url)``,
  behind a broadcast bloom pre-filter once the seen set passes
  ``plans.crawl.BLOOM_OVER_ROWS`` rows (``operators.dedup``).
- Per-domain politeness budgets / priority ordering as salted window
  top-k (``operators.politeness``).
- robots.txt rule evaluation as broadcast join + vectorized longest-prefix
  match (``operators.robots``).
- Link + interleaved text/media span extraction preserving exact
  (kind, text, media_ref, order) span sequences (``operators.extraction``).
- Training-data pipeline ops: exact & near dedup (MinHash-LSH, SimHash,
  n-gram Jaccard, embedding cosine), similarity search, text analysis,
  multimodal plumbing (``operators.near_dup`` etc).

Everything here derives only from public knowledge: the Apache Spark /
PySpark API and the reference repo's observable behavior.
"""

__version__ = "0.1.0"
