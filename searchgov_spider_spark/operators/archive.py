"""Web-archive indexing operators: SURT keys, CDX capture index, and
conditional-fetch (revalidation) planning.

The reference crawler re-visits its seed domains on a schedule
(search_gov_crawler/scrapy_scheduler.py) and pushes every fetched page
downstream unconditionally; at 10^10-URL scale a recrawl wave must
instead (a) key its capture history in a form that clusters a host's
URLs together on disk and (b) skip or revalidate unchanged content.
Both are standard web-archive practice (Wayback/Common Crawl CDX
indexes keyed by SURT; HTTP conditional requests via
ETag/Last-Modified), re-expressed here as declarative Spark plans:

- ``surt_key_col``: pure-codegen SURT (Sort-friendly URI Reordering
  Transform) of a URL — reversed host labels joined by commas +
  ``)`` + path?query. Sorting/partitioning captures by SURT range
  gives host- and domain-locality for free (all of ``*.example.gov``
  is contiguous), which is what makes per-host incremental diffs and
  range-pruned lookups cheap at archive scale.
- ``cdx_index``: the capture index itself — one row per fetch with
  SURT, timestamp, status, mime, digest, length, plus ``is_revisit``
  (same digest as the previous capture of the same SURT), the CDX
  "revisit record" analog. One window over (surt) — shuffle keyed on
  the SURT, which is exactly the layout the index is stored in.
- ``conditional_fetch_plan``: per-domain recrawl savings planner —
  join wave candidates to the previous capture's validators
  (ETag / Last-Modified) and digest, classify each URL full-fetch vs
  revalidate vs expected-304, and roll up the bandwidth the
  conditional requests save. One left join (candidates ⋈ prior
  captures, both hash-partitioned on url) + one hash agg on domain.

Scale shape: every operator is a projection, a single keyed window, or
join+agg on explicit keys; no UDFs, no driver-side state. At 100 TB the
CDX build is a sort-on-write (partitionBy SURT prefix / sortWithinPartitions)
and the revalidation join co-partitions with the frontier's url-hash layout.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# default ports stripped by SURT canonicalization
_SCHEME_RE = "^[a-z][a-z0-9+.-]*://"
_USERINFO_RE = "^[^/?#@]*@"
_WWW_RE = "^www[0-9]*\\."


def surt_key_col(url: Column | str) -> Column:
    """SURT key of a URL as a pure-codegen column (no UDF).

    Spec (mirrored exactly by :func:`surt_key_sql`):
      1. lowercase, trim;
      2. strip ``scheme://`` and ``userinfo@``;
      3. strip ``#fragment``;
      4. an empty path before ``?query`` becomes ``/`` (``h?q`` → ``h/?q``);
      5. split host[:port] from path?query at the first ``/``
         (no slash → path ``/``);
      6. split the port off the host; drop default ports ``:80``/``:443``;
         strip a leading ``www<digits>.`` label;
      7. key = reverse(host labels) joined by ``,`` + non-default port
         + ``)`` + path?query.

    ``https://WWW2.Sub.Example.GOV:443/A/b?x=1#f`` →
    ``gov,example,sub)/a/b?x=1``;
    ``https://svc.example.gov:8080/x`` → ``gov,example,svc:8080)/x``.
    """
    u = F.lower(F.trim(F.col(url) if isinstance(url, str) else url))
    nos = F.regexp_replace(u, _SCHEME_RE, "")
    nos = F.regexp_replace(nos, _USERINFO_RE, "")
    nos = F.regexp_replace(nos, "#.*$", "")
    # host?q -> host/?q so the single '/' split below is total
    nos = F.regexp_replace(nos, "^([^/?]*)\\?", "$1/?")
    slash = F.locate("/", nos)
    hostport = F.when(slash > 0, F.substring(nos, F.lit(1), slash - 1)).otherwise(nos)
    pathq = F.when(slash > 0, F.substr(nos, slash)).otherwise(F.lit("/"))
    port = F.regexp_extract(hostport, ":[0-9]+$", 0)
    port = F.when(port.isin(":80", ":443"), F.lit("")).otherwise(port)
    host = F.regexp_replace(hostport, ":[0-9]+$", "")
    host = F.regexp_replace(host, _WWW_RE, "")
    return F.concat(
        F.array_join(F.reverse(F.split(host, "\\.")), ","), port, F.lit(")"), pathq
    )


def surt_nos_sql(url_expr: str) -> str:
    """DuckDB fragment for the normalized scheme-less form (``nos``) —
    steps 1-4 of the :func:`surt_key_col` spec. Kept separate so oracle
    CTEs can compute it once per row and feed :func:`surt_key_sql`."""
    u = f"lower(trim({url_expr}))"
    nos = f"regexp_replace({u}, '{_SCHEME_RE}', '')"
    nos = f"regexp_replace({nos}, '{_USERINFO_RE}', '')"
    nos = f"regexp_replace({nos}, '#.*$', '')"
    return f"regexp_replace({nos}, '^([^/?]*)\\?', '\\1/?')"


def surt_key_sql(nos_expr: str) -> str:
    """DuckDB fragment computing the SURT key from an already-normalized
    ``nos`` expression (see :func:`surt_nos_sql`; RE2 backref syntax
    ``\\1`` vs Java's ``$1`` is the only engine divergence)."""
    hostport = (
        f"CASE WHEN strpos({nos_expr}, '/') > 0 "
        f"THEN substr({nos_expr}, 1, strpos({nos_expr}, '/') - 1) "
        f"ELSE {nos_expr} END"
    )
    port = (
        f"CASE WHEN regexp_extract({hostport}, ':[0-9]+$') IN (':80', ':443') "
        f"THEN '' ELSE regexp_extract({hostport}, ':[0-9]+$') END"
    )
    host = (
        f"regexp_replace(regexp_replace({hostport}, ':[0-9]+$', ''), "
        f"'{_WWW_RE}', '')"
    )
    pathq = (
        f"CASE WHEN strpos({nos_expr}, '/') > 0 "
        f"THEN substr({nos_expr}, strpos({nos_expr}, '/')) ELSE '/' END"
    )
    return (
        f"(array_to_string(list_reverse(string_split({host}, '.')), ',')"
        f" || {port} || ')' || {pathq})"
    )


def cdx_index(fetch_log: DataFrame) -> DataFrame:
    """CDX-style capture index from a fetch log.

    Input: ``(url, fetch_ts:long, http_status:long, mime:string,
    digest:string, n_bytes:long)``. Output one row per capture, keyed
    and ordered by ``(surt, fetch_ts, url)``:
    ``(surt, fetch_ts, url, http_status, mime, digest, n_bytes,
    is_revisit)`` where ``is_revisit`` marks a capture whose digest
    equals the previous capture of the same SURT (the CDX revisit
    record). One shuffle, keyed on the SURT — the storage sort order.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("surt").orderBy("fetch_ts", "url")
    return (
        fetch_log.withColumn("surt", surt_key_col("url"))
        .withColumn(
            "is_revisit",
            F.coalesce(F.lag("digest").over(w) == F.col("digest"), F.lit(False)),
        )
        .select(
            "surt", "fetch_ts", "url", "http_status", "mime", "digest",
            "n_bytes", "is_revisit",
        )
    )


def cdx_index_sql(fetch_log_cte: str) -> str:
    """DuckDB oracle twin over a CTE named ``fl`` with the same input
    columns."""
    return f"""
        WITH {fetch_log_cte},
        normed AS (
          SELECT {surt_nos_sql("url")} AS nos, fetch_ts, url, http_status,
                 mime, digest, n_bytes
          FROM fl
        ),
        keyed AS (
          SELECT {surt_key_sql("nos")} AS surt, fetch_ts, url, http_status,
                 mime, digest, n_bytes
          FROM normed
        )
        SELECT surt, fetch_ts, url, http_status, mime, digest, n_bytes,
               coalesce(
                 lag(digest) OVER (PARTITION BY surt ORDER BY fetch_ts, url)
                   = digest,
                 false) AS is_revisit
        FROM keyed
        ORDER BY surt, fetch_ts, url
    """


def conditional_fetch_plan(
    candidates: DataFrame,
    prior: DataFrame,
) -> DataFrame:
    """Per-domain conditional-fetch (revalidation) savings plan.

    ``candidates``: this wave's recrawl set ``(url, domain,
    cur_digest)`` where ``cur_digest`` is the content digest the fetch
    WOULD produce (in tests a deterministic synthetic; in production
    this column is unknown and the ``n_not_modified``/``bytes_saved``
    outputs become post-wave accounting instead of a forecast).
    ``prior``: previous capture metadata ``(url, etag, last_modified,
    digest, n_bytes)`` with NULL validators where the origin sent none.

    Classification (branching on the retained ``p_url`` join column in
    BOTH engines — never on a nullable payload column):
      - ``full``: never captured, or captured with no validators —
        unconditional GET;
      - ``revalidate``: has ETag and/or Last-Modified — conditional GET;
        of these, ``n_not_modified`` counts URLs whose digest is
        unchanged (the expected 304s) and ``bytes_saved`` sums their
        prior body sizes — the bandwidth the conditional request avoids.

    One left join on url + one hash agg on domain; both sides hash-
    partition on url, co-located with the frontier layout at scale.

    ``prior`` must carry at most ONE row per url (the latest capture's
    validators) — a multi-capture CDX-style history would fan out the
    left join and inflate every count. When ``prior`` has a
    ``fetch_ts`` column the reduction to the latest capture is applied
    here (row_number per url, newest first, digest tie-break);
    otherwise the one-row-per-url shape is the caller's contract.
    """
    if "fetch_ts" in prior.columns:
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy(
            F.col("fetch_ts").desc(), F.col("digest").desc()
        )
        prior = (
            prior.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    p = prior.select(
        F.col("url").alias("p_url"),
        "etag", "last_modified",
        F.col("digest").alias("p_digest"),
        F.col("n_bytes").alias("p_bytes"),
    )
    j = candidates.join(p, candidates["url"] == p["p_url"], "left")
    reval = F.col("p_url").isNotNull() & (
        F.col("etag").isNotNull() | F.col("last_modified").isNotNull()
    )
    not_mod = reval & (F.col("p_digest") == F.col("cur_digest"))
    return (
        j.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum((~reval).cast("long")).alias("n_full"),
            F.sum(reval.cast("long")).alias("n_revalidate"),
            F.sum(not_mod.cast("long")).alias("n_not_modified"),
            F.sum(F.when(not_mod, F.col("p_bytes")).otherwise(F.lit(0))).cast("long").alias("bytes_saved"),
        )
    )


def conditional_fetch_plan_sql(candidates_cte: str, prior_cte: str) -> str:
    """DuckDB oracle twin over CTEs named ``cand`` and ``prior``."""
    return f"""
        WITH {candidates_cte},
        {prior_cte},
        j AS (
          SELECT cand.url, cand.domain, cand.cur_digest,
                 prior.url AS p_url, prior.etag, prior.last_modified,
                 prior.digest AS p_digest, prior.n_bytes AS p_bytes
          FROM cand LEFT JOIN prior ON cand.url = prior.url
        ), cls AS (
          SELECT domain,
                 (p_url IS NOT NULL AND
                  (etag IS NOT NULL OR last_modified IS NOT NULL)) AS reval,
                 (p_url IS NOT NULL AND
                  (etag IS NOT NULL OR last_modified IS NOT NULL) AND
                  p_digest = cur_digest) AS not_mod,
                 p_bytes
          FROM j
        )
        SELECT domain,
               count(*)::BIGINT AS n_candidates,
               sum(CASE WHEN NOT reval THEN 1 ELSE 0 END)::BIGINT AS n_full,
               sum(CASE WHEN reval THEN 1 ELSE 0 END)::BIGINT AS n_revalidate,
               sum(CASE WHEN not_mod THEN 1 ELSE 0 END)::BIGINT AS n_not_modified,
               sum(CASE WHEN not_mod THEN p_bytes ELSE 0 END)::BIGINT AS bytes_saved
        FROM cls
        GROUP BY domain
        ORDER BY domain
    """


# ---------------------------------------------------------------------------
# WARC-style record serialization + archive placement
# ---------------------------------------------------------------------------

_WARC_CRLF = "\r\n"


def warc_records(fetch_log: DataFrame, n_files: int = 16) -> DataFrame:
    """Byte-stable WARC-style record serialization + archive placement.

    Closes the archive loop that :func:`cdx_index` opened: the CDX rows
    index captures, this operator produces the records those rows point
    at — each capture rendered as one deterministic WARC-style record
    string, assigned to an archive file, and given the exact byte
    ``(offset, length)`` where it lands inside that file. The analog of
    the reference's batched ES record upload
    (search_gov_crawler/elasticsearch/es_batch_upload.py:25-134), recast
    as a sort-on-write archive layout.

    Input: the :func:`cdx_index` fetch-log columns ``(url, fetch_ts,
    http_status, mime, digest)`` plus a ``body`` string payload.
    Output, one row per capture::

        (warc_file, offset, length, surt, fetch_ts, url, digest, record)

    Serialization (fixed header order, CRLF separators, byte lengths —
    mirrored exactly by :func:`warc_records_sql`)::

        WARC/1.0\\r\\n
        WARC-Type: response\\r\\n
        WARC-Target-URI: <url>\\r\\n
        WARC-Date: <fetch_ts>\\r\\n
        WARC-Payload-Digest: <digest>\\r\\n
        Content-Type: <mime>\\r\\n
        Content-Length: <octet_length(body)>\\r\\n
        \\r\\n
        <body>\\r\\n\\r\\n

    Placement: ``warc_file = shard-<portable_hash32(surt) % n_files>
    .warc`` keeps every capture of a SURT in one file (host locality,
    like the CDX sort order); within a file records are laid out in
    ``(surt, fetch_ts, url)`` order and ``offset`` is the running byte
    sum of the preceding records (one keyed window — the same shuffle
    key the file is physically written in, so the sink's
    sortWithinPartitions reuses this exchange).

    Scale shape: pure codegen (concat/length) + one window per file
    key; no UDFs, no driver state. ``n_files`` is the archive fan-out —
    at 100 TB you size it so each .warc lands near the 1 GB archive
    convention.
    """
    from pyspark.sql import Window

    from ..functions.hashing import portable_hash32_col

    body = F.col("body")
    record = F.concat(
        F.lit("WARC/1.0" + _WARC_CRLF),
        F.lit("WARC-Type: response" + _WARC_CRLF),
        F.lit("WARC-Target-URI: "), F.col("url"), F.lit(_WARC_CRLF),
        F.lit("WARC-Date: "), F.col("fetch_ts").cast("string"), F.lit(_WARC_CRLF),
        F.lit("WARC-Payload-Digest: "), F.col("digest"), F.lit(_WARC_CRLF),
        F.lit("Content-Type: "), F.col("mime"), F.lit(_WARC_CRLF),
        F.lit("Content-Length: "), F.octet_length(body).cast("string"),
        F.lit(_WARC_CRLF + _WARC_CRLF),
        body,
        F.lit(_WARC_CRLF + _WARC_CRLF),
    )
    keyed = (
        fetch_log.withColumn("surt", surt_key_col("url"))
        .withColumn(
            "warc_file",
            F.concat(
                F.lit("shard-"),
                F.lpad((portable_hash32_col("surt") % n_files).cast("string"), 5, "0"),
                F.lit(".warc"),
            ),
        )
        .withColumn("record", record)
        .withColumn("length", F.octet_length("record").cast("long"))
    )
    w = (
        Window.partitionBy("warc_file")
        .orderBy("surt", "fetch_ts", "url")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return keyed.select(
        "warc_file",
        F.coalesce(F.sum("length").over(w), F.lit(0)).cast("long").alias("offset"),
        "length", "surt", "fetch_ts", "url", "digest", "record",
    )


def warc_records_sql(fetch_log_cte: str, n_files: int = 16) -> str:
    """DuckDB oracle twin over a CTE named ``fl`` carrying the fetch-log
    columns and the ``body`` payload. ``strlen`` is DuckDB's VARCHAR byte length (octet_length is
    BLOB-only); ``chr(13)||chr(10)`` renders CRLF without escape-syntax
    divergence."""
    from ..functions.hashing import portable_hash32_sql

    crlf = "(chr(13) || chr(10))"
    record = (
        f"('WARC/1.0' || {crlf} || 'WARC-Type: response' || {crlf} || "
        f"'WARC-Target-URI: ' || url || {crlf} || "
        f"'WARC-Date: ' || fetch_ts::VARCHAR || {crlf} || "
        f"'WARC-Payload-Digest: ' || digest || {crlf} || "
        f"'Content-Type: ' || mime || {crlf} || "
        f"'Content-Length: ' || strlen(body)::VARCHAR || {crlf} || {crlf} || "
        f"body || {crlf} || {crlf})"
    )
    return f"""
        WITH {fetch_log_cte},
        normed AS (
          SELECT *, {surt_nos_sql("url")} AS nos FROM fl
        ),
        keyed AS (
          SELECT url, fetch_ts, mime, digest,
                 {surt_key_sql("nos")} AS surt,
                 {record} AS record
          FROM normed
        ),
        placed AS (
          SELECT 'shard-' || lpad(({portable_hash32_sql("surt")} % {n_files})::VARCHAR, 5, '0') || '.warc' AS warc_file,
                 surt, fetch_ts, url, digest, record,
                 strlen(record)::BIGINT AS length
          FROM keyed
        )
        SELECT warc_file,
               coalesce(sum(length) OVER (
                 PARTITION BY warc_file ORDER BY surt, fetch_ts, url
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0)::BIGINT AS "offset",
               length, surt, fetch_ts, url, digest, record
        FROM placed
        ORDER BY warc_file, "offset"
    """


@contextlib.contextmanager
def _attempt_files(out_dir: str):
    """Commit protocol for one task attempt's shard files. The block gets
    an ``open_shard(name)`` that opens a temp path unique to this attempt;
    when the block completes, each file is renamed onto its final name
    with ``os.replace`` (atomic on POSIX). An attempt that fails or is
    killed mid-partition removes its temps, so a retried, duplicate or
    speculative attempt never leaves a torn shard behind: the final name
    always holds one complete copy, or nothing."""
    import os
    import uuid

    attempt = uuid.uuid4().hex
    pending: list[tuple[str, str]] = []

    def open_shard(name: str):
        tmp = os.path.join(out_dir, f".{name}.{attempt}.tmp")
        pending.append((tmp, os.path.join(out_dir, name)))
        return open(tmp, "wb")

    try:
        yield open_shard
    except BaseException:
        for tmp, _ in pending:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        raise
    for tmp, final in pending:
        os.replace(tmp, final)


def write_warc_files(records: DataFrame, out_dir: str) -> None:
    """Physically write :func:`warc_records` output as .warc files whose
    byte layout matches the manifest exactly: seek(offset) + read
    (length) of any manifest row yields that row's serialized record.

    Distributed shape: one hash exchange on ``warc_file`` (reused from
    the operator's window), records sorted inside each partition, then
    a per-partition streaming writer that appends each file's records
    in manifest order — no driver collect, O(1) memory per task. Each
    task attempt writes its files under temp names and renames them when
    its partition is complete (:func:`_attempt_files`). The sandbox writer
    targets a POSIX path; on a cluster the same pattern writes through
    the Hadoop FileSystem API.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    placed = records.select("warc_file", "offset", "record").repartition(
        "warc_file"
    ).sortWithinPartitions("warc_file", "offset")

    def _write(rows):
        with _attempt_files(out_dir) as open_shard:
            cur_name, handle = None, None
            try:
                for r in rows:
                    if r["warc_file"] != cur_name:
                        if handle is not None:
                            handle.close()
                        cur_name = r["warc_file"]
                        handle = open_shard(cur_name)
                    handle.write(r["record"].encode("UTF-8"))
            finally:
                if handle is not None:
                    handle.close()

    placed.foreachPartition(_write)


def write_warc_gz_files(records: DataFrame, out_dir: str) -> DataFrame:
    """Write :func:`warc_records` output as per-record-gzipped .warc.gz
    files (the Common Crawl / Wayback member layout) and return the
    write-time manifest.

    Unlike the plain writer, compressed offsets CANNOT be precomputed
    declaratively — each record's member size depends on its bytes — so
    the manifest is produced BY the writer: records hash-partition on
    ``warc_file`` (every file wholly inside one task), sort by the
    archive order, and a mapInPandas pass gzip-compresses each record as
    an independent member (``mtime=0`` ⇒ deterministic bytes), appends
    it, and emits ``(warc_file, offset, length, surt, fetch_ts, url,
    digest)`` with the member's compressed placement. Standard gzip
    semantics make the whole file a valid stream (members concatenate)
    while any single record is readable via seek(offset)+read(length) —
    exactly how CDX consumers fetch one capture from a 1 GB archive.

    Files are committed per task attempt, as in :func:`write_warc_files`.

    Scale shape: one exchange (reusing the operator's warc_file key),
    O(1) writer memory per task, manifest rows stream back as the
    output DataFrame — no driver collect. POSIX paths in the sandbox;
    the same pattern writes through Hadoop FileSystem on a cluster.
    No SQL oracle is possible (member sizes are zlib-dependent); the
    byte-level round-trip is pinned by
    tests/test_archive.py:test_warc_gz_members_roundtrip.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    placed = (
        records.select("warc_file", "offset", "surt", "fetch_ts", "url", "digest", "record")
        .withColumnRenamed("offset", "plain_offset")
        .repartition("warc_file")
        .sortWithinPartitions("warc_file", "plain_offset")
    )
    out_schema = (
        "warc_file string, offset long, length long, surt string,"
        " fetch_ts long, url string, digest string"
    )

    def _write(batches):
        import gzip

        import pandas as pd

        with _attempt_files(out_dir) as open_shard:
            cur_name, handle, pos = None, None, 0
            try:
                for pdf in batches:
                    rows = []
                    for r in pdf.itertuples(index=False):
                        if r.warc_file != cur_name:
                            if handle is not None:
                                handle.close()
                            cur_name = r.warc_file
                            handle = open_shard(cur_name + ".gz")
                            pos = 0
                        member = gzip.compress(r.record.encode("UTF-8"), mtime=0)
                        handle.write(member)
                        rows.append(
                            (cur_name, pos, len(member), r.surt, r.fetch_ts, r.url, r.digest)
                        )
                        pos += len(member)
                    yield pd.DataFrame(
                        rows,
                        columns=[
                            "warc_file", "offset", "length", "surt",
                            "fetch_ts", "url", "digest",
                        ],
                    )
            finally:
                if handle is not None:
                    handle.close()

    return placed.mapInPandas(_write, out_schema)
