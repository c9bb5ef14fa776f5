"""Web-archive operators: SURT keys, CDX index, conditional-fetch plan,
wave ETA, temperature mixture, HLL registers."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.operators.archive import (
    cdx_index,
    conditional_fetch_plan,
    surt_key_col,
)
from searchgov_spider_spark.operators.politeness import wave_eta
from searchgov_spider_spark.pipelines.profiling import hll_registers
from searchgov_spider_spark.pipelines.sampling import mixture_temperature


def test_surt_key_golden(spark):
    cases = {
        "https://WWW2.Sub.Example.GOV:443/A/b?x=1#f": "gov,example,sub)/a/b?x=1",
        "http://example.gov": "gov,example)/",
        "HTTPS://User:pw@Www.agency.GOV:80/path/": "gov,agency)/path/",
        "example.gov?q=2": "gov,example)/?q=2",
        "https://svc.example.gov:8080/Y?b=2&a=1": "gov,example,svc:8080)/y?b=2&a=1",
        "https://a.b.c.d.gov/x#frag": "gov,d,c,b,a)/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    got = {r["url"]: r["surt"] for r in df.select("url", surt_key_col("url").alias("surt")).collect()}
    assert got == cases


def test_cdx_index_revisit(spark):
    # three captures of one surt (two spellings), digest unchanged on the
    # 2nd capture (revisit), changed on the 3rd; a second surt with one capture
    rows = [
        ("https://a.gov/x", 1, 200, "text/html", "d1", 10),
        ("HTTPS://WWW.A.GOV/x", 2, 200, "text/html", "d1", 10),
        ("https://a.gov/x", 3, 200, "text/html", "d2", 12),
        ("https://b.gov/y", 1, 404, "text/html", "d9", 5),
    ]
    log = spark.createDataFrame(
        rows, "url string, fetch_ts long, http_status long, mime string, digest string, n_bytes long"
    )
    out = {(r["surt"], r["fetch_ts"]): r["is_revisit"] for r in cdx_index(log).collect()}
    assert out[("gov,a)/x", 1)] is False
    assert out[("gov,a)/x", 2)] is True  # www spelling collapses to same surt
    assert out[("gov,a)/x", 3)] is False  # digest changed
    assert out[("gov,b)/y", 1)] is False


def test_conditional_fetch_plan(spark):
    cand = spark.createDataFrame(
        [
            ("u1", "d.gov", "c1"),  # prior with etag, digest unchanged -> 304
            ("u2", "d.gov", "c2"),  # prior with lm, digest changed -> revalidate, no 304
            ("u3", "d.gov", "c3"),  # prior without validators -> full
            ("u4", "d.gov", "c4"),  # no prior -> full
        ],
        "url string, domain string, cur_digest string",
    )
    prior = spark.createDataFrame(
        [
            ("u1", "e1", None, "c1", 100),
            ("u2", None, "lm2", "x", 50),
            ("u3", None, None, "c3", 7),
        ],
        "url string, etag string, last_modified string, digest string, n_bytes long",
    )
    [r] = conditional_fetch_plan(cand, prior).collect()
    assert (r["n_candidates"], r["n_full"], r["n_revalidate"]) == (4, 2, 2)
    assert (r["n_not_modified"], r["bytes_saved"]) == (1, 100)


def test_conditional_fetch_plan_multi_capture_prior(spark):
    """A CDX-style prior history (several captures per url) must NOT fan
    out the left join: when prior carries fetch_ts, the operator reduces
    it to the latest capture per url before joining."""
    cand = spark.createDataFrame(
        [("u1", "d.gov", "c-new")],
        "url string, domain string, cur_digest string",
    )
    prior = spark.createDataFrame(
        [
            # three captures of u1; only the newest (ts=30, digest c-new,
            # 300 bytes) may count — a fan-out would give n_candidates=3
            ("u1", "e1", None, "c-old", 100, 10),
            ("u1", "e1", None, "c-mid", 200, 20),
            ("u1", "e1", None, "c-new", 300, 30),
        ],
        "url string, etag string, last_modified string, digest string,"
        " n_bytes long, fetch_ts long",
    )
    [r] = conditional_fetch_plan(cand, prior).collect()
    assert r["n_candidates"] == 1
    assert (r["n_revalidate"], r["n_not_modified"]) == (1, 1)
    assert r["bytes_saved"] == 300


def test_wave_eta_floors(spark):
    # single hot domain: politeness floor dominates; many cold domains on
    # another worker: capacity floor dominates
    rows = [("hot.gov",)] * 100 + [(f"c{i}.gov",) for i in range(50) for _ in range(4)]
    sched = spark.createDataFrame(rows, "domain string")
    out = wave_eta(sched, n_workers=1, delay_s=1, rps_cap=10).collect()
    [r] = out
    assert r["n_urls"] == 300
    assert r["politeness_floor_s"] == 100  # hot.gov: 100 urls x 1s
    assert r["capacity_floor_s"] == 30  # 300 urls / 10 rps
    assert r["eta_s"] == 100


def test_wave_eta_per_domain_delay(spark):
    """delay_col threads the robots crawl-delay through the politeness
    floor: a 0.5 s domain needs half the global-1s forecast, a 2.5 s
    domain 2.5x, NULL falls back to the global default — all in integer
    milliseconds with ceil-to-seconds at the end."""
    rows = (
        [("fast.gov", 0.5)] * 100   # 100 * 500ms = 50 s
        + [("slow.gov", 2.5)] * 30  # 30 * 2500ms = 75 s  <- hottest
        + [("dflt.gov", None)] * 60  # 60 * 1000ms = 60 s
    )
    sched = spark.createDataFrame(rows, "domain string, crawl_delay double")
    [r] = wave_eta(
        sched, n_workers=1, delay_s=1, rps_cap=1000, delay_col="crawl_delay"
    ).collect()
    assert r["n_urls"] == 190
    assert r["politeness_floor_s"] == 75
    assert r["eta_s"] == 75
    # without the delay column the forecast overstates the same wave:
    # hottest by count (fast.gov, 100 urls) x global 1 s = 100 s
    [r0] = wave_eta(sched, n_workers=1, delay_s=1, rps_cap=1000).collect()
    assert r0["politeness_floor_s"] == 100


def test_mixture_temperature_shares(spark):
    docs = spark.createDataFrame(
        [(i, "x" * (1600 if i % 3 == 0 else 100), "s%d" % (i % 3)) for i in range(30)],
        "doc_id long, text string, source string",
    ).withColumn("lang", F.lit("en")).withColumn("n_chars", F.length("text"))
    out = {r["source"]: r for r in mixture_temperature(docs).collect()}
    assert set(out) == {"s0", "s1", "s2"}
    total_share = sum(r["share_ppm"] for r in out.values())
    assert 999_000 <= total_share <= 1_000_000  # floor-div rounds down only
    # s0 holds the 1000-char docs -> more bytes -> larger share, but sqrt
    # compresses: share ratio must be far below the byte ratio
    byte_ratio = out["s0"]["n_bytes"] / out["s1"]["n_bytes"]
    share_ratio = out["s0"]["share_ppm"] / out["s1"]["share_ppm"]
    assert 1 < share_ratio < byte_ratio


def test_hll_registers_match_python(spark):
    n = 500
    df = spark.createDataFrame([(i % 137,) for i in range(n)], "user_id long")
    got = {r["bucket"]: (r["max_rho"], r["n_hashes"], r["n_exact"]) for r in hll_registers(df, "user_id").collect()}
    # pure-Python reference
    exp: dict[int, list] = {}
    seen_keys: dict[int, set] = {}
    for i in range(n):
        k = i % 137
        h = int(hashlib.md5(f"hll|{k}".encode()).hexdigest()[:8], 16)
        bucket, w = h % 64, h // 64
        rho = 27 if w == 0 else 26 - w.bit_length() + 1
        cur = exp.setdefault(bucket, [0, 0])
        cur[0] = max(cur[0], rho)
        cur[1] += 1
        seen_keys.setdefault(bucket, set()).add(k)
    assert got == {b: (v[0], v[1], len(seen_keys[b])) for b, v in exp.items()}


def test_quantile_sketch_error_bound(spark):
    """Histogram estimate must be within one bucket width below the
    exact nearest-rank percentile (the estimate is the bucket's lower
    bound, so it never overshoots)."""
    import numpy as np

    from searchgov_spider_spark.pipelines.profiling import quantile_sketch

    vals = [(i * 37) % 1000 / 100.0 for i in range(1000)]
    ev = spark.createDataFrame([("t", v) for v in vals], "event_type string, value double")
    [r] = quantile_sketch(ev, n_buckets=32).collect()
    cents = np.sort(np.round(np.array(vals) * 100).astype(int))
    width = (r["max_c"] - r["min_c"] + 1) / 32
    for q, col in ((50, "p50_est_c"), (90, "p90_est_c"), (99, "p99_est_c")):
        exact = cents[int(np.ceil(q * len(cents) / 100)) - 1]
        assert r[col] <= exact < r[col] + width + 1, (q, r[col], exact)


def test_quantile_sketch_merges(spark):
    """Bucket counts are mergeable: sketching two halves and summing
    their histograms equals sketching the whole — proven here via the
    estimate of the union matching the single-pass result."""
    from searchgov_spider_spark.pipelines.profiling import quantile_sketch

    rows = [("t", float(i % 251)) for i in range(502)]
    whole = spark.createDataFrame(rows, "event_type string, value double")
    [w] = quantile_sketch(whole).collect()
    # same rows arriving as two appended partitions (different order)
    half = spark.createDataFrame(rows[1::2] + rows[0::2], "event_type string, value double")
    [h] = quantile_sketch(half).collect()
    assert w.asDict() == h.asDict()


def test_bitext_mine_finds_planted_pair(spark):
    """A planted near-identical cross-side pair must mine at rank 1 with
    the highest margin; unrelated noise vectors must not beat it."""
    import random

    from searchgov_spider_spark.pipelines.similarity import bitext_mine

    rng = random.Random(7)
    dim = 16

    def noise():
        return [rng.uniform(-1, 1) for _ in range(dim)]

    planted = [1.0] * dim
    rows = [(0, planted), (1, [v + 0.01 for v in planted])]  # ids 0 (A) / 1 (B)
    rows += [(i, noise()) for i in range(2, 40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = bitext_mine(emb, n_queries=1, k=3, margin_ppm=1_000_000).collect()
    best = min(out, key=lambda r: r["rank"])
    assert (best["query_id"], best["pair_id"], best["rank"]) == (0, 1, 1)
    assert best["margin_ppm"] > 1_000_000


def test_hll_estimate_accuracy(spark):
    """The standard HLL estimator computed FROM the register table must
    land within the expected error band (~1.04/sqrt(64) ~= 13% at m=64)
    of the true cardinality — evidence the open registers are a usable
    sketch, not just a parity artifact."""
    import math

    from searchgov_spider_spark.pipelines.profiling import hll_registers

    true_n = 5000
    df = spark.createDataFrame([(i,) for i in range(true_n)], "user_id long")
    regs = {r["bucket"]: r["max_rho"] for r in hll_registers(df, "user_id").collect()}
    m = 64
    alpha = 0.709  # alpha_64
    s = sum(2.0 ** -regs.get(b, 0) for b in range(m))
    est = alpha * m * m / s
    assert abs(est - true_n) / true_n < 0.25, est


def test_cdx_job_sort_on_write(spark, tmp_path):
    """jobs/cdx_job.py end-to-end: builds the index, writes it
    range-partitioned + sorted by (surt, fetch_ts, url), and the
    revisit stats line matches the batch operator."""
    import sys

    sys.path.insert(0, "jobs")
    import cdx_job

    log_rows = [
        (f"https://d{i % 5}.gov/p/{i % 20}", i, 200, "text/html", f"g{i % 7}", 100 + i)
        for i in range(200)
    ]
    log = spark.createDataFrame(
        log_rows,
        "url string, fetch_ts long, http_status long, mime string, digest string, n_bytes long",
    )
    src = str(tmp_path / "fl")
    out = str(tmp_path / "cdx")
    log.write.parquet(src)
    stats = cdx_job.main(["--fetch-log", src, "--out", out, "--partitions", "3"])
    assert stats["captures"] == 200
    expected_revisits = sum(
        1 for r in cdx_index(log).collect() if r["is_revisit"]
    )
    assert stats["revisits"] == expected_revisits
    # each written file is internally sorted by (surt, fetch_ts, url)
    import glob as globmod

    import pyarrow.parquet as pq

    for f in globmod.glob(out + "/part-*.parquet"):
        t = pq.read_table(f).to_pylist()
        keys = [(r["surt"], r["fetch_ts"], r["url"]) for r in t]
        assert keys == sorted(keys)


def test_cdx_job_empty_log_and_bad_partitions(spark, tmp_path):
    """Edge cases: an empty fetch log must produce a zero stats line
    (sum() aggregates to NULL) rather than crash, and --partitions 0 is
    rejected at parse time instead of silently meaning 'unset'."""
    import sys

    import pytest as _pytest

    sys.path.insert(0, "jobs")
    import cdx_job

    empty = spark.createDataFrame(
        [],
        "url string, fetch_ts long, http_status long, mime string,"
        " digest string, n_bytes long",
    )
    src = str(tmp_path / "empty_fl")
    out = str(tmp_path / "empty_cdx")
    empty.write.parquet(src)
    stats = cdx_job.main(["--fetch-log", src, "--out", out, "--partitions", "2"])
    assert int(stats["captures"] or 0) == 0
    assert int(stats["bytes"] or 0) == 0

    with _pytest.raises(SystemExit):
        cdx_job.parse_args(["--fetch-log", src, "--out", out, "--partitions", "0"])


def test_resize_plan_geometry(spark):
    """Resize-plan invariants: output fits the target box, the long side
    fills it exactly, pads reassemble the box, aspect preserved to the
    integer floor."""
    from searchgov_spider_spark.pipelines.multimodal import resize_plan

    feats = spark.createDataFrame(
        [(1, "image", 640, 480), (2, "image", 100, 2000), (3, "image", 10, 10),
         (4, "video", 999, 999)],
        "doc_id long, modality string, width long, height long",
    )
    rows = {r["doc_id"]: r for r in resize_plan(feats, target=224).collect()}
    assert 4 not in rows  # non-image rows excluded
    for r in rows.values():
        assert max(r["out_w"], r["out_h"]) == 224  # long side fills the box
        assert 1 <= r["out_w"] <= 224 and 1 <= r["out_h"] <= 224
        assert r["pad_left"] + r["out_w"] + r["pad_right"] == 224
        assert r["pad_top"] + r["out_h"] + r["pad_bottom"] == 224
    assert rows[2]["out_w"] == (100 * 224) // 2000  # extreme aspect floors, never 0... 
    assert rows[2]["out_w"] >= 1


def test_warc_records_byte_roundtrip(spark, tmp_path):
    """The archive loop closes physically: write_warc_files lays records
    out exactly as the manifest says — seek(offset)+read(length) of any
    row yields that row's serialized record, offsets are dense within
    each file, and Content-Length counts BYTES (multi-byte UTF-8 body
    included to pin octet semantics)."""
    import os

    from searchgov_spider_spark.operators.archive import warc_records, write_warc_files

    log = spark.createDataFrame(
        [
            ("https://a.gov/x", 1, 200, "text/html", "d1", "hello"),
            ("https://a.gov/x", 2, 200, "text/html", "d1", "hello again"),
            ("https://b.gov/y", 1, 404, "text/html", "d2", "café — café"),
            ("https://c.gov/z?q=1", 3, 200, "application/pdf", "d3", "%PDF-1.4 fake"),
        ],
        "url string, fetch_ts long, http_status long, mime string, digest string, body string",
    )
    recs = warc_records(log, n_files=2)
    rows = recs.collect()
    out = str(tmp_path / "warc")
    write_warc_files(recs, out)

    per_file = {}
    for r in rows:
        data = open(os.path.join(out, r["warc_file"]), "rb").read()
        chunk = data[r["offset"] : r["offset"] + r["length"]]
        assert chunk == r["record"].encode("UTF-8")
        body = r["record"].split("\r\n\r\n", 1)[1].rsplit("\r\n\r\n", 1)[0]
        clen = int(r["record"].split("Content-Length: ")[1].split("\r\n")[0])
        assert clen == len(body.encode("UTF-8"))
        per_file.setdefault(r["warc_file"], []).append((r["offset"], r["length"]))
    # dense layout: offsets tile each file exactly, no gaps or overlaps
    for name, spans in per_file.items():
        spans.sort()
        pos = 0
        for off, ln in spans:
            assert off == pos
            pos += ln
        assert pos == os.path.getsize(os.path.join(out, name))


def test_warc_gz_members_roundtrip(spark, tmp_path):
    """Compressed archive layout: every manifest row's
    seek(offset)+read(length) yields one gzip member that decompresses
    to exactly that record; members tile each .warc.gz densely; and the
    whole file is a valid multi-member gzip stream equal to the
    concatenated records."""
    import gzip
    import os

    from searchgov_spider_spark.operators.archive import warc_records, write_warc_gz_files

    log = spark.createDataFrame(
        [
            (f"https://d{i % 3}.gov/p/{i}", i, 200, "text/html", f"g{i % 4}", f"body-{i} café")
            for i in range(40)
        ],
        "url string, fetch_ts long, http_status long, mime string, digest string, body string",
    )
    recs = warc_records(log, n_files=2)
    by_key = {(r["url"], r["fetch_ts"]): r["record"] for r in recs.collect()}
    out = str(tmp_path / "warcgz")
    manifest = write_warc_gz_files(recs, out).collect()
    assert len(manifest) == 40

    per_file = {}
    for m in manifest:
        data = open(os.path.join(out, m["warc_file"] + ".gz"), "rb").read()
        member = data[m["offset"] : m["offset"] + m["length"]]
        assert gzip.decompress(member).decode("UTF-8") == by_key[(m["url"], m["fetch_ts"])]
        per_file.setdefault(m["warc_file"], []).append(m)
    for name, rows in per_file.items():
        rows.sort(key=lambda m: m["offset"])
        pos = 0
        for m in rows:
            assert m["offset"] == pos
            pos += m["length"]
        path = os.path.join(out, name + ".gz")
        assert pos == os.path.getsize(path)
        # multi-member stream: full-file decompress == records in order
        whole = gzip.decompress(open(path, "rb").read()).decode("UTF-8")
        assert whole == "".join(
            by_key[(m["url"], m["fetch_ts"])] for m in rows
        )


def test_cdx_job_warc_out(spark, tmp_path):
    """--warc-out writes the gzip archives + manifest next to the index,
    and every manifest member round-trips to a record whose
    WARC-Target-URI matches."""
    import gzip
    import os
    import sys

    sys.path.insert(0, "jobs")
    import cdx_job

    log = spark.createDataFrame(
        [
            (f"https://d{i % 3}.gov/p/{i % 9}", i, 200, "text/html", f"g{i % 4}", 50 + i, f"b{i}")
            for i in range(30)
        ],
        "url string, fetch_ts long, http_status long, mime string,"
        " digest string, n_bytes long, body string",
    )
    src = str(tmp_path / "fl")
    log.write.parquet(src)
    warc_out = str(tmp_path / "warc")
    cdx_job.main(
        [
            "--fetch-log", src, "--out", str(tmp_path / "cdx"),
            "--partitions", "2", "--warc-out", warc_out, "--warc-files", "2",
        ]
    )
    manifest = spark.read.parquet(warc_out + "/manifest").collect()
    assert len(manifest) == 30
    for m in manifest:
        data = open(os.path.join(warc_out, m["warc_file"] + ".gz"), "rb").read()
        rec = gzip.decompress(data[m["offset"] : m["offset"] + m["length"]]).decode()
        assert f"WARC-Target-URI: {m['url']}\r\n" in rec


def test_assign_workers_balanced_bounds_skew(spark):
    """The serpentine deal bounds the worker max/min load gap to one
    tier even under an adversarial hot-domain distribution where hash
    assignment can stack the heavy hitters."""
    from searchgov_spider_spark.operators.politeness import assign_workers_balanced

    # loads 400, 399, ..., 1 over 400 domains
    rows = [(f"d{i}.gov",) for i in range(400) for _ in range(400 - i)]
    sched = spark.createDataFrame(rows, "domain string")
    out = assign_workers_balanced(sched, n_workers=4).collect()
    per_worker: dict[int, int] = {}
    for r in out:
        per_worker[r["worker"]] = per_worker.get(r["worker"], 0) + r["n_urls"]
    assert set(per_worker) == {0, 1, 2, 3}
    # serpentine pairs tier ranks (k, 2n-1-k): loads differ by at most
    # one tier's spread per snake pair; with this arithmetic load curve
    # the totals come out exactly equal
    assert max(per_worker.values()) - min(per_worker.values()) <= 400
    assert sum(per_worker.values()) == sum(400 - i for i in range(400))
    # every worker gets exactly one domain per tier of 8
    counts = {}
    for r in out:
        counts[r["worker"]] = counts.get(r["worker"], 0) + 1
    assert set(counts.values()) == {100}


def test_warc_writers_commit_each_attempt_whole(spark, tmp_path):
    """Each WARC writer task commits its shard files only when its partition
    is complete. Running the same partition twice leaves one copy of it,
    not two. A second attempt that dies mid-partition (a record that cannot
    be serialized; a killed speculative attempt looks the same to the file
    system) leaves the first attempt's complete shard and no temp files,
    not a truncated shard."""
    import gzip
    import os

    from searchgov_spider_spark.operators.archive import warc_records, write_warc_files, write_warc_gz_files

    log = spark.createDataFrame(
        [(f"https://a.gov/p/{i}", i, 200, "text/html", f"d{i}", f"body-{i}") for i in range(12)],
        "url string, fetch_ts long, http_status long, mime string, digest string, body string",
    )
    recs = warc_records(log, n_files=1).cache()
    rows = sorted(recs.collect(), key=lambda r: r["offset"])
    whole = "".join(r["record"] for r in rows).encode("UTF-8")
    # the same partition with its last record unserializable: the writer
    # has written the first 11 records when it fails
    last = rows[-1]
    broken = recs.withColumn(
        "record",
        F.when((F.col("url") == last["url"]) & (F.col("fetch_ts") == last["fetch_ts"]), None)
        .otherwise(F.col("record")),
    )

    out = str(tmp_path / "warc")
    for _ in range(2):
        write_warc_files(recs, out)
    shard = os.path.join(out, last["warc_file"])
    assert open(shard, "rb").read() == whole
    with pytest.raises(Exception):
        write_warc_files(broken, out)
    assert open(shard, "rb").read() == whole
    assert os.listdir(out) == [last["warc_file"]]

    out_gz = str(tmp_path / "warcgz")
    for _ in range(2):
        assert write_warc_gz_files(recs, out_gz).count() == len(rows)
    shard_gz = os.path.join(out_gz, last["warc_file"] + ".gz")
    data = open(shard_gz, "rb").read()
    assert gzip.decompress(data) == whole
    with pytest.raises(Exception):
        write_warc_gz_files(broken, out_gz).count()
    assert open(shard_gz, "rb").read() == data
    assert os.listdir(out_gz) == [last["warc_file"] + ".gz"]
