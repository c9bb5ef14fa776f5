"""Unit tests for the scalar layer (behavior specs from the reference's
tests: test_content.py, test_helpers.py, test_encoding.py)."""

from __future__ import annotations

import codecs

import pytest
from pyspark.sql import functions as F

from searchgov_spider_spark.functions import content_type as ct
from searchgov_spider_spark.functions import dates, encoding, hashing, language, text, urls


# --- URLs -------------------------------------------------------------

@pytest.mark.parametrize(
    "raw,canon",
    [
        ("HTTP://Example.GOV:80/a/b/../c?b=2&a=1#frag", "http://example.gov/a/c?a=1&b=2"),
        ("https://example.gov:443/", "https://example.gov/"),
        ("example.gov/path", "https://example.gov/path"),
        ("https://example.gov", "https://example.gov/"),
        ("https://example.gov/a/./b/", "https://example.gov/a/b/"),
        ("https://example.gov/?q=", "https://example.gov/?q="),
    ],
)
def test_canonicalize(raw, canon):
    assert urls.canonicalize_url(raw) == canon
    # idempotent
    assert urls.canonicalize_url(canon) == canon


def test_url_parts():
    assert urls.get_url_path("example.gov/a/b.pdf?x=1") == "/a/b.pdf"
    assert urls.get_domain_name("https://www.example.gov/a") == "www.example.gov"
    assert urls.get_base_extension("https://x.gov/dir/Report.PDF") == ("Report", "PDF")
    assert urls.get_base_extension("https://x.gov/dir/") == ("", "")
    assert urls.ensure_http_prefix("x.gov") == "https://x.gov"
    assert urls.ensure_http_prefix("http://x.gov") == "http://x.gov"


def test_url_cols(spark):
    df = spark.createDataFrame(
        [("https://Example.GOV/a/b.PDF?q=1",), ("https://x.gov/plain",)], ["url"]
    )
    row = df.select(
        urls.url_host_col("url").alias("host"),
        urls.url_extension_col("url").alias("ext"),
        urls.url_query_col("url").alias("q"),
        urls.url_sha256_col("url").alias("id"),
    ).collect()
    assert row[0]["host"] == "example.gov"
    assert row[0]["ext"] == "pdf"
    assert row[0]["q"] == "q=1"
    assert len(row[0]["id"]) == 64
    assert row[1]["q"] is None


def test_canonicalize_udf(spark):
    df = spark.createDataFrame([("HTTP://A.Gov/x/../y?b=1&a=2",)], ["url"])
    out = df.select(urls.canonicalize_udf("url").alias("c")).first()["c"]
    assert out == "http://a.gov/y?a=2&b=1"


# --- text sanitize (spec of reference test_content.py) ----------------

def test_sanitize_text():
    assert text.sanitize_text(None) is None
    assert text.sanitize_text("") is None
    assert text.sanitize_text("  hello   world ") == "hello world"
    assert text.sanitize_text("a&#13;b") == "a b"
    assert text.sanitize_text("a&nbsp;b") == "a b"
    assert text.sanitize_text("line1\n\nline2") == "line1 line2"
    assert text.sanitize_text("bad\x00char\x07s") == "badchars"
    assert text.replace_whitespace("a\t\nb  c") == "a b c"
    assert text.trim_whitespace(None) == ""


def test_sanitize_col_matches_pure(spark):
    cases = ["  hello   world ", "a&#13;b", "a&nbsp;b", "bad\x00chars", "x\ty\nz"]
    df = spark.createDataFrame([(c,) for c in cases], ["t"])
    got = [r["s"] for r in df.select(text.sanitize_text_col("t").alias("s")).collect()]
    assert got == [text.sanitize_text(c) for c in cases]


def test_separate_file_name():
    assert text.separate_file_name("camelCaseFile.pdf") == "camel Case File"
    # the boundary regex yields an empty segment between '_' and the digit
    # boundary, so a double space appears — same as the reference behavior
    assert text.separate_file_name("snake_case_2024.txt") == "snake case  2024"


def test_force_bool():
    assert text.force_bool("TRUE") is True
    assert text.force_bool("True") is True
    assert text.force_bool("false") is False
    assert text.force_bool(None) is False
    assert text.force_bool(1) is False


# --- hashing -----------------------------------------------------------

def test_spider_id_golden():
    # stable: shake_256 of concatenated args, 5-byte hexdigest
    sid = hashing.spider_id("name", ["a.gov"], ["https://a.gov"], False)
    assert len(sid) == 10
    assert sid == hashing.spider_id("name", ["a.gov"], ["https://a.gov"], False)
    with pytest.raises(ValueError):
        hashing.spider_id()


def test_portable_hash32_matches_duckdb():
    import duckdb

    for s in ["hello", "7|the quick brown", ""]:
        duck = duckdb.sql(
            f"select cast(('0x' || substr(md5('{s}'), 1, 8)) as bigint)"
        ).fetchone()[0]
        assert hashing.portable_hash32(s) == duck


def test_portable_hash32_col(spark):
    df = spark.createDataFrame([("hello",), ("world",)], ["s"])
    got = {r["s"]: r["h"] for r in df.select("s", hashing.portable_hash32_col("s").alias("h")).collect()}
    assert got == {s: hashing.portable_hash32(s) for s in ("hello", "world")}


# --- content type (spec of reference test_helpers.py) -------------------

def test_content_type():
    assert ct.is_valid_content_type("text/html; charset=utf-8", "csv") is True
    assert ct.is_valid_content_type("application/pdf", "elasticsearch") is True
    assert ct.is_valid_content_type("text/plain", "elasticsearch") is False
    assert ct.is_valid_content_type("image/png", "csv") is False
    assert ct.is_valid_content_type("", "csv") is None
    assert ct.get_simple_content_type("text/html; charset=utf-8", "csv") == "text/html"
    assert ct.get_simple_content_type("image/png", "csv") is None


def test_content_type_cols(spark):
    rows = [("text/html; charset=utf-8",), ("image/png",), (None,), ("application/pdf",)]
    df = spark.createDataFrame(rows, ["ctype"])
    got = df.select(
        ct.is_valid_content_type_col("ctype", "csv").alias("ok"),
        ct.simple_content_type_col("ctype", "csv").alias("simple"),
    ).collect()
    assert [r["ok"] for r in got] == [True, False, None, True]
    assert [r["simple"] for r in got] == ["text/html", None, None, "application/pdf"]


# --- language ------------------------------------------------------------

def test_detect_lang():
    assert language.detect_lang("the quick brown fox is on the hill and it is") == "en"
    assert language.detect_lang("中文网站的内容在这里") == "zh"
    assert language.detect_lang("Это русский текст для проверки") == "ru"
    assert language.detect_lang("") is None
    assert language.normalize_lang("EN-us") == "en"
    assert language.normalize_lang("xx") is None


def test_detect_lang_extended_coverage():
    """C3 breadth: script discrimination (uk-specific Cyrillic letters,
    kana-before-Han, Armenian/Khmer/Bengali ranges) and Latin-script
    stopword tables across the 45-language allow map."""
    cases = {
        "uk": "Це українська мова і її перевірка",
        "ja": "これは日本語のテキストです",
        "hy": "Սա հայերեն տեքստ է",
        "km": "នេះជាអត្ថបទខ្មែរ",
        "bn": "এটি বাংলা লেখা",
        "pl": "w tym dokumencie nie ma nic o tym że jest to po polsku",
        "tr": "bu bir türkçe metin ve bu da onun için en iyi örnek",
        "id": "ini adalah teks yang ditulis dengan bahasa untuk pengujian dari sistem",
        "vi": "đây là văn bản của tiếng việt và không có gì là khó",
        "da": "det er en dansk tekst og den er til at teste med",
        "cs": "to je český text a je tu že se na něj podíváme",
        "ro": "acesta este un text în limba română și este pentru care test",
    }
    for code, text_sample in cases.items():
        assert language.detect_lang(text_sample) == code, (code, text_sample)
    # every detected code is in the reference's 45-language allow map
    assert set(cases) <= set(language.ALLOWED_LANGUAGE_CODE)


# --- encoding -------------------------------------------------------------

def test_decode():
    assert encoding.decode_http_response("héllo".encode()) == "héllo"
    assert encoding.decode_http_response("caf\xe9".encode("latin-1")) == "café"
    assert encoding.decode_http_response(None) is None


# --- dates ------------------------------------------------------------------

def test_dates():
    assert dates.parse_date_safely("2024-03-01") == "2024-03-01T00:00:00"
    assert dates.parse_date_safely("March 5, 2024") == "2024-03-05T00:00:00"
    assert dates.parse_date_safely("D:20240301120000") == "2024-03-01T12:00:00"
    assert dates.parse_date_safely("") is None
    assert dates.parse_date_safely("not a date") is None


def test_token_count(spark):
    df = spark.createDataFrame([("hello, world 123",)], ["t"])
    n = df.select(text.token_count_col("t").alias("n")).first()["n"]
    assert n == len(text.tokenize("hello, world 123")) == 4


class TestCanonicalizeVectorized:
    """canonicalize_batch's fast path must agree exactly with the per-row
    reference implementation on every URL shape."""

    def test_property_agreement(self):
        import pandas as pd
        from hypothesis import given, settings, strategies as st
        from searchgov_spider_spark.functions.urls import canonicalize_batch, canonicalize_url

        host = st.from_regex(r"[A-Za-z0-9][A-Za-z0-9.-]{0,20}[A-Za-z0-9]", fullmatch=True)
        path = st.from_regex(r"(/[A-Za-z0-9._~%-]{0,8}){0,4}/?", fullmatch=True)
        query = st.one_of(st.just(""), st.from_regex(r"\?[a-z]=[0-9](&[a-z]=[0-9]){0,3}&?", fullmatch=True))
        frag = st.one_of(st.just(""), st.just("#x"), st.just("#frag/ment"))
        scheme = st.sampled_from(["http", "https", "HTTP", "HTTPS", "Http"])
        port = st.one_of(st.just(""), st.just(":80"), st.just(":443"), st.just(":8080"))

        @given(st.tuples(scheme, host, port, path, query, frag))
        @settings(max_examples=300, deadline=None)
        def check(parts):
            sch, h, prt, p, q, f = parts
            url = f"{sch}://{h}{prt}{p}{q}{f}"
            got = canonicalize_batch(pd.Series([url])).iloc[0]
            assert got == canonicalize_url(url), url

        check()

    def test_known_shapes(self):
        import pandas as pd
        from searchgov_spider_spark.functions.urls import canonicalize_batch, canonicalize_url

        cases = [
            "HTTPS://D12.gov/p/34#frag",
            "https://a.gov",
            "http://A.GOV:80/x/../y?b=2&a=1#z",
            "https://a.gov//double//slash/",
            "https://a.gov/./dot/",
            "  https://pad.gov/x  ",
            "no-scheme.gov/path",
            "https://user:pw@h.gov/x",
            "javascript:void(0)",
        ]
        got = canonicalize_batch(pd.Series(cases)).tolist()
        want = [canonicalize_url(c) for c in cases]
        assert got == want


def test_detect_encoding_cascade():
    """C2 upgrade: cp1252 / BOM-less utf-16/32 / shift_jis heuristics
    (the cchardet-free twin of helpers/encoding.py:10-19)."""
    d = encoding.detect_encoding
    assert d("plain ascii".encode()) == "utf-8"
    assert d("héllo".encode("utf-8")) == "utf-8"
    assert d(b"\x93budget\x94 \x96 report") == "cp1252"  # smart quotes + en dash
    assert d("café résumé".encode("cp1252")) == "cp1252"
    assert d("hello world this is text".encode("utf-16-le")) == "utf-16-le"
    assert d("hello world this is text".encode("utf-16-be")) == "utf-16-be"
    assert d("hello text".encode("utf-32-le")) == "utf-32-le"
    assert d("日本語のテキストです".encode("shift_jis")) == "shift_jis"
    assert d(codecs.BOM_UTF16_LE + "x".encode("utf-16-le")) == "utf-16"
    assert d(b"abc \x90 \xe9") == "latin-1"  # cp1252 hole byte rules it out
    assert d(b"") is None


def test_decode_http_response_new_encodings():
    assert encoding.decode_http_response(b"\x93hi\x94") == "“hi”"
    assert (
        encoding.decode_http_response("日本語のテキストです".encode("shift_jis"))
        == "日本語のテキストです"
    )


def test_detect_encoding_viscii_and_frequency_fallback():
    """C2 full cascade: VISCII->cp1258 Vietnamese path + the
    letter-frequency fallback for whole-script single-byte charsets
    (the cchardet-free twin of helpers/encoding.py:10-34)."""
    d = encoding.detect_encoding
    # VISCII repurposes C0 controls as Vietnamese capitals; python has no
    # viscii codec so the reference maps it to cp1258 (encoding.py:16-17)
    assert d(b"Vi\x02t Nam v\xe5n h\xf3a \x14") == "cp1258"
    # Vietnamese typed the cp1258 way (base letter + combining tone mark;
    # precomposed NFC forms are outside cp1258's charmap)
    vn = "Ti\u00ea\u0301ng Vi\u00ea\u0323t cu\u0309a ng\u01b0\u01a1\u0300i Vi\u00ea\u0323t Nam"
    assert d(vn.encode("cp1258")) == "cp1258"
    assert encoding.decode_http_response(vn.encode("cp1258")) == vn
    # whole-script bodies resolve by frequency model, not cp1252 default
    ru = "Москва — столица России, крупнейший город страны"
    assert d(ru.encode("cp1251")) == "cp1251"
    assert encoding.decode_http_response(ru.encode("cp1251")) == ru
    assert d("привет мир как дела сегодня хорошо".encode("koi8-r")) == "koi8-r"
    el = "Αθήνα και ελληνικά κείμενα στο διαδίκτυο"
    assert d(el.encode("iso-8859-7")) == "iso-8859-7"
    assert encoding.decode_http_response(el.encode("iso-8859-7")) == el
    # sparse Latin accents must NOT trip the Vietnamese/frequency paths
    assert d("café déjà vu — naïve façade".encode("cp1252")) == "cp1252"
    assert d("perché lì città è già".encode("cp1252")) == "cp1252"


def test_fuzzy_date_parsing():
    """C6 upgrade: dateutil-fuzzy analog — dates embedded in prose with
    ordinals, month names, and trailing times (i14y_helper.py:32-57)."""
    p = dates.parse_date_safely
    assert p("January 5th, 2024 at 3pm") == "2024-01-05T15:00:00"
    assert p("Published on March 3, 2023") == "2023-03-03T00:00:00"
    assert p("5 Jan 2024") == "2024-01-05T00:00:00"
    assert p("the 21st of September 2022") == "2022-09-21T00:00:00"
    assert p("Updated: Dec. 9, 2021 11:45 AM") == "2021-12-09T11:45:00"
    assert p("Revised 2024-01-05 13:30 by admin") == "2024-01-05T13:30:00"
    assert p("May 12, 2020 at 12pm") == "2020-05-12T12:00:00"
    assert p("no date here") is None
    assert p("2024-13-45") is None


class TestCanonicalizeNative:
    """with_canonical (the Arrow-UDF hot path, both API modes) must agree
    exactly with the per-row reference implementation on every URL shape."""

    CASES = [
        "HTTPS://D12.gov/p/34#frag",
        "https://a.gov",
        "https://a.gov/",
        "http://b.example.gov/x/y.html",
        "http://A.GOV:80/x/../y?b=2&a=1#z",   # slow: port + query + dots
        "https://a.gov//double//slash/",       # slow: // run
        "https://a.gov/./dot/",                # slow: dot segment
        "  https://pad.gov/x  ",               # slow: whitespace padding
        "https://tab.gov/x\ty",                # slow: interior whitespace
        "https://nl.gov/x\n",                  # slow: trailing newline
        "no-scheme.gov/path",                  # slow: missing scheme
        "https://user:pw@h.gov/x",             # slow: userinfo
        "javascript:void(0)",                  # slow: not http(s)
        "https://q.gov/x?a=1",                 # slow: query to sort
        None,
    ]

    def test_with_canonical_matches_canonicalize_url(self, spark):
        from searchgov_spider_spark.functions import urls as u

        df = spark.createDataFrame(
            [(i, c) for i, c in enumerate(self.CASES)], "i long, url string"
        )
        want = {i: u.canonicalize_url(c) for i, c in enumerate(self.CASES)}
        got = {r["i"]: r["canon_url"] for r in u.with_canonical(df).collect()}
        assert got == want

