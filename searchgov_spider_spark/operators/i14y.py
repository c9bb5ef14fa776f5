"""i14y document assembly — the full document shape of the reference's
Elasticsearch converters, composed from the engine's extraction output.

Reference parity (field-by-field):
- HTML docs: convert_html_i14y.py:18-82 — title/description/tags fall
  back through meta tags (parse_html_scrapy.py:46-74) to the
  word-frequency summarizer; created_at/changed/updated from the
  date/revised meta tags via parse_date_safely; sanitize_text applied
  to description and content; docs with no extractable content are
  dropped (convert_html returns None, :31-32).
- PDF docs: convert_pdf_i14y.py:76-140 — title falls back to
  separate_file_name(basename.ext); dates from CreationDate /
  ModDate / SourceModified; title + filename are prepended to content
  and description (add_title_and_filename, :21-33) and the link set is
  appended to content (:137-139).

Spark shape: one projection of native expressions (coalesce cascades,
regexp extraction, sanitize chain in whole-stage codegen) plus exactly
three vectorized pandas UDFs — the summarizer (only meaningful where
meta description/keywords are absent), the date parser, and the
language detector (only where the header/attr cascade misses). No
shuffle: assembly is embarrassingly parallel over document rows, so it
scales linearly with executors at 100 TB.

The reference emits links in Python-set iteration order
(convert_pdf_i14y.py:50, non-deterministic); this rebuild uses
first-occurrence document order — the deterministic twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dates import parse_date_udf
from ..functions.language import ALLOWED_LANGUAGE_CODE, detect_lang_udf
from ..functions.summarize import summarize_udf
from ..functions.text import sanitize_text_col, separate_file_name
from ..functions.urls import url_host_col, url_path_col, url_sha256_col

_ALLOWED_CODES = sorted(ALLOWED_LANGUAGE_CODE)


@F.pandas_udf(T.StringType())
def separate_file_name_udf(names: pd.Series) -> pd.Series:
    return names.map(separate_file_name, na_action="ignore")


def assemble_i14y(docs: DataFrame, now_iso: str) -> DataFrame:
    """Compose the full i14y document from extraction output.

    Expects columns: ``url``, ``content_type`` (the HTTP mime string),
    ``spans``, ``title``, ``html_lang``, ``meta`` (map<string,string>),
    and optionally ``content_language`` (response header language).
    Adds the reference's document fields; input passthrough columns are
    retained (callers project what they need). HTML rows without main
    text content are dropped (the reference emits no document for
    them); PDF rows are always kept.

    NOTE: field names are FLAT (title/description/content +
    language_valid), not the reference's language-suffixed
    ``{field}_{lang}`` keys — see ``i14y_payload_udf`` below, which
    reconstructs the exact reference key names at upload time.
    """
    if "content_language" not in docs.columns:
        docs = docs.withColumn("content_language", F.lit(None).cast("string"))

    is_pdf = F.col("content_type").startswith("application/pdf")
    m = lambda k: F.col("meta").getItem(k)  # noqa: E731

    # main content: ordered text spans joined (extract_article_content /
    # get_pdf_text semantics: node/page texts joined with spaces, then
    # whitespace-collapsed)
    main_raw = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] == "text"), lambda s: s["text"]
        ),
        " ",
    )
    main = F.when(F.length(F.trim(main_raw)) > 0, F.trim(main_raw))

    path = url_path_col("url")
    base_file = F.regexp_extract(path, r"([^/]*)$", 1)
    has_dot = base_file.contains(".")
    basename = F.when(has_dot, F.regexp_extract(base_file, r"^(.*)\.[^.]*$", 1)).otherwise(base_file)
    extension = F.when(has_dot, F.regexp_extract(base_file, r"\.([^.]*)$", 1))
    file_name = F.concat_ws(".", basename, extension)

    title = F.when(
        is_pdf, F.coalesce(F.col("title"), separate_file_name_udf(file_name))
    ).otherwise(
        F.coalesce(F.col("title"), m("og:title"), m("og:site_name"), m("pagename"))
    )

    # language cascade: attr/meta → response header → detector on the
    # first 64 chars (detector only meaningful when the cascade missed)
    norm = lambda c: F.lower(F.split(c, "-").getItem(0))  # noqa: E731
    attr_lang = F.coalesce(norm(F.col("html_lang")), norm(m("language")))
    language = F.coalesce(
        attr_lang,
        F.substring("content_language", 1, 2),
        detect_lang_udf(F.substring(main, 1, 64)),
    )
    language_valid = language.isin(*_ALLOWED_CODES)

    meta_desc = F.when(~is_pdf, F.coalesce(m("description"), m("og:description")))
    meta_tags = F.when(~is_pdf, m("keywords"))
    # summarizer runs only where meta is missing (reference gates the
    # same way, convert_html_i14y.py:49-52); null text short-circuits
    need_summary = meta_desc.isNull() | meta_tags.isNull()
    summarized = summarize_udf(
        F.when(need_summary, F.coalesce(main, F.when(is_pdf, title))), language
    )
    description_src = F.coalesce(meta_desc, summarized["summary"])
    tags = F.coalesce(meta_tags, summarized["keywords"])

    # dates
    created_src = F.when(is_pdf, m("CreationDate")).otherwise(
        F.coalesce(m("date"), m("revised"))
    )
    changed_src = F.when(is_pdf, F.coalesce(m("ModDate"), m("SourceModified"))).otherwise(
        m("revised")
    )
    updated_src = created_src  # publish_date analog: the created-source meta
    created_at = F.coalesce(parse_date_udf(created_src), F.lit(now_iso))
    changed = parse_date_udf(changed_src)
    updated = parse_date_udf(updated_src)

    # content/description assembly; PDFs prepend "title basename.ext" and
    # append the link set (add_title_and_filename + get_links_set order)
    pdf_main = F.coalesce(main, title)
    links_joined = F.array_join(
        F.transform(
            F.filter("spans", lambda s: s["kind"] != "text"), lambda s: s["media_ref"]
        ),
        " ",
    )
    content = F.when(
        is_pdf,
        F.concat_ws(" ", title, file_name, sanitize_text_col(pdf_main), links_joined),
    ).otherwise(sanitize_text_col(main))
    description = F.when(
        is_pdf,
        F.when(
            description_src.isNotNull(),
            F.concat_ws(" ", title, file_name, sanitize_text_col(description_src)),
        ),
    ).otherwise(sanitize_text_col(description_src))

    doc_path = F.when(is_pdf, F.col("url")).otherwise(F.coalesce(m("url"), F.col("url")))

    out = (
        docs.withColumn("id", url_sha256_col(doc_path))
        .withColumn("path", doc_path)
        .withColumn("mime_type", F.when(is_pdf, "application/pdf").otherwise("text/html"))
        .withColumn("i14y_content_type", F.when(~is_pdf, "article"))
        .withColumn("audience", F.when(~is_pdf, m("audience")))
        .withColumn("thumbnail_url", F.when(~is_pdf, m("og:image")))
        .withColumn("language", language)
        .withColumn("language_valid", language_valid)
        .withColumn("title", title)
        .withColumn("description", description)
        .withColumn("content", content)
        .withColumn("tags", tags)
        .withColumn("created_at", created_at)
        .withColumn("created", F.lit(None).cast("string"))
        .withColumn("changed", changed)
        .withColumn("updated", updated)
        .withColumn("updated_at", F.lit(now_iso))
        .withColumn("click_count", F.lit(None).cast("int"))
        .withColumn("promote", F.lit(None).cast("boolean"))
        .withColumn("basename", basename)
        .withColumn("extension", extension)
        .withColumn("url_path", path)
        .withColumn("domain_name", url_host_col("url"))
    )
    return out.filter(is_pdf | main.isNotNull())


# --- upload-time serialization -------------------------------------------
#
# SCHEMA TRANSPOSITION, explicit: the reference emits language-suffixed
# field NAMES — f"title{_lang}" / f"description{_lang}" / f"content{_lang}"
# when the language is in ALLOWED_LANGUAGE_CODE, plain names otherwise
# (convert_html_i14y.py:47-48,76-78; convert_pdf_i14y.py:121-133).
# Dynamic column names are hostile to a relational engine (the schema
# would vary per row), so ``assemble_i14y`` flattens to FIXED
# title/description/content columns plus a ``language_valid`` flag, and
# this serializer reconstructs the reference's exact ``{field}_{lang}``
# keys at upload time. A downstream i14y POST must go through
# ``i14y_payload_udf`` (or replicate its key logic), never ship the flat
# column names raw.

_I14Y_STATIC_NULLS = {
    "click_count": None,
    "created": None,
    "promote": None,
    "searchgov_custom1": None,
    "searchgov_custom2": None,
    "searchgov_custom3": None,
}


def _payload_from_row(row: dict) -> str:
    import json

    suffix = f"_{row['language']}" if row.get("language_valid") else ""
    payload = {
        "audience": row.get("audience"),
        "changed": row.get("changed"),
        "content_type": row.get("i14y_content_type"),
        "created_at": row.get("created_at"),
        "_id": row.get("id"),
        "id": row.get("id"),
        "thumbnail_url": row.get("thumbnail_url"),
        "language": row.get("language"),
        "mime_type": row.get("mime_type"),
        "path": row.get("path"),
        "tags": row.get("tags"),
        "updated_at": row.get("updated_at"),
        "updated": row.get("updated"),
        f"title{suffix}": row.get("title"),
        f"description{suffix}": row.get("description"),
        f"content{suffix}": row.get("content"),
        "basename": row.get("basename"),
        "extension": row.get("extension"),
        "url_path": row.get("url_path"),
        "domain_name": row.get("domain_name"),
        **_I14Y_STATIC_NULLS,
    }
    return json.dumps(payload, sort_keys=True)


@F.pandas_udf(T.StringType())
def i14y_payload_udf(doc: pd.DataFrame) -> pd.Series:
    """Arrow-batched serializer: one JSON payload per assembled document
    with the reference's language-suffixed key names reconstructed from
    (language, language_valid). Input: a struct of assemble_i14y output
    columns (missing fields serialize as null)."""
    records = doc.to_dict("records")
    return pd.Series([_payload_from_row(r) for r in records])


def i14y_payloads(assembled: DataFrame) -> DataFrame:
    """(id, payload) upload rows from ``assemble_i14y`` output —
    feed to sources/sinks.py endpoint batching."""
    cols = [
        "id", "path", "mime_type", "i14y_content_type", "language",
        "language_valid", "title", "description", "content", "tags",
        "audience", "thumbnail_url", "created_at", "changed", "updated",
        "updated_at", "basename", "extension", "url_path", "domain_name",
    ]
    present = [c for c in cols if c in assembled.columns]
    return assembled.select(
        "id", i14y_payload_udf(F.struct(*present)).alias("payload")
    )
