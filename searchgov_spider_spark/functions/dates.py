"""Date parsing: ISO output format + fuzzy and PDF 'D:' formats.

Reference behavior: parse_date_safely (i14y_helper.py:32-57) emits
'%Y-%m-%dT%H:%M:%S' or None; PDF dates are 'D:YYYYMMDDHHmmSS...' strings
(convert_pdf_i14y.py:184-229). dateutil is unavailable; the pure parser
covers the common formats deterministically.
"""

from __future__ import annotations

import re
from datetime import datetime

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

ISO_FMT = "%Y-%m-%dT%H:%M:%S"

_FORMATS = (
    "%Y-%m-%dT%H:%M:%S", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d", "%Y/%m/%d",
    "%m/%d/%Y", "%m-%d-%Y", "%B %d, %Y", "%b %d, %Y", "%d %B %Y", "%Y%m%d",
)
_PDF_DATE = re.compile(r"^D:(\d{4})(\d{2})?(\d{2})?(\d{2})?(\d{2})?(\d{2})?")


def parse_pdf_date(value: str | None) -> str | None:
    if not value:
        return None
    m = _PDF_DATE.match(str(value))
    if not m:
        return None
    parts = [int(g) if g else d for g, d in zip(m.groups(), (1970, 1, 1, 0, 0, 0))]
    try:
        return datetime(*parts).strftime(ISO_FMT)
    except ValueError:
        return None


_MONTHS = {
    m.lower(): i + 1
    for i, names in enumerate(
        [
            ("january", "jan"), ("february", "feb"), ("march", "mar"),
            ("april", "apr"), ("may",), ("june", "jun"), ("july", "jul"),
            ("august", "aug"), ("september", "sep", "sept"), ("october", "oct"),
            ("november", "nov"), ("december", "dec"),
        ]
    )
    for m in names
}
_MONTH_ALT = "|".join(sorted(_MONTHS, key=len, reverse=True))
# "January 5th, 2024" / "5 Jan 2024" / "Jan. 5 2024"
_FUZZY_MDY = re.compile(
    rf"\b({_MONTH_ALT})\.?\s+(\d{{1,2}})(?:st|nd|rd|th)?\s*,?\s+(\d{{4}})", re.IGNORECASE
)
_FUZZY_DMY = re.compile(
    rf"\b(\d{{1,2}})(?:st|nd|rd|th)?\s+(?:of\s+)?({_MONTH_ALT})\.?\s*,?\s+(\d{{4}})",
    re.IGNORECASE,
)
# trailing time: "at 3pm", "3:45 PM", "15:30", "15:30:59"
_FUZZY_TIME = re.compile(
    r"\b(\d{1,2})(?::(\d{2}))?(?::(\d{2}))?\s*(am|pm)?\b", re.IGNORECASE
)


def _fuzzy_time(s: str, date_end: int) -> tuple[int, int, int]:
    """Best-effort time from the text after the date match (the dateutil-
    fuzzy analog: ignore non-date tokens, pick up an hour[:min[:sec]]
    with optional am/pm)."""
    for m in _FUZZY_TIME.finditer(s[date_end:]):
        if m.group(2) is None and m.group(4) is None:
            continue  # a bare number is not a time
        hour = int(m.group(1))
        ampm = (m.group(4) or "").lower()
        if ampm == "pm" and hour < 12:
            hour += 12
        elif ampm == "am" and hour == 12:
            hour = 0
        if hour > 23:
            continue
        return hour, int(m.group(2) or 0), int(m.group(3) or 0)
    return 0, 0, 0


def parse_date_safely(value) -> str | None:
    if value is None or value == "":
        return None
    if isinstance(value, datetime):
        return value.strftime(ISO_FMT)
    s = str(value).strip()
    pdf = parse_pdf_date(s)
    if pdf:
        return pdf
    for fmt in _FORMATS:
        try:
            return datetime.strptime(s, fmt).strftime(ISO_FMT)
        except ValueError:
            continue
    # fuzzy fallbacks (dateutil.parse(fuzzy=True) analog, deterministic):
    # an ISO date, "Month DD, YYYY", or "DD Month YYYY" anywhere in the
    # string, with an optional trailing time ("at 3pm", "15:30")
    m = re.search(r"(\d{4})-(\d{2})-(\d{2})(?:[T ](\d{2}):(\d{2})(?::(\d{2}))?)?", s)
    if m:
        try:
            return datetime(
                int(m[1]), int(m[2]), int(m[3]),
                int(m[4] or 0), int(m[5] or 0), int(m[6] or 0),
            ).strftime(ISO_FMT)
        except ValueError:
            return None
    for rx, mi, di in ((_FUZZY_MDY, 1, 2), (_FUZZY_DMY, 2, 1)):
        m = rx.search(s)
        if m:
            month = _MONTHS[m.group(mi).lower()]
            try:
                h, mn, sec = _fuzzy_time(s, m.end())
                return datetime(int(m.group(3)), month, int(m.group(di)), h, mn, sec).strftime(ISO_FMT)
            except ValueError:
                return None
    return None


@F.pandas_udf(T.StringType())
def parse_date_udf(values: pd.Series) -> pd.Series:
    return values.map(parse_date_safely, na_action="ignore")
