"""HTTP body decoding (helpers/encoding.py:10-34 behavior, without cchardet).

Cascade: utf-8 -> detected encoding -> str(bytes) fallback. cchardet is not
available in this environment; detection is a deterministic heuristic
covering the charset families cchardet resolves for .gov content:

1. BOM sniff (utf-8-sig / utf-16 / utf-32);
2. null-byte layout (BOM-less utf-16/utf-32, by which byte lane the
   nulls occupy — real text in these encodings is >30% nulls);
3. strict utf-8 probe;
4. VISCII control-byte signal: VISCII repurposes the C0 controls
   0x02/0x05/0x06/0x14/0x19/0x1E as Vietnamese capitals — bytes real
   text never contains — and python has no viscii codec, so it maps to
   cp1258 exactly as the reference does (helpers/encoding.py:16-17);
5. shift_jis probe (strict decode + at least one decoded CJK/kana char —
   the cross-check keeps cp1252 bodies from false-positiving);
6. high-byte-dense bodies (>50% of letter bytes non-ASCII — whole-script
   non-Latin text) go through a letter-frequency fallback over
   cp1251 / koi8-r / iso-8859-7: score each candidate by how much of the
   decoded high-byte mass lands on that language's most frequent
   letters (the single-byte analog of cchardet's language models);
7. cp1258 combining-mark plausibility (Vietnamese WITHOUT the VISCII
   controls: >=2 combining diacritics, >=90% directly following Latin
   letters — Western-European text under cp1252 never decodes that way);
8. cp1252 (cchardet's usual WINDOWS-1252 answer for 8-bit .gov content;
   a superset of latin-1 in the 0xA0-0xFF range and the right answer
   for 0x80-0x9F smart quotes/dashes where latin-1 yields C1 controls);
9. latin-1 last resort (never fails — the reference's "never raise"
   contract).
"""

from __future__ import annotations

import codecs

_BOMS = (
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF32_LE, "utf-32"),
    (codecs.BOM_UTF32_BE, "utf-32"),
    (codecs.BOM_UTF16_LE, "utf-16"),
    (codecs.BOM_UTF16_BE, "utf-16"),
)

# cp1252 leaves these five bytes undefined; their presence rules it out
_CP1252_HOLES = frozenset(b"\x81\x8d\x8f\x90\x9d")

# VISCII repurposes these C0 controls as Ẳ/Ẵ/Ẫ/Ỷ/Ỹ/Ỵ — real text in any
# other encoding never carries them
_VISCII_CTRLS = frozenset(b"\x02\x05\x06\x14\x19\x1e")

# Vietnamese combining diacritics at cp1258 byte positions
# 0xCC/0xD2/0xDE/0xEC/0xF2
_VN_COMBINING = frozenset("̣̀̉̃́")

# cp1258 base letters a Vietnamese mark can attach to (beyond ASCII)
_VN_BASES = frozenset("âêôăơưÂÊÔĂƠƯ")

# Most-frequent-letter mass per candidate single-byte charset (the
# single-byte analog of cchardet's language models): real text in the
# right charset puts 55-75% of its high-byte letters on these; a wrong
# charset scatters them.
_FREQ_MODELS = (
    ("cp1251", "оеаинтсрвл"),
    ("koi8-r", "оеаинтсрвл"),
    ("iso-8859-7", "αοιετσνηυρ"),
)


def _is_cjk(ch: str) -> bool:
    o = ord(ch)
    return (
        0x3040 <= o <= 0x30FF  # hiragana + katakana
        or 0x4E00 <= o <= 0x9FFF  # CJK unified
        or 0xFF01 <= o <= 0xFF60  # fullwidth forms
    )


def detect_encoding(data: bytes) -> str | None:
    if not data:
        return None
    for bom, enc in _BOMS:
        if data.startswith(bom):
            return enc
    # null-layout first: ASCII text in BOM-less utf-16/32 is also valid
    # utf-8 (the nulls), so the utf-8 probe would misclaim it
    sample = data[:4096]
    n = len(sample)
    nulls = sample.count(0)
    if n >= 4 and nulls / n > 0.3:
        even_nulls = sample[::2].count(0)
        odd_nulls = sample[1::2].count(0)
        if nulls / n > 0.6:
            return "utf-32-le" if sample[1:4].count(0) >= 2 else "utf-32-be"
        return "utf-16-le" if odd_nulls > even_nulls else "utf-16-be"

    try:
        data.decode("utf-8")
        return "utf-8"
    except UnicodeDecodeError:
        pass

    if any(b in _VISCII_CTRLS for b in sample) and any(b > 0x7F for b in sample):
        return "cp1258"  # the reference's VISCII -> cp1258 mapping

    try:
        decoded = sample.decode("shift_jis")
        if any(_is_cjk(ch) for ch in decoded):
            return "shift_jis"
    except UnicodeDecodeError:
        pass

    ascii_letters = sum(1 for b in sample if 0x41 <= b <= 0x5A or 0x61 <= b <= 0x7A)
    high_bytes = [b for b in sample if b > 0x7F]
    if high_bytes and len(high_bytes) / (ascii_letters + len(high_bytes)) > 0.5:
        enc = _frequency_fallback(bytes(high_bytes))
        if enc is not None:
            return enc

    if _looks_cp1258(sample):
        return "cp1258"

    if not any(b in _CP1252_HOLES for b in sample):
        return "cp1252"
    return "latin-1"


def _frequency_fallback(high_bytes: bytes) -> str | None:
    """Score whole-script (non-Latin) bodies against the candidate
    single-byte charsets' letter-frequency models; return the best
    candidate when it clears the plausibility floor."""
    best_enc, best_score = None, 0.0
    for enc, freq in _FREQ_MODELS:
        try:
            decoded = high_bytes.decode(enc)
        except (UnicodeDecodeError, LookupError):
            continue
        hits = sum(1 for ch in decoded.lower() if ch in freq)
        score = hits / len(decoded)
        if score > best_score:
            best_enc, best_score = enc, score
    return best_enc if best_score >= 0.35 else None


def _looks_cp1258(sample: bytes) -> bool:
    """Vietnamese plausibility: cp1258 places combining diacritics at
    byte positions Western charsets use for ì/Ì/Þ/ò/Ò; real Vietnamese
    attaches every mark to a Latin/Vietnamese base letter."""
    decoded = sample.decode("cp1258", errors="replace")
    marks = [i for i, ch in enumerate(decoded) if ch in _VN_COMBINING]
    if len(marks) < 2:
        return False
    attached = sum(
        1
        for i in marks
        if i > 0 and (decoded[i - 1].isascii() and decoded[i - 1].isalpha() or decoded[i - 1] in _VN_BASES)
    )
    return attached / len(marks) >= 0.9


def decode_http_response(response_bytes: bytes | None) -> str | None:
    if response_bytes is None:
        return None
    try:
        return response_bytes.decode("utf-8")
    except UnicodeDecodeError:
        enc = detect_encoding(response_bytes)
        if str(enc).upper() == "VISCII":
            enc = "cp1258"
        try:
            return response_bytes.decode(enc)
        except (UnicodeDecodeError, TypeError, LookupError):
            return str(response_bytes)
