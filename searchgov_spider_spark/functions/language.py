"""Language identification: allow-map + cascade + n-gram/stopword heuristic.

Reference behavior:
- 45-language allow map — elasticsearch/i14y_helper.py:16-27.
- cascade: Content-Language header[:2] -> <html lang> -> meta 'language'
  -> detector on first 64 chars — helpers/domain_spider.py:150-167,
  convert_html_i14y.py:45-47.

The reference uses `langdetect` (not installed here); we implement a
deterministic heuristic detector: script-range detection for CJK/Cyrillic/
Arabic etc., else stopword-ratio scoring over a small per-language table.
It is exposed both as a pure function (tests) and a pandas UDF (hot path).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALLOWED_LANGUAGE_CODE = {
    "ar": "arabic", "bg": "bulgarian", "bn": "bengali", "ca": "catalan", "cs": "czech",
    "da": "danish", "de": "german", "el": "greek", "en": "english", "es": "spanish",
    "et": "estonian", "fa": "persian", "fr": "french", "he": "hebrew", "hi": "hindi",
    "hr": "croatian", "ht": "haitian creole", "hu": "hungarian", "hy": "armenian",
    "id": "indonesian", "it": "italian", "ja": "japanese", "km": "khmer", "ko": "korean",
    "lt": "lithuanian", "lv": "latvian", "mk": "macedonian", "nl": "dutch", "pl": "polish",
    "ps": "pashto", "pt": "portuguese", "ro": "romanian", "ru": "russian", "sk": "slovak",
    "so": "somali", "sq": "albanian", "sr": "serbian", "sw": "swahili", "th": "thai",
    "tr": "turkish", "uk": "ukrainian", "ur": "urdu", "uz": "uzbek", "vi": "vietnamese",
    "zh": "chinese",
}

# Minimal high-frequency stopword tables for Latin-script scoring —
# common function words per language (public knowledge), covering the
# Latin-script members of the 45-language allow map.
STOPWORDS: dict[str, frozenset[str]] = {
    "en": frozenset("the of and to a in is it you that he was for on are with as i his they be at".split()),
    "es": frozenset("de la que el en y a los del se las por un para con no una su al es lo".split()),
    "fr": frozenset("de la le et les des en un du une que est pour qui dans a par plus pas au".split()),
    "de": frozenset("der die und in den von zu das mit sich des auf für ist im dem nicht ein".split()),
    "it": frozenset("di e il la che a in un per è una sono con non le si da come dei".split()),
    "pt": frozenset("de a o que e do da em um para é com não uma os no se na por mais".split()),
    "nl": frozenset("de het een van en in is dat op te zijn met voor niet aan er ook als".split()),
    "ca": frozenset("de la que el i a les dels un per amb no una al és els en aquest".split()),
    "cs": frozenset("a se na je že o s z do k i ve by si ale jako za podle".split()),
    "da": frozenset("og i at det er en til de af for på med der den som han et".split()),
    "et": frozenset("ja on ei et ta see ka oli kui ma aga oma siis või mis tema".split()),
    "hr": frozenset("je i u se na za da su s od kao ali iz što ili bi pri".split()),
    "hu": frozenset("a az és hogy nem is egy ez van meg már csak mint el volt lesz".split()),
    "id": frozenset("yang dan di dengan untuk dari ini itu pada tidak adalah ke dalam akan juga atau".split()),
    "lt": frozenset("ir yra kad į iš su tai bet kaip jis buvo dėl o per apie".split()),
    "lv": frozenset("un ir ka par ar no uz to kas bet arī tika gada pēc kā".split()),
    "pl": frozenset("w i na z do się nie że jest to o jak po przez dla od ale".split()),
    "ro": frozenset("de a în la și cu pe care este un o pentru nu mai din sau".split()),
    "sk": frozenset("a sa v na je že o s z do k by si ako za podľa ale".split()),
    "so": frozenset("iyo oo ku ka in ay uu waa si loo soo ah la waxa ama".split()),
    "sq": frozenset("e të dhe në një për me nga se si ka është i më që do".split()),
    "sw": frozenset("ya na wa kwa ni za katika la hii kuwa kama hata au wake yake".split()),
    "tr": frozenset("bir ve bu da de için ile olarak daha en çok gibi ama ne var olan".split()),
    "uz": frozenset("va bu bilan uchun ham bo'lgan deb dan deya qilib edi emas yoki".split()),
    "vi": frozenset("và của là có không được các một cho người trong những này với đã để".split()),
    "ht": frozenset("nan yo ak pou li sa ki te la yon ou pa gen se kap".split()),
}

# Script-range detection. Order matters: more specific markers first —
# Ukrainian-specific Cyrillic letters (і ї є ґ) before the generic
# Cyrillic range, kana before the Han range (Japanese text mixes both).
_SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("ja", "぀-ヿ"),
    ("zh", "一-鿿"),
    ("ko", "가-힯ᄀ-ᇿ"),
    ("uk", "іїєґІЇЄҐ"),
    ("ru", "Ѐ-ӿ"),
    ("ar", "؀-ۿ"),
    ("he", "֐-׿"),
    ("el", "Ͱ-Ͽ"),
    ("th", "฀-๿"),
    ("hi", "ऀ-ॿ"),
    ("hy", "԰-֏"),
    ("km", "ក-៿"),
    ("bn", "ঀ-৿"),
)
_SCRIPT_RE = [(code, re.compile(f"[{rng}]")) for code, rng in _SCRIPT_RANGES]
# word chars for stopword scoring: ASCII + Latin-1/Ext-A letters (covers
# Turkish ı/ğ/ş, Polish ł/ż), Romanian comma-below ș/ț (U+0218-021B,
# outside Ext-A), Vietnamese precomposed forms (Latin Extended Additional)
_WORD_RE = re.compile(r"[a-zà-ÿā-žȘ-țơưạ-ỹ']+")


def detect_lang(text: str | None) -> str | None:
    """Deterministic two-letter language guess over the first 64 chars
    (same truncation as the reference detector call site)."""
    if not text or not isinstance(text, str):
        return None
    sample = text[:64]
    for code, rx in _SCRIPT_RE:
        if rx.search(sample):
            return code
    words = _WORD_RE.findall(sample.lower())
    if not words:
        return None
    best, best_hits = None, 0
    for code, table in STOPWORDS.items():
        hits = sum(1 for w in words if w in table)
        if hits > best_hits:
            best, best_hits = code, hits
    return best or "en"


def normalize_lang(lang: str | None) -> str | None:
    """'en-US' -> 'en' (convert_html_scrapy parity); non-allowed -> None."""
    if not lang:
        return None
    code = lang.split("-")[0].lower()[:2]
    return code if code in ALLOWED_LANGUAGE_CODE else None


@F.pandas_udf(T.StringType())
def detect_lang_udf(texts: pd.Series) -> pd.Series:
    return texts.map(detect_lang, na_action="ignore")
