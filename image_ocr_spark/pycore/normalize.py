"""Normalization semantics (pure Python).

Re-expresses the reference's normalizer behavior (see SURVEY.md §2.8):
- date normalization (JP era -> ISO)          ref: normalizer.py:25-113, receipt.py:96-104,201-225
- amount normalization (fullwidth, commas)    ref: normalizer.py:116-184, receipt.py:271-285
- OCR confusion fix in amount context         ref: normalizer.py:214-225,261-288
- company-name corrections                    ref: normalizer.py:228-259
- text cleaning / canonicalization            ref: normalizer.py:291-327

All regexes use explicit ASCII character classes (``[0-9]``, ``[ \\t]``)
instead of ``\\d``/``\\s`` so that Python ``re`` and Java regex (Spark SQL)
agree byte-for-byte: Python's ``\\d`` matches fullwidth digits, Java's does
not — explicit classes remove the divergence.
"""

from __future__ import annotations

import re
from typing import Optional

# ---------------------------------------------------------------------------
# Transliteration tables (kept as parallel strings so Spark `translate()` can
# use the identical tables — see image_ocr_spark.functions.normalize).
# ---------------------------------------------------------------------------

FULLWIDTH_DIGITS = "０１２３４５６７８９"
HALFWIDTH_DIGITS = "0123456789"

FULLWIDTH_ALNUM = (
    "ＡＢＣＤＥＦＧＨＩＪＫＬＭＮＯＰＱＲＳＴＵＶＷＸＹＺ"
    "ａｂｃｄｅｆｇｈｉｊｋｌｍｎｏｐｑｒｓｔｕｖｗｘｙｚ"
    "０１２３４５６７８９"
)
HALFWIDTH_ALNUM = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ" "abcdefghijklmnopqrstuvwxyz" "0123456789"
)

# OCR confusion map used only in amount context (ref normalizer.py:214-225)
AMOUNT_CONFUSION_SRC = "OolIiSsBZz"
AMOUNT_CONFUSION_DST = "0011155822"

# era name -> base year (era year 1 == base + 1)  (ref normalizer.py:29-45)
ERA_BASE = {
    "令和": 2018, "R": 2018, "Ｒ": 2018,
    "平成": 1988, "H": 1988, "Ｈ": 1988,
    "昭和": 1925, "S": 1925, "Ｓ": 1925,
    "大正": 1911, "T": 1911, "Ｔ": 1911,
    "明治": 1867, "M": 1867, "Ｍ": 1867,
}

_FW_TO_HW = str.maketrans(FULLWIDTH_DIGITS, HALFWIDTH_DIGITS)
_FW_ALNUM_TO_HW = str.maketrans(FULLWIDTH_ALNUM, HALFWIDTH_ALNUM)
_AMOUNT_FIX = str.maketrans(AMOUNT_CONFUSION_SRC, AMOUNT_CONFUSION_DST)

COMPANY_CORRECTIONS = {
    "株式合社": "株式会社",
    "株式公社": "株式会社",
    "侏式会社": "株式会社",
    "有隈会社": "有限会社",
    "有眼会社": "有限会社",
}

# ---------------------------------------------------------------------------
# Date normalization
# ---------------------------------------------------------------------------

# Ordered patterns; first match wins (ref receipt.py:96-104 priority loop).
# Group layout is normalized to (year, month, day) / (era, y, m, d).
P_DATE_WESTERN_FULL = r"([0-9]{4})[年/\-.]([0-9]{1,2})[月/\-.]([0-9]{1,2})日?"
P_DATE_COMPACT_FULL = r"([0-9]{4})([0-9]{2})([0-9]{2})"
# plain-space class (not \s): Java and Python \s disagree on Unicode
P_DATE_ERA_FULL = (
    r"(令和|平成|昭和|大正|明治|R|H|S|T|M|Ｒ|Ｈ|Ｓ|Ｔ|Ｍ) ?([0-9]{1,2}|元)[年.]"
    r"([0-9]{1,2})[月.]([0-9]{1,2})日?"
)

DATE_WESTERN = re.compile(P_DATE_WESTERN_FULL)
DATE_COMPACT = re.compile(P_DATE_COMPACT_FULL)
DATE_ERA = re.compile(P_DATE_ERA_FULL)

_DAYS_IN_MONTH = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def is_valid_ymd(year: int, month: int, day: int) -> bool:
    """Date validity incl. leap years, plus the 1900..2100 window
    (ref normalizer.py:107-113)."""
    if not (1900 <= year <= 2100):
        return False
    if not (1 <= month <= 12):
        return False
    dim = _DAYS_IN_MONTH[month - 1]
    if month == 2 and (year % 4 == 0 and (year % 100 != 0 or year % 400 == 0)):
        dim = 29
    return 1 <= day <= dim


def normalize_date(date_str: Optional[str]) -> Optional[str]:
    """Date string -> 'YYYY-MM-DD' or None.

    Semantics of ref normalizer.py:59-98 + receipt.py:190-225: fullwidth
    digits folded first; western, compact, then era patterns; era year 元 = 1;
    invalid calendar dates rejected.
    """
    if not date_str:
        return None
    s = date_str.translate(_FW_TO_HW)
    m = DATE_WESTERN.search(s)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if is_valid_ymd(y, mo, d):
            return f"{y:04d}-{mo:02d}-{d:02d}"
    m = DATE_ERA.search(s)
    if m:
        era = m.group(1)
        ey = 1 if m.group(2) == "元" else int(m.group(2))
        y = ERA_BASE[era] + ey
        mo, d = int(m.group(3)), int(m.group(4))
        if is_valid_ymd(y, mo, d):
            return f"{y:04d}-{mo:02d}-{d:02d}"
    m = DATE_COMPACT.search(s)
    if m:
        y, mo, d = int(m.group(1)), int(m.group(2)), int(m.group(3))
        if is_valid_ymd(y, mo, d):
            return f"{y:04d}-{mo:02d}-{d:02d}"
    return None


# ---------------------------------------------------------------------------
# Amount normalization
# ---------------------------------------------------------------------------

_NON_DIGIT = re.compile(r"[^0-9]")


def fix_ocr_amount(amount_str: str) -> str:
    """Char-map OCR confusions in amount context: O->0, l/I->1, S->5, B->8,
    Z->2 … (ref normalizer.py:261-288)."""
    return amount_str.translate(_AMOUNT_FIX)


def normalize_amount(amount_str: Optional[str]) -> Optional[int]:
    """Amount string -> int yen or None (ref normalizer.py:141-173).

    Fullwidth digits/commas folded, currency symbols and separators dropped,
    remaining digits concatenated and parsed; empty -> None.
    """
    if not amount_str:
        return None
    s = amount_str.translate(_FW_TO_HW).replace("，", ",")
    digits = _NON_DIGIT.sub("", s)
    if not digits or len(digits) > 15:
        return None
    return int(digits)


def normalize_amount_ocr(amount_str: Optional[str]) -> Optional[int]:
    """OCR-fix then normalize (ref normalizer.py:343-348)."""
    if not amount_str:
        return None
    return normalize_amount(fix_ocr_amount(amount_str))


def fix_company_name(text: str) -> str:
    """Company-name OCR corrections (ref normalizer.py:236-259)."""
    for wrong, right in COMPANY_CORRECTIONS.items():
        text = text.replace(wrong, right)
    return text


def fold_alnum_upper(text: str) -> str:
    """Fullwidth alnum -> ASCII, then uppercase (ref classifier.py:209-216)."""
    return text.translate(_FW_ALNUM_TO_HW).upper()


# ---------------------------------------------------------------------------
# Text cleaning — the byte-identity canonicalization (ref normalizer.py:294-319)
# ---------------------------------------------------------------------------

# control chars other than \t \n \r; written with \xNN escapes so the same
# pattern string compiles in Python ``re`` and in Java regex (Spark SQL)
CTRL_CLASS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
_CONTROL = re.compile(CTRL_CLASS)
_HSPACE = re.compile(r"[ \t]+")
_MANY_NL = re.compile(r"\n{3,}")
_LINE_EDGE = re.compile(r"(?m)^[ \t]+|[ \t]+$")


def clean_text(text: Optional[str]) -> str:
    """Canonical whitespace form of extracted text.

    Order matters and mirrors ref normalizer.py:294-319:
    control chars stripped (keep \\n, \\t), runs of [ \\t] -> single space,
    >2 consecutive newlines -> exactly 2, every line trimmed, whole trimmed.
    """
    if not text:
        return ""
    text = _CONTROL.sub("", text)
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    text = _HSPACE.sub(" ", text)
    text = _MANY_NL.sub("\n\n", text)
    text = _LINE_EDGE.sub("", text)
    return text.strip()
