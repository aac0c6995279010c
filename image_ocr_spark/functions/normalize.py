"""Normalization as native Spark SQL columns (JVM-side, codegen'd).

Each builder mirrors its pycore twin bit-for-bit (verified on golden pairs
and the full fixture corpus in tests/test_normalize.py).  All hot-path
normalization stays inside whole-stage codegen — no Python UDFs here
(SURVEY.md §2.8 F1-F11).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..pycore.normalize import (
    AMOUNT_CONFUSION_DST,
    AMOUNT_CONFUSION_SRC,
    CTRL_CLASS,
    ERA_BASE,
    FULLWIDTH_ALNUM,
    FULLWIDTH_DIGITS,
    HALFWIDTH_ALNUM,
    HALFWIDTH_DIGITS,
    P_DATE_COMPACT_FULL,
    P_DATE_ERA_FULL,
    P_DATE_WESTERN_FULL,
)


def fold_digits(col: Column) -> Column:
    """F1 (digits): fullwidth digits -> ASCII (ref normalizer.py:100-105)."""
    return F.translate(col, FULLWIDTH_DIGITS, HALFWIDTH_DIGITS)


def fold_alnum_upper(col: Column) -> Column:
    """F1+F2: fullwidth alnum -> ASCII, uppercase (ref classifier.py:209-216)."""
    return F.upper(F.translate(col, FULLWIDTH_ALNUM, HALFWIDTH_ALNUM))


def fix_ocr_amount(col: Column) -> Column:
    """F9: OCR confusion map in amount context (ref normalizer.py:261-288)."""
    return F.translate(col, AMOUNT_CONFUSION_SRC, AMOUNT_CONFUSION_DST)


def normalize_amount(col: Column) -> Column:
    """F8: amount string -> bigint or NULL (ref normalizer.py:141-173).

    Digit-extraction parse: fold fullwidth, strip every non-digit, cast.
    >15 digits -> NULL (bigint overflow guard; mirrored in pycore).
    """
    digits = F.regexp_replace(fold_digits(col), "[^0-9]", "")
    ok = (F.length(digits) > 0) & (F.length(digits) <= 15)
    return F.when(ok, digits.cast("long"))


def normalize_amount_ocr(col: Column) -> Column:
    """F8+F9 composed (ref normalizer.py:343-348)."""
    return normalize_amount(fix_ocr_amount(col))


def _is_valid_ymd(y: Column, m: Column, d: Column) -> Column:
    """Calendar validity incl. leap years + 1900..2100 window, as pure
    column arithmetic (ref normalizer.py:107-113)."""
    dim = (
        F.when(m.isin(1, 3, 5, 7, 8, 10, 12), F.lit(31))
        .when(m.isin(4, 6, 9, 11), F.lit(30))
        .when(
            (m == 2)
            & (y % 4 == 0)
            & ((y % 100 != 0) | (y % 400 == 0)),
            F.lit(29),
        )
        .otherwise(F.lit(28))
    )
    return (
        (y >= 1900) & (y <= 2100) & (m >= 1) & (m <= 12) & (d >= 1) & (d <= dim)
    )


def _fmt_ymd(y: Column, m: Column, d: Column) -> Column:
    return F.when(
        _is_valid_ymd(y, m, d), F.format_string("%04d-%02d-%02d", y, m, d)
    )


def era_base(col: Column) -> Column:
    """J5: era name -> base year via a map literal (ref normalizer.py:29-45)."""
    items: list = []
    for era, base in ERA_BASE.items():
        items += [F.lit(era), F.lit(base)]
    return F.element_at(F.create_map(*items), col)


def _extract_int(col: Column, pattern: str, group: int) -> Column:
    g = F.regexp_extract(col, pattern, group)
    return F.when(g != "", g).cast("int")


def normalize_date(col: Column) -> Column:
    """F4+F5+F6: date string -> 'YYYY-MM-DD' or NULL.

    Pattern priority western > era > compact via coalesce short-circuit
    (SURVEY W4), mirroring pycore.normalize.normalize_date.
    """
    s = fold_digits(col)
    western = _fmt_ymd(
        _extract_int(s, P_DATE_WESTERN_FULL, 1),
        _extract_int(s, P_DATE_WESTERN_FULL, 2),
        _extract_int(s, P_DATE_WESTERN_FULL, 3),
    )
    era_name = F.regexp_extract(s, P_DATE_ERA_FULL, 1)
    era_year_raw = F.regexp_extract(s, P_DATE_ERA_FULL, 2)
    era_year = F.when(era_year_raw == "元", F.lit(1)).otherwise(
        F.when(era_year_raw != "", era_year_raw).cast("int")
    )
    era = _fmt_ymd(
        era_base(era_name) + era_year,
        _extract_int(s, P_DATE_ERA_FULL, 3),
        _extract_int(s, P_DATE_ERA_FULL, 4),
    )
    compact = _fmt_ymd(
        _extract_int(s, P_DATE_COMPACT_FULL, 1),
        _extract_int(s, P_DATE_COMPACT_FULL, 2),
        _extract_int(s, P_DATE_COMPACT_FULL, 3),
    )
    return F.coalesce(western, era, compact)


# Characters Python's str.strip() removes that can still be present when the
# final strip runs (controls \x00-\x1f except \t\n are already gone, \r has
# become \n): ASCII space/tab/newline plus the Unicode space set.  F.trim
# strips only ASCII spaces; btrim with this explicit set is bit-identical
# with pycore.normalize.clean_text's .strip() AND O(boundary) — an anchored
# regex alternative costs a whole-string scan per document (measured ~10%
# of flagship wall time).
_PY_STRIP_CHARS = (
    " \t\n"
    + "".join(chr(c) for c in (0x85, 0xA0, 0x1680))
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "".join(chr(c) for c in (0x2028, 0x2029, 0x202F, 0x205F, 0x3000))
)


def clean_text(col: Column) -> Column:
    """F11: the byte-identity canonicalization (ref normalizer.py:294-319).

    Same step order as pycore.normalize.clean_text.
    """
    c = F.regexp_replace(col, CTRL_CLASS, "")
    c = F.regexp_replace(c, "\r\n", "\n")
    c = F.regexp_replace(c, "\r", "\n")
    c = F.regexp_replace(c, "[ \t]+", " ")
    c = F.regexp_replace(c, "\n{3,}", "\n\n")
    # (?d) = Java UNIX_LINES: ^/$ anchor only at '\n', matching Python's
    # multiline semantics — without it Java also anchors at NEL/LS/PS
    # (\x85    ) and strips spaces Python keeps (fuzz-caught)
    c = F.regexp_replace(c, "(?dm)^[ \t]+|[ \t]+$", "")
    return F.btrim(c, F.lit(_PY_STRIP_CHARS))


def fix_company_name(col: Column) -> Column:
    """F10: company-name OCR corrections (ref normalizer.py:236-259)."""
    from ..pycore.normalize import COMPANY_CORRECTIONS

    for wrong, right in COMPANY_CORRECTIONS.items():
        col = F.replace(col, F.lit(wrong), F.lit(right))
    return col
