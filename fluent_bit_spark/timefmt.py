"""strptime -> Spark datetime pattern translation.

The reference parses record times with strptime plus extensions
(src/flb_parser.c:248-335, lookup at :1159 ``flb_parser_time_lookup``):

* ``%L`` — fractional seconds (a Fluent Bit extension; the format string is
  split at ``%L`` and the fraction parsed manually, flb_parser.c:1159+).
* ``%s`` — epoch seconds.
* year-less formats (e.g. syslog ``%b %d %H:%M:%S``) get ``%Y `` prepended
  and the *current* year assumed (flb_parser.c:248-275). For determinism we
  take the assumed year as a parameter (default 2024) and document the
  divergence from wall-clock behavior.
* ``%z``/``%Z`` — UTC offset;
* fixed ``time_offset`` (e.g. "+0200") applied when the string carries no
  zone (flb_parser.c:320-335).

Spark (Java DateTimeFormatter) equivalents are built here; parsing happens
JVM-side via ``to_timestamp`` — no Python in the hot path.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_map

# Composite tokens expand to their POSIX definitions before translation
# (flb_strptime.c handles these recursively: %D %F %R %r %T %h, :306-356).
_COMPOSITE = {
    "%D": "%m/%d/%y",
    "%F": "%Y-%m-%d",
    "%R": "%H:%M",
    "%r": "%I:%M:%S %p",
    "%T": "%H:%M:%S",
    "%h": "%b",
    "%n": " ",
    "%t": " ",
}

# flb_strptime.c:100-199 flb_known_timezones — FIXED offsets (seconds).
# Java's zone-name parse ('zz') resolves abbreviations to region zone
# IDs and applies date-dependent DST (CEST at a January date parses as
# +01:00, EDT as -05:00), so the reference's fixed-offset semantics are
# replayed by normalizing the abbreviation to a numeric offset instead.
_H = 3600
_KNOWN_ZONES = {
    "GMT": 0, "UTC": 0, "Z": 0, "UT": 0,
    # North America
    "EST": -5 * _H, "EDT": -4 * _H, "CST": -6 * _H, "CDT": -5 * _H,
    "MST": -7 * _H, "MDT": -6 * _H, "PST": -8 * _H, "PDT": -7 * _H,
    "AKST": -9 * _H, "AKDT": -8 * _H, "HST": -10 * _H, "HADT": -9 * _H,
    "AST": -4 * _H, "ADT": -3 * _H,
    "NST": int(-3.5 * _H), "NDT": int(-2.5 * _H),
    # Europe
    "WET": 0, "WEST": 1 * _H, "CET": 1 * _H, "CEST": 2 * _H,
    "EET": 2 * _H, "EEST": 3 * _H, "MSK": 3 * _H,
    # South America
    "ART": -3 * _H, "BRT": -3 * _H, "BRST": -2 * _H,
    "CLT": -4 * _H, "CLST": -3 * _H,
    # Australasia / Oceania
    "AEST": 10 * _H, "AEDT": 11 * _H,
    "ACST": int(9.5 * _H), "ACDT": int(10.5 * _H), "AWST": 8 * _H,
    "NZST": 12 * _H, "NZDT": 13 * _H,
    # Asia
    "JST": 9 * _H, "KST": 9 * _H, "SGT": 8 * _H, "IST": int(5.5 * _H),
    "GST": 4 * _H, "ICT": 7 * _H, "WIB": 7 * _H, "WITA": 8 * _H,
    "WIT": 9 * _H, "MYT": 8 * _H, "BDT": 6 * _H, "NPT": int(5.75 * _H),
    # Africa
    "WAT": 1 * _H, "CAT": 2 * _H, "EAT": 3 * _H, "SAST": 2 * _H,
    # Military single letters ('J' is observer-local and excluded)
    **{c: (i + 1) * _H for i, c in enumerate("ABCDEFGHI")},
    **{c: (i + 10) * _H for i, c in enumerate("KLM")},
    **{c: -(i + 1) * _H for i, c in enumerate("NOPQRSTUVWXY")},
}


def _offset_str(seconds: int) -> str:
    sign = "-" if seconds < 0 else "+"
    m = abs(seconds) // 60
    return f"{sign}{m // 60:02d}{m % 60:02d}"


# RFC-822 names the %z conversion itself accepts (flb_strptime.c:676-724):
# GMT / UT[C] / Z plus the North-American nast/nadt lists.
_Z_LOWER_NAMES = {
    k: _offset_str(v)
    for k, v in _KNOWN_ZONES.items()
    if k in ("GMT", "UTC", "UT", "EST", "EDT", "CST", "CDT",
             "MST", "MDT", "PST", "PDT")
}

# strptime -> Java DateTimeFormatter fragments
_MAP = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    # 'd' (min-width) rather than 'dd': glibc strptime skips leading
    # whitespace on numeric fields, so syslog's "Feb  3" parses; Java needs
    # the flexible-width pattern plus the space-collapse in parse_time.
    "%d": "d",
    "%e": "d",
    "%b": "MMM",
    "%B": "MMMM",
    # %a/%A only fill tm_wday in the reference — no effect on the
    # instant — and Spark >= 3.0 refuses day-of-week fields in parse
    # patterns, so the day name is stripped from the INPUT instead
    # (see parse_time) and contributes nothing to the pattern.
    "%a": "",
    "%A": "",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%p": "a",
    "%j": "DDD",
    "%z": "XX",    # +0000 style AND literal 'Z' (ISO); use %:z for +00:00
    "%:z": "XXX",
    # %Z parses as a numeric offset too: the abbreviation is rewritten
    # to its fixed offset from _KNOWN_ZONES before parsing (see
    # parse_time) — Java's 'zz' name resolution is date-dependent and
    # diverges from the reference's fixed table.
    "%Z": "XX",
    "%%": "%",
}


@dataclass(frozen=True)
class TimeFormat:
    spark_fmt: str
    has_year: bool
    has_zone: bool
    frac_digits: int  # 0 when no %L
    epoch: bool       # %s
    two_digit_year: bool = False  # %y — POSIX century pivot applies
    zone_kind: Optional[str] = None  # 'z' (offset/RFC-822) | 'Z' (names)
    strip_day_names: bool = False  # %a/%A — remove from input pre-parse


def translate_strptime(fmt: str, frac_digits: int = 3) -> TimeFormat:
    """Translate a strptime format to a Spark pattern.

    ``%L`` becomes a fixed-width fraction ``S * frac_digits`` — callers
    normalize the input string to that width (see ``parse_time``).
    Composite tokens (%D %F %R %r %T %h %n %t) expand to their POSIX
    definitions first, as flb_strptime.c:306-356 does recursively.
    ``%C`` (explicit century) is not supported.
    """
    if fmt.strip() == "%s":
        return TimeFormat("", False, False, 0, True)
    for tok, expansion in _COMPOSITE.items():
        fmt = fmt.replace(tok, expansion)
    out = []
    has_year = has_zone = two_digit_year = strip_day_names = False
    zone_kind = None
    frac = 0
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            tok = fmt[i : i + 2]
            if fmt[i : i + 3] == "%:z":
                tok = "%:z"
            if tok == "%L":
                frac = frac_digits
                out.append("S" * frac_digits)
                i += 2
                continue
            if tok in ("%Y", "%y"):
                has_year = True
            if tok == "%y":
                two_digit_year = True
            if tok in ("%z", "%:z", "%Z"):
                has_zone = True
                zone_kind = "Z" if tok == "%Z" else "z"
            if tok in ("%a", "%A"):
                strip_day_names = True
            if tok not in _MAP:
                raise ValueError(f"unsupported strptime token {tok!r} in {fmt!r}")
            out.append(_MAP[tok])
            i += len(tok)
        elif ch in "'":
            out.append("''")
            i += 1
        elif ch.isalpha():
            out.append(f"'{ch}'")
            i += 1
        else:
            out.append(ch)
            i += 1
    return TimeFormat(
        "".join(out), has_year, has_zone, frac, False,
        two_digit_year, zone_kind, strip_day_names,
    )


def _normalize_zone(s: Column, kind: str) -> Column:
    """Rewrite a trailing timezone token to ``±HHMM`` so Java's ``XX``
    can parse every form the reference's %z/%Z accept
    (flb_strptime.c:592-751):

    * ``%Z`` (kind='Z'): a trailing abbreviation from the
      flb_known_timezones fixed-offset table, case-insensitive.
      Unknown abbreviations are left in place and the parse yields
      NULL (the reference falls back to the host's tzname there —
      nondeterministic across machines, so not replayed).
    * ``%z`` (kind='z'): RFC-822 names (GMT/UT[C] + the North-American
      nast/nadt lists), ``±HH:MM``, and bare ``±HH``; ISO ``Z`` and
      ``±HHMM`` already parse natively under ``XX``.

    The token is normalized at END of string — the position every
    stock parser puts it; a mid-string zone name yields NULL.
    All regexp/map work is plain codegen scalar expressions.
    """
    table = _KNOWN_ZONES if kind == "Z" else _Z_LOWER_NAMES
    # one SQL map literal: an F.create_map of F.lit pairs costs two Py4J
    # calls per zone on every parser build
    zmap = F.expr(sql_map(
        (name, off if isinstance(off, str) else _offset_str(off))
        for name, off in sorted(table.items())
    ))
    tok = F.regexp_extract(s, r"([A-Za-z]{1,5})\s*$", 1)
    off = F.try_element_at(zmap, F.upper(tok))
    prefix = F.regexp_extract(s, r"^(.*?)[A-Za-z]{1,5}\s*$", 1)
    named = F.when((tok != "") & off.isNotNull(), F.concat(prefix, off)).otherwise(s)
    # ±HH:MM -> ±HHMM, then bare trailing ±HH -> ±HH00
    flat = F.regexp_replace(named, r"([+-]\d{2}):(\d{2})\s*$", "$1$2")
    return F.regexp_replace(flat, r"([+-]\d{2})\s*$", "$100")


def parse_time(
    col: Column,
    strptime_fmt: str,
    *,
    assume_year: int = 2024,
    time_offset: Optional[str] = None,
    frac_digits: int = 3,
) -> Column:
    """Parse a string column to TimestampType following the reference's
    time-lookup semantics. Pure JVM expressions (whole-stage codegen).

    %L handling: Fluent Bit splits the format at %L and reads however many
    fraction digits the string carries; Java patterns need a fixed width.
    We normalize the in-string fraction to exactly ``frac_digits`` digits
    (right-pad or truncate) before ``to_timestamp``. Strings with no
    fraction parse against the format with the fraction token dropped.
    """
    tf = translate_strptime(strptime_fmt, frac_digits)
    if tf.epoch:
        # strtol semantics ('%s' is parsed with strtol in
        # flb_parser_time_lookup): garbage -> null timestamp instead of
        # an ANSI CAST throw failing the task; numeric inputs convert
        # exactly (function-level import: parsers imports this module)
        from .parsers import strtol_long

        return F.to_timestamp(F.from_unixtime(strtol_long(col)))

    if tf.strip_day_names:
        # %a/%A fill only tm_wday (no effect on the instant); Spark
        # refuses day-of-week parse fields, so drop the name from the
        # input — the surrounding literals stay on both sides.
        col = F.regexp_replace(
            col,
            r"(?i)\b(Monday|Tuesday|Wednesday|Thursday|Friday|Saturday"
            r"|Sunday|Mon|Tue|Wed|Thu|Fri|Sat|Sun)\b",
            "",
        )

    # strptime skips redundant whitespace between fields; Java does not.
    col = F.regexp_replace(col, " +", " ")

    if tf.zone_kind:
        col = _normalize_zone(col, tf.zone_kind)

    def finish(s: Column, fmt: str) -> Column:
        if not tf.has_year:
            s = F.concat(F.lit(f"{assume_year} "), s)
            fmt = "yyyy " + fmt
        if time_offset and not tf.has_zone:
            s = F.concat(s, F.lit(" " + time_offset))
            fmt = fmt + " XX"
        # try_to_timestamp: an unparseable time yields NULL, matching the
        # reference (time stays unset, flb_parser.c:1159+) — plain
        # to_timestamp under ANSI mode would fail the whole job instead
        ts = F.try_to_timestamp(s, F.lit(fmt))
        if tf.two_digit_year:
            # POSIX %y pivot (flb_strptime.c:769-775): 00-68 -> 2000s,
            # 69-99 -> 1900s. Java's 'yy' is reduced-value base 2000, so
            # 69-99 parse as 2069-2099 — shift those back a century.
            # (Evaluated on the UTC instant; a %y+%z string within hours
            # of a century boundary can straddle it — not a log shape.)
            ts = F.when(
                F.year(ts).between(2069, 2099),
                ts + F.expr("make_ym_interval(-100, 0)"),
            ).otherwise(ts)
        return ts

    if not tf.frac_digits:
        return finish(col, tf.spark_fmt)

    frac_tok = "S" * tf.frac_digits
    has_frac = col.rlike(r"\.\d")
    # rebuild "<before>.<frac padded to N><after>" so %z-after-%L survives
    before = F.regexp_extract(col, r"^(.*?)\.\d+", 1)
    after = F.regexp_extract(col, r"^.*?\.\d+(.*)$", 1)
    frac = F.regexp_extract(col, r"\.(\d+)", 1)
    frac = F.rpad(F.substring(frac, 1, tf.frac_digits), tf.frac_digits, "0")
    normalized = F.concat(before, F.lit("."), frac, after)
    no_frac_fmt = tf.spark_fmt.replace("." + frac_tok, "").replace(frac_tok, "")
    return F.when(has_frac, finish(normalized, tf.spark_fmt)).otherwise(
        finish(col, no_frac_fmt)
    )
