"""SQL-text rendering of literals and column references.

The per-pass plan builders (parse finish, filter, enrich, tag, route)
emit their expressions as SQL text, one ``F.expr`` per output column,
instead of composing ``Column`` trees call by call. Under PySpark 4.1
every ``F.*`` call or ``Column`` operator costs several Py4J round
trips (the call itself plus the origin bookkeeping of ``_with_origin``:
active-session lookup, a conf read, origin set/clear), and a
223-entry literal map built from ``F.lit`` calls costs thousands. The
text is pure Python; the JVM parses it once per column.

Every renderer here yields the same expression, type included, as the
``F.lit`` / ``F.col`` call it replaces (tests/test_sqltext.py):

* strings render as quoted text with no backslash in it, so the text
  means the same whatever ``spark.sql.parser.escapedStringLiterals``
  says (that setting decides whether backslashes escape; raw ``r'...'``
  literals lose their first character under it). Quotes and
  backslashes are spliced in as ``chr(39)`` / ``chr(92)`` inside a
  ``concat``, which constant folding turns back into one literal;
* numbers carry their type: an int is INT or BIGINT (``L``) as
  ``F.lit`` picks it, a float is a DOUBLE (``D``; a bare ``50000.0``
  would be a DECIMAL);
* identifiers are backtick-quoted, with backticks doubled.
"""

from __future__ import annotations

import datetime
import decimal
import math
import re
from typing import Iterable

_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1
_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1


def sql_str(s: str) -> str:
    """A STRING literal holding exactly ``s``."""
    pieces = []
    for part in re.split(r"(['\\])", s):
        if part in ("'", "\\"):
            pieces.append(f"chr({ord(part)})")
        elif part:
            pieces.append(f"'{part}'")
    if not pieces:
        return "''"
    return pieces[0] if len(pieces) == 1 else f"concat({', '.join(pieces)})"


def sql_lit(v) -> str:
    """A literal typed as ``F.lit(v)`` types it: NULL, BOOLEAN, INT or
    BIGINT, DOUBLE, DECIMAL, STRING, DATE."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if _INT_MIN <= v <= _INT_MAX:
            return str(v)
        if _LONG_MIN <= v <= _LONG_MAX:
            return f"{v}L"
        return f"{v}BD"
    if isinstance(v, float):
        if math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return f"{v!r}D"
    if isinstance(v, decimal.Decimal) and v.is_finite():
        return f"{v}BD"
    if isinstance(v, str):
        return sql_str(v)
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return f"DATE'{v.isoformat()}'"
    raise TypeError(f"no SQL literal rendering for {type(v).__name__}: {v!r}")


def sql_ident(name: str) -> str:
    """One column name, as ``F.col(f"`{name}`")`` reads it: dots, dashes
    and backticks stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sql_col(name: str) -> str:
    """A column reference read as ``F.col(name)`` reads it: unquoted dots
    separate nested fields, backtick-quoted parts are taken whole (the
    rules of Spark's ``UnresolvedAttribute.parseAttributeName``)."""
    parts, cur, quoted, i = [], [], False, 0
    while i < len(name):
        ch = name[i]
        if quoted:
            if ch == "`" and name[i + 1 : i + 2] == "`":
                cur.append("`")
                i += 1
            elif ch == "`":
                quoted = False
            else:
                cur.append(ch)
        elif ch == "`":
            quoted = True
        elif ch == ".":
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        i += 1
    parts.append("".join(cur))
    return ".".join(sql_ident(p) for p in parts)


def sql_map(pairs: Iterable[tuple]) -> str:
    """A ``map(k1, v1, ...)`` of literals, typed as ``F.create_map`` over
    the same ``F.lit`` pairs."""
    return "map(" + ", ".join(f"{sql_lit(k)}, {sql_lit(v)}" for k, v in pairs) + ")"
