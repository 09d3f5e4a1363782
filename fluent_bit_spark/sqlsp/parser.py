"""Hand-rolled tokenizer + recursive-descent parser for the Fluent Bit
stream-processor SQL subset.

Grammar reference: src/stream_processor/parser/sql.y (rules: select, keys,
source FROM_STREAM/FROM_TAG, window TUMBLING/HOPPING, where-condition with
AND/OR/NOT/comparisons/IS NULL/@record.contains, group-by, limit; CREATE
STREAM ... AS SELECT with WITH(properties), sql.y:109-144) and lexer
sql.l (tokens: relational ops, SECOND/MINUTE/HOUR units, quoted strings,
``@record.contains``).

AST nodes are plain dataclasses consumed by exec.py.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional, Sequence, Union

AGG_FUNCS = {"AVG", "SUM", "COUNT", "MIN", "MAX", "TIMESERIES_FORECAST"}
TIME_FUNCS = {"NOW", "UNIX_TIMESTAMP"}
RECORD_FUNCS = {"RECORD_TAG", "RECORD_TIME"}
_UNIT_SECONDS = {"SECOND": 1, "MINUTE": 60, "HOUR": 3600}


# --- AST -------------------------------------------------------------------


@dataclass(frozen=True)
class KeyRef:
    name: str
    subkeys: tuple = ()  # str (map/struct keys) or int (array index)


@dataclass(frozen=True)
class SelectKey:
    """One projection entry: plain key, '*', an aggregate, or a func."""

    key: Optional[KeyRef] = None          # None for '*' / zero-arg funcs
    func: Optional[str] = None            # AVG/SUM/... or NOW/RECORD_TAG/...
    alias: Optional[str] = None
    star: bool = False
    forecast_offset: Optional[int] = None  # TIMESERIES_FORECAST 2nd arg

    @property
    def out_name(self) -> str:
        if self.alias:
            return self.alias
        if self.star:
            return "*"
        if self.func in AGG_FUNCS:
            inner = "*" if self.key is None else self.key.name
            return f"{self.func}({inner})"
        if self.func:
            return f"{self.func}()"
        return self.key.name


@dataclass(frozen=True)
class Literal:
    value: object  # int | float | str | bool | None


@dataclass(frozen=True)
class Contains:
    key: KeyRef


@dataclass(frozen=True)
class FuncCall:
    name: str  # RECORD_TAG / RECORD_TIME / NOW / UNIX_TIMESTAMP


@dataclass(frozen=True)
class Cmp:
    left: object
    op: str  # = < <= > >=  (!= is parsed as Not(Cmp(=)) per sql.y:336-342)
    right: object


@dataclass(frozen=True)
class Logical:
    op: str  # AND OR NOT
    left: object
    right: Optional[object] = None


@dataclass(frozen=True)
class WindowSpec:
    kind: str  # 'tumbling' | 'hopping'
    size_sec: int
    advance_sec: int = 0


@dataclass(frozen=True)
class Source:
    kind: str  # 'stream' | 'tag'
    name: str


@dataclass(frozen=True)
class Query:
    keys: Sequence[SelectKey]
    source: Source
    where: Optional[object] = None
    window: Optional[WindowSpec] = None
    groupby: Sequence[KeyRef] = field(default_factory=tuple)
    limit: Optional[int] = None
    # CREATE STREAM / CREATE SNAPSHOT / FLUSH SNAPSHOT wrappers
    create_stream: Optional[str] = None
    stream_props: dict = field(default_factory=dict)
    create_snapshot: Optional[str] = None  # sql.y:122-132
    flush_snapshot: Optional[str] = None   # sql.y:134-144

    @property
    def has_aggregates(self) -> bool:
        return any(k.func in AGG_FUNCS for k in self.keys)


# --- tokenizer ---------------------------------------------------------------

_TOKEN_RX = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<contains>@record\.contains)
  | (?P<float>-?\d+\.\d+)
  | (?P<int>-?\d+)
  | (?P<str>'(?:[^'\\]|\\.)*')
  | (?P<ident>[A-Za-z_][A-Za-z0-9_\-\.]*)
  | (?P<op><=|>=|<>|!=|=|<|>)
  | (?P<punct>[(),;\[\]\*:])
""",
    re.X,
)


def _tokenize(sql: str) -> list[tuple[str, str]]:
    toks = []
    i = 0
    while i < len(sql):
        m = _TOKEN_RX.match(sql, i)
        if not m:
            raise ValueError(f"SQL tokenize error at {sql[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        toks.append((kind, m.group()))
    return toks


class _P:
    def __init__(self, sql: str):
        self.toks = _tokenize(sql)
        self.i = 0

    def peek(self, k: int = 0):
        return self.toks[self.i + k] if self.i + k < len(self.toks) else ("eof", "")

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def kw(self, word: str) -> bool:
        """Consume case-insensitive keyword if present."""
        k, v = self.peek()
        if k == "ident" and v.upper() == word:
            self.i += 1
            return True
        return False

    def expect_kw(self, word: str):
        if not self.kw(word):
            raise ValueError(f"expected {word} at {self.peek()}")

    def expect(self, val: str):
        k, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")


def _parse_props(p: _P) -> dict:
    props: dict = {}
    if p.kw("WITH"):
        p.expect("(")
        while True:
            _, k = p.next()
            p.expect("=")
            kind, v = p.next()
            props[k] = v[1:-1] if kind == "str" else v
            if p.peek()[1] == ",":
                p.next()
                continue
            break
        p.expect(")")
    return props


def parse_sql(sql: str) -> Query:
    p = _P(sql.strip().rstrip(";") + ";")
    # CREATE STREAM|SNAPSHOT name [WITH(...)] AS SELECT ... (sql.y:109-132)
    # FLUSH SNAPSHOT name [WITH(...)] AS SELECT ...          (sql.y:134-144)
    create_name = None
    snapshot_name = None
    flush_name = None
    props: dict = {}
    if p.kw("CREATE"):
        if p.kw("SNAPSHOT"):
            _, snapshot_name = p.next()
        else:
            p.expect_kw("STREAM")
            _, create_name = p.next()
        props = _parse_props(p)
        p.expect_kw("AS")
    elif p.kw("FLUSH"):
        p.expect_kw("SNAPSHOT")
        _, flush_name = p.next()
        props = _parse_props(p)
        p.expect_kw("AS")
    p.expect_kw("SELECT")
    keys = _parse_keys(p)
    p.expect_kw("FROM")
    source = _parse_source(p)
    where = None
    window = None
    groupby: list[KeyRef] = []
    limit = None
    while True:
        k, v = p.peek()
        if k == "ident" and v.upper() == "WHERE":
            p.next()
            where = _parse_or(p)
        elif k == "ident" and v.upper() == "WINDOW":
            p.next()
            window = _parse_window(p)
        elif k == "ident" and v.upper() == "GROUP":
            p.next()
            p.expect_kw("BY")
            groupby.append(_parse_keyref(p))
            while p.peek()[1] == ",":
                p.next()
                groupby.append(_parse_keyref(p))
        elif k == "ident" and v.upper() == "LIMIT":
            p.next()
            _, n = p.next()
            limit = int(n)
        else:
            break
    if p.peek()[1] != ";":
        raise ValueError(f"trailing tokens at {p.peek()}")
    return Query(
        keys=tuple(keys),
        source=source,
        where=where,
        window=window,
        groupby=tuple(groupby),
        limit=limit,
        create_stream=create_name,
        stream_props=props,
        create_snapshot=snapshot_name,
        flush_snapshot=flush_name,
    )


def _parse_keys(p: _P) -> list[SelectKey]:
    out = []
    while True:
        out.append(_parse_select_key(p))
        if p.peek()[1] == ",":
            p.next()
            continue
        return out


def _parse_select_key(p: _P) -> SelectKey:
    k, v = p.peek()
    if v == "*":
        p.next()
        return SelectKey(star=True)
    if k != "ident":
        raise ValueError(f"bad select key at {p.peek()}")
    up = v.upper()
    if up in AGG_FUNCS and p.peek(1)[1] == "(":
        p.next()
        p.expect("(")
        key = None
        fc_off = None
        if p.peek()[1] == "*":
            p.next()
        else:
            key = _parse_keyref(p)
            if up == "TIMESERIES_FORECAST":
                p.expect(",")
                _, n = p.next()
                fc_off = int(n)
        p.expect(")")
        alias = _parse_alias(p)
        return SelectKey(key=key, func=up, alias=alias, forecast_offset=fc_off)
    if up in TIME_FUNCS | RECORD_FUNCS and p.peek(1)[1] == "(":
        p.next()
        p.expect("(")
        p.expect(")")
        alias = _parse_alias(p)
        return SelectKey(func=up, alias=alias)
    key = _parse_keyref(p)
    alias = _parse_alias(p)
    return SelectKey(key=key, alias=alias)


def _parse_alias(p: _P) -> Optional[str]:
    if p.kw("AS"):
        _, a = p.next()
        return a
    return None


def _parse_keyref(p: _P) -> KeyRef:
    k, v = p.next()
    if k == "str":
        name = v[1:-1]
    elif k == "ident":
        name = v
    else:
        raise ValueError(f"bad key at {v!r}")
    subs = []
    while p.peek()[1] == "[":
        p.next()
        kk, vv = p.next()
        if kk == "str":
            subs.append(vv[1:-1])
        elif kk == "int":
            subs.append(int(vv))
        else:
            raise ValueError(f"bad subkey {vv!r}")
        p.expect("]")
    return KeyRef(name, tuple(subs))


def _parse_source(p: _P) -> Source:
    k, v = p.next()
    up = v.upper()
    if up == "STREAM":
        p.expect(":")
        _, name = p.next()
        return Source("stream", name)
    if up == "TAG":
        p.expect(":")
        kk, vv = p.next()
        if kk != "str":
            raise ValueError("FROM TAG: requires quoted pattern")
        return Source("tag", vv[1:-1])
    raise ValueError(f"bad source {v!r}")


def _parse_window(p: _P) -> WindowSpec:
    if p.kw("TUMBLING"):
        p.expect("(")
        _, n = p.next()
        unit = p.next()[1].upper()
        p.expect(")")
        return WindowSpec("tumbling", int(n) * _UNIT_SECONDS[unit])
    if p.kw("HOPPING"):
        p.expect("(")
        _, n = p.next()
        unit = p.next()[1].upper()
        size = int(n) * _UNIT_SECONDS[unit]
        p.expect(",")
        p.expect_kw("ADVANCE")
        p.expect_kw("BY")
        _, m = p.next()
        unit2 = p.next()[1].upper()
        p.expect(")")
        advance = int(m) * _UNIT_SECONDS[unit2]
        if not 0 < advance <= size:
            # F.window's rule (slide <= duration): a larger advance would
            # leave gaps between windows whose records no window counts
            raise ValueError("HOPPING needs 0 < ADVANCE BY <= window size")
        return WindowSpec("hopping", size, advance)
    raise ValueError("bad window spec")


# condition precedence: OR < AND < NOT < cmp (sql.y:279-320)


def _parse_or(p: _P):
    left = _parse_and(p)
    while p.kw("OR"):
        right = _parse_and(p)
        left = Logical("OR", left, right)
    return left


def _parse_and(p: _P):
    left = _parse_not(p)
    while p.kw("AND"):
        right = _parse_not(p)
        left = Logical("AND", left, right)
    return left


def _parse_not(p: _P):
    if p.kw("NOT"):
        return Logical("NOT", _parse_not(p))
    return _parse_cmp(p)


def _parse_cmp(p: _P):
    if p.peek()[1] == "(":
        p.next()
        inner = _parse_or(p)
        p.expect(")")
        return inner
    left = _parse_operand(p)
    k, v = p.peek()
    if k == "ident" and v.upper() == "IS":
        p.next()
        neg = p.kw("NOT")
        p.expect_kw("NULL")
        eq = Cmp(left, "=", Literal(None))
        return Logical("NOT", eq) if neg else eq
    if k == "op":
        p.next()
        right = _parse_operand(p)
        if v in ("!=", "<>"):
            return Logical("NOT", Cmp(left, "=", right))  # sql.y:336-342
        return Cmp(left, v, right)
    # bare key/function: 'record_func' alone means = true (sql.y:323-329)
    return Cmp(left, "=", Literal(True))


def _parse_operand(p: _P):
    k, v = p.peek()
    if k == "contains":
        p.next()
        p.expect("(")
        key = _parse_keyref(p)
        p.expect(")")
        return Contains(key)
    if k == "float":
        p.next()
        return Literal(float(v))
    if k == "int":
        p.next()
        return Literal(int(v))
    if k == "str":
        p.next()
        return Literal(v[1:-1])
    if k == "ident":
        up = v.upper()
        if up in ("TRUE", "FALSE"):
            p.next()
            return Literal(up == "TRUE")
        if up == "NULL":
            p.next()
            return Literal(None)
        if up in RECORD_FUNCS | TIME_FUNCS and p.peek(1)[1] == "(":
            p.next()
            p.expect("(")
            p.expect(")")
            return FuncCall(up)
        return _parse_keyref(p)
    raise ValueError(f"bad operand at {v!r}")
