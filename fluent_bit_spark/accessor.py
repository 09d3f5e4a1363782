"""Record-accessor path compiler.

The reference addresses nested fields with a small flex/bison language
(src/record_accessor/ra.l:43-50, ra.y): ``$key``, ``$key['sub']['sub2']``,
``$key[N]`` (array index), ``$TAG``, ``$TAG[n]`` (tag split on '.'), and
``$0..$9`` (regex capture refs). API surface:
include/fluent-bit/flb_record_accessor.h:33-60.

Here a path string compiles once to a Spark Column expression against
either (a) a fixed-schema DataFrame (struct/array navigation) or (b) the
dynamic map encoding (fbrecord.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F

from .sqltext import sql_col, sql_ident, sql_str

# identifier charset per the reference lexer (ra.l:56):
# [_A-Za-z][A-Za-z0-9_.\-/]* — dots, dashes and slashes are part of ONE
# flat key name ($key-dash, $kubernetes.labels), not navigation
_PATH = re.compile(
    r"""^\$(?P<root>[A-Za-z_][A-Za-z0-9_.\-/]*|\d)
         (?P<rest>(\[(?:'[^']*'|"[^\"]*"|\d+)\])*)$""",
    re.X,
)
_SUB = re.compile(r"\[(?:'(?P<q1>[^']*)'|\"(?P<q2>[^\"]*)\"|(?P<idx>\d+))\]")


@dataclass(frozen=True)
class ParsedPath:
    root: str                      # key name, 'TAG', or digit string for $0..$9
    subs: tuple = field(default_factory=tuple)  # str = map/struct key, int = array idx

    @property
    def is_tag(self) -> bool:
        return self.root == "TAG"

    @property
    def capture_ref(self) -> Optional[int]:
        return int(self.root) if self.root.isdigit() else None


def parse_path(path: str) -> ParsedPath:
    """Parse a record-accessor string. Bare names (no '$') are accepted as
    plain top-level keys — the reference does the same for filter options
    that take either form (e.g. grep's field, grep.c uses flb_ra_create on
    the raw string)."""
    if not path.startswith("$"):
        return ParsedPath(path)
    m = _PATH.match(path)
    if not m:
        raise ValueError(f"bad record accessor path: {path!r}")
    subs = []
    for sm in _SUB.finditer(m.group("rest") or ""):
        if sm.group("idx") is not None:
            subs.append(int(sm.group("idx")))
        else:
            subs.append(sm.group("q1") if sm.group("q1") is not None else sm.group("q2"))
    return ParsedPath(m.group("root"), tuple(subs))


def compile_path(
    path: str,
    *,
    tag_col: str = "tag",
    captures: Optional[dict[int, Column]] = None,
    body_map: Optional[str] = None,
) -> Column:
    """Compile to a Column.

    body_map — if set, top-level keys resolve via ``element_at(map, key)``
    (the dynamic encoding); otherwise via struct-column navigation.
    $TAG[n] splits the tag on '.' (flb_ra_parser tag-part semantics).
    """
    p = parse_path(path)
    if p.is_tag:
        c = F.col(tag_col)
        if p.subs:
            if not isinstance(p.subs[0], int):
                raise ValueError("$TAG[n] requires an integer index")
            c = F.split(c, r"\.").getItem(p.subs[0])
        return c
    ref = p.capture_ref
    if ref is not None:
        if captures is None or ref not in captures:
            raise ValueError(f"capture ref ${ref} with no captures in scope")
        return captures[ref]

    if body_map is None:
        return F.expr(struct_path_sql(p))
    c = F.try_element_at(F.col(body_map), F.lit(p.root))
    for s in p.subs:
        # try_element_at: see struct_path_sql
        c = F.try_element_at(c, F.lit(s + 1 if isinstance(s, int) else s))
    return c


def struct_path_sql(p: ParsedPath) -> str:
    """A plain-key path against a fixed-schema frame, as SQL text.

    The root is backtick-quoted when it holds a dot, so the dot stays
    part of one flat column name, not struct navigation. try_element_at,
    not element_at: ANSI mode throws on out-of-range indexes, but the
    reference returns "no result" (record_accessor.c
    array_index_overflow, nonexistent_key_access tests) — i.e. NULL here.
    A string subscript is ``c['sub']``, the extract-value that
    ``Column.getField`` builds."""
    c = sql_ident(p.root) if "." in p.root else sql_col(p.root)
    for s in p.subs:
        # RA array index is 0-based; element_at is 1-based
        c = f"try_element_at({c}, {s + 1})" if isinstance(s, int) else f"{c}[{sql_str(s)}]"
    return c


def _set_in(c: Column, subs: tuple, value: Column) -> Column:
    """Recursive struct write at a subscript chain via withField
    (flb_ra_key_value_update's msgpack rewrite, flb_ra_key.c — here a
    pure expression rebuild). Field names are backtick-quoted: withField
    parses unquoted dots as NESTED navigation, but this package's key
    convention (ra.l charset) treats a dotted name as one flat key."""
    if not subs:
        return value
    head, rest = subs[0], subs[1:]
    if isinstance(head, int):
        raise ValueError("array-index update targets are not supported")
    return c.withField(f"`{head}`", _set_in(c.getField(head), rest, value))


def update_path(
    df,
    path: str,
    value: Column,
    *,
    body_map: Optional[str] = None,
    rename_to: Optional[str] = None,
):
    """Write-side record accessor: flb_ra_update_key_val / _update_val /
    _update_key (record_accessor.c cb_update_* semantics) — set the value
    at `path`, optionally renaming the final key.

    Fixed schema: nested struct fields rebuild via Column.withField;
    top-level keys are plain withColumn. body_map: the dynamic map
    encoding rebuilds the map (filter + concat). The reference updates
    in place in the msgpack buffer; columnar engines rebuild the row —
    same result, no mutation."""
    p = parse_path(path)
    if p.is_tag or p.capture_ref is not None:
        raise ValueError("update targets must be record keys")
    final_name = rename_to if rename_to is not None else (p.subs[-1] if p.subs else p.root)

    if body_map is not None:
        root = F.col(body_map)
        if not p.subs:
            # drop BOTH the old key and any existing key with the target
            # name: map_concat throws on duplicate keys under the default
            # mapKeyDedupPolicy=EXCEPTION (rename onto an existing key)
            new_map = F.map_concat(
                F.map_filter(
                    root, lambda k, v: (k != p.root) & (k != final_name)
                ),
                F.create_map(F.lit(final_name), value),
            )
            return df.withColumn(body_map, new_map)
        # nested-in-map values are opaque text in the dynamic encoding
        raise ValueError("dynamic encoding supports top-level updates only")

    if not p.subs:
        if rename_to is not None and p.root in df.columns:
            df = df.withColumnRenamed(p.root, rename_to)
            return df.withColumn(rename_to, value)
        return df.withColumn(final_name, value)
    root_col = F.col(f"`{p.root}`" if "." in p.root else p.root)
    if rename_to is not None and rename_to != p.subs[-1]:
        # rename = on the PARENT struct: drop the old field, add the new
        parent_subs, old = p.subs[:-1], p.subs[-1]
        parent = root_col
        for s in parent_subs:
            parent = parent.getField(s)
        new_parent = parent.dropFields(f"`{old}`").withField(
            f"`{rename_to}`", value
        )
        if not parent_subs:
            return df.withColumn(p.root, new_parent)
        return df.withColumn(p.root, _set_in(root_col, parent_subs, new_parent))
    return df.withColumn(p.root, _set_in(root_col, p.subs, value))
