"""aeg-JSON formatter / parser.

Byte-exact rendering of the reference's JSON snapshot format
(output/JsonOutputFormat.java:108-182, serializer parity tested against
aegisthus-core/.../AegisthusSerializer.java):

    <key>\\t{"<key>":{"deletedAt":N,"columns":[[name,value,ts],
    [name,value,ts,"d"],[name,value,ts,"e",ttl,ldt],[name,value,ts,"c",tsLastDelete]]}}

Names/values are rendered through comparator converters (hex for the default
BytesType). Jackson writes compact JSON (no spaces); we reproduce with
json.dumps(..., separators=(',', ':')) on pre-rendered strings.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import types as aegtypes
from .functions.naming import legacy_name_sql
from .functions.render import comparator_render, json_escape
from .functions.sortkeys import _strip_pkg
from .functions.sqltext import string_lit


def legacy_column_name_format(name: str) -> str:
    """Python twin of functions.naming.legacy_name_sql
    (AegisthusKeySortingComparator.java:30-32)."""
    import re

    return (
        re.sub(r"[\s\x00-\x1f\x7f]", " ", name).replace("\\", "\\\\").replace('"', '\\"')
    )


def render_row_json(
    key: bytes,
    deleted_at: int,
    columns,
    *,
    key_conv=None,
    name_conv=None,
    value_conv=None,
    max_col_size: int | None = None,
    legacy_formatting: bool = False,
) -> str:
    """One compacted row -> one aeg-JSON line (without trailing newline)."""
    bytes_conv = aegtypes.get("BytesType")
    key_conv = key_conv or bytes_conv
    name_conv = name_conv or bytes_conv
    value_conv = value_conv or bytes_conv

    key_str = key_conv.render(key)
    cols_out = []
    if max_col_size is not None:
        # serializedSizeForSSTable: regular cells = name+value+15 framing;
        # expiring ('e') and counter ('x') atoms carry 8 extra bytes
        total = sum(
            len(c["name"] or b"") + len(c["value"] or b"") + 15
            + (8 if c.get("kind") in ("e", "x") else 0)
            for c in columns
        )
        if total > max_col_size:
            cols_out = [["error", f"row too large: {total:,d} bytes - limit {max_col_size:,d} bytes", 0]]
            columns = []
    for c in columns:
        name_str = name_conv.render(c["name"])
        if legacy_formatting:
            name_str = legacy_column_name_format(name_str)
        entry = [name_str, value_conv.render(c["value"]), c["ts"]]
        kind = c.get("kind", "c")
        if kind == "d":
            entry.append("d")
        elif kind == "e":
            entry += ["e", c.get("ttl"), c.get("local_deletion_time")]
        elif kind == "x":
            entry += ["c", c.get("ts_of_last_delete")]
        cols_out.append(entry)
    # ensure_ascii=False: Jackson writes raw UTF-8, not \uXXXX escapes —
    # keeps byte parity for non-ASCII UTF8Type names/values
    body = json.dumps(
        {key_str: {"deletedAt": deleted_at, "columns": cols_out}},
        separators=(",", ":"),
        ensure_ascii=False,
    )
    return f"{key_str}\t{body}"




def sort_columns_by_display_name(
    rows: DataFrame,
    *,
    name_type: str = "BytesType",
    legacy_formatting: bool = False,
) -> DataFrame:
    """O4 ``sort_columns_by_name``: re-sort each row's columns by the
    *stringified* column name (optionally legacy-escaped before compare),
    reproducing AegisthusKeySortingComparator.java:36-55. Applied after
    compact() so range-tombstone coverage still uses comparator order
    (the reference's reducer/output split does the same). Typed
    comparators stringify through the render templates
    (functions/render.py, byte parity with types.Comparator.render); one
    with no template raises ValueError naming it.
    """
    if name_type in ("UTF8Type", "AsciiType"):
        key = "cast(x.name as string)"
    elif name_type == "BytesType":
        key = "lower(hex(x.name))"
    else:
        key = comparator_render("x.name", name_type)
    if legacy_formatting:
        key = legacy_name_sql(key)
    # (k, i, c): the input index as the second struct field keeps ties on
    # the rendered name in INPUT order — the stable-sort contract of the
    # Python sorted() twin (distinct encodings can render identically,
    # e.g. a sign-padded timestamp vs its minimal form; without i the tie
    # would fall through to the cell struct's binary fields)
    resort = (
        f"transform(sort_array(transform(columns, (x, i) -> struct({key} as k, i as i, x as c))), y -> y.c)"
    )
    return rows.withColumn("columns", F.expr(resort))


def _size_guarded(cols_json: str, max_col_size: int | None) -> str:
    """SQL text: P4 output-side guard (JsonOutputFormat.java:127-146):
    replace an oversized row's columns with the error marker entry. ONE
    place owns the size model (name+value+15 framing, +8 for 'e'/'x'
    atoms) and the marker text; render_row_json is the Python twin."""
    if max_col_size is None:
        return cols_json
    total = (
        "aggregate(columns, cast(0 as long), (acc, c) -> acc + "
        "length(coalesce(c.name, x'')) + length(coalesce(c.value, x'')) + 15 "
        "+ if(c.kind in ('e', 'x'), 8, 0))"
    )
    limit = string_lit(f' bytes - limit {max_col_size:,d} bytes",0]')
    marker = f"""concat('["error","row too large: ', format_number({total}, 0), {limit})"""
    return f"CASE WHEN {total} > {max_col_size} THEN {marker} ELSE {cols_json} END"


def _json_render(b: str, spec: str, *, legacy: bool = False) -> str:
    """SQL text: ``b`` rendered by comparator ``spec`` as the body of a
    JSON string, legacy-escaped first when ``legacy``. Hex (BytesType) is
    JSON-safe and holds nothing the legacy escape changes, so it skips
    both."""
    r = comparator_render(b, spec)
    if _strip_pkg(spec) == "BytesType":
        return r
    return json_escape(legacy_name_sql(r) if legacy else r)


def to_aeg_json(
    compacted: DataFrame,
    *,
    key_type: str = "BytesType",
    name_type: str = "BytesType",
    value_type: str = "BytesType",
    max_col_size: int | None = None,
    trace_source: bool = False,
    legacy_formatting: bool = False,
) -> DataFrame:
    """compacted rows -> single-column DataFrame of aeg-JSON lines.

    One SQL projection: keys, names and values render through the
    templates in functions/render.py (byte parity with
    types.Comparator.render, hex fallback on malformed values) plus an
    exact json.dumps escape, which the default hex (BytesType) renders
    skip. Every registered comparator has a template (Float/Double
    render as Java toString, Python twin in functions/javafloat.py); an
    off-registry marshal class raises ValueError naming it.

    ``trace_source``: prepend the source path as a second tab field
    (JsonOutputFormat.java:116-120; requires rows compacted with
    ``group_by_source=True``). ``legacy_formatting`` applies the legacy
    column-name escaping to rendered names (:152-155) — a no-op for hex
    (BytesType) renders.
    """
    key_raw = comparator_render("partition_key", key_type)
    key_js = _json_render("partition_key", key_type)
    name_s = _json_render("c.name", name_type, legacy=legacy_formatting)
    # per-column JSON array: ["name","value",ts(,flags...)]; json.dumps
    # prints a missing ttl/ldt as 'null' — an un-coalesced NULL would
    # null the whole concat and array_join would DROP the cell
    entry = (
        f"""concat('["', {name_s}, '","', {_json_render("c.value", value_type)}, '",', """
        "cast(c.ts as string), "
        """CASE WHEN c.kind = 'd' THEN ',"d"' """
        """WHEN c.kind = 'e' THEN concat(',"e",', coalesce(cast(c.ttl as string), 'null'), ',', """
        "coalesce(cast(c.local_deletion_time as string), 'null')) "
        """WHEN c.kind = 'x' THEN concat(',"c",', coalesce(cast(c.ts_of_last_delete as string), 'null')) """
        "ELSE '' END, ']')"
    )
    cols_json = _size_guarded(f"array_join(transform(columns, c -> {entry}), ',')", max_col_size)
    # <key>\t[<source>\t]{"<key>":{"deletedAt":N,"columns":[...]}}: the
    # raw rendered key outside the JSON, the escaped one as its object key
    trace = "source_path, '\\t', " if trace_source else ""
    line = (
        f"""concat({key_raw}, '\\t', {trace}'{{"', {key_js}, '":{{"deletedAt":', """
        f"""cast(deleted_at as string), ',"columns":[', {cols_json}, ']}}}}')"""
    )
    return compacted.selectExpr(f"{line} AS value")


def parse_aeg_json_line(line: str) -> dict:
    """aeg-JSON line -> {key, deleted_at, columns:[{name,value,ts,kind,...}]}
    (hex-string fields; parser parity with AegisthusSerializer.deserialize)."""
    # LAST tab is the key/body boundary, mirroring the writer: a rendered
    # KEY may itself contain tabs (text comparators pass them through)
    # while the JSON body never holds a literal tab (json escapes control
    # chars)
    key_str, _, body = line.rpartition("\t")
    obj = json.loads(body)
    if key_str not in obj and "\t" in key_str:
        # trace_source lines carry key \t source_path \t {json}: the JSON
        # object is keyed by the bare key, so drop the trailing field
        head, _, _ = key_str.rpartition("\t")
        if head in obj:
            key_str = head
    row = obj[key_str]
    columns = []
    for entry in row["columns"]:
        c = {"name": entry[0], "value": entry[1], "ts": entry[2], "kind": "c",
             "ttl": None, "local_deletion_time": None, "ts_of_last_delete": None}
        if len(entry) > 3:
            flag = entry[3]
            if flag == "d":
                c["kind"] = "d"
            elif flag == "e":
                c["kind"] = "e"
                c["ttl"] = entry[4]
                c["local_deletion_time"] = entry[5]
            elif flag == "c":
                c["kind"] = "x"
                c["ts_of_last_delete"] = entry[4]
        columns.append(c)
    return {"key": key_str, "deleted_at": row["deletedAt"], "columns": columns}
