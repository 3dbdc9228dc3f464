"""CQL export — cells -> wide typed CQL rows.

Reproduces the reference's CQL-row export (org/coursera/mapreducer/
CQLMapper.java + com/netflix/aegisthus/util/CFMetadataUtility.java): a
``CREATE TABLE`` statement supplies the schema; each compacted row's cells
are cut by clustering prefix into one row per (partition key, clustering
values), with typed value composition (CQLMapper.java:159-189: uuid ->
string, timestamp -> epoch, blob -> bytes).

Differences from the reference (all improvements):
- runs on **merged** (compacted) cells, so multi-generation inputs work —
  the reference's map-only job is correct only for a single compacted
  generation (SSTableExport.java:174-180);
- list collections are supported (cells named ``(col, timeuuid)`` are
  gathered time-ordered into an array) — the reference throws
  (CQLMapper.java:149-153);
- the composite-name split and every type composition are JVM-side Spark
  expressions; a type outside ``CQL_TYPES`` raises.

Every projection is SQL text, one ``selectExpr`` string per column, so the
plan builds in a few py4j calls per stage instead of one per Column
operation; names enter it quoted (``functions.sqltext``). The decimal
compose shares its digitization (``functions.bignum``) with render.py and
the sort keys.

Static columns (the 0xFFFF static prefix) are read once per compacted row
and set on each of its CQL rows, mirroring CQLMapper.java:102-111.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame

from .functions.bignum import split_decimal
from .functions.casts import _hex_to_double_sql, _hex_to_float_sql, _width_decode
from .functions.sqltext import apply_sql, let, quote_ident, string_lit

# ---------------------------------------------------------------------------
# DDL parsing (CFMetadataUtility analog — a CREATE TABLE subset, no Cassandra)
# ---------------------------------------------------------------------------

#: CQL type -> (comparator name, spark compose type)
CQL_TYPES = {
    "text": "UTF8Type",
    "varchar": "UTF8Type",
    "ascii": "AsciiType",
    "int": "Int32Type",
    "bigint": "LongType",
    "counter": "LongType",
    "uuid": "UUIDType",
    "timeuuid": "TimeUUIDType",
    "timestamp": "TimestampType",
    "double": "DoubleType",
    "float": "FloatType",
    "boolean": "BooleanType",
    "blob": "BytesType",
    "decimal": "DecimalType",
}

_COLLECTION = re.compile(r"^(list|set|map)\s*<\s*([\w]+)\s*(?:,\s*([\w]+)\s*)?>$", re.I)
_FROZEN = re.compile(r"^frozen\s*<\s*(.+)\s*>$", re.I | re.S)
_TUPLE = re.compile(r"^tuple\s*<\s*(.+)\s*>$", re.I | re.S)


@dataclass
class CqlColumn:
    name: str
    cql_type: str
    kind: str = "regular"  # regular | partition_key | clustering | static
    collection: str | None = None  # list | set | map | tuple
    element_type: str | None = None  # list/set element, or map KEY type
    value_type: str | None = None  # map VALUE type
    frozen: bool = False  # frozen<...>: whole collection in ONE cell blob
    tuple_types: list[str] | None = None  # tuple<...> component types


@dataclass
class CqlSchema:
    table: str
    columns: list[CqlColumn] = field(default_factory=list)

    @property
    def partition_keys(self) -> list[CqlColumn]:
        return [c for c in self.columns if c.kind == "partition_key"]

    @property
    def clustering(self) -> list[CqlColumn]:
        return [c for c in self.columns if c.kind == "clustering"]

    @property
    def regulars(self) -> list[CqlColumn]:
        return [c for c in self.columns if c.kind == "regular"]

    @property
    def statics(self) -> list[CqlColumn]:
        return [c for c in self.columns if c.kind == "static"]


def _ident(tok: str) -> str:
    """CQL identifier: quoted = case-sensitive (quotes stripped), unquoted =
    lowercased — matching Cassandra's identifier rules, so the parsed name
    equals the raw cell-name bytes on disk."""
    tok = tok.strip()
    if len(tok) >= 2 and tok.startswith('"') and tok.endswith('"'):
        return tok[1:-1]
    return tok.lower()


def parse_create_table(ddl: str) -> CqlSchema:
    """Parse a CREATE TABLE statement (the CFMetadataUtility entry point).

    The column-list body is extracted by PAREN MATCHING, not a greedy
    regex, so a trailing ``WITH`` clause containing parentheses (e.g.
    ``WITH CLUSTERING ORDER BY (ck DESC)``) parses. Clustering order is
    accepted and ignored — the reference's CQL export unwraps ReversedType
    the same way (CQLMapper.java:168-170)."""
    s = ddl.strip().rstrip(";")
    m = re.search(
        r"create\s+table\s+(?:if\s+not\s+exists\s+)?([\w.\"]+)\s*\(", s, re.I
    )
    if not m:
        raise ValueError(f"unparseable CREATE TABLE: {ddl[:120]}")
    table = m.group(1).split(".")[-1].strip('"')
    i = m.end() - 1  # index of the opening paren of the column list
    depth = 0
    for j in range(i, len(s)):
        if s[j] == "(":
            depth += 1
        elif s[j] == ")":
            depth -= 1
            if depth == 0:
                break
    else:
        raise ValueError(f"unbalanced parens in CREATE TABLE: {ddl[:120]}")
    body = s[i + 1 : j]
    tail = s[j + 1 :].strip()
    if tail and not re.match(r"with\b", tail, re.I):
        raise ValueError(f"unexpected trailing clause: {tail[:80]}")

    # split on top-level commas (parens nest for PRIMARY KEY and generics)
    parts, depth, cur = [], 0, []
    for ch in body:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if "".join(cur).strip():
        parts.append("".join(cur).strip())

    schema = CqlSchema(table)
    pk_spec: list[str] | None = None
    inline_pk: str | None = None
    for p in parts:
        pk = re.match(r"primary\s+key\s*\((.*)\)\s*$", p, re.I | re.S)
        if pk:
            pk_spec = _split_pk(pk.group(1))
            continue
        cm = re.match(r'("?[\w]+"?)\s+(.+?)(\s+static)?(\s+primary\s+key)?$', p, re.I | re.S)
        if not cm:
            raise ValueError(f"unparseable column def: {p}")
        name = _ident(cm.group(1))
        type_str = cm.group(2).strip().lower()
        col = CqlColumn(name, type_str)
        inner = type_str
        fz = _FROZEN.match(inner)
        if fz:
            col.frozen = True
            inner = fz.group(1).strip()
        tup = _TUPLE.match(inner)
        coll = _COLLECTION.match(inner)
        if tup:
            # tuples are always frozen (single-blob) in Cassandra
            col.frozen = True
            col.collection = "tuple"
            col.tuple_types = [t.strip() for t in tup.group(1).split(",")]
            for t in col.tuple_types:
                if t not in CQL_TYPES:
                    raise ValueError(f"unsupported tuple component type: {t}")
        elif coll:
            col.collection = coll.group(1).lower()
            col.element_type = coll.group(2).lower()
            col.value_type = coll.group(3).lower() if coll.group(3) else None
        elif inner not in CQL_TYPES:
            raise ValueError(f"unsupported CQL type: {type_str}")
        elif col.frozen:
            # frozen<scalar> serializes identically to the scalar
            col.cql_type = inner
        if cm.group(3):
            col.kind = "static"
        if cm.group(4):
            inline_pk = name
        schema.columns.append(col)

    by_name = {c.name: c for c in schema.columns}
    if pk_spec is not None:
        partition, clustering = pk_spec[0], pk_spec[1:]
        for n in [_ident(x) for x in partition.split(",")]:
            by_name[n].kind = "partition_key"
        for n in clustering:
            by_name[_ident(n)].kind = "clustering"
    elif inline_pk:
        by_name[inline_pk].kind = "partition_key"
    else:
        raise ValueError("no PRIMARY KEY in CREATE TABLE")
    return schema


def _split_pk(spec: str) -> list[str]:
    """'(a, b), c, d' -> ['a, b', 'c', 'd'] (first element = partition)."""
    spec = spec.strip()
    if spec.startswith("("):
        close = spec.index(")")
        first = spec[1:close]
        rest = [s for s in spec[close + 1 :].split(",") if s.strip()]
        return [first] + rest
    parts = [s.strip() for s in spec.split(",")]
    return parts


# ---------------------------------------------------------------------------
# composite-name split + typed compose (SQL text)
# ---------------------------------------------------------------------------

_COMPS_DDL = "array<binary>"


def _static_cond(name: str) -> str:
    return f"length({name}) >= 2 AND hex(substring({name}, 1, 2)) = 'FFFF'"


def _split_expr(name_sql: str, max_components: int) -> str:
    """SQL string: split composite `name_sql` into an array<binary> of comps."""
    ln = f"cast(conv(hex(substring({name_sql}, acc.pos, 2)), 16, 10) as int)"
    return (
        f"aggregate(sequence(1, {max_components}), "
        f"struct(cast(if({_static_cond(name_sql)}, 3, 1) as int) as pos, "
        f"cast(array() as {_COMPS_DDL}) as arr), "
        f"(acc, i) -> if(acc.pos > length({name_sql}), acc, "
        f"struct(cast(acc.pos + 3 + {ln} as int) as pos, "
        f"array_append(acc.arr, substring({name_sql}, acc.pos + 2, {ln})) as arr)), "
        f"acc -> acc.arr)"
    )


def compose_value(col: str, cql_type: str) -> Column:
    """The binary column named ``col`` -> typed Spark value per
    CQLMapper.addCqlValueToRecord (:func:`_compose` applied to it)."""
    return apply_sql(col, lambda v: _compose(v, cql_type))


def _compose(b: str, cql_type: str) -> str:
    """SQL text: binary ``b`` -> typed value per
    CQLMapper.addCqlValueToRecord. NULL in -> NULL out (absent cells stay
    null, CQLMapper.java:161-164)."""
    if cql_type == "decimal":
        return let(b, _decimal_value)
    return f"CASE WHEN {b} IS NOT NULL THEN {_compose_nonnull(b, cql_type)} END"


def _compose_nonnull(b: str, cql_type: str) -> str:
    h = f"lower(hex({b}))"
    if cql_type in ("text", "varchar", "ascii"):
        return f"cast({b} as string)"
    if cql_type in ("int", "bigint", "counter"):
        v = _width_decode(h)
        return f"cast({v} as int)" if cql_type == "int" else v
    if cql_type in ("uuid", "timeuuid"):
        parts = ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))
        return "concat_ws('-', " + ", ".join(f"substring({h}, {p}, {n})" for p, n in parts) + ")"
    if cql_type == "timestamp":
        return f"timestamp_millis({_width_decode(h)})"
    if cql_type == "double":
        return _hex_to_double_sql(h)
    if cql_type == "float":
        return _hex_to_float_sql(h)
    if cql_type == "boolean":
        return f"cast(conv(hex({b}), 16, 10) as bigint) != 0"
    if cql_type == "blob":
        return b
    raise ValueError(f"unsupported CQL type: {cql_type}")


def _decimal_value(b: str) -> str:
    """i32 scale + any-width varint unscaled -> '<digits>E<-scale>', built
    JVM-side (functions/bignum digitization, exact at any width, shared
    with render.py and the sort keys) and cast like the reference's
    BigDecimal; numerically equal strings cast to equal decimal(38,18)
    values. Degenerate payloads (<= the 4-byte scale prefix) are NULL:
    empty matches Cassandra's DecimalSerializer null-for-empty; 1-3-byte
    blobs AND the exactly-4-byte shape (scale + EMPTY magnitude, which
    BigInteger(byte[0]) throws on) map to NULL like the other composes'
    malformed-width behavior (pinned by test_cql). NULL in -> NULL out."""
    s = split_decimal(b, lambda scale, sign, digits: f"concat({sign}, {digits}, 'E', cast(-{scale} as string))")
    return f"CASE WHEN length({b}) >= 5 THEN cast({s} as decimal(38,18)) END"


# ---------------------------------------------------------------------------
# frozen-collection / tuple blob decode (Cassandra 2.1+ "version 3" wire
# format: i32 count / i32 element lengths; tuples are i32-length-prefixed
# components with -1 marking null). The reference delegates these types to
# Cassandra's QueryProcessor (CFMetadataUtility.java:12-38); here the blobs
# are unpacked with pure SQL expressions — JVM-side, no UDF.
# ---------------------------------------------------------------------------


def _i32_at(b_sql: str, pos_sql: str) -> str:
    """Signed big-endian i32 at 1-based byte position (SQL long expr)."""
    u = f"cast(conv(hex(substring({b_sql}, {pos_sql}, 4)), 16, 10) as long)"
    return f"(case when {u} >= 2147483648 then {u} - 4294967296 else {u} end)"


def _frozen_elems_expr(b_sql: str) -> str:
    """frozen<list|set>: blob -> array<binary> of element bytes."""
    n = _i32_at(b_sql, "1")
    ln = _i32_at(b_sql, "acc.pos")
    return (
        f"if({b_sql} is null or length({b_sql}) < 4, cast(null as {_COMPS_DDL}), "
        # NB sequence(1, 0) counts DOWN — guard the empty collection
        f"if({n} <= 0, cast(array() as {_COMPS_DDL}), "
        f"aggregate(sequence(1, cast({n} as int)), "
        f"struct(cast(5 as int) as pos, cast(array() as {_COMPS_DDL}) as arr), "
        f"(acc, i) -> struct(cast(acc.pos + 4 + {ln} as int) as pos, "
        f"array_append(acc.arr, substring({b_sql}, acc.pos + 4, {ln})) as arr), "
        f"acc -> acc.arr)))"
    )


def _frozen_entries_expr(b_sql: str) -> str:
    """frozen<map>: blob -> array<struct<k:binary, v:binary>>.

    SQL lambdas have no let-binding, so the key-length expression is
    inlined wherever the value offset needs it — verbose but JVM-side.
    """
    n = _i32_at(b_sql, "1")
    klen = _i32_at(b_sql, "acc.pos")
    vlen = _i32_at(b_sql, f"(acc.pos + 4 + {klen})")
    entries_ddl = "array<struct<k:binary, v:binary>>"
    return (
        f"if({b_sql} is null or length({b_sql}) < 4, cast(null as {entries_ddl}), "
        # NB sequence(1, 0) counts DOWN — guard the empty collection
        f"if({n} <= 0, cast(array() as {entries_ddl}), "
        f"aggregate(sequence(1, cast({n} as int)), "
        f"struct(cast(5 as int) as pos, cast(array() as {entries_ddl}) as arr), "
        f"(acc, i) -> struct("
        f"cast(acc.pos + 8 + {klen} + {vlen} as int) as pos, "
        f"array_append(acc.arr, struct("
        f"substring({b_sql}, acc.pos + 4, {klen}) as k, "
        f"substring({b_sql}, acc.pos + 8 + {klen}, {vlen}) as v)) as arr), "
        f"acc -> acc.arr)))"
    )


def _tuple_comps_expr(b_sql: str, n_comps: int) -> str:
    """tuple<...>: blob -> array<binary> of components; i32 length -1 (or a
    truncated blob) yields a null component."""
    ln = _i32_at(b_sql, "acc.pos")
    return (
        f"if({b_sql} is null, cast(null as {_COMPS_DDL}), "
        f"aggregate(sequence(1, {n_comps}), "
        f"struct(cast(1 as int) as pos, cast(array() as {_COMPS_DDL}) as arr), "
        f"(acc, i) -> if(acc.pos + 4 > length({b_sql}) + 1 OR {ln} < 0, "
        f"struct(cast(acc.pos + 4 as int) as pos, "
        f"array_append(acc.arr, cast(null as binary)) as arr), "
        f"struct(cast(acc.pos + 4 + {ln} as int) as pos, "
        f"array_append(acc.arr, substring({b_sql}, acc.pos + 4, {ln})) as arr)), "
        f"acc -> acc.arr))"
    )


def _timeuuid_sort_key(h: str) -> str:
    """hex(timeuuid) -> string ordered by embedded time (version nibble is
    constant for v1 uuids): time_hi, time_mid, time_low."""
    return f"concat(substring({h}, 13, 4), substring({h}, 9, 4), substring({h}, 1, 8))"


# ---------------------------------------------------------------------------
# the transform: each projection is one SQL text per output column
# ---------------------------------------------------------------------------


def _raw(cells: str, col: CqlColumn) -> str:
    """``col``'s stored value in one CQL row's ``cells``: the newest cell of
    a scalar or frozen column (frozen collections and tuples live in ONE
    cell blob); a list's values ordered by their timeuuid's time; a set's
    elements (held in the collection key); a map's sorted (k, v) entries."""
    mine = f"x.colname = {string_lit(col.name)}"
    if col.frozen or col.collection is None:
        newest = f"transform(filter({cells}, x -> {mine}), x -> struct(x.ts AS ts, x.value AS value))"
        return f"array_max({newest}).value"
    mine = f"filter({cells}, x -> {mine} AND x.collkey IS NOT NULL)"
    if col.collection == "set":
        return f"array_sort(transform({mine}, x -> x.collkey))"
    if col.collection == "map":
        return f"array_sort(transform({mine}, x -> struct(x.collkey AS k, x.value AS v)))"
    key = _timeuuid_sort_key("hex(x.collkey)")
    by_time = f"array_sort(transform({mine}, x -> struct({key} AS k, x.value AS v)))"
    return f"transform({by_time}, e -> e.v)"


def _value(raw: str, col: CqlColumn) -> str:
    """SQL text: a regular or static column's typed value from its
    ``_raw``."""
    nonempty = f"CASE WHEN size({raw}) > 0 THEN {raw} END"  # absent collection -> NULL
    if col.collection == "tuple":
        comps = _tuple_comps_expr(raw, len(col.tuple_types))
        fields = ", ".join(
            f"{_compose(f'try_element_at({comps}, {i + 1})', t)} AS f{i}"
            for i, t in enumerate(col.tuple_types)
        )
        return f"CASE WHEN {raw} IS NOT NULL THEN struct({fields}) END"
    if col.collection in ("list", "set"):
        elems = _frozen_elems_expr(raw) if col.frozen else nonempty
        return f"transform({elems}, v -> {_compose('v', col.element_type or 'blob')})"
    if col.collection == "map":
        kt, vt = col.element_type or "blob", col.value_type or "blob"
        entries = _frozen_entries_expr(raw) if col.frozen else nonempty
        kv = f"struct({_compose('s.k', kt)} AS k, {_compose('s.v', vt)} AS v)"
        return f"map_from_entries(transform({entries}, s -> {kv}))"
    # scalars, and frozen<scalar>: identical wire format to the scalar
    return _compose(raw, col.cql_type)


def cql_rows(compacted: DataFrame, ddl: str | CqlSchema) -> DataFrame:
    """Compacted rows -> wide typed CQL rows (one per clustering prefix).

    Expects ``compact()`` output (ideally after ``cleanse()``) with each
    row's ``columns`` in comparator order, as compact leaves them: the cells
    of one CQL row share a clustering prefix, so they sit next to each
    other. Each compacted row is cut where that prefix changes, the way the
    reference's CQLMapper builds rows while it streams one row's cells, with
    no second grouping. The partition's statics are read once and set on
    each of its rows; a partition holding only statics gives one row with
    null clustering columns.
    """
    schema = parse_create_table(ddl) if isinstance(ddl, str) else ddl
    n_ck = len(schema.clustering)
    # positional names: CQL names may differ only in case, which Spark's
    # column resolution ignores
    raw = {c.name: f"__raw{j}" for j, c in enumerate(schema.columns)}

    # live cells only (post-cleanse): columns, expiring columns, and
    # counters — dropping 'x' would silently NULL every counter column.
    # Each name is split once into comps: clustering..., column name,
    # optional collection key
    split = (
        "transform(filter(columns, x -> x.kind IN ('c', 'e', 'x')), "
        f"x -> struct({_split_expr('x.name', n_ck + 2)} AS comps, "
        f"{_static_cond('x.name')} AS st, x.value AS value, x.ts AS ts))"
    )
    cells = (
        f"transform({split}, x -> struct(x.comps AS comps, x.st AS st, "
        f"cast(try_element_at(x.comps, {n_ck + 1}) as string) AS colname, "
        f"try_element_at(x.comps, {n_ck + 2}) AS collkey, x.value AS value, x.ts AS ts))"
    )
    rows = compacted.selectExpr("partition_key", f"{cells} AS cells").selectExpr(
        "partition_key",
        "filter(cells, x -> NOT x.st) AS ns",
        "filter(cells, x -> x.st) AS statics",
    )

    # 1-based starts of the non-static cells' clustering-prefix runs; a
    # partition with statics only gets one empty run. Each step binds its
    # arrays as columns: inlined into the slicing lambda below, they would
    # be recomputed once per run
    def prefix(i: str) -> str:  # 0-based; null past either end
        return f"slice(get(ns, {i}).comps, 1, {n_ck})"

    starts = (
        "CASE WHEN size(ns) > 0 THEN filter(sequence(1, size(ns)), "
        f"i -> i = 1 OR {prefix('i - 1')} != {prefix('i - 2')}) "
        "WHEN size(statics) > 0 THEN array(1) ELSE cast(array() as array<int>) END"
    )
    statics = [raw[c.name] for c in schema.statics]
    rows = rows.selectExpr(
        "partition_key",
        "ns",
        f"{starts} AS starts",
        *[f"{_raw('statics', c)} AS {raw[c.name]}" for c in schema.statics],
    )
    runs = (
        "transform(starts, (s, j) -> slice(ns, s, "
        "coalesce(try_element_at(starts, j + 2), size(ns) + 1) - s))"
    )
    rows = rows.selectExpr("partition_key", *statics, f"explode({runs}) AS cells").selectExpr(
        "partition_key",
        "try_element_at(cells, 1).comps AS comps",
        *statics,
        *[f"{_raw('cells', c)} AS {raw[c.name]}" for c in schema.regulars],
    )

    # partition key components
    pks = schema.partition_keys
    if len(pks) == 1:
        pk_parts = ["partition_key"]
    else:
        pk_split = _split_expr("partition_key", len(pks))
        pk_parts = [f"try_element_at({pk_split}, {i + 1})" for i in range(len(pks))]
    out = [f"{_compose(b, c.cql_type)} AS {quote_ident(c.name)}" for b, c in zip(pk_parts, pks)]
    out += [
        f"{_compose(f'try_element_at(comps, {i + 1})', c.cql_type)} AS {quote_ident(c.name)}"
        for i, c in enumerate(schema.clustering)
    ]
    out += [
        f"{_value(raw[c.name], c)} AS {quote_ident(c.name)}"
        for c in schema.regulars + schema.statics
    ]
    rows = rows.selectExpr(*out)

    # in-partition order only: a global orderBy would add a range Exchange
    # + full sort of the entire export for cosmetic total order the sinks
    # don't need (the reference mapper emits unordered); callers that want
    # total order sort the (much smaller) result themselves
    return rows.sortWithinPartitions(*[quote_ident(c.name) for c in pks + schema.clustering])
