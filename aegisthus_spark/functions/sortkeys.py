"""JVM-side order-preserving sort keys for typed cell names (F1/J2/A3).

``compact()`` compares cell names and range-tombstone bounds as raw bytes
by default — correct only for byte-ordered comparators. For every other
comparator the reference used Cassandra's ``AbstractType.compare``
(CassSSTableReducer.java:142-153 via the configured comparator); this
module reproduces that order as a *pure Spark SQL expression* so typed
compactions stay inside whole-stage codegen (the Python-UDF fallback in
``types.Comparator.sort_key`` costs a BatchEvalPython exchange per stage).

Encoding (string, ASCII, lexicographically order-preserving):

- simple comparator: the per-type hex transform below.
- ``CompositeType(t1, t2, ...)``: a lead char (``'0'`` for the 0xFFFF
  static prefix, ``'1'`` otherwise — statics sort first, matching
  AbstractCompositeType's STATIC_MARKER rule), then per component
  ``<type-transformed hex>!<eoc char>`` where the end-of-component byte
  maps ``0x00 -> '+'``, ``0x01..0x7f -> 'Z'``, ``0x80..0xff -> '!'``.
  The ``'!'`` terminator sorts below every content char (hex digits and
  the ReversedType sentinel), so unequal component VALUES decide order
  before the eoc is reached — exactly AbstractCompositeType's rule that
  the eoc byte is consulted only between equal components. Among equal
  components ``'!' < '+' < 'Z'`` gives Cassandra's bound ordering: an
  eoc ``-1`` bound sorts before every same-prefix extension, ``0``
  between the prefix row and deeper names, ``+1`` after them.

Per-type hex transforms (component bytes -> hex string whose
lexicographic order equals the comparator's):

- UTF8/Ascii/Bytes/Boolean/SimpleDate/Time/InetAddress: plain ``hex()``
  (unsigned byte order; SimpleDate is an unsigned epoch-shifted u32,
  Time a non-negative long).
- Int32/Long/Timestamp/Date/ShortType/ByteType/CounterColumn: sign bit
  flipped (two's-complement big-endian becomes unsigned-ordered).
- Float/Double: IEEE-754 total order (negative -> all bits inverted,
  positive -> sign bit set). Deviation from Cassandra's Float/Double
  compare, which places EVERY NaN above +Infinity: sign-bit NaN bit
  patterns (0xFF8...) sort below -Infinity here (total order treats
  them as "negative"); quiet-positive NaNs (0x7F8...) sort above
  +Infinity as Cassandra does. JVM/Python key parity holds (the Python
  ``_sk_float`` twin uses the same total order), so compaction is
  self-consistent; only ordering vs a live Cassandra node diverges, and
  only for negative-payload NaN clustering bytes.
- TimeUUID: embedded v1 timestamp (time_hi, time_mid, time_low) then the
  full uuid for a stable tie-break.
- UUID: version nibble first, v1s by embedded timestamp, otherwise
  unsigned bytes (UUIDType.compareCustom).
- ReversedType(inner): inner transform with every hex digit complemented
  (``translate``) plus a high sentinel so shorter-prefix order inverts.

- IntegerType (varint): minimal-two's-complement normalization, then a
  sign class + length field + bytes (see ``_varint_hex``) — exact at any
  width, pure string ops.
- DecimalType: sign class + shifted adjusted exponent + normalized
  mantissa digits (see ``_decimal_hex``) — exact at ANY unscaled width
  via the ``functions.bignum`` higher-order-function digitization.

Every marshal class the repo's Python comparators know is now JVM-side;
``supported`` returning False (an unknown/custom comparator) falls back
to the Python ``types.sort_key`` UDF with a clear error from
``comparator_sort_key``.

Collection cell paths compare as raw bytes by DEFAULT; pass
``path_types_by_column`` (which ``modern.name_sort_key_for_header`` does
automatically for every collection column) to order them by the real
path comparator — TimeUUID for lists, the element type for sets, the
key type for maps — dispatched on the column-name component at runtime.
All typed transforms carry an injectivity guard for malformed widths:
LWW dedups on the sort key, so two distinct names must never encode to
one key (see ``_malformed_guard``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

#: memoized composite sort-key Columns, keyed by (input expression string,
#: component types, n_extra, collection path map) — see composite_sort_key.
#: Unresolved expression trees only; never data, never resolved plans.
#: Bounded (r16): FIFO-evicted at _COMPOSITE_SK_CACHE_MAX — comparator
#: schemas per deployment are few, but a long-lived session fed
#: adversarial many-schema input must not grow driver memory unboundedly.
_COMPOSITE_SK_CACHE: dict = {}
_COMPOSITE_SK_CACHE_MAX = 128

#: eoc byte -> order char (see module docstring)
_EOC_MINUS = "!"
_EOC_ZERO = "+"
_EOC_PLUS = "Z"

#: ReversedType complement map. Beyond the hex digits it must also swap
#: the decimal key's mantissa terminators ('!' closes a positive
#: mantissa BELOW its extensions, 'Z' closes a complemented negative one
#: ABOVE them — see _decimal_hex): a terminator left fixed under the
#: complement would keep mantissa-prefix pairs (5 vs 5.1) in ASC order
#: inside a DESC clustering. The Python twin gets this for free by
#: inverting every BYTE; the string encoding needs the explicit swap.
_HEX_COMPLEMENT = ("0123456789ABCDEF!Z", "FEDCBA9876543210Z!")


def _strip_pkg(name: str) -> str:
    """Drop the package prefix from the OUTER class only — a plain rsplit
    on '.' would split inside the parentheses of parameterized marshal
    strings ('...ReversedType(...Int32Type)' -> 'Int32Type)'); nested
    parameters are stripped recursively by their own handlers."""
    name = name.strip()
    i = name.find("(")
    if i == -1:
        return name.rsplit(".", 1)[-1]
    return name[:i].rsplit(".", 1)[-1] + name[i:]


def _u16_at(name: Column, pos: Column) -> Column:
    return F.coalesce(
        F.conv(F.hex(F.substring(name, pos, F.lit(2))), 16, 10).cast("int"),
        F.lit(0),
    )


def _malformed_guard(comp: Column, width: int, out: Column) -> Column:
    """Fixed-width transforms are only injective at their expected width;
    a wrong-length value must never COLLIDE with a well-formed key (LWW
    dedups on the SORT KEY, compact._lww, so a collision would
    silently merge distinct cell names). Malformed lengths get a '.'
    prefix (0x2E, below every hex digit) + raw hex: deterministic,
    injective, sorts before well-formed values of the same position."""
    return (
        F.when(F.length(comp) == 0, F.lit(""))
        .when(F.length(comp) == width, out)
        .otherwise(F.concat(F.lit("."), F.hex(comp)))
    )


_REST = (1 << 31) - 1  # substring length literal: "to the end"


def _flip_first_byte_hex(comp: Column) -> Column:
    """hex(comp) with the FIRST byte's sign bit flipped — the string-wise
    form of the two's-complement sign flip (identical order for any
    fixed-width signed value, same construction as the Python
    ``_sk_signed_fixed``). Injective at ANY input length (output length
    tracks input length), so no malformed-width guard is needed, and the
    expression is a fraction of the size of the old width-specific
    decimal-conv arithmetic — which showed up as whole seconds of
    analysis/codegen time per query on ma inputs."""
    first = F.conv(F.hex(F.substring(comp, 1, 1)), 16, 10).cast("int")
    flipped = (first + F.lit(128)) % F.lit(256)
    return F.concat(
        F.lpad(F.conv(flipped.cast("string"), 10, 16), 2, "0"),
        F.hex(F.substring(comp, F.lit(2), F.lit(_REST))),
    )


def _flip_sign_hex(comp: Column, width: int) -> Column:
    """Signed big-endian fixed-width -> sign-flipped hex (order-preserving)."""
    return F.when(F.length(comp) == 0, F.lit("")).otherwise(
        _flip_first_byte_hex(comp)
    )


def _ieee_hex(comp: Column, width: int) -> Column:
    """IEEE-754 float/double -> total-order hex, string-wise: negative
    (sign bit set: first hex digit >= '8') -> complement every digit,
    positive -> flip the sign bit. The two branches land in disjoint
    first-digit ranges ('0'-'7' vs '8'-'F'), so the map is injective at
    any length; same order as the Python ``_sk_float`` twin. NaN caveat:
    this is IEEE total order, NOT Float.compare — sign-bit NaN payloads
    sort below -Infinity instead of joining positive NaNs above
    +Infinity (see the module docstring)."""
    h = F.hex(comp)
    negative = F.substring(h, 1, 1).isin(*"89ABCDEF")
    return F.when(F.length(comp) == 0, F.lit("")).otherwise(
        F.when(negative, F.translate(h, *_HEX_COMPLEMENT)).otherwise(
            _flip_first_byte_hex(comp)
        )
    )


def _timeuuid_key(h: Column) -> Column:
    """hex(uuid) -> embedded v1 timestamp order (time_hi, time_mid,
    time_low) — same reorder as cql._timeuuid_sort_key."""
    return F.concat(
        F.substring(h, 13, 4), F.substring(h, 9, 4), F.substring(h, 1, 8)
    )


#: marshal class -> fixed byte width for the sign-flip transform
_SIGNED_WIDTH = {
    "ByteType": 1,
    "ShortType": 2,
    "Int32Type": 4,
    "LongType": 8,
    "DateType": 8,  # pre-2.1 timestamp long
    "TimestampType": 8,
    "CounterColumnType": 8,
}

#: marshal classes whose raw bytes already sort in logical order
_BYTE_ORDERED = {
    "BytesType",
    "UTF8Type",
    "AsciiType",
    "BooleanType",
    "SimpleDateType",  # unsigned epoch-shifted u32
    "TimeType",  # non-negative long nanos
    "InetAddressType",
    "EmptyType",
}


def supported(marshal: str) -> bool:
    """True if ``type_sort_key_hex`` handles this marshal class."""
    t = _strip_pkg(marshal.strip())
    if t.startswith("ReversedType(") and t.endswith(")"):
        return supported(t[len("ReversedType(") : -1])
    return (
        t in _BYTE_ORDERED
        or t in _SIGNED_WIDTH
        or t in ("FloatType", "DoubleType", "UUIDType", "TimeUUIDType",
                 "LexicalUUIDType", "IntegerType", "DecimalType")
    )


_U32_MAX = (1 << 32) - 1
#: adjusted-exponent shift for the decimal key: scale is an i32 and
#: conv-digitized mantissas are <= 20 digits, so the SHIFTED adjusted
#: exponent fits in (0, 2**37) — 10 lpad'd hex digits. The negative
#: branch complements the whole body with _BODY_COMPLEMENT, so the
#: field's arithmetic complement is (16**10 - 1) - x by construction.
_ADJ_SHIFT = 1 << 36

#: complement for the decimal key BODY (everything after the sign-class
#: char): hex digits invert pairwise and the mantissa terminator '!'
#: (below every digit — a shorter mantissa sorts before its extensions)
#: maps to 'Z' (above them — inverted for negatives). One translate over
#: the shared positive-form body keeps the expression tree small: the
#: digits/adjusted subtrees are referenced once, not once per branch.
_BODY_COMPLEMENT = ("0123456789ABCDEF!", "FEDCBA9876543210Z")


def _varint_hex(comp: Column) -> Column:
    """Cassandra IntegerType (varint: variable-length big-endian two's
    complement, compared numerically) -> order-preserving string key,
    pure string ops at ANY width (no 64-bit conv bound):

        normalize to the MINIMAL two's-complement form (strip redundant
        sign-extension bytes — numerically equal encodings must collapse
        to one key, since LWW dedups on it), then
        negative:     '0' + hex(0xFFFFFFFF - bytelen) + hex(minimal)
        zero/positive:'2' + hex(bytelen)              + hex(minimal)

    Minimal-length classes partition the number line into disjoint
    ascending ranges, and within one class big-endian two's-complement
    bytes compare numerically (equal sign bits), so length-then-bytes is
    numeric order; the complemented length makes longer negatives (more
    negative) sort first. Zero ('00', length 1) lands below every
    positive of length 1 ('01'..'7F') — between the classes, as required.
    """
    h = F.hex(comp)
    neg = F.substring(h, 1, 1).isin(*"89ABCDEF")
    # minimal form: a leading 0x00 is redundant iff the next byte is
    # < 0x80; a leading 0xFF iff the next byte is >= 0x80 (BigInteger
    # minimal two's complement; IntegerType.compare skips such padding)
    norm_pos = F.regexp_replace(h, "^(?:00(?=[0-7]))+", "")
    norm_neg = F.regexp_replace(h, "^(?:FF(?=[89A-F]))+", "")
    len_pos = (F.length(norm_pos) / 2).cast("long")
    len_neg = (F.length(norm_neg) / 2).cast("long")
    pos_key = F.concat(
        F.lit("2"),
        F.lpad(F.conv(len_pos.cast("string"), 10, 16), 8, "0"),
        norm_pos,
    )
    neg_key = F.concat(
        F.lit("0"),
        F.lpad(F.conv((F.lit(_U32_MAX) - len_neg).cast("string"), 10, 16), 8, "0"),
        norm_neg,
    )
    return F.when(F.length(comp) == 0, F.lit("")).otherwise(
        F.when(neg, neg_key).otherwise(pos_key)
    )


def _decimal_hex(comp: Column) -> Column:
    """Cassandra DecimalType (i32 scale + varint unscaled, compared as
    BigDecimal) -> order-preserving string key, mirroring the Python
    ``types._sk_decimal`` normalization (sign class, shifted adjusted
    exponent, normalized mantissa digits + terminator):

        negative: '0' + complemented adjusted-exponent hex
                      + digit-complemented mantissa + 'Z'
        zero:     '1'
        positive: '2' + shifted adjusted-exponent hex + mantissa + '!'

    The terminators order a shorter mantissa against its extensions
    ('!' < '0' puts 5e2 before 5.1e2; 'Z' > '9' inverts that for
    negatives). The unscaled value digitizes through
    ``functions.bignum.mag_digits`` — a higher-order-function short
    division that is exact at ANY width (the pre-round-9 conv-based
    version was 64-bit-bounded and raise_error'd on wider values) while
    keeping the Catalyst tree SMALL: HOF lambda bodies are single nodes,
    not unrolled per element, which matters because this key sits under
    4+ composite levels x2 bound columns (the round-6 expression-tree
    lesson). Values shorter than the 4-byte scale prefix + 1 take the
    injective '.' malformed guard."""
    from .bignum import is_negative_hex, mag_digits, negative_mag_hex, normalize_hex

    scale_u = F.conv(F.hex(F.substring(comp, 1, 4)), 16, 10).cast("long")
    # signed i32 with ONE reference: ((u + 2^31) mod 2^32) - 2^31
    scale = ((scale_u + F.lit(1 << 31)) % F.lit(1 << 32)) - F.lit(1 << 31)
    # normalize away redundant sign-extension padding (minimal-form rule:
    # numerically equal encodings must collapse to one key — LWW dedups
    # on it)
    uh = normalize_hex(F.hex(F.substring(comp, 5, F.lit(_REST))))
    neg = is_negative_hex(uh)
    digits = mag_digits(F.when(neg, negative_mag_hex(uh)).otherwise(uh))

    # EXPRESSION-TREE SIZE: `digits` (the whole bignum fold tree) would
    # be referenced three times below; bind it ONCE as a lambda variable
    # via a 1-element transform — inside, every reference is a leaf.
    # Without this, the duplicated fold trees under composite levels x2
    # bound columns pushed sst_decode_varint's analysis+codegen from ~4 s
    # to ~75 s (measured round 9).
    def _key_of(s: Column) -> Column:
        adjusted = (F.length(s) - F.lit(1)).cast("long") - scale
        mant = F.regexp_replace(s, "0+$", "")
        # shared body: the positive form; negatives complement it wholesale
        body = F.concat(
            F.lpad(
                F.conv((adjusted + F.lit(_ADJ_SHIFT)).cast("string"), 10, 16),
                10, "0",
            ),
            mant,
            F.lit("!"),
        )
        return F.when(s == "0", F.lit("1")).otherwise(
            F.when(
                neg, F.concat(F.lit("0"), F.translate(body, *_BODY_COMPLEMENT))
            ).otherwise(F.concat(F.lit("2"), body))
        )

    key = F.element_at(F.transform(F.array(digits), _key_of), 1)
    return (
        F.when(F.length(comp) == 0, F.lit(""))
        .when(F.length(comp) < 5, F.concat(F.lit("."), F.hex(comp)))
        .otherwise(key)
    )


def type_sort_key_hex(comp: Column, marshal: str) -> Column:
    """Component bytes -> hex string in the comparator's logical order."""
    t = _strip_pkg(marshal.strip())
    if t.startswith("ReversedType(") and t.endswith(")"):
        inner = type_sort_key_hex(comp, t[len("ReversedType(") : -1])
        # complement every hex digit; the high sentinel both inverts
        # prefix order AND places the EMPTY value last (its key is the
        # bare sentinel 'Z', above every hex-leading non-empty key) —
        # matching ReversedComparator's b'\xff' for empty (types.py)
        return F.concat(F.translate(inner, *_HEX_COMPLEMENT), F.lit(_EOC_PLUS))
    if t in _BYTE_ORDERED:
        return F.hex(comp)
    if t in _SIGNED_WIDTH:
        return _flip_sign_hex(comp, _SIGNED_WIDTH[t])
    if t == "FloatType":
        return _ieee_hex(comp, 4)
    if t == "DoubleType":
        return _ieee_hex(comp, 8)
    if t == "TimeUUIDType":
        # no malformed guard needed: the key appends the full hex, so
        # equal-length inputs differ in the tail, and the output length
        # strictly increases with input length (equal strings need equal
        # lengths) — injective at any width
        h = F.hex(comp)
        return F.concat(_timeuuid_key(h), h)
    if t == "UUIDType":
        h = F.hex(comp)
        ver = F.substring(h, 13, 1)
        return _malformed_guard(
            comp,
            16,
            F.concat(
                ver,
                F.when(ver == "1", _timeuuid_key(h)).otherwise(F.lit("")),
                h,
            ),
        )
    if t == "LexicalUUIDType":
        # UUID.compareTo: MSB then LSB as SIGNED longs -> flip the sign
        # bit of byte 0 and byte 8 (the Python _sk_lexuuid twin)
        flipped8 = (
            F.conv(F.hex(F.substring(comp, 9, 1)), 16, 10).cast("int")
            + F.lit(128)
        ) % F.lit(256)
        return _malformed_guard(
            comp,
            16,
            F.concat(
                _flip_first_byte_hex(F.substring(comp, 1, 8)),
                F.lpad(F.conv(flipped8.cast("string"), 10, 16), 2, "0"),
                F.hex(F.substring(comp, 10, 7)),
            ),
        )
    if t == "IntegerType":
        return _varint_hex(comp)
    if t == "DecimalType":
        return _decimal_hex(comp)
    raise ValueError(
        f"no JVM-side sort key for comparator {marshal}; use "
        "compact(name_sort_key=<udf over types.get(spec).sort_key>) instead"
    )


def composite_sort_key(
    name: Column,
    component_types: Sequence[str],
    *,
    n_extra: int = 2,
    path_types_by_column: dict[bytes, str] | None = None,
) -> Column:
    """2.x composite cell name -> order-preserving string sort key.

    ``component_types``: marshal classes of the typed leading components
    (the clustering columns for ma-mapped names). Up to ``n_extra``
    trailing components (CQL column name, collection cell path) are
    compared as raw bytes by default. Bounds with fewer components
    (range-tombstone prefixes) and the 0xFFFF static prefix are handled
    per Cassandra's composite comparator; see the module docstring for
    the encoding.

    ``path_types_by_column``: optional column-name-bytes -> marshal class
    map for the LAST extra component (the collection cell path): list
    paths compare as TimeUUIDs, set paths as the element type, map paths
    as the key type. The column-name component (second-to-last extra)
    dispatches the transform at runtime, so each collection column's
    paths order by its real comparator while everything else stays raw.

    The expression is unrolled per component — component counts above ~10
    produce very large Catalyst trees; such schemas should use the Python
    UDF fallback.

    The built Column is MEMOIZED per (input expression, component types,
    n_extra, path map) — r15: building this tree costs thousands of py4j
    round-trips (~3 s of pure driver latency per compact() on a 0.4 ms
    RTT gateway, profiled in OPTIMIZATION_r15.md), and the tree is a
    deterministic function of the comparator schema alone — no data, no
    session state (unresolved attribute references resolve per-DataFrame
    at analysis). The same discipline as memoizing LSH hyperplane
    literals: compile-time artifacts are built once per driver process.
    """
    types_ = [_strip_pkg(t) for t in component_types] + ["BytesType"] * n_extra
    if len(types_) > 12:
        raise ValueError(
            f"composite_sort_key unrolls {len(types_)} components — "
            "expression too large; use the types.sort_key UDF fallback"
        )
    try:
        cache_key = (
            str(name._jc),
            tuple(types_),
            n_extra,
            tuple(sorted((path_types_by_column or {}).items())),
        )
    except Exception:
        cache_key = None
    if cache_key is not None and cache_key in _COMPOSITE_SK_CACHE:
        return _COMPOSITE_SK_CACHE[cache_key]
    path_idx = len(types_) - 1 if (path_types_by_column and n_extra >= 2) else None
    name_idx = path_idx - 1 if path_idx is not None else None
    total = F.length(name)
    is_static = (total >= 2) & (
        F.hex(F.substring(name, F.lit(1), F.lit(2))) == "FFFF"
    )
    # segments collect into a flat variadic concat — a running
    # `acc = when(has, concat(acc, seg)).otherwise(acc)` references acc
    # TWICE per level, duplicating every earlier component's typed-key
    # tree 2^(levels-below) times (the round-9 sst_decode_varint
    # analysis blow-up); here each seg tree appears exactly once
    segs: list[Column] = [F.when(is_static, F.lit("0")).otherwise(F.lit("1"))]
    pos = F.when(is_static, F.lit(3)).otherwise(F.lit(1)).cast("int")
    # injectivity guard for structurally broken composites: each level is
    # clean iff the name ended exactly before it (pos > total) or the full
    # component fits (u16 + ln value bytes + eoc byte). Truncated shapes —
    # a dangling byte, a length claiming past the end, a missing eoc —
    # would otherwise encode like a well-formed sibling and let LWW merge
    # distinct corrupt names (the per-component _malformed_guard covers
    # wrong WIDTHS, not truncated length prefixes).
    clean = F.lit(True)
    name_comp = None
    for i, t in enumerate(types_):
        ln = _u16_at(name, pos)
        clean = clean & ((pos > total) | ((pos + F.lit(2) + ln) <= total))
        comp = F.substring(name, pos + F.lit(2), ln)
        eocb = F.coalesce(
            F.conv(
                F.hex(F.substring(name, pos + F.lit(2) + ln, F.lit(1))), 16, 10
            ).cast("int"),
            F.lit(0),
        )
        eocc = (
            F.when(eocb == 0, F.lit(_EOC_ZERO))
            .when(eocb < 128, F.lit(_EOC_PLUS))
            .otherwise(F.lit(_EOC_MINUS))
        )
        if i == name_idx:
            name_comp = comp
        if i == path_idx and name_comp is not None:
            key = type_sort_key_hex(comp, t)
            for col_name, marshal in path_types_by_column.items():
                key = F.when(
                    name_comp == F.lit(col_name),
                    type_sort_key_hex(comp, marshal),
                ).otherwise(key)
        else:
            key = type_sort_key_hex(comp, t)
        has = (pos + F.lit(1)) <= total  # the u16 length prefix is present
        segs.append(
            F.when(has, F.concat(key, F.lit(_EOC_MINUS), eocc)).otherwise(
                F.lit("")
            )
        )
        # pos advances UNCONDITIONALLY: past the end, _u16_at coalesces to
        # 0 and `has` keeps gating the append, so correctness is
        # unaffected — but a guarded pos (when(has, ...).otherwise(pos))
        # references the previous pos tree ~5x per level instead of ~2x,
        # and the resulting ~5^n expression blow-up showed up as whole
        # seconds of analysis/codegen time per ma query
        pos = (pos + F.lit(3) + ln).cast("int")
    # a name with MORE components than the unrolled levels would also
    # collapse onto its truncation; with every level consumed cleanly,
    # final pos <= total means unencoded bytes remain
    clean = clean & (pos > total)
    # broken shapes fall back to '.' + full raw hex: trivially injective,
    # deterministic, and (like _malformed_guard) sorted below well-formed
    # keys' content without colliding with them. The tree cost is linear
    # in the level count (each `clean` term references the shared pos
    # trees, not a 5-way guarded recurrence).
    out = F.when(clean, F.concat(*segs)).otherwise(
        F.concat(F.lit("."), F.hex(name))
    )
    if cache_key is not None:
        while len(_COMPOSITE_SK_CACHE) >= _COMPOSITE_SK_CACHE_MAX:
            _COMPOSITE_SK_CACHE.pop(next(iter(_COMPOSITE_SK_CACHE)))
        _COMPOSITE_SK_CACHE[cache_key] = out
    return out


def comparator_sort_key(name: Column, spec: str, *, n_extra: int = 2) -> Column:
    """Sort-key column for a full comparator spec (simple or CompositeType).

    Matches ``types.get(spec).sort_key`` ordering, JVM-side. ``n_extra``
    trailing components past the declared CompositeType list (CQL column
    name, collection cell path) compare as raw bytes — dropping them
    would collapse distinct cell names to one sort key and LWW away whole
    columns; the Python ``CompositeComparator._component_at`` fallback
    compares unlimited extras, so specs whose names can exceed
    declared+2 components should use the UDF path.
    """
    s = spec.strip()
    short = _strip_pkg(s.split("(", 1)[0])
    if short == "CompositeType":
        inner = s[s.index("(") + 1 : s.rindex(")")]
        comps = _split_top_level(inner)
        return composite_sort_key(name, comps, n_extra=n_extra)
    return type_sort_key_hex(name, s)


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return out
