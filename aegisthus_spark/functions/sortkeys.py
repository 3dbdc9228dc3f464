"""Order-preserving sort keys for typed cell names as SQL text templates
(F1/J2/A3).

``compact()`` compares cell names and range-tombstone bounds as raw bytes
by default — correct only for byte-ordered comparators. For every other
comparator the reference used Cassandra's ``AbstractType.compare``
(CassSSTableReducer.java:142-153 via the configured comparator); this
module reproduces that order as a pure Spark SQL expression, built as
text (a Python function from the name's SQL text to the key's SQL text)
so typed compactions stay inside the JVM and the key reaches it in one
``F.expr`` call. ``types.Comparator.sort_key`` is the Python twin.

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

Every marshal class the repo's Python comparators know has a template;
an unknown/custom comparator (``supported`` returns False) or a composite
past the 12-level unroll raises ValueError naming it. A caller with
such a comparator registers its own SQL function
(``spark.udf.register("my_sk", ...)``) and passes
``name_sort_key=lambda c: f"my_sk({c})"`` to ``compact()``.

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

from ..types import _split_top_level
from .bignum import is_negative_hex, mag_digits, negative_mag_hex, normalize_hex
from .sqltext import REST, lam, let

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
_HEX_COMPLEMENT = "'0123456789ABCDEF!Z', 'FEDCBA9876543210Z!'"

#: the most components a composite key unrolls
MAX_LEVELS = 12


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


def _u16_at(name: str, pos: str) -> str:
    return f"coalesce(cast(conv(hex(substring({name}, {pos}, 2)), 16, 10) as int), 0)"


def _composite_positions(name: str, levels: int) -> str:
    """SQL text: the 1-based start of each of ``levels`` 2.x composite
    components (u16 length, value, eoc byte) of ``name``, plus the end,
    as an array<int>; past the name's end a component reads as length 0
    (positions then advance UNCONDITIONALLY and each level's own test
    gates its use). Start 3 skips the 0xFFFF static prefix. One array
    read by index keeps the key linear in the level count: each
    position computed from the previous one's text would reference it
    twice, a 2^levels text."""
    static = f"length({name}) >= 2 AND hex(substring({name}, 1, 2)) = 'FFFF'"

    def step(acc: str, i: str) -> str:
        pos = f"{acc}[{i} - 1]"
        return f"array_append({acc}, cast({pos} + 3 + {_u16_at(name, pos)} as int))"

    start = f"cast(CASE WHEN {static} THEN 3 ELSE 1 END as int)"
    return f"aggregate(sequence(1, {levels}), array({start}), {lam(step, 2)})"


def _malformed_guard(comp: str, width: int, out: str) -> str:
    """Fixed-width transforms are only injective at their expected width;
    a wrong-length value must never COLLIDE with a well-formed key (LWW
    dedups on the SORT KEY, compact._lww, so a collision would
    silently merge distinct cell names). Malformed lengths get a '.'
    prefix (0x2E, below every hex digit) + raw hex: deterministic,
    injective, sorts before well-formed values of the same position."""
    return (
        f"CASE WHEN length({comp}) = 0 THEN '' WHEN length({comp}) = {width} THEN {out} "
        f"ELSE concat('.', hex({comp})) END"
    )


def _flip_byte_hex(byte: str) -> str:
    """Two hex digits of one byte with its sign bit flipped."""
    return f"lpad(conv(cast((cast(conv(hex({byte}), 16, 10) as int) + 128) % 256 as string), 10, 16), 2, '0')"


def _flip_first_byte_hex(comp: str) -> str:
    """hex(comp) with the FIRST byte's sign bit flipped — the string-wise
    form of the two's-complement sign flip (identical order for any
    fixed-width signed value, same construction as the Python
    ``_sk_signed_fixed``). Injective at ANY input length (output length
    tracks input length), so no malformed-width guard is needed, and the
    expression is a fraction of the size of the old width-specific
    decimal-conv arithmetic — which showed up as whole seconds of
    analysis/codegen time per query on ma inputs."""
    return f"concat({_flip_byte_hex(f'substring({comp}, 1, 1)')}, hex(substring({comp}, 2, {REST})))"


def _nonempty(comp: str, key: str) -> str:
    return f"CASE WHEN length({comp}) = 0 THEN '' ELSE {key} END"


def _ieee_hex(comp: str) -> str:
    """IEEE-754 float/double -> total-order hex, string-wise: negative
    (sign bit set: first hex digit >= '8') -> complement every digit,
    positive -> flip the sign bit. The two branches land in disjoint
    first-digit ranges ('0'-'7' vs '8'-'F'), so the map is injective at
    any length; same order as the Python ``_sk_float`` twin. NaN caveat:
    this is IEEE total order, NOT Float.compare — sign-bit NaN payloads
    sort below -Infinity instead of joining positive NaNs above
    +Infinity (see the module docstring)."""
    h = f"hex({comp})"
    return _nonempty(
        comp,
        f"CASE WHEN {is_negative_hex(h)} THEN translate({h}, {_HEX_COMPLEMENT}) "
        f"ELSE {_flip_first_byte_hex(comp)} END",
    )


def _timeuuid_key(h: str) -> str:
    """hex(uuid) -> embedded v1 timestamp order (time_hi, time_mid,
    time_low) — same reorder as cql._timeuuid_sort_key."""
    return f"concat(substring({h}, 13, 4), substring({h}, 9, 4), substring({h}, 1, 8))"


def _uuid_key(comp: str) -> str:
    h = f"hex({comp})"
    ver = f"substring({h}, 13, 1)"
    return _malformed_guard(
        comp, 16, f"concat({ver}, CASE WHEN {ver} = '1' THEN {_timeuuid_key(h)} ELSE '' END, {h})"
    )


def _lexical_uuid_key(comp: str) -> str:
    """UUID.compareTo: MSB then LSB as SIGNED longs -> flip the sign bit
    of byte 0 and byte 8 (the Python _sk_lexuuid twin)."""
    return _malformed_guard(
        comp,
        16,
        f"concat({_flip_first_byte_hex(f'substring({comp}, 1, 8)')}, "
        f"{_flip_byte_hex(f'substring({comp}, 9, 1)')}, hex(substring({comp}, 10, 7)))",
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
    return t in _BYTE_ORDERED or t in _SIGNED_WIDTH or t in _KEYS


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
#: the shared positive-form body keeps the expression small: the
#: digits/adjusted subexpressions are referenced once, not once per branch.
_BODY_COMPLEMENT = "'0123456789ABCDEF!', 'FEDCBA9876543210Z'"


def _varint_hex(comp: str) -> str:
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
    h = f"hex({comp})"
    # minimal form: a leading 0x00 is redundant iff the next byte is
    # < 0x80; a leading 0xFF iff the next byte is >= 0x80 (BigInteger
    # minimal two's complement; IntegerType.compare skips such padding)
    norm_pos = f"regexp_replace({h}, '^(?:00(?=[0-7]))+', '')"
    norm_neg = f"regexp_replace({h}, '^(?:FF(?=[89A-F]))+', '')"
    len_pos = f"cast(length({norm_pos}) / 2 as bigint)"
    len_neg = f"cast(length({norm_neg}) / 2 as bigint)"
    pos_key = f"concat('2', lpad(conv(cast({len_pos} as string), 10, 16), 8, '0'), {norm_pos})"
    neg_key = (
        f"concat('0', lpad(conv(cast({_U32_MAX} - {len_neg} as string), 10, 16), 8, '0'), {norm_neg})"
    )
    return _nonempty(comp, f"CASE WHEN {is_negative_hex(h)} THEN {neg_key} ELSE {pos_key} END")


def _decimal_hex(comp: str) -> str:
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
    division that is exact at ANY width while keeping the expression
    SMALL: HOF lambda bodies are single nodes, not unrolled per element,
    which matters because this key sits under 4+ composite levels x2
    bound columns (the round-6 expression-tree lesson). Values shorter
    than the 4-byte scale prefix + 1 take the injective '.' malformed
    guard; the digit string is bound once (below that guard), since the
    key references it three times."""
    scale_u = f"cast(conv(hex(substring({comp}, 1, 4)), 16, 10) as bigint)"
    # signed i32 with ONE reference: ((u + 2^31) mod 2^32) - 2^31
    scale = f"((({scale_u} + {1 << 31}) % {1 << 32}) - {1 << 31})"

    def key_of(uh: str) -> str:
        neg = is_negative_hex(uh)

        def with_digits(s: str) -> str:
            adjusted = f"(cast(length({s}) - 1 as bigint) - {scale})"
            mant = f"regexp_replace({s}, '0+$', '')"
            # shared body: the positive form; negatives complement it wholesale
            body = (
                f"concat(lpad(conv(cast({adjusted} + {_ADJ_SHIFT} as string), 10, 16), 10, '0'), "
                f"{mant}, '!')"
            )
            return (
                f"CASE WHEN {s} = '0' THEN '1' ELSE CASE WHEN {neg} "
                f"THEN concat('0', translate({body}, {_BODY_COMPLEMENT})) "
                f"ELSE concat('2', {body}) END END"
            )

        mag = f"CASE WHEN {neg} THEN {negative_mag_hex(uh)} ELSE {uh} END"
        return let(mag_digits(mag), with_digits)

    # normalize away redundant sign-extension padding (minimal-form rule:
    # numerically equal encodings must collapse to one key — LWW dedups
    # on it)
    key = let(normalize_hex(f"hex(substring({comp}, 5, {REST}))"), key_of)
    return (
        f"CASE WHEN length({comp}) = 0 THEN '' "
        f"WHEN length({comp}) < 5 THEN concat('.', hex({comp})) ELSE {key} END"
    )


def _timeuuid_full_key(comp: str) -> str:
    # no malformed guard needed: the key appends the full hex, so
    # equal-length inputs differ in the tail, and the output length
    # strictly increases with input length (equal strings need equal
    # lengths) — injective at any width
    h = f"hex({comp})"
    return f"concat({_timeuuid_key(h)}, {h})"


#: marshal class -> key template (beyond byte order and the sign flip)
_KEYS = {
    "FloatType": _ieee_hex,
    "DoubleType": _ieee_hex,
    "TimeUUIDType": _timeuuid_full_key,
    "UUIDType": _uuid_key,
    "LexicalUUIDType": _lexical_uuid_key,
    "IntegerType": _varint_hex,
    "DecimalType": _decimal_hex,
}


def type_sort_key_hex(comp: str, marshal: str) -> str:
    """SQL text: component bytes -> hex string in the comparator's
    logical order. Raises ValueError for a marshal class with no
    template."""
    t = _strip_pkg(marshal.strip())
    if t.startswith("ReversedType(") and t.endswith(")"):
        inner = type_sort_key_hex(comp, t[len("ReversedType(") : -1])
        # complement every hex digit; the high sentinel both inverts
        # prefix order AND places the EMPTY value last (its key is the
        # bare sentinel 'Z', above every hex-leading non-empty key) —
        # matching ReversedComparator's b'\xff' for empty (types.py)
        return f"concat(translate({inner}, {_HEX_COMPLEMENT}), '{_EOC_PLUS}')"
    if t in _BYTE_ORDERED:
        return f"hex({comp})"
    if t in _SIGNED_WIDTH:
        return let(comp, lambda c: _nonempty(c, _flip_first_byte_hex(c)))
    if t in _KEYS:
        return let(comp, _KEYS[t])
    raise ValueError(
        f"no JVM-side sort key for comparator {marshal!r}; register a SQL "
        "function with spark.udf.register and pass "
        "compact(name_sort_key=lambda c: f'my_sk({c})')"
    )


def composite_sort_key(
    name: str,
    component_types: Sequence[str],
    *,
    n_extra: int = 2,
    path_types_by_column: dict[bytes, str] | None = None,
) -> str:
    """SQL text: 2.x composite cell name -> order-preserving string key.

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

    The expression is unrolled per component; more than ``MAX_LEVELS``
    components raise ValueError.
    """
    types_ = [_strip_pkg(t) for t in component_types] + ["BytesType"] * n_extra
    if len(types_) > MAX_LEVELS:
        raise ValueError(
            f"no JVM-side sort key for a composite of {len(types_)} components "
            f"({', '.join(types_)}): the key unrolls at most {MAX_LEVELS}"
        )
    levels = len(types_)
    path_idx = levels - 1 if (path_types_by_column and n_extra >= 2) else None

    def key(n: str, ps: str) -> str:
        total = f"length({n})"

        def comp(i: int) -> str:
            return f"substring({n}, {ps}[{i}] + 2, {ps}[{i + 1}] - {ps}[{i}] - 3)"

        segs = [f"CASE WHEN {ps}[0] = 3 THEN '0' ELSE '1' END"]
        # injectivity guard for structurally broken composites: each level
        # is clean iff the name ended exactly before it (pos > total) or
        # the full component fits (u16 + ln value bytes + eoc byte, the
        # next position minus one). Truncated shapes — a dangling byte, a
        # length claiming past the end, a missing eoc — would otherwise
        # encode like a well-formed sibling and let LWW merge distinct
        # corrupt names (the per-component _malformed_guard covers wrong
        # WIDTHS, not truncated length prefixes). A name with MORE
        # components than the unrolled levels would also collapse onto
        # its truncation: with every level consumed cleanly, a final
        # position <= total means unencoded bytes remain
        clean = [f"({ps}[{i}] > {total} OR {ps}[{i + 1}] - 1 <= {total})" for i in range(levels)]
        clean.append(f"{ps}[{levels}] > {total}")
        for i, t in enumerate(types_):
            k = type_sort_key_hex(comp(i), t)
            if i == path_idx:
                cases = " ".join(
                    f"WHEN {comp(i - 1)} = X'{col.hex()}' THEN {type_sort_key_hex(comp(i), m)}"
                    for col, m in path_types_by_column.items()
                )
                k = f"CASE {cases} ELSE {k} END"
            eoc = f"coalesce(cast(conv(hex(substring({n}, {ps}[{i + 1}] - 1, 1)), 16, 10) as int), 0)"
            eocc = (
                f"CASE WHEN {eoc} = 0 THEN '{_EOC_ZERO}' WHEN {eoc} < 128 THEN '{_EOC_PLUS}' "
                f"ELSE '{_EOC_MINUS}' END"
            )
            # the u16 length prefix is present
            segs.append(
                f"CASE WHEN {ps}[{i}] + 1 <= {total} THEN concat({k}, '{_EOC_MINUS}', {eocc}) ELSE '' END"
            )
        # broken shapes fall back to '.' + full raw hex: trivially
        # injective, deterministic, and (like _malformed_guard) sorted
        # below well-formed keys' content without colliding with them
        return (
            f"CASE WHEN {' AND '.join(clean)} THEN concat({', '.join(segs)}) "
            f"ELSE concat('.', hex({n})) END"
        )

    return let(name, lambda n: let(_composite_positions(n, levels), lambda ps: key(n, ps)))


def comparator_sort_key(name: str, spec: str, *, n_extra: int = 2) -> str:
    """SQL text: the sort key for a full comparator spec (simple or
    CompositeType).

    Matches ``types.get(spec).sort_key`` ordering, JVM-side. ``n_extra``
    trailing components past the declared CompositeType list (CQL column
    name, collection cell path) compare as raw bytes — dropping them
    would collapse distinct cell names to one sort key and LWW away whole
    columns; names with more than declared+``n_extra`` components take
    the injective '.' fallback key.
    """
    s = spec.strip()
    short = _strip_pkg(s.split("(", 1)[0])
    if short == "CompositeType":
        inner = s[s.index("(") + 1 : s.rindex(")")]
        return composite_sort_key(name, _split_top_level(inner), n_extra=n_extra)
    return type_sort_key_hex(name, s)
