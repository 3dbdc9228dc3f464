"""Display-string renders for comparator-typed bytes as SQL text
templates (F1/K1/O4).

The reference renders keys/names/values through ``AbstractType.getString``
with a hex fallback on MarshalException (JsonOutputFormat.java:92-106);
the Python twins live in ``types.Comparator.render``. Each template here
maps operand SQL text to SQL text, so a typed snapshot's whole projection
reaches the JVM as one expression string and stays inside the JVM.

Byte-parity contract: for every input, ``type_render(b, T)`` must equal
``types.get(T).render(bytes)`` — including the hex fallback on malformed
widths / invalid encodings / out-of-range timestamps (the Python twin's
``except: return b.hex()``). This covers the FULL registered comparator
set: FloatType/DoubleType render through ``cast(... as string)`` (Java
``toString``), with the Python twin a faithful OpenJDK FloatingDecimal
port (functions/javafloat.py). A marshal class with no template (a
custom, off-registry class) raises ValueError naming it.

Timestamp renders assume the session timezone is UTC (the repo session
factory and the driver entry both pin ``spark.sql.session.timeZone``);
``date_format`` has no per-call zone override.
"""

from __future__ import annotations

from ..types import _split_top_level
from .bignum import COMPLEMENT, is_negative_hex, normalize_hex, signed_digits, split_decimal
from .casts import _hex_to_double_sql, _hex_to_float_sql
from .sqltext import REST, lam, let, string_lit
from .sortkeys import _composite_positions, _strip_pkg, _u16_at

#: python datetime range in epoch millis: 0001-01-01T00:00:00Z ..
#: 9999-12-31T23:59:59.999Z — outside it datetime.fromtimestamp raises
#: and the Python render falls back to hex
_TS_MIN_MS = -62135596800000
_TS_MAX_MS = 253402300799999


def _hex_fallback(b: str) -> str:
    return f"lower(hex({b}))"


def _signed_long(h: str) -> str:
    """Hex (<= 16 digits) big-endian two's-complement -> exact signed
    long. Negatives go through the digit complement: value = -(~u + 1),
    and the complement's lead digit is < '8', so it always fits a signed
    long — NO double/decimal hop anywhere (cast(double AS decimal) is
    NOT exact: Spark round-trips through a 17-significant-digit string,
    probed at 2^64 -> ...552000, off by 384)."""
    return (
        f"CASE WHEN {is_negative_hex(h)} "
        f"THEN -cast(conv(translate({h}, {COMPLEMENT}), 16, 10) as bigint) - cast(1 as bigint) "
        f"ELSE cast(conv({h}, 16, 10) as bigint) END"
    )


def _uuid_str(b: str) -> str:
    lh = f"lower(hex({b}))"
    parts = ((1, 8), (9, 4), (13, 4), (17, 4), (21, 12))
    return "concat_ws('-', " + ", ".join(f"substring({lh}, {p}, {n})" for p, n in parts) + ")"


def _timestamp_str(b: str) -> str:
    """TimestampType/DateType: epoch-millis long (the Python twin accepts
    ANY width via int.from_bytes — a 9-byte value with redundant sign
    padding still renders, hence the minimal-form normalize before the
    width check) -> '%Y-%m-%d %H:%M:%S%z' UTC. Pattern 'y' prints the
    year unpadded exactly like CPython's strftime on glibc ('999-12-31',
    '1-01-01' — probed, not assumed); out-of-range years make the Python
    twin raise, so those take the hex fallback."""

    def with_nh(nh: str) -> str:
        ms = f"CASE WHEN length({nh}) = 0 THEN cast(0 as bigint) ELSE {_signed_long(nh)} END"
        # >16 normalized hex digits can't fit a long at all (the Python
        # twin raises there anyway); the millis are bound only past that
        # guard, since their conv would overflow
        rendered = let(ms, lambda m: (
            f"CASE WHEN {m} >= {_TS_MIN_MS} AND {m} <= {_TS_MAX_MS} "
            f"THEN date_format(timestamp_millis({m}), 'y-MM-dd HH:mm:ssZ') "
            f"ELSE {_hex_fallback(b)} END"
        ))
        return f"CASE WHEN length({nh}) <= 16 THEN {rendered} ELSE {_hex_fallback(b)} END"

    return let(normalize_hex(f"hex({b})"), with_nh)


def _decimal_digits_fmt(sign: str, s: str, scale: str) -> str:
    """(sign prefix, magnitude digit string, i32 scale) -> Java
    BigDecimal.toString / Cowlishaw to-scientific-string (the exact
    algorithm in types._render_decimal): plain notation when scale >= 0
    and adjusted >= -6, else scientific. In the plain zero-pad branch
    adjusted >= -6 bounds scale - len(s) <= 5, so a 5-zero literal
    substring replaces an unbounded repeat()."""
    n = f"length({s})"
    adjusted = f"(cast({n} - 1 as bigint) - {scale})"
    int_split = (
        f"concat(substring({s}, 1, cast({n} - {scale} as int)), '.', "
        f"substring({s}, cast({n} - {scale} + 1 as int), {REST}))"
    )
    frac_only = f"concat('0.', substring('00000', 1, cast({scale} - {n} as int)), {s})"
    plain = f"CASE WHEN {scale} = 0 THEN {s} WHEN {n} > {scale} THEN {int_split} ELSE {frac_only} END"
    mant = (
        f"concat(substring({s}, 1, 1), "
        f"CASE WHEN {n} > 1 THEN concat('.', substring({s}, 2, {REST})) ELSE '' END)"
    )
    sci = (
        f"concat({mant}, 'E', CASE WHEN {adjusted} >= 0 THEN '+' ELSE '' END, "
        f"cast({adjusted} as string))"
    )
    return (
        f"concat({sign}, CASE WHEN {scale} >= 0 AND {adjusted} >= -6 "
        f"THEN {plain} ELSE {sci} END)"
    )


def _decimal_str(b: str) -> str:
    """DecimalType: i32 scale + any-width varint unscaled -> exact
    BigDecimal.toString. Inputs shorter than the 4-byte scale prefix
    follow the Python twin exactly: scale is the signed int of whatever
    prefix bytes exist (signed at its OWN width) and the unscaled is 0."""
    full = split_decimal(b, lambda scale, sign, digits: _decimal_digits_fmt(sign, digits, scale))
    short_scale = (
        f"CASE WHEN length({b}) = 0 THEN cast(0 as bigint) "
        f"ELSE {_signed_long(f'hex(substring({b}, 1, 4))')} END"
    )
    return (
        f"CASE WHEN length({b}) >= 4 THEN {full} "
        f"ELSE {_decimal_digits_fmt(string_lit(''), string_lit('0'), short_scale)} END"
    )


def type_render(b: str, marshal: str) -> str:
    """SQL text: binary ``b`` -> AbstractType.getString display string
    (byte parity with ``types.get(marshal).render``). NULL input renders
    as '' like the Python twin. Raises ValueError for a marshal class
    with no template."""
    t = _strip_pkg(marshal.strip())
    if t.startswith("ReversedType(") and t.endswith(")"):
        # same rendering as the inner type (types.ReversedComparator)
        return type_render(b, t[len("ReversedType(") : -1])
    if t == "BytesType":
        return _hex_fallback(f"coalesce({b}, x'')")
    if t not in _NONNULL:
        raise ValueError(
            f"no render template for comparator {marshal!r}; add one in "
            "functions/render.py beside its aegisthus_spark.types twin"
        )
    return let(b, lambda v: f"CASE WHEN {v} IS NULL THEN '' ELSE {_NONNULL[t](v)} END")


def _fixed_or_hex(width: int, render):
    return lambda b: (
        f"CASE WHEN length({b}) = {width} THEN {render(b)} ELSE {_hex_fallback(b)} END"
    )


def _signed_str(b: str) -> str:
    """Fixed-width (<= 8 bytes) two's complement -> exact decimal string."""
    return f"cast({_signed_long(f'hex({b})')} as string)"


#: marshal class -> render template of a non-null operand
_NONNULL = {
    "UTF8Type": lambda b: (
        f"CASE WHEN is_valid_utf8({b}) THEN cast({b} as string) ELSE {_hex_fallback(b)} END"
    ),
    "AsciiType": lambda b: (
        f"CASE WHEN hex({b}) RLIKE '^(?:[0-7][0-9A-F])*$' THEN cast({b} as string) "
        f"ELSE {_hex_fallback(b)} END"
    ),
    "LongType": _fixed_or_hex(8, _signed_str),
    "Int32Type": _fixed_or_hex(4, _signed_str),
    "BooleanType": lambda b: (
        f"CASE WHEN length({b}) = 0 OR hex(substring({b}, 1, 1)) = '00' THEN 'false' ELSE 'true' END"
    ),
    # the Python twin renders every 16-byte value via uuid.UUID and
    # hex-falls-back on any other width
    **dict.fromkeys(("UUIDType", "TimeUUIDType", "LexicalUUIDType"), _fixed_or_hex(16, _uuid_str)),
    **dict.fromkeys(("TimestampType", "DateType"), _timestamp_str),
    "IntegerType": lambda b: signed_digits(f"hex({b})"),
    "DecimalType": _decimal_str,
    # cast(float as string) IS Java Float.toString; the Python twin
    # (functions/javafloat.py) reproduces it bit-for-bit — pinned by the
    # seeded 6k-bit-pattern fuzz in tests/test_render.py
    # (test_float_double_render_jvm_parity_fuzz) every run, plus a
    # one-off 183k-value sweep at adoption (round 10)
    "FloatType": _fixed_or_hex(
        4, lambda b: f"cast(cast({_hex_to_float_sql(f'hex({b})')} as float) as string)"
    ),
    "DoubleType": _fixed_or_hex(8, lambda b: f"cast({_hex_to_double_sql(f'hex({b})')} as string)"),
}


def composite_render(name: str, component_types: list[str], *, unroll_extra: int = 2) -> str:
    """SQL text: 2.x composite cell name -> ':'-joined per-component
    display strings (CompositeComparator.render). Declared components
    render through their comparators; everything past them (CQL column
    name, collection cell path — the Python twin allows unlimited
    extras) is BytesType hex: ``unroll_extra`` levels are unrolled, any
    remaining tail is consumed by a bounded aggregate loop so parity
    holds at ANY component count."""
    types_ = [_strip_pkg(t) for t in component_types] + ["BytesType"] * unroll_extra
    levels = len(types_)

    def rendered(n: str, ps: str) -> str:
        total = f"length({n})"
        # `pos <= total`, not `pos + 1 <= total`: the Python twin's split
        # reads a DANGLING single trailing byte as a (short) length and
        # emits one more (empty) component — byte parity requires the
        # same here. array_join skips the NULLs of absent components
        parts = [
            f"CASE WHEN {ps}[{i}] <= {total} THEN "
            f"{type_render(f'substring({n}, {ps}[{i}] + 2, {ps}[{i + 1}] - {ps}[{i}] - 3)', t)} END"
            for i, t in enumerate(types_)
        ]

        # generic hex tail: components past the unrolled levels, unlimited
        # count (each consumes >= 3 bytes, so (total - pos)/3 + 1 bounds it)
        def step(a: str, _i: str) -> str:
            ln = _u16_at(n, f"{a}.p")
            return (
                f"CASE WHEN {a}.p <= {total} THEN struct(cast({a}.p + 3 + {ln} as int) AS p, "
                f"array_append({a}.s, lower(hex(substring({n}, {a}.p + 2, {ln})))) AS s) ELSE {a} END"
            )

        end = f"{ps}[{levels}]"
        n_tail = f"greatest(cast(({total} - {end}) / 3 + 1 as int), 0)"
        unrolled, colon = "array(" + ", ".join(parts) + ")", string_lit(":")
        tail = (
            f"aggregate(CASE WHEN {n_tail} < 1 THEN cast(array() as array<int>) "
            f"ELSE sequence(1, {n_tail}) END, "
            f"struct({end} AS p, cast(array() as array<string>) AS s), {lam(step, 2)}, "
            f"{lam(lambda a: f'array_join(concat({unrolled}, {a}.s), {colon})')})"
        )
        return f"CASE WHEN {n} IS NULL THEN '' ELSE {tail} END"

    return let(name, lambda n: let(_composite_positions(n, levels), lambda ps: rendered(n, ps)))


def comparator_render(col: str, spec: str) -> str:
    """SQL text: display-string render for a full comparator spec (simple
    or CompositeType); ValueError when a component has no template."""
    s = spec.strip()
    short = _strip_pkg(s.split("(", 1)[0])
    if short == "CompositeType":
        inner = s[s.index("(") + 1 : s.rindex(")")]
        return composite_render(col, _split_top_level(inner))
    return type_render(col, s)


#: control chars json.dumps shortcuts; everything else below 0x20 gets
#: the lowercase \\u00xx escape (Jackson/to_json writes UPPERCASE hex
#: there — the one divergence that rules out the to_json(array(..)) trick)
_JSON_SHORT = {0x08: "\\b", 0x09: "\\t", 0x0A: "\\n", 0x0C: "\\f", 0x0D: "\\r"}


def json_escape(s: str) -> str:
    """SQL text: exact ``json.dumps(s, ensure_ascii=False)`` body escaping
    (without the surrounding quotes): backslash, double quote, and the 32
    control chars — a linear chain of literal replaces, byte parity with
    the Python twin's Jackson-compact rendering."""
    backslash, quote = "\\", '"'
    out = f"replace({s}, {string_lit(backslash)}, {string_lit(backslash * 2)})"
    out = f"replace({out}, {string_lit(quote)}, {string_lit(backslash + quote)})"
    for c in range(0x20):
        esc = _JSON_SHORT.get(c, f"\\u{c:04x}")
        out = f"replace({out}, chr({c}), {string_lit(esc)})"
    return out
