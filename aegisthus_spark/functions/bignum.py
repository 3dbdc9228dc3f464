"""Arbitrary-width big-endian integers as SQL text templates.

Cassandra's IntegerType (varint) and DecimalType carry variable-length
big-endian two's-complement values (reference renders/compares them via
BigInteger/BigDecimal — e.g. JsonOutputFormat.java:92-106 through
AbstractType.getString). Spark's ``conv`` is exact only to 64 bits, so
anything built on it silently breaks past 8-byte unscaled values. The
templates here digitize ANY width exactly, JVM-side, with higher-order
function folds: the lambda body is ONE Catalyst node (HOFs don't unroll
per element), so the expression stays small — the thing the round-6/7
analysis-time lessons care about — at the cost of an interpreted per-row
fold (microseconds at realistic key widths). Values referenced more than
once are bound once with ``sqltext.let``.

Digitization is schoolbook short division: split the magnitude hex into
16-bit limbs and repeatedly divide the limb array by 10^9, emitting 9
decimal digits per pass (most-significant limb first, remainder carried).
With 16-bit limbs the partial dividend ``r*65536 + limb`` stays below
1e9*65536 + 65535 < 2^53, so ``(cur - cur % 10^9) / 10^9`` — an exact
multiple divided by an exactly-representable divisor — is an exact
double, and the truncating cast to long is the true quotient.
"""

from __future__ import annotations

from collections.abc import Callable

from .sqltext import REST, lam, let

_LIMB = 65536  # 16-bit limbs: 4 hex chars each
_DIV = 1_000_000_000  # 9 decimal digits per division pass

#: minimal-form normalization: a leading 0x00 byte is redundant iff the
#: next byte is < 0x80, a leading 0xFF iff the next is >= 0x80
#: (BigInteger's minimal two's complement; numerically equal encodings
#: must collapse to one digit string)
_MINIMAL_RE = "^(?:00(?=[0-7])|FF(?=[89A-F]))+"

#: hex digit complement (``translate`` arguments)
COMPLEMENT = "'0123456789ABCDEF', 'FEDCBA9876543210'"


def is_negative_hex(h: str) -> str:
    """True iff the (minimal) two's-complement hex ``h`` is negative."""
    return f"substring({h}, 1, 1) IN ('8', '9', 'A', 'B', 'C', 'D', 'E', 'F')"


def normalize_hex(h: str) -> str:
    """Strip redundant sign-extension padding (minimal form, both signs)."""
    return f"regexp_replace({h}, '{_MINIMAL_RE}', '')"


def negative_mag_hex(h: str) -> str:
    """Magnitude hex of a NEGATIVE two's-complement hex ``h``:
    complement every digit, then string-increment (+1). The increment
    never overflows — an all-'F' complement would mean value 0, which is
    not negative — so the head (everything before the trailing 'F' run)
    is non-empty and its last digit is < 'F'."""

    def incremented(compl: str) -> str:
        def with_tail(tail: str) -> str:
            head_len = f"(length({compl}) - length({tail}))"
            return (
                f"concat(substring({compl}, 1, {head_len} - 1), "
                f"translate(substring({compl}, {head_len}, 1), "
                "'0123456789ABCDE', '123456789ABCDEF'), "
                f"translate({tail}, 'F', '0'))"
            )

        return let(f"regexp_extract({compl}, 'F*$', 0)", with_tail)

    return let(f"translate({h}, {COMPLEMENT})", incremented)


def mag_digits(mh: str) -> str:
    """Hex string of an UNSIGNED magnitude -> exact decimal digit string
    ('0' for empty/zero input), any width. See the module docstring for
    the short-division scheme."""
    return let(mh, _mag_digits_bound)


def _mag_digits_bound(mh: str) -> str:
    hexlen = f"length({mh})"
    # pad to a whole number of 4-hex limbs
    pad = f"((4 - {hexlen} % 4) % 4)"
    padded = f"concat(substring('000', 1, {pad}), {mh})"
    nlimbs = f"cast(({hexlen} + {pad}) / 4 as int)"
    limb = lam(lambda i: f"cast(conv(substring({padded}, ({i} - 1) * 4 + 1, 4), 16, 10) as bigint)")
    limbs = f"transform(sequence(1, {nlimbs}), {limb})"
    # passes needed: 9*n >= digits <= hexlen*log10(16) + 1
    n_iters = f"cast(ceil({hexlen} * 0.134D) + 1 as int)"

    def div_pass(ls: str) -> str:
        def step(a: str, x: str) -> str:
            cur = f"({a}.r * {_LIMB} + {x})"
            return (
                f"struct(array_append({a}.q, cast(({cur} - {cur} % {_DIV}) / {_DIV} as bigint)) AS q, "
                f"{cur} % {_DIV} AS r)"
            )

        return (
            f"aggregate({ls}, struct(cast(array() as array<bigint>) AS q, cast(0 as bigint) AS r), "
            f"{lam(step, 2)})"
        )

    def one_pass(acc: str, _i: str) -> str:
        return let(
            div_pass(f"{acc}.l"),
            lambda d: f"struct({d}.q AS l, concat(lpad(cast({d}.r as string), 9, '0'), {acc}.s) AS s)",
        )

    raw = (
        f"aggregate(sequence(1, {n_iters}), struct({limbs} AS l, '' AS s), "
        f"{lam(one_pass, 2)}, {lam(lambda acc: f'{acc}.s')})"
    )
    stripped = let(
        f"regexp_replace({raw}, '^0+', '')",
        lambda s: f"CASE WHEN length({s}) = 0 THEN '0' ELSE {s} END",
    )
    return f"CASE WHEN {hexlen} = 0 THEN '0' ELSE {stripped} END"


def _signed_mag(nh: str) -> str:
    """Magnitude hex of the minimal two's-complement hex ``nh``."""
    return f"CASE WHEN {is_negative_hex(nh)} THEN {negative_mag_hex(nh)} ELSE {nh} END"


def split_decimal(b: str, body: Callable[[str, str, str], str]) -> str:
    """SQL text: ``body(scale, sign, digits)`` over Cassandra DecimalType
    bytes ``b`` (4-byte signed scale + any-width varint unscaled): the
    scale as a bigint, the sign prefix ('-' or '') and the magnitude
    digit string, each bound once. The shared extraction under the
    decimal render (render._decimal_str) and the CQL decimal compose
    (cql.py) — one place owns the scale/sign/digitization conventions.
    Callers that need the short-input (< 4 bytes) edge guard it
    themselves: the scale here reads the full 4-byte prefix."""
    scale = (
        f"((cast(conv(hex(substring({b}, 1, 4)), 16, 10) as bigint) + {1 << 31}) "
        f"% {1 << 32}) - {1 << 31}"
    )

    def with_uh(uh: str) -> str:
        neg = is_negative_hex(uh)
        return let(
            mag_digits(_signed_mag(uh)),
            lambda digits: let(
                scale,
                lambda sc: body(sc, f"CASE WHEN {neg} AND {digits} != '0' THEN '-' ELSE '' END", digits),
            ),
        )

    return let(normalize_hex(f"hex(substring({b}, 5, {REST}))"), with_uh)


def signed_digits(h: str) -> str:
    """Minimal big-endian two's-complement hex -> exact signed decimal
    digit string ('-123', '0', '45'), any width. Non-minimal input is
    normalized first (equal values must render equally)."""

    def body(nh: str) -> str:
        neg = is_negative_hex(nh)
        return let(
            mag_digits(_signed_mag(nh)),
            lambda digits: f"concat(CASE WHEN {neg} AND {digits} != '0' THEN '-' ELSE '' END, {digits})",
        )

    return let(normalize_hex(h), body)
