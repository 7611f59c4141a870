"""Java ``String.hashCode`` parity as a pure Catalyst expression.

The reference's Kafka partitioner is
``Math.abs(partitionKey.hashCode % partitions.length)``
(partitioner/FlinkCDCSimplePartitioner.scala:11-15). Same-key→same-partition
(the actual ordering invariant, reference README.md:6) would hold with
Kafka's own murmur2 keying; this expression exists for *partition-number
parity* with the reference.

Implemented with ``aggregate`` over the character array — stays JVM-side,
no Python round-trip. ``split(s, '')`` yields code points, so a character
outside the Basic Multilingual Plane folds in as its two UTF-16 units
(``h = 961*h + 31*high + low``), exactly as Java iterates the string. The
accumulator is the hash as an unsigned 32-bit value in a LongType, masked
each step (Spark 4 runs in ANSI mode: integer overflow would raise, while
Java wraps silently), and read back as a signed int32 once at the end.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO_31 = 2**31
_TWO_32 = 2**32
_MASK_32 = _TWO_32 - 1


def java_string_hashcode(col: Column | str) -> Column:
    """``h = 31*h + c`` over UTF-16 units, int32 wraparound, as LongType."""
    col = F.col(col) if isinstance(col, str) else col
    # one string per code point; "" splits to [""], whose ascii() is 0,
    # so the empty string folds to 0 like Java's
    chars = F.split(col, "")

    def step(acc: Column, c: Column) -> Column:
        cp = F.ascii(c)
        # a code point above the BMP is the one 4-byte UTF-8 sequence; its
        # units are high = 0xD800 + (u >> 10), low = 0xDC00 + (u & 0x3FF)
        # for u = cp - 0x10000, folded as 31*(31*acc + high) + low
        u = cp - F.lit(0x10000)
        pair = (
            acc * F.lit(961)
            + F.lit(31) * (F.shiftright(u, 10) + F.lit(0xD800))
            + u.bitwiseAND(F.lit(0x3FF))
            + F.lit(0xDC00)
        )
        h = F.when(F.octet_length(c) < F.lit(4), acc * F.lit(31) + cp)
        return h.otherwise(pair).bitwiseAND(F.lit(_MASK_32))

    def signed(acc: Column) -> Column:
        return acc.bitwiseXOR(F.lit(_TWO_31)) - F.lit(_TWO_31)

    return F.aggregate(chars, F.lit(0).cast("long"), step, signed)


def java_partition(key: Column | str, num_partitions: int) -> Column:
    """``Math.abs(key.hashCode % n)`` — the reference partitioner, bug-fixed.

    The reference crashes once in 2^32: ``Math.abs(Integer.MIN_VALUE)`` is
    negative (SURVEY.md §2 bug note). For every other hash value
    ``pmod(abs(h) % n)``-style arithmetic below is IDENTICAL to Java's
    ``Math.abs(h % n)``; for MIN_VALUE it returns the non-crashing
    ``pmod`` value instead of a negative partition.
    """
    h = java_string_hashcode(key)
    # Java % keeps the dividend's sign; abs() of the long result is safe
    # (no long overflow since |h| <= 2^31). Matches Math.abs(h % n) for all
    # h except MIN_VALUE-where-reference-crashes, handled via pmod fallback.
    raw = F.abs(h % F.lit(num_partitions))
    return F.when(
        h == F.lit(-_TWO_31), F.pmod(h, F.lit(num_partitions))
    ).otherwise(raw).cast("int")


def java_string_hashcode_py(s: str) -> int:
    """Driver/test-side reference implementation (pure Python)."""
    h = 0
    for ch in s:
        for unit in _utf16_units(ch):
            h = (h * 31 + unit) & 0xFFFFFFFF
    return h - _TWO_32 if h >= _TWO_31 else h


def java_partition_py(s: str, n: int) -> int:
    """Driver/test-side ``Math.abs(hashCode % n)`` with Java ``%``
    semantics (remainder keeps dividend sign) + the pmod MIN_VALUE fix."""
    h = java_string_hashcode_py(s)
    if h == -_TWO_31:
        return h % n  # python % = pmod
    rem = h - int(h / n) * n  # Java-style truncated division remainder
    return abs(rem)


def _utf16_units(ch: str) -> list[int]:
    cp = ord(ch)
    if cp < 0x10000:
        return [cp]
    cp -= 0x10000
    return [0xD800 + (cp >> 10), 0xDC00 + (cp & 0x3FF)]
