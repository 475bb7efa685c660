"""Hash functions ≡ /root/reference/Functions/FunctionsHashing.h:15-118
(IntHash32/64, CityHash64, xxHash32/64, XXH3, wyHash64).

In the reference these back the aggregation hash tables — machinery Spark's
Tungsten owns. The user-visible survivors are exposed here as thin wrappers
over Spark built-ins (JVM-side, codegen-friendly); they also power the
dedup/LSH operators, where a *seeded* 64-bit hash family is required.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def xxhash64(*cols: Column | str, seed: int | None = None) -> Column:
    """xxHash64 ≡ FunctionsHashing.h xxHash64. ``seed`` prepends a literal so
    one column yields an independent hash family member per seed (the basis of
    the minhash signature in operators.dedup)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if seed is not None:
        cs = [F.lit(seed), *cs]
    return F.xxhash64(*cs)


_MASK32 = (1 << 32) - 1
_MASK16 = (1 << 16) - 1


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _wrap_add(a: Column, b: Column) -> Column:
    """(a + b) mod 2^64 on longs without ANSI overflow errors: 32-bit
    half-adds (each sum < 2^34) recombined with shifts, which never
    overflow-check."""
    lo = a.bitwiseAND(F.lit(_MASK32)) + b.bitwiseAND(F.lit(_MASK32))
    hi = (
        F.shiftrightunsigned(a, 32)
        + F.shiftrightunsigned(b, 32)
        + F.shiftrightunsigned(lo, 32)
    )
    return F.shiftleft(hi, 32).bitwiseOR(lo.bitwiseAND(F.lit(_MASK32)))


def _mul32(x32: Column, c32: int) -> Column:
    """(x * c) mod 2^32 for x in [0, 2^32) and constant c < 2^32, ANSI-safe:
    16-bit split keeps every partial product below 2^48."""
    lo = x32 * F.lit(c32 & _MASK16)
    hi = F.shiftleft(x32 * F.lit(c32 >> 16), 16)
    return _wrap_add(lo, hi).bitwiseAND(F.lit(_MASK32))


def _wrap_mul_const(a: Column, c: int) -> Column:
    """(a * c) mod 2^64 for a constant c, ANSI-safe schoolbook 32×32 split:
    a*c = a_lo*c_lo + ((a_lo*c_hi + a_hi*c_lo) << 32)  (a_hi*c_hi ≥ 2^64 drops).
    Partial products are built from 16-bit legs so nothing exceeds 2^48."""
    c &= (1 << 64) - 1
    c_lo, c_hi = c & _MASK32, c >> 32
    a_lo = a.bitwiseAND(F.lit(_MASK32))
    a_hi = F.shiftrightunsigned(a, 32)
    # full 64 bits of a_lo * c_lo
    ll = _wrap_add(
        a_lo * F.lit(c_lo & _MASK16),
        F.shiftleft(a_lo * F.lit(c_lo >> 16), 16),
    )
    # cross terms: only their low 32 bits survive the <<32
    cross = _mul32(a_lo, c_hi) + _mul32(a_hi, c_lo)  # each < 2^32, sum < 2^33
    return _wrap_add(ll, F.shiftleft(cross, 32))


def _rot_or(col: Column, right: int, left: int) -> Column:
    """(x >> right) | (x << left) with logical (unsigned) shifts — the
    reference's rotate idiom."""
    return F.shiftrightunsigned(col, right).bitwiseOR(F.shiftleft(col, left))


def _mix(col: Column, *stages) -> Column:
    """Chain mix stages with true let-binding. Every stage reuses its input
    several times; naively composed Columns duplicate the whole subtree per
    reuse, growing the expression multiplicatively (an 8-stage mix exceeds
    10^4 nodes and OOMs codegen). ``transform(array(x), f)[0]`` binds x as a
    lambda variable, so the tree grows additively instead.

    COST: ArrayTransform is a CodegenFallback higher-order function — each
    stage evaluates INTERPRETED (one array allocation per stage per row)
    even inside a WholeStageCodegen span. Measured ~7× a pure-codegen
    builtin hash at sf0.1. Fine inside compositional Column expressions;
    for a hot scan-project use the staged DataFrame forms below
    (:func:`with_int_hash64`, :func:`with_city_hash64`), which let-bind via
    real projected columns and stay fully codegen."""
    out = col
    for stage in stages:
        out = F.transform(F.array(out), stage)[0]
    return out


def _mix_staged(df, col: Column, stages, out: str):
    """Let-bind mix stages as real projected columns: each stage's input is
    a plain attribute reference, so reuse duplicates nothing, per-stage
    trees stay small, and every stage is plain long arithmetic inside one
    WholeStageCodegen span. Catalyst's CollapseProject will NOT inline an
    alias referenced more than once by a non-cheap expression (every mix
    stage reuses its input ≥2×), so the stage columns survive as true
    let-bindings in the generated code."""
    df = df.withColumn(out, col)
    for stage in stages:
        df = df.withColumn(out, stage(F.col(out)))
    return df


def _u64_bits(col: Column | str, input_width: int | None) -> Column:
    """Reference POD semantics: a narrow value is memcpy'd into a
    zero-initialized UInt64 (zero-extension of the bit pattern), whereas
    Spark's cast to long SIGN-extends. ``input_width`` (8/16/32) masks the
    widened long back to the narrow unsigned bit pattern so negative narrow
    ints hash like the reference; None means the input is already 64-bit
    (or the caller wants Spark's sign-extended semantics, the default)."""
    x = _c(col).cast("long")
    if input_width is not None and input_width < 64:
        x = x.bitwiseAND(F.lit((1 << input_width) - 1))
    return x


#: finalizer stages of intHash64 (Common/HashTable/Hash.h:31-40), applied
#: after the 0x4CF2D2BAAE6DA887 xor of IntHash64Impl
_INT_HASH64_STAGES = (
    lambda x: x.bitwiseXOR(F.shiftrightunsigned(x, 33)),
    lambda x: _wrap_mul_const(x, 0xFF51AFD7ED558CCD),
    lambda x: x.bitwiseXOR(F.shiftrightunsigned(x, 33)),
    lambda x: _wrap_mul_const(x, 0xC4CEB9FE1A85EC53),
    lambda x: x.bitwiseXOR(F.shiftrightunsigned(x, 33)),
)

#: mix stages of intHash32 (Common/HashTable/Hash.h:371-384) after the
#: 0x75D9543DE018BF45 salt xor of IntHash32Impl
_INT_HASH32_STAGES = (
    lambda k: _wrap_add(F.bitwise_not(k), F.shiftleft(k, 18)),
    lambda k: k.bitwiseXOR(_rot_or(k, 31, 33)),
    lambda k: _wrap_mul_const(k, 21),
    lambda k: k.bitwiseXOR(_rot_or(k, 11, 53)),
    lambda k: _wrap_add(k, F.shiftleft(k, 6)),
    lambda k: k.bitwiseXOR(_rot_or(k, 22, 42)),
    lambda k: k.bitwiseAND(F.lit(_MASK32)),
)


def int_hash64(col: Column | str, input_width: int | None = None) -> Column:
    """Bit-exact intHash64 ≡ FunctionsHashing.h IntHash64Impl (:26-30):
    x ^= 0x4CF2D2BAAE6DA887; then the 64-bit finalizer mix of
    Common/HashTable/Hash.h:31-40 (x ^= x>>33; x *= 0xff51afd7ed558ccd;
    x ^= x>>33; x *= 0xc4ceb9fe1a85ec53; x ^= x>>33). Result is the uint64
    bit pattern in a Spark long. Pass ``input_width`` for narrower-than-64-bit
    reference columns (see _u64_bits: the POD path zero-extends)."""
    return _mix(
        _u64_bits(col, input_width).bitwiseXOR(F.lit(0x4CF2D2BAAE6DA887)),
        *_INT_HASH64_STAGES,
    )


def int_hash32(col: Column | str, input_width: int | None = None) -> Column:
    """Bit-exact intHash32 ≡ FunctionsHashing.h IntHash32Impl (:15-24) with
    its fixed salt 0x75D9543DE018BF45, mixing per
    Common/HashTable/Hash.h:371-384; returns the uint32 result as a long.
    ``input_width`` as in int_hash64."""
    return _mix(
        _u64_bits(col, input_width).bitwiseXOR(F.lit(0x75D9543DE018BF45)),
        *_INT_HASH32_STAGES,
    )


def with_int_hash64(
    df, out: str, col: Column | str, input_width: int | None = None
):
    """:func:`int_hash64` as a staged projection (see _mix_staged): same
    bit-exact result, but fully whole-stage-codegen — use on hot
    scan-project paths."""
    return _mix_staged(
        df,
        _u64_bits(col, input_width).bitwiseXOR(F.lit(0x4CF2D2BAAE6DA887)),
        _INT_HASH64_STAGES,
        out,
    )


def with_int_hash32(
    df, out: str, col: Column | str, input_width: int | None = None
):
    """:func:`int_hash32` as a staged projection — see with_int_hash64."""
    return _mix_staged(
        df,
        _u64_bits(col, input_width).bitwiseXOR(F.lit(0x75D9543DE018BF45)),
        _INT_HASH32_STAGES,
        out,
    )


_K_MUL = 0x9DDFEA08EB382D69  # Hash128to64's murmur-inspired multiplier

#: Hash128to64's two mix chains (city.h:104-113): a = mix(lo^hi), then
#: b = mix(hi^a) with a trailing multiply
_H128_A_STAGES = (
    lambda x: _wrap_mul_const(x, _K_MUL),
    lambda x: x.bitwiseXOR(F.shiftrightunsigned(x, 47)),
)
_H128_B_STAGES = (
    lambda x: _wrap_mul_const(x, _K_MUL),
    lambda x: x.bitwiseXOR(F.shiftrightunsigned(x, 47)),
    lambda x: _wrap_mul_const(x, _K_MUL),
)


def hash128to64(lo: Column, hi: Column) -> Column:
    """Bit-exact Hash128to64 (cityhash102 city.h:104-113) — the reference's
    combineHashes for cityHash64/xxHash64 multi-column hashing
    (FunctionsHashing.h:48,86). Pure JVM-side codegen via the ANSI-safe
    wrap-multiply."""
    a = _mix(lo.bitwiseXOR(hi), *_H128_A_STAGES)
    return _mix(hi.bitwiseXOR(a), *_H128_B_STAGES)


def city_hash64(
    *cols: Column | str, input_widths: Sequence[int | None] | None = None
) -> Column:
    """cityHash64 over integer columns ≡ the reference exactly: PODs hash with
    intHash64 (``use_int_hash_for_pods = true``, FunctionsHashing.h:42-51) and
    columns combine left-to-right with Hash128to64(acc, next). Strings go
    through functions/cityhash.city_hash64_str (the real byte algorithm).

    ``input_widths`` — per-column bit widths for narrower-than-long reference
    columns: the POD path bit_casts into a zero-initialized UInt64 (zero
    extension), while Spark sign-extends on cast, so e.g. a negative int32
    column needs ``input_widths=[32]`` to hash identically."""
    widths = list(input_widths) if input_widths is not None else [None] * len(cols)
    h = int_hash64(_c(cols[0]), widths[0])
    for c, w in zip(cols[1:], widths[1:]):
        h = hash128to64(h, int_hash64(_c(c), w))
    return h


def with_city_hash64(
    df,
    out: str,
    *cols: Column | str,
    input_widths: Sequence[int | None] | None = None,
):
    """:func:`city_hash64` as staged projections (see _mix_staged): same
    bit-exact combine chain, every stage plain long arithmetic inside one
    WholeStageCodegen span (measured ~7× faster than the Column form's
    interpreted transform() let-binding on a sf0.1 scan-project)."""
    widths = list(input_widths) if input_widths is not None else [None] * len(cols)
    acc = f"__{out}_acc"
    df = with_int_hash64(df, acc, cols[0], widths[0])
    for i, (c, w) in enumerate(zip(cols[1:], widths[1:])):
        nxt, a = f"__{out}_n{i}", f"__{out}_a{i}"
        df = with_int_hash64(df, nxt, c, w)
        df = _mix_staged(
            df, F.col(acc).bitwiseXOR(F.col(nxt)), _H128_A_STAGES, a
        )
        df = _mix_staged(
            df, F.col(nxt).bitwiseXOR(F.col(a)), _H128_B_STAGES, acc
        )
        df = df.drop(nxt, a)
    return df.withColumnRenamed(acc, out)

