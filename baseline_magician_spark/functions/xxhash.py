"""Genuine XXH64 / XXH32 (seed 0) over RAW BYTES as pure Column
expressions — byte-exact with CH's `xxHash64` / `xxHash32`.

CH hashes the value's bytes with the canonical xxHash algorithms at
seed 0 (the docs' own example: xxHash32('Hello, world!') =
834093149 — reproduced by the model here). Spark's built-in
``F.xxhash64`` is the same XXH64 core but at seed 42 over Spark's
type-tagged row encoding, so it can NEVER match CH for strings;
until round 8 the engine shipped it as a documented "engine-native"
spelling. This module renders the canonical algorithm itself, and
its validation is the strongest in the hash family: the Python model
is bit-identical to Spark's JVM XXH64 (seed 42, binary input) across
all length classes — an independent implementation of the same
public spec — plus the CH docs value and the published empty-input
digests (XXH64('') = 0xEF46DB3751D8E999, XXH32('') = 0x02CC5D05).

Renderings follow the house pattern (cityhash.py/siphash.py):
text emitter (single F.expr parse, shipped), Column builder
(fallback), DuckDB HUGEINT emitter (oracles), all wrap-mode —
analyze under ``cityhash.wrap_arith``; run_ch_query auto-enters on
the function names.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cityhash import _sl
from .hashing import _let1, _ushr

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

P1 = 11400714785074694791
P2 = 14029467366897019727
P3 = 1609587929392839161
P4 = 9650029242287828579
P5 = 2870177450012600261

Q1, Q2, Q3, Q4, Q5 = (
    2654435761,
    2246822519,
    3266489917,
    668265263,
    374761393,
)

# Seed-0 stripe accumulators v1..v4: CH hashes at seed 0.
_V64 = ((P1 + P2) & _M64, P2, 0, -P1 & _M64)
_V32 = ((Q1 + Q2) & _M32, Q2, 0, -Q1 & _M32)


# --------------------------------------------------------------- python
def _rotl_py(v: int, s: int) -> int:
    return ((v << s) | (v >> (64 - s))) & _M64


def _rnd_py(acc: int, lane: int) -> int:
    return (_rotl_py((acc + lane * P2) & _M64, 31) * P1) & _M64


def xxh64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & _M64
        v2 = (seed + P2) & _M64
        v3 = seed & _M64
        v4 = (seed - P1) & _M64
        while i + 32 <= n:
            v1 = _rnd_py(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _rnd_py(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _rnd_py(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _rnd_py(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl_py(v1, 1)
            + _rotl_py(v2, 7)
            + _rotl_py(v3, 12)
            + _rotl_py(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _rnd_py(0, v)) * P1 + P4) & _M64
    else:
        h = (seed + P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _rnd_py(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl_py(h, 27) * P1 + P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * P1) & _M64
        h = (_rotl_py(h, 23) * P2 + P3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * P5) & _M64
        h = (_rotl_py(h, 11) * P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * P2) & _M64
    h ^= h >> 29
    h = (h * P3) & _M64
    h ^= h >> 32
    return h


def _rotl32_py(v: int, s: int) -> int:
    return ((v << s) | (v >> (32 - s))) & _M32


def xxh32_py(data: bytes) -> int:
    n = len(data)
    i = 0
    if n >= 16:
        v = list(_V32)
        while i + 16 <= n:
            for j in range(4):
                lane = int.from_bytes(
                    data[i + 4 * j : i + 4 * j + 4], "little"
                )
                v[j] = (_rotl32_py((v[j] + lane * Q2) & _M32, 13) * Q1) & _M32
            i += 16
        h = (
            _rotl32_py(v[0], 1)
            + _rotl32_py(v[1], 7)
            + _rotl32_py(v[2], 12)
            + _rotl32_py(v[3], 18)
        ) & _M32
    else:
        h = Q5
    h = (h + n) & _M32
    while i + 4 <= n:
        lane = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl32_py((h + lane * Q3) & _M32, 17) * Q4) & _M32
        i += 4
    while i < n:
        h = (_rotl32_py((h + data[i] * Q5) & _M32, 11) * Q1) & _M32
        i += 1
    h ^= h >> 15
    h = (h * Q2) & _M32
    h ^= h >> 13
    h = (h * Q3) & _M32
    h ^= h >> 16
    return h


# ------------------------------------------------- spark SQL text path
def _f64le_sql(b: str, pos: str) -> str:
    return (
        f"CAST(conv(regexp_replace(reverse(hex(substring({b},{pos},8)))"
        f",'(.)(.)','$2$1'),16,-10) AS BIGINT)"
    )


def _f32le_sql(b: str, pos: str) -> str:
    return (
        f"CAST(conv(regexp_replace(reverse(hex(substring({b},{pos},4)))"
        f",'(.)(.)','$2$1'),16,10) AS BIGINT)"
    )


def _byte_sql(b: str, pos: str) -> str:
    return f"CAST(conv(hex(substring({b},{pos},1)),16,10) AS BIGINT)"


class _Lets:
    def __init__(self, prefix: str) -> None:
        self._k = 0
        self._p = prefix

    def let(self, val: str, body) -> str:
        self._k += 1
        var = f"{self._p}{self._k}"
        return (
            f"element_at(transform(array({val}),{var}->{body(var)}),1)"
        )


def xxh64_sql(input_sql: str) -> str:
    """XXH64 (seed 0) of a string/binary SQL fragment as ONE Spark-SQL
    text expression. Analyze under wrap_arith."""
    L = _Lets("xv")
    p1, p2, p3, p4, p5 = (f"{_sl(p)}L" for p in (P1, P2, P3, P4, P5))

    def rnd(acc: str, lane: str) -> str:
        # rotl64(acc + lane*P2, 31) * P1 — acc/lane must be simple
        return L.let(
            f"({acc}+({lane})*{p2})",
            lambda t: f"((shiftleft({t},31)|shiftrightunsigned({t},33))*{p1})",
        )

    # stripe fold: state struct(v1..v4), one 32-byte stripe per step
    stripes = "CAST(nb DIV 32 AS INT)"
    stripe_body = (
        f"named_struct("
        f"'v1',{rnd('xs.v1', _f64le_sql('bb', '(xi*32+1)'))},"
        f"'v2',{rnd('xs.v2', _f64le_sql('bb', '(xi*32+9)'))},"
        f"'v3',{rnd('xs.v3', _f64le_sql('bb', '(xi*32+17)'))},"
        f"'v4',{rnd('xs.v4', _f64le_sql('bb', '(xi*32+25)'))})"
    )
    init = (
        f"named_struct('v1',{_sl(_V64[0])}L,'v2',{_sl(_V64[1])}L,"
        f"'v3',0L,'v4',{_sl(_V64[3])}L)"
    )

    def merged(sv: str) -> str:
        # converge + 4 merge rounds, one let each
        conv0 = (
            f"((shiftleft({sv}.v1,1)|shiftrightunsigned({sv}.v1,63))"
            f"+(shiftleft({sv}.v2,7)|shiftrightunsigned({sv}.v2,57))"
            f"+(shiftleft({sv}.v3,12)|shiftrightunsigned({sv}.v3,52))"
            f"+(shiftleft({sv}.v4,18)|shiftrightunsigned({sv}.v4,46)))"
        )
        out = conv0
        for lane in ("v1", "v2", "v3", "v4"):
            prev = out
            out = L.let(
                prev,
                lambda t, lane=lane: f"((({t}^{rnd('0L', f'{sv}.{lane}')})*{p1})+{p4})",
            )
        return out

    body = L.let(
        f"CASE WHEN {stripes}>0 THEN aggregate(sequence(0,{stripes}-1),"
        f"{init},(xs,xi)->{stripe_body}) ELSE {init} END",
        lambda sv: L.let(
            f"(CASE WHEN nb>=32 THEN {merged(sv)} ELSE "
            f"{_sl(P5)}L END)+nb",
            lambda h0: _tail64(L, h0, p1, p2, p3, p4, p5),
        ),
    )
    wrapped = (
        f"element_at(transform(array(CAST(({input_sql}) AS BINARY)),"
        f"bb->element_at(transform(array(CAST(length(bb) AS BIGINT)),"
        f"nb->{body}),1)),1)"
    )
    return (
        f"(CASE WHEN ({input_sql}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {wrapped} END)"
    )


def _tail64(L: _Lets, h0: str, p1, p2, p3, p4, p5) -> str:
    """Post-stripe tail: up to three 8-byte chunks, one 4-byte, up to
    three single bytes, then the avalanche."""
    out = h0
    # 8-byte chunks at base + 8t (base = nb - nb%32), t = 0..2
    for t in range(3):
        prev = out
        lane = _f64le_sql("bb", f"(nb-(nb%32)+{8 * t}+1)")
        out = L.let(
            prev,
            lambda hh, t=t, lane=lane: (
                f"CASE WHEN (nb%32) DIV 8 > {t} THEN "
                + L.let(
                    f"({hh}^{_rnd_text(L, lane, p1, p2)})",
                    lambda m: f"((shiftleft({m},27)"
                    f"|shiftrightunsigned({m},37))*{p1}+{p4})",
                )
                + f" ELSE {hh} END"
            ),
        )
    # one 4-byte chunk if nb%8 >= 4, at nb - nb%8
    prev = out
    lane4 = _f32le_sql("bb", "(nb-(nb%8)+1)")
    out = L.let(
        prev,
        lambda hh: (
            f"CASE WHEN nb%8>=4 THEN "
            + L.let(
                f"({hh}^(({lane4})*{p1}))",
                lambda m: f"((shiftleft({m},23)"
                f"|shiftrightunsigned({m},41))*{p2}+{p3})",
            )
            + f" ELSE {hh} END"
        ),
    )
    # up to three single bytes at nb - nb%4 + t
    for t in range(3):
        prev = out
        byt = _byte_sql("bb", f"(nb-(nb%4)+{t}+1)")
        out = L.let(
            prev,
            lambda hh, t=t, byt=byt: (
                f"CASE WHEN nb%4 > {t} THEN "
                + L.let(
                    f"({hh}^(({byt})*{p5}))",
                    lambda m: f"((shiftleft({m},11)"
                    f"|shiftrightunsigned({m},53))*{p1})",
                )
                + f" ELSE {hh} END"
            ),
        )
    # avalanche
    out = L.let(
        out, lambda hh: f"(({hh}^shiftrightunsigned({hh},33))*{p2})"
    )
    out = L.let(
        out, lambda hh: f"(({hh}^shiftrightunsigned({hh},29))*{p3})"
    )
    return L.let(out, lambda hh: f"({hh}^shiftrightunsigned({hh},32))")


def _rnd_text(L: _Lets, lane: str, p1: str, p2: str) -> str:
    return L.let(
        f"(({lane})*{p2})",
        lambda t: f"((shiftleft({t},31)|shiftrightunsigned({t},33))*{p1})",
    )


def xxh32_sql(input_sql: str) -> str:
    """XXH32 (seed 0) as ONE Spark-SQL text expression (UInt32 as a
    non-negative BIGINT). Analyze under wrap_arith."""
    L = _Lets("xw")
    m32 = str(_M32)

    def rot_mul(val: str, r: int, mul: int) -> str:
        # rotl32(val, r) * mul, all masked — val must be simple
        return L.let(
            val,
            lambda t: f"((((shiftleft({t},{r})|shiftrightunsigned({t},{32 - r}))"
            f"&{m32})*{mul})&{m32})",
        )

    stripes = "CAST(nb DIV 16 AS INT)"

    def lane_step(vfield: str, off: int) -> str:
        lane = _f32le_sql("bb", f"(xi*16+{4 * off}+1)")
        return rot_mul(f"((xs.{vfield}+({lane})*{Q2})&{m32})", 13, Q1)

    stripe_body = (
        f"named_struct("
        f"'v1',{lane_step('v1', 0)},'v2',{lane_step('v2', 1)},"
        f"'v3',{lane_step('v3', 2)},'v4',{lane_step('v4', 3)})"
    )
    init = (
        f"named_struct('v1',{_V32[0]}L,'v2',{_V32[1]}L,'v3',0L,"
        f"'v4',{_V32[3]}L)"
    )
    conv = (
        f"((((shiftleft(sv.v1,1)|shiftrightunsigned(sv.v1,31))&{m32})"
        f"+((shiftleft(sv.v2,7)|shiftrightunsigned(sv.v2,25))&{m32})"
        f"+((shiftleft(sv.v3,12)|shiftrightunsigned(sv.v3,20))&{m32})"
        f"+((shiftleft(sv.v4,18)|shiftrightunsigned(sv.v4,14))&{m32}))"
        f"&{m32})"
    )
    h0 = (
        f"element_at(transform(array("
        f"CASE WHEN {stripes}>0 THEN aggregate(sequence(0,{stripes}-1),"
        f"{init},(xs,xi)->{stripe_body}) ELSE {init} END),"
        f"sv->((CASE WHEN nb>=16 THEN {conv} ELSE "
        f"{Q5}L END)+nb)&{m32}),1)"
    )
    out = h0
    # up to three 4-byte chunks at base = nb - nb%16
    for t in range(3):
        prev = out
        lane = _f32le_sql("bb", f"(nb-(nb%16)+{4 * t}+1)")
        out = L.let(
            prev,
            lambda hh, t=t, lane=lane: (
                f"CASE WHEN (nb%16) DIV 4 > {t} THEN "
                f"{rot_mul(f'(({hh}+({lane})*{Q3})&{m32})', 17, Q4)}"
                f" ELSE {hh} END"
            ),
        )
    # up to three single bytes at nb - nb%4 + t
    for t in range(3):
        prev = out
        byt = _byte_sql("bb", f"(nb-(nb%4)+{t}+1)")
        out = L.let(
            prev,
            lambda hh, t=t, byt=byt: (
                f"CASE WHEN nb%4 > {t} THEN "
                f"{rot_mul(f'(({hh}+({byt})*{Q5})&{m32})', 11, Q1)}"
                f" ELSE {hh} END"
            ),
        )
    out = L.let(
        out,
        lambda hh: f"((({hh}^shiftrightunsigned({hh},15))*{Q2})&{m32})",
    )
    out = L.let(
        out,
        lambda hh: f"((({hh}^shiftrightunsigned({hh},13))*{Q3})&{m32})",
    )
    body = L.let(out, lambda hh: f"({hh}^shiftrightunsigned({hh},16))")
    wrapped = (
        f"element_at(transform(array(CAST(({input_sql}) AS BINARY)),"
        f"bb->element_at(transform(array(CAST(length(bb) AS BIGINT)),"
        f"nb->{body}),1)),1)"
    )
    return (
        f"(CASE WHEN ({input_sql}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {wrapped} END)"
    )


# ------------------------------------------------------ column builders
def _f64le_col(b: Column, pos: Column) -> Column:
    hx = F.hex(F.substring(b, pos.cast("int"), F.lit(8)))
    le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
    return F.conv(le, 16, -10).cast("long")


def _f32le_col(b: Column, pos: Column) -> Column:
    hx = F.hex(F.substring(b, pos.cast("int"), F.lit(4)))
    le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
    return F.conv(le, 16, 10).cast("long")


def _byte_col(b: Column, pos: Column) -> Column:
    return F.conv(
        F.hex(F.substring(b, pos.cast("int"), F.lit(1))), 16, 10
    ).cast("long")


def _rotl64_col(x: Column, r: int) -> Column:
    return _let1(
        x, lambda v: F.shiftleft(v, r).bitwiseOR(_ushr(v, 64 - r))
    )


def xxh64(col) -> Column:
    """Column-builder rendering (fallback). Analyze under
    wrap_arith."""
    c = col if isinstance(col, Column) else F.col(col)

    def rnd(acc: Column, lane: Column) -> Column:
        return _rotl64_col(acc + lane * F.lit(_sl(P2)), 31) * F.lit(
            _sl(P1)
        )

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        stripes = F.floor(nn / F.lit(32)).cast("int")
        init = F.struct(
            *(
                F.lit(_sl(v)).cast("long").alias(f"v{j + 1}")
                for j, v in enumerate(_V64)
            )
        )

        def stripe(st: Column, i: Column) -> Column:
            return F.struct(
                rnd(st["v1"], _f64le_col(b, i * 32 + 1)).alias("v1"),
                rnd(st["v2"], _f64le_col(b, i * 32 + 9)).alias("v2"),
                rnd(st["v3"], _f64le_col(b, i * 32 + 17)).alias("v3"),
                rnd(st["v4"], _f64le_col(b, i * 32 + 25)).alias("v4"),
            )

        folded = F.when(
            stripes > 0,
            F.aggregate(F.sequence(F.lit(0), stripes - 1), init, stripe),
        ).otherwise(init)

        def merged(sv: Column) -> Column:
            h = (
                _rotl64_col(sv["v1"], 1)
                + _rotl64_col(sv["v2"], 7)
                + _rotl64_col(sv["v3"], 12)
                + _rotl64_col(sv["v4"], 18)
            )
            def merge_body(lane):
                # NOTE: the body must take exactly ONE parameter —
                # F.transform passes (element, index) to two-param
                # callables, silently binding default args to the
                # index column
                def body(t):
                    return (
                        t.bitwiseXOR(
                            rnd(F.lit(0).cast("long"), sv[lane])
                        )
                    ) * F.lit(_sl(P1)) + F.lit(_sl(P4))

                return body

            for lane in ("v1", "v2", "v3", "v4"):
                h = _let1(h, merge_body(lane))
            return h

        h = _let1(
            folded,
            lambda sv: F.when(nn >= 32, merged(sv)).otherwise(
                F.lit(_sl(P5)).cast("long")
            )
            + nn,
        )
        def chunk_body(t):
            def body(hh):
                return F.when(
                    (nn % 32) / 8 >= t + 1,
                    _let1(
                        hh.bitwiseXOR(
                            rnd(
                                F.lit(0).cast("long"),
                                _f64le_col(b, nn - nn % 32 + 8 * t + 1),
                            )
                        ),
                        lambda m: _rotl64_col(m, 27) * F.lit(_sl(P1))
                        + F.lit(_sl(P4)),
                    ),
                ).otherwise(hh)

            return body

        for t in range(3):
            h = _let1(h, chunk_body(t))
        h = _let1(
            h,
            lambda hh: F.when(
                nn % 8 >= 4,
                _let1(
                    hh.bitwiseXOR(
                        _f32le_col(b, nn - nn % 8 + 1) * F.lit(_sl(P1))
                    ),
                    lambda m: _rotl64_col(m, 23) * F.lit(_sl(P2))
                    + F.lit(_sl(P3)),
                ),
            ).otherwise(hh),
        )
        def byte_body(t):
            def body(hh):
                return F.when(
                    nn % 4 > t,
                    _let1(
                        hh.bitwiseXOR(
                            _byte_col(b, nn - nn % 4 + t + 1)
                            * F.lit(_sl(P5))
                        ),
                        lambda m: _rotl64_col(m, 11) * F.lit(_sl(P1)),
                    ),
                ).otherwise(hh)

            return body

        for t in range(3):
            h = _let1(h, byte_body(t))
        h = _let1(
            h, lambda hh: (hh.bitwiseXOR(_ushr(hh, 33))) * F.lit(_sl(P2))
        )
        h = _let1(
            h, lambda hh: (hh.bitwiseXOR(_ushr(hh, 29))) * F.lit(_sl(P3))
        )
        return _let1(h, lambda hh: hh.bitwiseXOR(_ushr(hh, 32)))

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def xxh32(col) -> Column:
    """Column-builder rendering (fallback). Analyze under
    wrap_arith. All 32-bit wraps are &-masks — Spark's % keeps the
    dividend's sign, so a wrap-negative product % 2^32 would stay
    negative and poison every later step."""
    c = col if isinstance(col, Column) else F.col(col)
    m32 = F.lit(_M32)

    def mul32(x: Column, k: int) -> Column:
        return (x * F.lit(k)).bitwiseAND(m32)

    def rotl(x: Column, r: int) -> Column:
        return _let1(
            x,
            lambda v: (
                F.shiftleft(v, r).bitwiseOR(
                    _ushr(v.bitwiseAND(m32), 32 - r)
                )
            ).bitwiseAND(m32),
        )

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        stripes = F.floor(nn / F.lit(16)).cast("int")
        init = F.struct(
            *(
                F.lit(v).cast("long").alias(f"v{j + 1}")
                for j, v in enumerate(_V32)
            )
        )

        def lane_mix(v: Column, lane: Column) -> Column:
            return mul32(
                rotl((v + lane * F.lit(Q2)).bitwiseAND(m32), 13), Q1
            )

        def stripe(st: Column, i: Column) -> Column:
            return F.struct(
                lane_mix(st["v1"], _f32le_col(b, i * 16 + 1)).alias("v1"),
                lane_mix(st["v2"], _f32le_col(b, i * 16 + 5)).alias("v2"),
                lane_mix(st["v3"], _f32le_col(b, i * 16 + 9)).alias("v3"),
                lane_mix(st["v4"], _f32le_col(b, i * 16 + 13)).alias("v4"),
            )

        folded = F.when(
            stripes > 0,
            F.aggregate(F.sequence(F.lit(0), stripes - 1), init, stripe),
        ).otherwise(init)
        h = _let1(
            folded,
            lambda sv: (
                F.when(
                    nn >= 16,
                    (
                        rotl(sv["v1"], 1)
                        + rotl(sv["v2"], 7)
                        + rotl(sv["v3"], 12)
                        + rotl(sv["v4"], 18)
                    ).bitwiseAND(m32),
                ).otherwise(F.lit(Q5).cast("long"))
                + nn
            ).bitwiseAND(m32),
        )

        def chunk_body(t):
            def body(hh):
                return F.when(
                    (nn % 16) / 4 >= t + 1,
                    mul32(
                        rotl(
                            (
                                hh
                                + _f32le_col(b, nn - nn % 16 + 4 * t + 1)
                                * F.lit(Q3)
                            ).bitwiseAND(m32),
                            17,
                        ),
                        Q4,
                    ),
                ).otherwise(hh)

            return body

        for t in range(3):
            h = _let1(h, chunk_body(t))

        def byte_body(t):
            def body(hh):
                return F.when(
                    nn % 4 > t,
                    mul32(
                        rotl(
                            (
                                hh
                                + _byte_col(b, nn - nn % 4 + t + 1)
                                * F.lit(Q5)
                            ).bitwiseAND(m32),
                            11,
                        ),
                        Q1,
                    ),
                ).otherwise(hh)

            return body

        for t in range(3):
            h = _let1(h, byte_body(t))
        h = _let1(h, lambda hh: mul32(hh.bitwiseXOR(_ushr(hh, 15)), Q2))
        h = _let1(h, lambda hh: mul32(hh.bitwiseXOR(_ushr(hh, 13)), Q3))
        return _let1(h, lambda hh: hh.bitwiseXOR(_ushr(hh, 16)))

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def xxh64_fast(col) -> Column:
    from .cityhash import col_sql

    c = col if isinstance(col, Column) else F.col(col)
    inp = col_sql(c)
    if inp is not None:
        try:
            return F.expr(xxh64_sql(f"({inp})"))
        except Exception:
            pass
    return xxh64(c)


def xxh32_fast(col) -> Column:
    from .cityhash import col_sql

    c = col if isinstance(col, Column) else F.col(col)
    inp = col_sql(c)
    if inp is not None:
        try:
            return F.expr(xxh32_sql(f"({inp})"))
        except Exception:
            pass
    return xxh32(c)


# --------------------------------------------------------------- duckdb
_P64S = str(1 << 64)
_P32S = str(1 << 32)


class XxEmitter:
    """Straight-line HUGEINT replay, stripe count CASE-dispatched."""

    def __init__(self, prefix: str) -> None:
        self.prefix = prefix
        self.steps: list[str] = []
        self._k = 0

    def emit(self, sql: str) -> str:
        alias = f"{self.prefix}{self._k}"
        self._k += 1
        self.steps.append(f"{sql} AS {alias}")
        return alias

    def f_le(self, e: str, pos: str, nbytes: int) -> str:
        terms = [
            f"CAST(ascii(substr({e}, ({pos}) + {k}, 1)) AS HUGEINT)"
            f" * {1 << (8 * k)}"
            for k in range(nbytes)
        ]
        return self.emit(" + ".join(terms))

    def mulc64(self, a: str, c: int) -> str:
        cl, ch = c & 0xFFFFFFFF, c >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32S}) * {_P32S}) % {_P64S}"
        )

    def rotl64(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P64S} + {a} // {1 << (64 - r)}) % {_P64S}"
        )

    def rnd(self, acc: str, lane: str) -> str:
        t = self.emit(
            f"({acc} + ({lane} * {P2 & 0xFFFFFFFF} + "
            f"(({lane} * {P2 >> 32}) % {_P32S}) * {_P32S}) % {_P64S}) % {_P64S}"
        )
        return self.mulc64(self.rotl64(t, 31), P1)

    def xxh64_chain(self, e: str, n: str, stripes: int) -> str:
        if stripes > 0:
            v1, v2, v3, v4 = (
                self.emit(f"CAST({v} AS HUGEINT)") for v in _V64
            )
            for s in range(stripes):
                v1 = self.rnd(v1, self.f_le(e, str(32 * s + 1), 8))
                v2 = self.rnd(v2, self.f_le(e, str(32 * s + 9), 8))
                v3 = self.rnd(v3, self.f_le(e, str(32 * s + 17), 8))
                v4 = self.rnd(v4, self.f_le(e, str(32 * s + 25), 8))
            h = self.emit(
                f"({self.rotl64(v1, 1)} + {self.rotl64(v2, 7)} + "
                f"{self.rotl64(v3, 12)} + {self.rotl64(v4, 18)}) % {_P64S}"
            )
            for v in (v1, v2, v3, v4):
                z = self.rnd(self.emit("CAST(0 AS HUGEINT)"), v)
                h = self.emit(
                    f"({self.mulc64(self.emit(f'xor({h}, {z})'), P1)} + {P4}) % {_P64S}"
                )
        else:
            h = self.emit(f"CAST({P5} AS HUGEINT)")
        h = self.emit(f"({h} + CAST({n} AS HUGEINT)) % {_P64S}")
        base = f"({n}) - (({n}) % 32)"
        for t in range(3):
            lane = self.f_le(e, f"{base} + {8 * t} + 1", 8)
            z = self.rnd(self.emit("CAST(0 AS HUGEINT)"), lane)
            nh = self.emit(
                f"({self.mulc64(self.rotl64(self.emit(f'xor({h}, {z})'), 27), P1)}"
                f" + {P4}) % {_P64S}"
            )
            h = self.emit(
                f"CASE WHEN (({n}) % 32) // 8 > {t} THEN {nh} ELSE {h} END"
            )
        lane4 = self.f_le(e, f"({n}) - (({n}) % 8) + 1", 4)
        x4 = self.emit(f"xor({h}, {self.mulc64(lane4, P1)})")
        nh4 = self.emit(
            f"({self.mulc64(self.rotl64(x4, 23), P2)} + {P3}) % {_P64S}"
        )
        h = self.emit(
            f"CASE WHEN ({n}) % 8 >= 4 THEN {nh4} ELSE {h} END"
        )
        for t in range(3):
            byt = self.f_le(e, f"({n}) - (({n}) % 4) + {t} + 1", 1)
            xb = self.emit(f"xor({h}, {self.mulc64(byt, P5)})")
            nhb = self.mulc64(self.rotl64(xb, 11), P1)
            h = self.emit(
                f"CASE WHEN ({n}) % 4 > {t} THEN {nhb} ELSE {h} END"
            )
        h = self.mulc64(self.emit(f"xor({h}, {h} // {1 << 33})"), P2)
        h = self.mulc64(self.emit(f"xor({h}, {h} // {1 << 29})"), P3)
        return self.emit(f"xor({h}, {h} // {1 << 32})")

    def xxh64_dispatch(self, e: str, n: str, max_len: int) -> str:
        arms = []
        for s in range(max_len // 32 + 1):
            h = self.xxh64_chain(e, n, s)
            arms.append(f"WHEN ({n}) // 32 = {s} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- XXH32 (BIGINT-sized values, HUGEINT intermediates)
    def rotl32(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P32S} + {a} // {1 << (32 - r)}) % {_P32S}"
        )

    def xxh32_chain(self, e: str, n: str, stripes: int) -> str:
        if stripes > 0:
            v = [self.emit(f"CAST({v} AS HUGEINT)") for v in _V32]
            for s in range(stripes):
                for j in range(4):
                    lane = self.f_le(e, str(16 * s + 4 * j + 1), 4)
                    t = self.emit(
                        f"({v[j]} + {lane} * {Q2}) % {_P32S}"
                    )
                    v[j] = self.emit(
                        f"({self.rotl32(t, 13)} * {Q1}) % {_P32S}"
                    )
            h = self.emit(
                f"({self.rotl32(v[0], 1)} + {self.rotl32(v[1], 7)} + "
                f"{self.rotl32(v[2], 12)} + {self.rotl32(v[3], 18)}) % {_P32S}"
            )
        else:
            h = self.emit(f"CAST({Q5} AS HUGEINT)")
        h = self.emit(f"({h} + CAST({n} AS HUGEINT)) % {_P32S}")
        base = f"({n}) - (({n}) % 16)"
        for t in range(3):
            lane = self.f_le(e, f"{base} + {4 * t} + 1", 4)
            s1 = self.emit(f"({h} + {lane} * {Q3}) % {_P32S}")
            nh = self.emit(f"({self.rotl32(s1, 17)} * {Q4}) % {_P32S}")
            h = self.emit(
                f"CASE WHEN (({n}) % 16) // 4 > {t} THEN {nh} ELSE {h} END"
            )
        for t in range(3):
            byt = self.f_le(e, f"({n}) - (({n}) % 4) + {t} + 1", 1)
            s1 = self.emit(f"({h} + {byt} * {Q5}) % {_P32S}")
            nh = self.emit(f"({self.rotl32(s1, 11)} * {Q1}) % {_P32S}")
            h = self.emit(
                f"CASE WHEN ({n}) % 4 > {t} THEN {nh} ELSE {h} END"
            )
        h = self.emit(f"(xor({h}, {h} // {1 << 15}) * {Q2}) % {_P32S}")
        h = self.emit(f"(xor({h}, {h} // {1 << 13}) * {Q3}) % {_P32S}")
        return self.emit(f"xor({h}, {h} // {1 << 16})")

    def xxh32_dispatch(self, e: str, n: str, max_len: int) -> str:
        arms = []
        for s in range(max_len // 16 + 1):
            h = self.xxh32_chain(e, n, s)
            arms.append(f"WHEN ({n}) // 16 = {s} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed64(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64S} "
            f"ELSE {a} END AS BIGINT)"
        )
