"""Canonical MurmurHash64A and MurmurHash3 x86_32 (seed 0) as pure
Column expressions.

CH's `murmurHash2_64` is Appleby's MurmurHash64A and
`murmurHash3_32` is MurmurHash3 x86_32, both seed 0 — public-domain
algorithms (smhasher). Both were seeded-xxhash bucketing stand-ins
until round 8; these renderings are the canonical algorithms,
validated three ways (Python model / Spark expression / DuckDB
emitter agree bit-for-bit) plus, for murmur3's word path, against
Spark's own JVM Murmur3_x86_32 (identical for 4-byte-aligned inputs;
Spark's tail handling deviates from canonical, ours does not —
tests/test_murmur.py). CH-server byte-compat is asserted from the
documented algorithm (README hash table).

Same wrap-mode contract as cityhash/siphash: analyze under
``cityhash.wrap_arith`` (run_ch_query auto-enters on the function
names). Loops run as constant-depth ``aggregate`` folds — nesting
rounds as continuation-lets is analyzer-hostile (see
siphash._TextSip.round_body).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .cityhash import _sl
from .hashing import _let1, _ushr

_M64 = (1 << 64) - 1
_M32 = (1 << 32) - 1

M2 = 0xC6A4A7935BD1E995  # MurmurHash64A multiplier
C1 = 0xCC9E2D51  # murmur3 x86_32 constants
C2 = 0x1B873593
F1 = 0x85EBCA6B
F2 = 0xC2B2AE35


# --------------------------------------------------------------- python
def murmur2_64_py(data: bytes, seed: int = 0) -> int:
    n = len(data)
    h = (seed ^ (n * M2)) & _M64
    for off in range(0, n - n % 8, 8):
        k = int.from_bytes(data[off : off + 8], "little")
        k = (k * M2) & _M64
        k ^= k >> 47
        k = (k * M2) & _M64
        h ^= k
        h = (h * M2) & _M64
    rem = n % 8
    if rem:
        h ^= int.from_bytes(data[n - rem :], "little")
        h = (h * M2) & _M64
    h ^= h >> 47
    h = (h * M2) & _M64
    h ^= h >> 47
    return h


M2_32 = 0x5BD1E995  # MurmurHash2 (32-bit) multiplier
KAFKA_SEED = 0x9747B28C  # Kafka Utils.murmur2 seed
GCC_SEED = 0xC70F6907  # libstdc++ _Hash_bytes seed


def murmur2_32_py(data: bytes, seed: int = 0) -> int:
    """Appleby's MurmurHash2 (32-bit). Validated against Kafka's
    published Utils.murmur2 test vectors at seed 0x9747b28c ("21" ->
    -973932308, "abc" -> 479470107, "foobar" -> -790332482, ... —
    kafka clients/src/test UtilsTest), which pins every code path;
    CH murmurHash2_32 is the same algorithm at seed 0."""
    n = len(data)
    h = (seed ^ n) & _M32
    for off in range(0, n - n % 4, 4):
        k = int.from_bytes(data[off : off + 4], "little")
        k = (k * M2_32) & _M32
        k ^= k >> 24
        k = (k * M2_32) & _M32
        h = (h * M2_32) & _M32
        h ^= k
    rem = n % 4
    if rem:
        h ^= int.from_bytes(data[n - rem :], "little")
        h = (h * M2_32) & _M32
    h ^= h >> 13
    h = (h * M2_32) & _M32
    h ^= h >> 15
    return h


def _rotl32_py(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_32_py(data: bytes) -> int:
    n = len(data)
    h = 0
    for off in range(0, n - n % 4, 4):
        k = int.from_bytes(data[off : off + 4], "little")
        k = (k * C1) & _M32
        k = _rotl32_py(k, 15)
        k = (k * C2) & _M32
        h ^= k
        h = _rotl32_py(h, 13)
        h = (h * 5 + 0xE6546B64) & _M32
    rem = n % 4
    if rem:
        k = int.from_bytes(data[n - rem :], "little")
        k = (k * C1) & _M32
        k = _rotl32_py(k, 15)
        k = (k * C2) & _M32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * F1) & _M32
    h ^= h >> 13
    h = (h * F2) & _M32
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


def murmur2_64_sql(input_sql: str, seed: int = 0) -> str:
    """MurmurHash64A as ONE Spark-SQL text expression. Analyze
    under wrap_arith. ``seed`` covers gccMurmurHash (libstdc++
    _Hash_bytes seed 0xc70f6907 — byte-identical algorithm: its
    shift_mix(load*m)*m chunk step and tail/final mixes are
    MurmurHash64A's, only the seed differs)."""
    m = f"{_sl(M2)}L"
    h0 = f"({_sl(seed)}L^(nb*{m}))" if seed else f"nb*{m}"
    # word step (state h, index wi): bind k mixed, then fold into h
    word = _f64le_sql("bb", "(wi*8+1)")
    step = (
        f"element_at(transform(array(({word})*{m}),"
        f"mk0->element_at(transform(array("
        f"(mk0^shiftrightunsigned(mk0,47))*{m}),"
        f"mk1->((mh^mk1)*{m})),1)),1)"
    )
    # tail: zero-padded LE fetch of the trailing n%8 bytes (no length
    # byte in murmur2 — unlike siphash)
    tail = _f64le_sql(
        "concat(bb,unhex('0000000000000000'))", "(nb-(nb%8)+1)"
    )
    body = (
        f"element_at(transform(array("
        # h0 = seed ^ (n * m), then the word fold
        f"CASE WHEN CAST(nb DIV 8 AS INT)>0 THEN "
        f"aggregate(sequence(0,CAST(nb DIV 8 AS INT)-1),{h0},"
        f"(mh,wi)->{step}) ELSE {h0} END),"
        f"mh2->element_at(transform(array("
        f"CASE WHEN nb%8>0 THEN (mh2^({tail}))*{m} ELSE mh2 END),"
        f"mh3->element_at(transform(array("
        f"(mh3^shiftrightunsigned(mh3,47))*{m}),"
        f"mh4->mh4^shiftrightunsigned(mh4,47)),1)),1)),1)"
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


def murmur2_32_sql(input_sql: str, seed: int = 0) -> str:
    """MurmurHash2 (32-bit) as ONE Spark-SQL text expression (UInt32
    as a non-negative BIGINT; NULL in -> NULL out) — seed 0 =
    murmurHash2_32, Kafka's 0x9747b28c = the kafkaMurmurHash base.
    Mirrors the murmur2_32 Column builder step-for-step (zero-padded
    LE tail word, no separate length byte). Analyze under
    wrap_arith."""
    m = str(M2_32)
    mm = str(_M32)
    word = _f32le_sql("bb", "(wi*4+1)")
    step = (
        f"element_at(transform(array((({word})*{m})&{mm}),"
        f"k0->element_at(transform(array("
        f"((k0^shiftrightunsigned(k0,24))*{m})&{mm}),"
        f"k1->(((mh*{m})&{mm})^k1)),1)),1)"
    )
    tail = _f32le_sql("concat(bb,unhex('00000000'))", "(nb-(nb%4)+1)")
    h0 = f"({seed}L^nb)"
    body = (
        f"element_at(transform(array("
        f"CASE WHEN CAST(nb DIV 4 AS INT)>0 THEN "
        f"aggregate(sequence(0,CAST(nb DIV 4 AS INT)-1),{h0},"
        f"(mh,wi)->{step}) ELSE {h0} END),"
        f"mh2->element_at(transform(array("
        f"CASE WHEN nb%4>0 THEN ((mh2^({tail}))*{m})&{mm} "
        f"ELSE mh2 END),"
        f"mh3->element_at(transform(array("
        f"((mh3^shiftrightunsigned(mh3,13))*{m})&{mm}),"
        f"mh4->mh4^shiftrightunsigned(mh4,15)),1)),1)),1)"
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


def murmur3_32_sql(input_sql: str) -> str:
    """MurmurHash3 x86_32 (seed 0) as ONE Spark-SQL text expression
    (result is the UInt32 as a non-negative BIGINT). Analyze under
    wrap_arith — intermediates use 64-bit wrap then mask."""
    word = _f32le_sql("bb", "(wi*4+1)")

    def mixk(k: str) -> str:
        return (
            f"element_at(transform(array((({k})*{C1})&{_M32}),"
            f"k1->element_at(transform(array("
            f"((shiftleft(k1,15)|shiftrightunsigned(k1,17))&{_M32})"
            f"*{C2}&{_M32}),"
            f"k2->k2),1)),1)"
        )

    step = (
        f"element_at(transform(array({mixk(word)}),"
        f"wk->element_at(transform(array((mh^wk)&{_M32}),"
        f"h1->((((shiftleft(h1,13)|shiftrightunsigned(h1,19))&{_M32})"
        f"*5+3864292196)&{_M32})),1)),1)"
    )
    tail = _f32le_sql("concat(bb,unhex('00000000'))", "(nb-(nb%4)+1)")
    body = (
        f"element_at(transform(array("
        f"CASE WHEN CAST(nb DIV 4 AS INT)>0 THEN "
        f"aggregate(sequence(0,CAST(nb DIV 4 AS INT)-1),0L,"
        f"(mh,wi)->{step}) ELSE 0L END),"
        f"mh2->element_at(transform(array("
        f"(CASE WHEN nb%4>0 THEN mh2^{mixk(tail)} ELSE mh2 END)^nb),"
        f"mh3->element_at(transform(array("
        f"((mh3^shiftrightunsigned(mh3,16))*{F1})&{_M32}),"
        f"mh4->element_at(transform(array("
        f"((mh4^shiftrightunsigned(mh4,13))*{F2})&{_M32}),"
        f"mh5->mh5^shiftrightunsigned(mh5,16)),1)),1)),1)),1)"
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


def _fast(col, sql_fn, col_fn) -> Column:
    from .cityhash import col_sql

    c = col if isinstance(col, Column) else F.col(col)
    inp = col_sql(c)
    if inp is None:
        return col_fn(c)
    try:
        return F.expr(sql_fn(f"({inp})"))
    except Exception:
        return col_fn(c)


# ------------------------------------------------------ column builders
def murmur2_64(col, seed: int = 0) -> Column:
    c = col if isinstance(col, Column) else F.col(col)

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        m = F.lit(_sl(M2))
        nwords = F.floor(nn / F.lit(8)).cast("int")

        def f64le(pos: Column) -> Column:
            hx = F.hex(F.substring(b, pos.cast("int"), F.lit(8)))
            le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
            return F.conv(le, 16, -10).cast("long")

        def step(h: Column, wi: Column) -> Column:
            return _let1(
                f64le(wi * 8 + 1) * m,
                lambda k0: _let1(
                    (k0.bitwiseXOR(_ushr(k0, 47))) * m,
                    lambda k1: (h.bitwiseXOR(k1)) * m,
                ),
            )

        h0 = nn * m if not seed else F.lit(_sl(seed)).bitwiseXOR(nn * m)
        folded = F.when(
            nwords > 0,
            F.aggregate(F.sequence(F.lit(0), nwords - 1), h0, step),
        ).otherwise(h0)
        padded = F.concat(b, F.lit(bytes(8)))
        hx = F.hex(F.substring(padded, (nn - nn % 8 + 1).cast("int"), F.lit(8)))
        tail = F.conv(
            F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1"), 16, -10
        ).cast("long")
        return _let1(
            folded,
            lambda h2: _let1(
                F.when(nn % 8 > 0, (h2.bitwiseXOR(tail)) * m).otherwise(h2),
                lambda h3: _let1(
                    (h3.bitwiseXOR(_ushr(h3, 47))) * m,
                    lambda h4: h4.bitwiseXOR(_ushr(h4, 47)),
                ),
            ),
        )

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def murmur2_32(col, seed: int = 0) -> Column:
    """Appleby's MurmurHash2 (32-bit) as a Column (UInt32 as a
    non-negative BIGINT; NULL in -> NULL out). seed 0 = CH
    murmurHash2_32; seed 0x9747b28c = Kafka Utils.murmur2 (the
    kafkaMurmurHash base). Analyze under wrap_arith."""
    c = col if isinstance(col, Column) else F.col(col)
    m32c = F.lit(_M32)
    m = F.lit(M2_32)

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        nwords = F.floor(nn / F.lit(4)).cast("int")

        def f32le(src: Column, pos: Column) -> Column:
            hx = F.hex(F.substring(src, pos.cast("int"), F.lit(4)))
            le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
            return F.conv(le, 16, 10).cast("long")

        def step(h: Column, wi: Column) -> Column:
            return _let1(
                (f32le(b, wi * 4 + 1) * m).bitwiseAND(m32c),
                lambda k0: _let1(
                    (k0.bitwiseXOR(_ushr(k0, 24)) * m).bitwiseAND(m32c),
                    lambda k1: (h * m).bitwiseAND(m32c).bitwiseXOR(k1),
                ),
            )

        h0 = F.lit(seed).bitwiseXOR(nn)
        folded = F.when(
            nwords > 0,
            F.aggregate(F.sequence(F.lit(0), nwords - 1), h0, step),
        ).otherwise(h0)
        padded = F.concat(b, F.lit(bytes(4)))
        tail = f32le(padded, nn - nn % 4 + 1)
        return _let1(
            folded,
            lambda h2: _let1(
                F.when(
                    nn % 4 > 0,
                    (h2.bitwiseXOR(tail) * m).bitwiseAND(m32c),
                ).otherwise(h2),
                lambda h3: _let1(
                    (h3.bitwiseXOR(_ushr(h3, 13)) * m).bitwiseAND(m32c),
                    lambda h4: h4.bitwiseXOR(_ushr(h4, 15)),
                ),
            ),
        )

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def murmur3_32(col) -> Column:
    c = col if isinstance(col, Column) else F.col(col)
    m32 = F.lit(_M32)

    def rotl(x: Column, r: int) -> Column:
        return (
            F.shiftleft(x, r).bitwiseOR(_ushr(x, 32 - r))
        ).bitwiseAND(m32)

    def build(b: Column) -> Column:
        nn = F.length(b).cast("long")
        nwords = F.floor(nn / F.lit(4)).cast("int")

        def f32le(src: Column, pos: Column) -> Column:
            hx = F.hex(F.substring(src, pos.cast("int"), F.lit(4)))
            le = F.regexp_replace(F.reverse(hx), "(.)(.)", "$2$1")
            return F.conv(le, 16, 10).cast("long")

        def mixk(k: Column) -> Column:
            return _let1(
                (k * F.lit(C1)).bitwiseAND(m32),
                lambda k1: (rotl(k1, 15) * F.lit(C2)).bitwiseAND(m32),
            )

        def step(h: Column, wi: Column) -> Column:
            return _let1(
                mixk(f32le(b, wi * 4 + 1)),
                lambda wk: _let1(
                    h.bitwiseXOR(wk).bitwiseAND(m32),
                    lambda h1: (rotl(h1, 13) * 5 + F.lit(0xE6546B64))
                    .bitwiseAND(m32),
                ),
            )

        folded = F.when(
            nwords > 0,
            F.aggregate(
                F.sequence(F.lit(0), nwords - 1),
                F.lit(0).cast("long"),
                step,
            ),
        ).otherwise(F.lit(0).cast("long"))
        padded = F.concat(b, F.lit(bytes(4)))
        tail = mixk(f32le(padded, nn - nn % 4 + 1))
        return _let1(
            folded,
            lambda h2: _let1(
                F.when(nn % 4 > 0, h2.bitwiseXOR(tail))
                .otherwise(h2)
                .bitwiseXOR(nn),
                lambda h3: _let1(
                    (h3.bitwiseXOR(_ushr(h3, 16)) * F.lit(F1)).bitwiseAND(
                        m32
                    ),
                    lambda h4: _let1(
                        (h4.bitwiseXOR(_ushr(h4, 13)) * F.lit(F2))
                        .bitwiseAND(m32),
                        lambda h5: h5.bitwiseXOR(_ushr(h5, 16)),
                    ),
                ),
            ),
        )

    return F.when(c.isNotNull(), _let1(c.cast("binary"), build))


def murmur2_64_fast(col, seed: int = 0) -> Column:
    return _fast(
        col,
        lambda s: murmur2_64_sql(s, seed),
        lambda c: murmur2_64(c, seed),
    )


def murmur3_32_fast(col) -> Column:
    return _fast(col, murmur3_32_sql, murmur3_32)


# --------------------------------------------------------------- duckdb
_P64 = str(1 << 64)
_P32 = str(1 << 32)


class MurmurEmitter:
    """Straight-line HUGEINT replay for oracles, word count
    CASE-dispatched (ASCII inputs only)."""

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

    # ---- MurmurHash64A
    def m2_mul(self, a: str) -> str:
        cl, ch = M2 & 0xFFFFFFFF, M2 >> 32
        return self.emit(
            f"(({a} * {cl}) + (({a} * {ch}) % {_P32}) * {_P32}) % {_P64}"
        )

    def m2_chain(self, e: str, n: str, words: int, seed: int = 0) -> str:
        h = self.m2_mul(f"CAST({n} AS HUGEINT)")  # h = n*m
        if seed:
            h = self.emit(f"xor(CAST({seed} AS HUGEINT), {h})")
        for w in range(words):
            k = self.f_le(e, str(w * 8 + 1), 8)
            k = self.m2_mul(k)
            k = self.emit(f"xor({k}, {k} // {1 << 47})")
            k = self.m2_mul(k)
            h = self.m2_mul(self.emit(f"xor({h}, {k})"))
        tail = self.f_le(e, f"({n}) - (({n}) % 8) + 1", 8)
        h = self.emit(
            f"CASE WHEN ({n}) % 8 > 0 THEN "
            f"(xor({h}, {tail}) * {M2 & 0xFFFFFFFF} + "
            f"((xor({h}, {tail}) * {M2 >> 32}) % {_P32}) * {_P32}) % {_P64} "
            f"ELSE {h} END"
        )
        h = self.m2_mul(self.emit(f"xor({h}, {h} // {1 << 47})"))
        return self.emit(f"xor({h}, {h} // {1 << 47})")

    def m2_dispatch(
        self, e: str, n: str, max_len: int, seed: int = 0
    ) -> str:
        arms = []
        for w in range(max_len // 8 + 1):
            h = self.m2_chain(e, n, w, seed)
            arms.append(f"WHEN ({n}) // 8 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- MurmurHash2 (32-bit; seed 0 = CH murmurHash2_32, seed
    # 0x9747b28c = the Kafka base)
    def m2_32_mul(self, a: str) -> str:
        return self.emit(f"({a} * {M2_32}) % {_P32}")

    def m2_32_chain(
        self, e: str, n: str, words: int, seed: int = 0
    ) -> str:
        h = self.emit(
            f"xor(CAST({seed} AS HUGEINT), CAST({n} AS HUGEINT))"
        )
        for w in range(words):
            k = self.m2_32_mul(self.f_le(e, str(w * 4 + 1), 4))
            k = self.m2_32_mul(
                self.emit(f"xor({k}, {k} // {1 << 24})")
            )
            h = self.emit(f"xor({self.m2_32_mul(h)}, {k})")
        tail = self.f_le(e, f"({n}) - (({n}) % 4) + 1", 4)
        h = self.emit(
            f"CASE WHEN ({n}) % 4 > 0 THEN "
            f"(xor({h}, {tail}) * {M2_32}) % {_P32} ELSE {h} END"
        )
        h = self.m2_32_mul(self.emit(f"xor({h}, {h} // {1 << 13})"))
        return self.emit(f"xor({h}, {h} // {1 << 15})")

    def m2_32_dispatch(
        self, e: str, n: str, max_len: int, seed: int = 0
    ) -> str:
        arms = []
        for w in range(max_len // 4 + 1):
            h = self.m2_32_chain(e, n, w, seed)
            arms.append(f"WHEN ({n}) // 4 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    # ---- MurmurHash3 x86_32
    def m3_rotl(self, a: str, r: int) -> str:
        return self.emit(
            f"(({a} * {1 << r}) % {_P32} + {a} // {1 << (32 - r)}) % {_P32}"
        )

    def m3_mixk(self, k: str) -> str:
        k = self.emit(f"({k} * {C1}) % {_P32}")
        k = self.m3_rotl(k, 15)
        return self.emit(f"({k} * {C2}) % {_P32}")

    def m3_chain(self, e: str, n: str, words: int) -> str:
        h = self.emit("CAST(0 AS HUGEINT)")
        for w in range(words):
            k = self.m3_mixk(self.f_le(e, str(w * 4 + 1), 4))
            h = self.emit(f"xor({h}, {k})")
            h = self.m3_rotl(h, 13)
            h = self.emit(f"({h} * 5 + 3864292196) % {_P32}")
        tail = self.m3_mixk(self.f_le(e, f"({n}) - (({n}) % 4) + 1", 4))
        h = self.emit(
            f"CASE WHEN ({n}) % 4 > 0 THEN xor({h}, {tail}) ELSE {h} END"
        )
        h = self.emit(f"xor({h}, CAST({n} AS HUGEINT))")
        h = self.emit(f"(xor({h}, {h} // {1 << 16}) * {F1}) % {_P32}")
        h = self.emit(f"(xor({h}, {h} // {1 << 13}) * {F2}) % {_P32}")
        return self.emit(f"xor({h}, {h} // {1 << 16})")

    def m3_dispatch(self, e: str, n: str, max_len: int) -> str:
        arms = []
        for w in range(max_len // 4 + 1):
            h = self.m3_chain(e, n, w)
            arms.append(f"WHEN ({n}) // 4 = {w} THEN {h}")
        return self.emit("CASE " + " ".join(arms) + " END")

    def signed64(self, a: str) -> str:
        return self.emit(
            f"CAST(CASE WHEN {a} >= {1 << 63} THEN {a} - {_P64} "
            f"ELSE {a} END AS BIGINT)"
        )
