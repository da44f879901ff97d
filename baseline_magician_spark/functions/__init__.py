"""Scalar function library: IP/CIDR arithmetic, ClickHouse-compat shims,
cross-engine deterministic hashing.

Everything here emits built-in Column expressions (JVM-side, inside
whole-stage codegen) — no Python UDFs in the hot path.
"""

from .ip import (  # noqa: F401
    ip4_to_long,
    ip4_to_long_py,
    long_to_ip4,
    long_to_ip4_py,
    parse_cidr_py,
)
from .hashing import poly_hash, shingle_hashes, token_shingles  # noqa: F401
from .ch_compat import CH_FUNCTIONS, ch_fn  # noqa: F401
