"""Seeded, vectorised input generators for the benchmark.

Two input families, both written as parquet by one process with numpy
and pyarrow (no per-row Python formatting):

- ``host_metrics`` plus its networks list (FIXTURES.md sections 1-2):
  dotted-quad hosts drawn from the networks, ~5% of rows from hosts
  outside every network, a few networks with no traffic, one network
  entered non-canonically, one IPv6 network, "quiet" networks whose
  bit counters stay below 1 MiB so zero-threshold deactivation runs,
  and timestamps uniform over the 14 days before a pinned ``now`` so
  about half the rows fall outside the 7-day window.
- the star-schema tables the query registry reads (``region`` ...
  ``embeddings``), with the value domains of the test tables in TESTDATA.md,
  so registry queries and their DuckDB oracles run unchanged.

The same seed always gives byte-identical files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Pinned "now" for the job's 7-day window: 2026-01-15T00:00:00Z in µs.
NOW_US = 1_768_435_200_000_000
DAY_US = 86_400_000_000
WINDOW_DAYS = 7

METRICS = tuple(
    f"{proto}_{direction}"
    for proto in (
        "packets", "bits", "flows",
        "tcp_packets", "udp_packets", "icmp_packets",
        "fragmented_packets", "tcp_syn_packets",
        "tcp_bits", "udp_bits", "icmp_bits",
        "fragmented_bits", "tcp_syn_bits",
    )
    for direction in ("incoming", "outgoing")
)

OUTSIDE_BASE = (172 << 24) | (16 << 16)  # 172.16.0.0, in no network
_MASKS = (24, 28, 32, 28, 24)            # cycled: 40% /24, 40% /28, 20% /32
_HOSTS_PER_MASK = {24: 8, 28: 4, 32: 1}
_QUIET_BITS = 300_000                    # x3 still below 1 MiB


def _ip_str(v: np.ndarray) -> list[str]:
    v = v.astype(np.int64)
    return [
        f"{a}.{b}.{c}.{d}"
        for a, b, c, d in zip(
            (v >> 24) & 255, (v >> 16) & 255, (v >> 8) & 255, v & 255
        )
    ]


@dataclass(frozen=True)
class HostMetrics:
    """What the generator wrote: the parquet directory, the networks
    list exactly as the API serves it, and the row counts."""

    path: str
    networks: list[str]
    active: list[str]  # the networks that have traffic
    rows: int
    rows_in_window: int


def host_metrics(
    out_dir: str, seed: int, rows: int, networks: int, files: int = 8
) -> HostMetrics:
    """Write ``host_metrics`` as ``files`` parquet files under
    ``out_dir`` and return the networks list that goes with it."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    # one network per /24 block 10.x.y.0, so ranges never overlap
    # except through the reference's inclusive upper bound
    idx = np.arange(networks)
    block = (10 << 24) + ((idx + 1) << 8)
    mask = np.array(_MASKS)[idx % len(_MASKS)]
    size = 1 << (32 - mask)
    start = block + np.where(mask == 28, 16 * (idx % 15), 0)
    start = start + np.where(mask == 32, 1 + idx % 250, 0)
    nets = [f"{ip}/{m}" for ip, m in zip(_ip_str(start), mask)]
    # host bits set on one /24 entry: the job must mask it back
    first24 = int(np.flatnonzero(mask == 24)[0])
    nets[first24] = nets[first24].rsplit(".", 1)[0] + ".33/24"
    empty = set(rng.choice(networks, size=max(2, networks // 64), replace=False))
    quiet = rng.random(networks) < 0.125

    pool, pool_quiet = [], []
    for i in range(networks):
        if i in empty:
            continue
        k = _HOSTS_PER_MASK[int(mask[i])]
        offs = rng.choice(max(int(size[i]) - 2, 1), size=k, replace=False) + (
            1 if size[i] > 1 else 0
        )
        if mask[i] == 28:
            offs[-1] = size[i]  # one past the broadcast: the off-by-one
        pool.append(start[i] + offs)
        pool_quiet.append(np.full(k, quiet[i]))
    inside = np.concatenate(pool)
    inside_quiet = np.concatenate(pool_quiet)
    outside = OUTSIDE_BASE + rng.choice(1 << 16, size=64, replace=False)
    hosts = np.concatenate([inside, outside])
    host_quiet = np.concatenate([inside_quiet, np.zeros(64, bool)])
    host_strs = pa.array(_ip_str(hosts))

    pick = np.where(
        rng.random(rows) < 0.05,
        rng.integers(len(inside), len(hosts), rows),
        rng.integers(0, len(inside), rows),
    )
    ts = NOW_US - rng.integers(0, 14 * DAY_US, rows)
    cols: dict[str, pa.Array] = {
        "host": host_strs.take(pa.array(pick)),
        "metricDate": pa.array((ts // DAY_US).astype(np.int32), pa.date32()),
        "metricDateTime": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }
    # per-host traffic level times a small per-row factor: realistic
    # skew, and few distinct values, so parquet dictionary-encodes them
    for m in METRICS:
        if "bits" in m:
            level = (10 ** rng.uniform(5, 8.8, len(hosts))).astype(np.int64)
            level[host_quiet] = rng.integers(0, _QUIET_BITS // 16, host_quiet.sum())
        elif m.startswith("flows"):
            level = rng.integers(0, 4, len(hosts))
        else:
            level = rng.zipf(1.6, len(hosts)).clip(1, 1 << 20) * rng.integers(
                1, 200, len(hosts))
        v = level[pick] * rng.integers(0 if m.startswith("flows") else 1, 16, rows)
        cols[m] = pa.array(v.astype(np.int64))
    table = pa.table(cols)
    bounds = np.linspace(0, rows, files + 1).astype(int)
    for f in range(files):
        pq.write_table(
            table.slice(bounds[f], bounds[f + 1] - bounds[f]),
            os.path.join(out_dir, f"part-{f:03d}.parquet"),
            row_group_size=1 << 16,
        )
    in_window = int((ts >= NOW_US - WINDOW_DAYS * DAY_US).sum())
    active = [n for i, n in enumerate(nets) if i not in empty]
    return HostMetrics(out_dir, nets + ["2001:db8::/64"], active, rows, in_window)


# ---------------------------------------------------------------- star schema

_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_DAY0_1995 = 9131  # 1995-01-01 as days since the epoch
_EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def _pick(rng, values, n):
    return pa.array(list(values)).take(pa.array(rng.integers(0, len(values), n)))


def _days_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write the registry's ten tables at scale factor ``sf`` (sf0.1 is
    600k lineitem rows) as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 20)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events, n_docs = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = max(int(20_000 * sf), 500)

    def cents(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": cents(-999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, ("AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"), n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": cents(-999.99, 9999.99, n_supp),
        }),
    }
    retail = np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, [f"{a} {b}" for a in _ADJ for b in _NOUN], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": retail,
    })
    odate = _DAY0_1995 + rng.integers(0, 2400, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, "FOP", n_ord),
        "o_totalprice": cents(1000, 500_000, n_ord),
        "o_orderdate": _days_us(odate),
        "o_orderpriority": _pick(rng, ("1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"), n_ord),
    })
    per_order = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    n_li = len(l_order)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(per_order) - per_order,
                                          per_order) + 1)
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_line.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, "ANR", n_li),
        "l_linestatus": _pick(rng, "FO", n_li),
        "l_shipdate": _days_us(odate[l_order] + rng.integers(1, 122, n_li)),
    })
    ev_ts = _EVENTS_T0_US + np.sort(rng.integers(0, 30 * DAY_US, n_events))
    tables["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_events // 66, 10), n_events),
        "event_type": _pick(rng, ("click", "error", "purchase", "signup",
                                  "view"), n_events),
        "value": np.maximum(np.round(rng.exponential(50, n_events), 2), 0.01),
        "props": _pick(rng, [f'{{"k": {i}}}' for i in range(100)], n_events),
    })
    n_words = rng.integers(8, 100, n_docs)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(n_words.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(n_words)[:-1])]
    for i in rng.choice(n_docs, size=n_docs // 20, replace=False):
        texts[i] = texts[(i * 7 + 1) % n_docs] + " dup"  # near-duplicates
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, ("de", "en", "en", "en", "es", "fr", "zh"), n_docs),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
