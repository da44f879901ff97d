"""Independent DuckDB rendering of the baseline job's published state.

Written from the reference's semantics, not from the program's code:

- networks parsed with ``ipaddress``; IPv6 entries skipped; host bits
  masked off; the range predicate keeps the reference's inclusive upper
  bound ``start + 2^(32 - masklen)`` (one past the broadcast address);
- the 7-day window is ``metricDateTime >= now - 7 days``;
- per network ``CAST(floor(agg(metric)) AS BIGINT)``, and networks with
  no samples produce no host group;
- each enabled channel's threshold is its expression over the aggregate
  as a double, cast to unsigned (NULL or negative -> 0, else floor); the
  bits channel is then divided by 1024 twice; a zero threshold clears
  its ban flag;
- the group name is the network as entered with ``.`` and ``/`` -> ``_``.

The API's final state is the seeded groups with every generated group
written over the group of the same name.
"""

from __future__ import annotations

import ipaddress

import duckdb

from stub import BAN_SETTINGS_DEFAULTS

# published field -> (config flag, source metric, SQL key, mbps)
CHANNELS = {
    "pps": ("generate_incoming_packet_threshold", "packets_incoming", "pps_sql", False),
    "mbps": ("generate_incoming_bit_threshold", "bits_incoming", "mbps_sql", True),
    "flows": ("generate_incoming_flow_threshold", "flows_incoming", "flows_sql", False),
}
BAN_FLAG = {"pps": "ban_for_pps", "mbps": "ban_for_bandwidth", "flows": "ban_for_flows"}


def _ranges(networks: list[str]) -> list[tuple[str, int, int]]:
    out = []
    for entry in networks:
        net = ipaddress.ip_network(entry, strict=False)
        if net.version != 4:
            continue
        start = int(net.network_address)
        out.append((entry, start, start + net.num_addresses))
    return out


def expected_state(
    parquet_glob: str,
    networks: list[str],
    config: dict,
    channel_sql: dict[str, str],
    now_us: int,
    seed_groups: list[dict],
    tmp_dir: str,
) -> list[dict]:
    """The host groups the API should hold after one job, sorted by name.

    ``channel_sql`` maps ``pps_sql``/``mbps_sql``/``flows_sql`` to the
    SQL rendering of that channel's expression, with ``{v}`` standing
    for the aggregate as a DOUBLE. The window is the config default, 7 days."""
    agg = "max" if config.get("aggregation_function") == "max" else "avg"
    values = ", ".join(f"('{n}', {s}, {e})" for n, s, e in _ranges(networks))
    selects = []
    for field, (_flag, metric, sql_key, mbps) in CHANNELS.items():
        v = f"CAST(CAST(floor({agg}({metric})) AS BIGINT) AS DOUBLE)"
        expr = f"({channel_sql[sql_key].replace('{v}', v)})"
        uint = f"(CASE WHEN {expr} IS NULL OR {expr} < 0 THEN 0 ELSE CAST(floor({expr}) AS BIGINT) END)"
        if mbps:
            uint = f"CAST(floor(CAST({uint} AS DOUBLE) / 1024 / 1024) AS BIGINT)"
        selects.append(f"{uint} AS {field}")
    sql = f"""
        WITH m AS (
          SELECT CAST(split_part(host, '.', 1) AS BIGINT) * 16777216
               + CAST(split_part(host, '.', 2) AS BIGINT) * 65536
               + CAST(split_part(host, '.', 3) AS BIGINT) * 256
               + CAST(split_part(host, '.', 4) AS BIGINT) AS ip,
                 packets_incoming, bits_incoming, flows_incoming
          FROM read_parquet('{parquet_glob}')
          WHERE epoch_us(metricDateTime) >= {now_us - 7 * 86_400_000_000}
        ),
        nets(network, lo, hi) AS (VALUES {values})
        SELECT network, {", ".join(selects)}
        FROM m JOIN nets ON m.ip >= nets.lo AND m.ip <= nets.hi
        GROUP BY network
        HAVING count(*) > 0
    """
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp_dir}'")
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    state = {g["name"]: g for g in seed_groups}
    for network, *thresholds in rows:
        group = dict(BAN_SETTINGS_DEFAULTS, networks=[network], enable_ban=True)
        group["name"] = network.replace(".", "_").replace("/", "_")
        for (field, (flag, *_)), thr in zip(CHANNELS.items(), thresholds):
            if config.get(flag) and thr > 0:
                group[f"threshold_{field}"] = thr
                group[BAN_FLAG[field]] = True
        state[group["name"]] = group
    return sorted(state.values(), key=lambda g: g["name"])
