"""Self-tests of the benchmark (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stub  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    out = {}
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_generators_are_byte_identical_for_a_seed(tmp_path):
    a = datagen.host_metrics(str(tmp_path / "a"), 5, 5000, 24, files=2)
    b = datagen.host_metrics(str(tmp_path / "b"), 5, 5000, 24, files=2)
    c = datagen.host_metrics(str(tmp_path / "c"), 6, 5000, 24, files=2)
    assert _digests(a.path) == _digests(b.path) != _digests(c.path)
    assert (a.networks, a.active, a.rows_in_window) == (b.networks, b.active, b.rows_in_window)
    datagen.star_schema(str(tmp_path / "s1"), 5, 0.002)
    datagen.star_schema(str(tmp_path / "s2"), 5, 0.002)
    assert _digests(str(tmp_path / "s1")) == _digests(str(tmp_path / "s2"))
    assert len(_digests(str(tmp_path / "s1"))) == len(run.STAR_TABLES)


def test_host_metrics_has_the_fixture_edge_cases(tmp_path):
    hm = datagen.host_metrics(str(tmp_path / "h"), 3, 20000, 64)
    assert "2001:db8::/64" in hm.networks
    assert any(n.endswith(".33/24") for n in hm.networks)
    assert len(hm.active) < len(hm.networks) - 1  # some networks idle
    assert 0.4 < hm.rows_in_window / hm.rows < 0.6


@pytest.fixture
def api():
    server = stub._Server()
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield server
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=10)
        assert not thread.is_alive()


def test_stub_records_the_reference_call_order(api):
    from baseline_magician_spark.sinks.hostgroups import (
        BAN_SETTINGS_DEFAULTS,
        HostgroupSink,
    )

    base = f"http://127.0.0.1:{api.server_address[1]}"
    group = dict(BAN_SETTINGS_DEFAULTS, name="10_0_0_0_24", networks=["10.0.0.0/24"],
                 enable_ban=True, ban_for_pps=True, threshold_pps=7)
    HostgroupSink(base, ("admin", "test_password")).publish([group], [], False)
    p = "/hostgroup/10_0_0_0_24"
    assert api.stub.log == [
        f"DELETE {p}",
        f"PUT {p}",
        f"PUT {p}/enable_ban/enable",
        f"PUT {p}/networks/10.0.0.0%2f24",
        f"PUT {p}/ban_for_bandwidth/disable",
        f"PUT {p}/ban_for_pps/enable",
        f"PUT {p}/ban_for_flows/disable",
        f"PUT {p}/threshold_mbps/0",
        f"PUT {p}/threshold_pps/7",
        f"PUT {p}/threshold_flows/0",
    ]
    state = api.stub.snapshot()
    assert state["hostgroups"] == [group]
    assert state["calls"] == {"GET": 0, "PUT": 9, "DELETE": 1}
    assert state["failed"] == 1  # deleting a group that does not exist
    assert state["connections"] == 10


def test_stub_counts_connections_not_calls(api):
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", api.server_address[1], timeout=10)
    try:
        for _ in range(3):  # one kept-alive connection, three calls
            conn.request("GET", "/hostgroup", headers={"Authorization": stub.AUTH})
            resp = conn.getresponse()
            assert resp.status == 200 and json.loads(resp.read())["success"]
    finally:
        conn.close()
    state = api.stub.snapshot()
    assert state["calls"]["GET"] == 3
    assert state["connections"] == 1


def test_stub_rejects_bad_auth_and_resets(api):
    import urllib.error
    import urllib.request

    base = f"http://127.0.0.1:{api.server_address[1]}"
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(base + "/hostgroup", timeout=10)
    assert e.value.code == 401
    api.stub.seed_groups = [dict(stub.BAN_SETTINGS_DEFAULTS, name="global")]
    api.stub.reset()
    assert [g["name"] for g in api.stub.snapshot()["hostgroups"]] == ["global"]
    assert api.stub.snapshot()["calls"] == {"GET": 0, "PUT": 0, "DELETE": 0}


def test_oracle_follows_the_reference_rules(tmp_path):
    """A hand-checked table: inclusive upper bound, window, floor(avg),
    uint cast, mbps division, zero deactivation, name mangling."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    now = datagen.NOW_US
    day = datagen.DAY_US
    rows = [  # host, age in days, packets, bits, flows
        ("10.0.0.5", 1, 10, 5 * 1048576, 0),
        ("10.0.0.6", 2, 11, 5 * 1048576, 0),
        ("10.0.1.0", 3, 100, 1, 0),    # one past 10.0.0.0/24: matches it
        ("10.0.0.7", 8, 10**6, 10**12, 9),  # outside the window
        ("10.0.2.1", 1, 4, 2, 3),
    ]
    pq.write_table(pa.table({
        "host": [r[0] for r in rows],
        "metricDateTime": pa.array([now - r[1] * day for r in rows],
                                   pa.timestamp("us", tz="UTC")),
        "packets_incoming": [r[2] for r in rows],
        "bits_incoming": [r[3] for r in rows],
        "flows_incoming": [r[4] for r in rows],
    }), str(tmp_path / "m.parquet"))
    config = {"aggregation_function": "avg",
              "generate_incoming_packet_threshold": True,
              "generate_incoming_bit_threshold": True,
              "generate_incoming_flow_threshold": True}
    sql = {"pps_sql": "{v} * 1.5", "mbps_sql": "{v} * 3", "flows_sql": "{v}"}
    seed = [dict(stub.BAN_SETTINGS_DEFAULTS, name="global")]
    state = oracle.expected_state(
        str(tmp_path / "m.parquet"), ["10.0.0.9/24", "10.0.2.0/28", "10.9.0.0/24",
                                      "2001:db8::/64"],
        config, sql, now, seed, str(tmp_path))
    by_name = {g["name"]: g for g in state}
    assert sorted(by_name) == ["10_0_0_9_24", "10_0_2_0_28", "global"]
    g = by_name["10_0_0_9_24"]
    # packets: floor(121 / 3) = 40, x1.5 = 60
    # bits: floor((10 Mi + 1) / 3) = 3495253, x3 = 10485759 -> 9 mbps
    # flows: 0 -> the ban flag stays off
    assert (g["threshold_pps"], g["ban_for_pps"]) == (60, True)
    assert (g["threshold_mbps"], g["ban_for_bandwidth"]) == (9, True)
    assert (g["threshold_flows"], g["ban_for_flows"]) == (0, False)
    assert g["networks"] == ["10.0.0.9/24"] and g["enable_ban"]
    h = by_name["10_0_2_0_28"]
    assert (h["threshold_pps"], h["threshold_mbps"], h["threshold_flows"]) == (6, 0, 3)
    assert h["ban_for_bandwidth"] is False


NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_benchmark_json_matches_what_the_benchmark_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = {w["name"]: w["why"] for w in bench["workloads"]}
    assert set(workloads) == {*run.JOB_WORKLOADS, "query_mix"}
    assert all(why.strip() and "\n" not in why for why in workloads.values())
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    for name in [*e2e, *layers]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    out = {"setup_s": 1.0, "attempted": 2, "failed": 0, "peak_rss_mb": 1.0}
    printed = metrics._e2e(out, 1.0, [1.0], 10, [0.5, 0.6])
    assert {k: u for k, (_, u) in printed.items()} == e2e
    printed = metrics._layers([], 1.0, 0.0)
    assert {k: u for k, (_, u) in printed.items()} == layers
    assert e2e["setup_s"] == "s"
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
