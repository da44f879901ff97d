"""Sources + sinks + end-to-end job against a fake REST transport,
checking the reference's exact request sequences (URL paths, option
order, %2f escaping, `global` exemption, overwrite modes)."""

from __future__ import annotations

import json

import pytest

from conftest import SF_SMOKE


class FakeApi:
    """Records (method, url) and plays a FastNetMon API: networks list,
    current hostgroups, and always-successful mutations."""

    def __init__(self, networks=None, hostgroups=None, fail_paths=()):
        self.networks = networks or []
        self.hostgroups = hostgroups or []
        self.calls: list[tuple[str, str]] = []
        self.fail_paths = set(fail_paths)

    def __call__(self, method, url, auth):
        self.calls.append((method, url))
        path = url.split("://", 1)[1].split("/", 1)[1]
        if f"{method} /{path}" in {f"{m} {p}" for m, p in self.fail_paths}:
            return 200, {"success": False, "error_text": "nope"}
        if method == "GET" and path == "main/networks_list":
            return 200, {"success": True, "error_text": "", "values": self.networks}
        if method == "GET" and path == "hostgroup":
            return 200, {"success": True, "error_text": "", "values": self.hostgroups}
        return 200, {"success": True, "error_text": ""}


def test_networks_from_cli_skips_invalid():
    from baseline_magician_spark.sources import networks_from_cli

    nets = networks_from_cli("10.0.0.0/24,not_a_cidr,192.168.1.33/24,2001:db8::/64")
    # invalid skipped; host-bits-set and IPv6 entries kept (main.go:114-126)
    assert nets == ["10.0.0.0/24", "192.168.1.33/24", "2001:db8::/64"]


def test_fetch_networks_and_auth_denied():
    from baseline_magician_spark.sources import fetch_networks_list
    from baseline_magician_spark.sources.rest import RestError

    api = FakeApi(networks=["10.1.0.0/16"])
    assert fetch_networks_list("http://h:1", ("u", "p"), api) == ["10.1.0.0/16"]

    def denied(method, url, auth):
        return 401, {}

    with pytest.raises(RestError, match="Auth denied"):
        fetch_networks_list("http://h:1", ("u", "p"), denied)


def test_resolve_networks_cli_list_wins():
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.job import resolve_networks

    api = FakeApi(networks=["10.1.0.0/16"])
    cfg = BaselineConfig(networks=["10.9.0.0/16"])
    assert resolve_networks(cfg, "10.0.0.0/24", api) == ["10.0.0.0/24"]
    assert api.calls == []
    assert resolve_networks(cfg, "", api) == ["10.1.0.0/16"]


@pytest.mark.parametrize("failure", ["rest", "os"])
def test_resolve_networks_failed_fetch_falls_back_to_config(failure):
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.job import resolve_networks
    from baseline_magician_spark.sources.rest import RestError

    def unreachable(method, url, auth):
        if failure == "rest":
            raise RestError("down")
        raise OSError("connection refused")

    cfg = BaselineConfig(networks=["10.9.0.0/16"])
    assert resolve_networks(cfg, "", unreachable) == ["10.9.0.0/16"]


def test_resolve_networks_bug_in_fetch_propagates():
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.job import resolve_networks

    def broken(method, url, auth):
        raise TypeError("programming error")

    cfg = BaselineConfig(networks=["10.9.0.0/16"])
    with pytest.raises(TypeError, match="programming error"):
        resolve_networks(cfg, "", broken)


def test_config_reference_keys_and_typo():
    from baseline_magician_spark.config import BaselineConfig

    cfg = BaselineConfig.from_json(json.dumps({
        "calculaton_period": 3600,
        "aggregation_function": "",
        "generate_incoming_packet_threshold": True,
        "incoming_packet_expression": "value * 2",
        "remove_existing_hostgroups": True,
        "clickhouse_table": "metrics",
        "unknown_key": 42,
    }))
    assert cfg.calculation_period_seconds == 3600
    assert cfg.aggregation_function == "avg"  # empty -> default (main.go:89-91)
    assert cfg.metrics_table == "metrics"
    assert cfg.remove_existing_hostgroups is True
    assert cfg.channel_expressions() == {"incoming_packets": "value * 2"}


def test_sink_overwrite_removes_all_but_global():
    from baseline_magician_spark.sinks import HostgroupSink

    api = FakeApi(hostgroups=[{"name": "global"}, {"name": "old_1"}, {"name": "old_2"}])
    sink = HostgroupSink("http://h:1", ("u", "p"), api)
    groups = [dict_group("10_0_0_0_24", "10.0.0.0/24", pps=100)]
    sink.publish(groups, api.hostgroups, remove_existing=True)

    deletes = [u for m, u in api.calls if m == "DELETE"]
    assert deletes == ["http://h:1/hostgroup/old_1", "http://h:1/hostgroup/old_2"]
    puts = [u for m, u in api.calls if m == "PUT"]
    # create + option sequence in the reference's order (fnm/main.go:507-604)
    assert puts == [
        "http://h:1/hostgroup/10_0_0_0_24",
        "http://h:1/hostgroup/10_0_0_0_24/enable_ban/enable",
        "http://h:1/hostgroup/10_0_0_0_24/networks/10.0.0.0%2f24",
        "http://h:1/hostgroup/10_0_0_0_24/ban_for_bandwidth/disable",
        "http://h:1/hostgroup/10_0_0_0_24/ban_for_pps/enable",
        "http://h:1/hostgroup/10_0_0_0_24/ban_for_flows/disable",
        "http://h:1/hostgroup/10_0_0_0_24/threshold_mbps/0",
        "http://h:1/hostgroup/10_0_0_0_24/threshold_pps/100",
        "http://h:1/hostgroup/10_0_0_0_24/threshold_flows/0",
    ]


def test_sink_per_group_delete_tolerates_failure():
    from baseline_magician_spark.sinks import HostgroupSink

    api = FakeApi(fail_paths=[("DELETE", "/hostgroup/g1")])
    sink = HostgroupSink("http://h:1", ("u", "p"), api)
    sink.publish([dict_group("g1", "10.0.0.0/24")], [], remove_existing=False)
    # failed delete logged + tolerated; create continues (main.go:192-200)
    assert ("PUT", "http://h:1/hostgroup/g1") in api.calls


def dict_group(name, network, pps=0, mbps=0, flows=0):
    from baseline_magician_spark.sinks import BAN_SETTINGS_DEFAULTS

    g = dict(BAN_SETTINGS_DEFAULTS)
    g.update(
        name=name,
        networks=[network],
        enable_ban=True,
        ban_for_pps=pps > 0,
        threshold_pps=pps,
        ban_for_bandwidth=mbps > 0,
        threshold_mbps=mbps,
        ban_for_flows=flows > 0,
        threshold_flows=flows,
    )
    return g


def test_external_table_roundtrip(spark):
    from baseline_magician_spark.sources import register_external_table

    register_external_table(
        spark, "ext_ids", [(1, "a"), (2, "b")], "id long, v string"
    )
    got = spark.sql("SELECT v FROM ext_ids WHERE id = 2").collect()
    assert [r.v for r in got] == ["b"]


def test_end_to_end_job_with_fake_api(spark):
    """Full main() equivalent: REST networks source -> one-pass plan ->
    REST sink; thresholds parity-checked against a hand computation."""
    from baseline_magician_spark.config import BaselineConfig
    from baseline_magician_spark.job import run_baseline_job
    from baseline_magician_spark.queries.baseline_q import (
        METRIC_COLS,
        events_as_host_metrics,
    )

    api = FakeApi(
        networks=["10.0.0.0/18", "not_used_ipv6::/64"],
        hostgroups=[{"name": "global"}, {"name": "stale"}],
    )
    cfg = BaselineConfig.from_json(json.dumps({
        "calculaton_period": 7 * 24 * 3600,
        "aggregation_function": "max",
        "generate_incoming_packet_threshold": True,
        "incoming_packet_expression": "value * 2",
        "remove_existing_hostgroups": True,
    }))
    from pyspark.sql import functions as F

    metrics = events_as_host_metrics(spark, SF_SMOKE)
    groups = run_baseline_job(
        spark,
        cfg,
        metrics,
        transport=api,
        metric_cols=METRIC_COLS,
        time_col="metricDateTime",
        now=F.col("now_ts"),  # test data is historical; anchor the window
    )
    # IPv6 network skipped inside the plan; one group for the /18
    assert [g["name"] for g in groups] == ["10_0_0_0_18"]
    g = groups[0]
    assert g["enable_ban"] is True and g["networks"] == ["10.0.0.0/18"]

    # hand oracle: floor(max(packets_incoming)) * 2 over the same
    # 7-day window and the /18 range (10.0.0.0 .. base + 2^14 — the
    # reference's one-past upper bound)
    from baseline_magician_spark.functions.ip import ip4_to_long

    in_range = metrics.where(
        (ip4_to_long("host") >= 167772160)
        & (ip4_to_long("host") <= 167772160 + 16384)
        & (
            F.col("metricDateTime")
            >= F.col("now_ts") - F.make_dt_interval(secs=F.lit(7 * 24 * 3600))
        )
    )
    mx = (
        in_range.agg(F.floor(F.max("packets_incoming")).cast("long").alias("m"))
        .first()["m"]
    )
    assert g["threshold_pps"] == mx * 2
    assert g["ban_for_pps"] is True
    # disabled channels stay zeroed/off
    assert g["threshold_mbps"] == 0 and g["ban_for_bandwidth"] is False

    # sink interactions: stale removed, global kept, group created
    deletes = [u for m, u in api.calls if m == "DELETE"]
    assert deletes == ["http://127.0.0.1:10007/hostgroup/stale"]
    assert ("PUT", "http://127.0.0.1:10007/hostgroup/10_0_0_0_18") in api.calls


def test_jsonl_roundtrip_matches_parquet(spark, tmp_path):
    from baseline_magician_spark.catalog import load_table
    from baseline_magician_spark.sources.jsonl import read_jsonl, write_jsonl
    from conftest import SF_ORACLE

    docs = load_table(spark, SF_ORACLE, "documents")
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(docs.repartition(4), out)
    back = read_jsonl(spark, out)
    assert back.columns == docs.columns
    assert back.count() == docs.count()
    a = sorted(tuple(r) for r in docs.collect())
    b = sorted(tuple(r) for r in back.collect())
    assert a == b
    # sharding gives the next reader real splits
    assert back.rdd.getNumPartitions() >= 4


def test_jsonl_corrupt_line_quarantine(spark, tmp_path):
    from baseline_magician_spark.sources.jsonl import (
        read_jsonl,
        read_jsonl_with_corrupt,
    )

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok", "lang": "en", "source": "s", "n_chars": 2}\n'
        "THIS IS NOT JSON\n"
        '{"doc_id": 2, "text": "ok2", "lang": "en", "source": "s", "n_chars": 3}\n'
    )
    df = read_jsonl_with_corrupt(spark, str(p))
    rows = df.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and corrupt[0]["doc_id"] is None
    clean = sorted(r["doc_id"] for r in rows if r["_corrupt_record"] is None)
    assert clean == [1, 2]
    # FAILFAST surfaces the corrupt line instead of dropping it — match
    # the malformed-record error specifically so an unrelated failure
    # (bad path, schema typo) cannot keep this green
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed"):
        read_jsonl(spark, str(p)).collect()
