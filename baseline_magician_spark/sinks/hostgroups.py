"""Hostgroup REST sink — SURVEY §2.1 S9, the reference's only sink.

Orchestration reproduced from main.go:146-208 +
fnm/main.go:507-604 (Create_host_group_with_all_options):

- ``remove_existing_hostgroups=True``: delete every current hostgroup
  EXCEPT ``global`` up front (main.go:156-160), then create all.
- ``remove_existing_hostgroups=False``: before each create, delete the
  same-named group (failures tolerated — overwrite emulation,
  main.go:188-200).
- Create = ``PUT /hostgroup/{name}`` then one PUT per option in the
  reference's exact order: enable_ban, networks (one PUT per network,
  '/' URL-escaped as %2f — fnm/main.go:270), ban_for_bandwidth,
  ban_for_pps, ban_for_flows, threshold_mbps, threshold_pps,
  threshold_flows. Bools travel as enable/disable path segments
  (fnm/main.go:238-243).

The result cardinality is #networks (tiny), so the sink collects to
the driver and loops — the same shape as the reference; a
foreachPartition variant is unnecessary at any realistic network
count and would multiply API connections.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from ..sources.rest import HttpTransport, RestError, Transport

log = logging.getLogger(__name__)

# Full Ban_settings_t field set (fnm/main.go:183-206) with Go zero
# values; rows produced by the pipeline overlay these.
BAN_SETTINGS_DEFAULTS: dict[str, object] = {
    "name": "",
    "description": "",
    "networks": [],
    "enable_ban": False,
    "ban_for_pps": False,
    "ban_for_bandwidth": False,
    "ban_for_flows": False,
    "threshold_pps": 0,
    "threshold_mbps": 0,
    "threshold_flows": 0,
    "ban_for_tcp_bandwidth": False,
    "ban_for_udp_bandwidth": False,
    "ban_for_icmp_bandwidth": False,
    "ban_for_tcp_pps": False,
    "ban_for_udp_pps": False,
    "ban_for_icmp_pps": False,
    "threshold_tcp_mbps": 0,
    "threshold_udp_mbps": 0,
    "threshold_icmp_mbps": 0,
    "threshold_tcp_pps": 0,
    "threshold_udp_pps": 0,
    "threshold_icmp_pps": 0,
}


def hostgroup_rows(df: DataFrame) -> list[dict]:
    """Collect a generate_hostgroups result into Ban_settings_t dicts.

    Mapping (main.go:324-439): name = mangled network, networks = [the
    original CIDR string], enable_ban always true; the three incoming
    channels land in ban_for_pps/threshold_pps,
    ban_for_bandwidth/threshold_mbps, ban_for_flows/threshold_flows.
    ``apply_thresholds`` emits every pair with flag = threshold > 0
    (zero-threshold deactivation, main.go:372-377), so both are read
    as they are.
    """
    out = []
    for row in df.collect():
        g = dict(BAN_SETTINGS_DEFAULTS)
        g["name"] = row["hostgroup_name"]
        g["networks"] = [row["network"]]
        g["enable_ban"] = True
        g["threshold_pps"] = row["threshold_pps_incoming"]
        g["ban_for_pps"] = row["ban_for_pps_incoming"]
        g["threshold_mbps"] = row["threshold_mbps_incoming"]
        g["ban_for_bandwidth"] = row["ban_for_mbps_incoming"]
        g["threshold_flows"] = row["threshold_flows_incoming"]
        g["ban_for_flows"] = row["ban_for_flows_incoming"]
        out.append(g)
    return out


class HostgroupSink:
    def __init__(
        self,
        base_url: str,
        auth: tuple[str, str],
        transport: Transport | None = None,
    ):
        self.base_url = base_url
        self.auth = auth
        self.http = HttpTransport(transport)

    # -- primitive API calls (fnm/main.go:237-373) --------------------

    def _put(self, path: str) -> bool:
        body = self.http("PUT", f"{self.base_url}{path}", self.auth)
        return bool(body.get("success", False))

    def _delete(self, path: str) -> bool:
        body = self.http("DELETE", f"{self.base_url}{path}", self.auth)
        return bool(body.get("success", False))

    def create_hostgroup(self, name: str) -> bool:
        return self._put(f"/hostgroup/{name}")

    def remove_hostgroup(self, name: str) -> bool:
        return self._delete(f"/hostgroup/{name}")

    def set_bool_option(self, name: str, option: str, value: bool) -> bool:
        v = "enable" if value else "disable"
        return self._put(f"/hostgroup/{name}/{option}/{v}")

    def set_uint_option(self, name: str, option: str, value: int) -> bool:
        return self._put(f"/hostgroup/{name}/{option}/{int(value)}")

    def set_string_list_option(self, name: str, option: str, value: str) -> bool:
        value = value.replace("/", "%2f")  # fnm/main.go:270
        return self._put(f"/hostgroup/{name}/{option}/{value}")

    # -- orchestration (main.go:146-208, fnm/main.go:507-604) ---------

    def create_with_all_options(self, group: dict) -> None:
        name = group["name"]
        if not self.create_hostgroup(name):
            raise RestError(f"Cannot create host group {name}")
        steps: list[tuple[str, bool]] = [
            ("enable_ban", self.set_bool_option(name, "enable_ban", group["enable_ban"])),
        ]
        for network in group["networks"]:
            steps.append(
                ("networks", self.set_string_list_option(name, "networks", network))
            )
        steps += [
            ("ban_for_bandwidth", self.set_bool_option(name, "ban_for_bandwidth", group["ban_for_bandwidth"])),
            ("ban_for_pps", self.set_bool_option(name, "ban_for_pps", group["ban_for_pps"])),
            ("ban_for_flows", self.set_bool_option(name, "ban_for_flows", group["ban_for_flows"])),
            ("threshold_mbps", self.set_uint_option(name, "threshold_mbps", group["threshold_mbps"])),
            ("threshold_pps", self.set_uint_option(name, "threshold_pps", group["threshold_pps"])),
            ("threshold_flows", self.set_uint_option(name, "threshold_flows", group["threshold_flows"])),
        ]
        for option, ok in steps:
            if not ok:
                raise RestError(f"Cannot set {option} for host group {name}")

    def publish(
        self,
        hostgroups: list[dict],
        current_hostgroups: list[dict],
        remove_existing: bool,
    ) -> None:
        if remove_existing:
            to_remove = [
                g["name"] for g in current_hostgroups if g.get("name") != "global"
            ]
            for name in to_remove:
                if not self.remove_hostgroup(name):
                    raise RestError(f"Cannot remove host group {name}")
        for group in hostgroups:
            if not remove_existing:
                try:
                    if not self.remove_hostgroup(group["name"]):
                        log.warning(
                            "Cannot remove host group %s, continuing", group["name"]
                        )
                except RestError as e:  # tolerated (main.go:192-199)
                    log.warning(
                        "Cannot remove host group %s: %s — continuing",
                        group["name"],
                        e,
                    )
            self.create_with_all_options(group)
