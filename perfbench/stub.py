"""Loopback stand-in for the FastNetMon REST API.

Serves the calls the baseline job makes, with the reference API's JSON
shapes (``{"success": bool, "error_text": str, "values": [...]}``):

- ``GET /main/networks_list``
- ``GET /hostgroup``
- ``PUT /hostgroup/<name>`` and ``DELETE /hostgroup/<name>``
- ``PUT /hostgroup/<name>/<option>/<value>``: booleans arrive as
  ``enable``/``disable``, ``networks`` appends one CIDR with ``/``
  escaped as ``%2f``, thresholds are unsigned integers.

It is single-threaded (stdlib ``http.server``) and speaks HTTP/1.1, so
a keep-alive client may send many calls over one TCP connection; the
reference client (``urllib``) closes its connection after every call.
``connections`` counts accepted TCP connections that carried an API
call. Benchmark control lives under ``/_bench/`` and is excluded from
every counter:

- ``POST /_bench/seed`` with a JSON body ``{"networks": [...],
  "hostgroups": [...]}`` sets the state that ``reset`` restores;
- ``POST /_bench/reset`` restores it and zeroes the counters;
- ``GET /_bench/state`` returns the host groups, the counters and the
  API call log.

``control()`` is the client for these calls.

Run: ``python3 perfbench/stub.py <port-file>``. It binds an ephemeral
port on 127.0.0.1, writes the port to ``<port-file>`` and serves until
terminated.
"""

from __future__ import annotations

import base64
import copy
import json
import os
import sys
import urllib.request
from http.server import BaseHTTPRequestHandler, HTTPServer

AUTH = "Basic " + base64.b64encode(b"admin:test_password").decode()

# Ban_settings_t (fnm/main.go:183-206) with Go zero values.
BAN_SETTINGS_DEFAULTS: dict[str, object] = {
    "name": "", "description": "", "networks": [],
    "enable_ban": False, "ban_for_pps": False,
    "ban_for_bandwidth": False, "ban_for_flows": False,
    "threshold_pps": 0, "threshold_mbps": 0, "threshold_flows": 0,
    "ban_for_tcp_bandwidth": False, "ban_for_udp_bandwidth": False,
    "ban_for_icmp_bandwidth": False, "ban_for_tcp_pps": False,
    "ban_for_udp_pps": False, "ban_for_icmp_pps": False,
    "threshold_tcp_mbps": 0, "threshold_udp_mbps": 0,
    "threshold_icmp_mbps": 0, "threshold_tcp_pps": 0,
    "threshold_udp_pps": 0, "threshold_icmp_pps": 0,
}


class FastNetMonStub:
    """The API's state and counters, separate from the HTTP plumbing so
    tests can drive it directly."""

    def __init__(self) -> None:
        self.seed_networks: list[str] = []
        self.seed_groups: list[dict] = []
        self.reset()

    def reset(self) -> None:
        self.networks = list(self.seed_networks)
        self.groups = {g["name"]: copy.deepcopy(g) for g in self.seed_groups}
        self.calls = {"GET": 0, "PUT": 0, "DELETE": 0}
        self.failed = 0
        self.connections = 0
        self.log: list[str] = []

    def handle(self, method: str, path: str) -> tuple[int, dict]:
        self.calls[method] = self.calls.get(method, 0) + 1
        self.log.append(f"{method} {path}")
        status, body = self._route(method, path.strip("/").split("/"))
        if not body.get("success"):
            self.failed += 1
        return status, body

    def _route(self, method: str, parts: list[str]) -> tuple[int, dict]:
        if method == "GET" and parts == ["main", "networks_list"]:
            return 200, {"success": True, "values": self.networks}
        if method == "GET" and parts == ["hostgroup"]:
            return 200, {"success": True, "values": list(self.groups.values())}
        if not parts or parts[0] != "hostgroup" or len(parts) not in (2, 4):
            return 404, {"success": False, "error_text": "not found"}
        name = parts[1]
        if len(parts) == 2 and method == "PUT":
            if name in self.groups:
                return 200, _error(f"host group {name} already exists")
            self.groups[name] = dict(BAN_SETTINGS_DEFAULTS, name=name, networks=[])
            return 200, {"success": True}
        if len(parts) == 2 and method == "DELETE":
            if self.groups.pop(name, None) is None:
                return 200, _error(f"host group {name} does not exist")
            return 200, {"success": True}
        group = self.groups.get(name)
        if method != "PUT" or group is None:
            return 200, _error(f"cannot set option on host group {name}")
        option, value = parts[2], parts[3]
        if option == "networks":
            group["networks"].append(value.replace("%2f", "/").replace("%2F", "/"))
        elif isinstance(BAN_SETTINGS_DEFAULTS.get(option), bool):
            if value not in ("enable", "disable"):
                return 200, _error(f"bad boolean {value}")
            group[option] = value == "enable"
        elif option in BAN_SETTINGS_DEFAULTS and option.startswith("threshold_"):
            if not value.isdigit():
                return 200, _error(f"bad unsigned integer {value}")
            group[option] = int(value)
        else:
            return 200, _error(f"unknown option {option}")
        return 200, {"success": True}

    def snapshot(self) -> dict:
        return {
            "hostgroups": sorted(self.groups.values(), key=lambda g: g["name"]),
            "calls": dict(self.calls),
            "failed": self.failed,
            "connections": self.connections,
            "log": self.log,
        }


def control(port: int, method: str, what: str, body: dict | None = None) -> dict:
    """Call ``/_bench/<what>`` on the stub listening on ``port``."""
    data = json.dumps(body if body is not None else {}).encode() if method == "POST" else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/_bench/{what}", data=data, method=method)
    with urllib.request.urlopen(req, timeout=30) as resp:
        return json.loads(resp.read())


def _error(text: str) -> dict:
    return {"success": False, "error_text": text}


class _Handler(BaseHTTPRequestHandler):
    server: "_Server"
    protocol_version = "HTTP/1.1"
    # an idle keep-alive connection would block the single-threaded
    # server (and the benchmark's control calls); drop it after this long
    timeout = 2

    def setup(self) -> None:
        super().setup()
        self.counted = False  # once per accepted connection

    def log_message(self, *args) -> None:  # keep stderr quiet
        pass

    def _reply(self, status: int, body: dict) -> None:
        data = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def _dispatch(self, method: str) -> None:
        stub = self.server.stub
        # read the whole request so a kept-alive connection stays in step
        body = self.rfile.read(int(self.headers.get("Content-Length") or 0))
        if self.path.startswith("/_bench/"):
            return self._control(method, self.path[len("/_bench/"):], body)
        if not self.counted:
            stub.connections += 1
            self.counted = True
        if self.headers.get("Authorization") != AUTH:
            stub.calls[method] = stub.calls.get(method, 0) + 1
            stub.failed += 1
            return self._reply(401, _error("Auth denied"))
        self._reply(*stub.handle(method, self.path))

    def _control(self, method: str, what: str, body: bytes) -> None:
        stub = self.server.stub
        if method == "POST" and what == "seed":
            seed = json.loads(body)
            stub.seed_networks = list(seed["networks"])
            stub.seed_groups = list(seed["hostgroups"])
            stub.reset()
        elif method == "POST" and what == "reset":
            stub.reset()
        elif not (method == "GET" and what == "state"):
            return self._reply(404, _error("not found"))
        self._reply(200, {"success": True, **stub.snapshot()})

    def do_GET(self) -> None:
        self._dispatch("GET")

    def do_PUT(self) -> None:
        self._dispatch("PUT")

    def do_DELETE(self) -> None:
        self._dispatch("DELETE")

    def do_POST(self) -> None:
        self._dispatch("POST")


class _Server(HTTPServer):
    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.stub = FastNetMonStub()


def main(port_file: str) -> None:
    server = _Server()
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(server.server_address[1]))
    os.replace(tmp, port_file)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    main(sys.argv[1])
