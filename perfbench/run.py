"""Benchmark for the baseline job and the query engine.

Run from the repository root:

    python3 perfbench/run.py --workload job_wide --seed 1 --seconds 5 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``job_wide``: ``run_baseline_job`` with many networks over a moderate
  ``host_metrics`` table, published through the real ``urllib``
  transport to a loopback FastNetMon API stub.
- ``job_deep``: the same job with few networks over a large table.
- ``query_mix``: a fixed, family-stratified sample of the query
  registry over a generated copy of the star-schema test tables.

Each run generates its inputs from ``--seed``, starts one fresh Spark
process (it sets up, runs a cold unit of work, then warm units for at
least ``--seconds`` and at least the workload's fixed count, closed
loop, one client, on ``local[<cores>]``), checks every output against an
independent DuckDB rendering and prints one JSON line: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. Everything it writes goes
under ``.perfbench_work/`` in the current directory; spans of traced
runs stay in ``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import stub  # noqa: E402
from worker import state_digest  # noqa: E402

# A run gives up (exit 2, no result) this long after it started.
RUN_TIMEOUT_S = 140

# Mangled name of a generated group is pre-seeded: the overwrite path.
_STALE = {"name": "stale_group", "networks": ["192.0.2.0/24"],
          "enable_ban": True, "ban_for_pps": True, "threshold_pps": 5}
_GLOBAL = {"name": "global", "description": "exempt from removal"}

JOB_WORKLOADS = {
    # many networks: the broadcast nested-loop join costs rows x networks
    # and the sink makes ~10 REST calls per generated group
    "job_wide": {
        "warm_units": 4,
        "rows": 300_000,
        "networks": 256,
        "config": {
            "aggregation_function": "max",
            "generate_incoming_packet_threshold": True,
            "incoming_packet_expression": "value > 1000 ? value * 1.5 : 2000",
            "generate_incoming_bit_threshold": True,
            "incoming_bit_expression": "value * 3",
            "generate_incoming_flow_threshold": True,
            "incoming_flow_expression": "value + 200",
        },
        "sql": {
            "pps_sql": "CASE WHEN {v} > 1000 THEN {v} * 1.5 ELSE 2000 END",
            "mbps_sql": "{v} * 3",
            "flows_sql": "{v} + 200",
        },
    },
    # few networks, large table: scan, IP parsing, the window filter and
    # the 27-aggregate hash aggregate carry the job
    "job_deep": {
        "warm_units": 5,
        "rows": 1_000_000,
        "networks": 32,
        "config": {
            "aggregation_function": "avg",
            "generate_incoming_packet_threshold": True,
            "incoming_packet_expression": "value",
            "generate_incoming_bit_threshold": True,
            "incoming_bit_expression": "value",
            "generate_incoming_flow_threshold": True,
            "incoming_flow_expression": "value",
        },
        "sql": {"pps_sql": "{v}", "mbps_sql": "{v}", "flows_sql": "{v}"},
    },
}

STAR_SF = 0.05
MIX_WARM_PASSES = 3
STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")
# Family-stratified sample of the registry, fixed so every seed times
# the same queries (the seed changes the data). Drawn once: each family
# group's names (metrics.family) sorted and shuffled with
# random.Random(0), then taken in that order, keeping only queries that
# take at most 1 s warm at sf0.05 on 4 cores (1.5 s for streaming, whose
# micro-batch lifecycle alone exceeds 1 s) and whose DuckDB oracle takes
# at most 1 s; these limits keep a cold pass, three warm passes and the
# oracle check inside one run's budget. One query from each group, and
# from ch_sql and kernels a second one: the first whose physical plan
# runs a Python kernel (MapInPandas, or ArrowEvalPython for a
# pandas_udf), else the next one. No ch_sql query qualifies for that:
# only ch_sql_hash_combine_chains and ch_sql_numeric_hashes reach the
# functions.hash_np pandas_udf, and they take 2.1-3.3 s warm with oracles
# of 9.5 s and 2.1 s. Every query drawn has an oracle, and none was
# passed over for failing it. The baseline_* queries are left out: the
# job workloads measure that path, and here the range join should be
# absent.
QUERY_MIX = (
    "ch_sql_any_join",
    "ch_sql_round6i_functions",
    "text_token_entropy",
    "multimodal_bmp_decode",  # mapInPandas in operators.multimodal
    "rollup_totals_by_region_nation",
    "streaming_dedup_keys",
    "sample_stratified_by_lang",
)


def _fail(msg: str) -> None:
    _log(msg)
    sys.exit(2)


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Run:
    def __init__(self, args: argparse.Namespace, root: str) -> None:
        self.args = args
        self.root = root
        self.base = os.path.join(root, ".perfbench_work")
        self.work = os.path.join(
            self.base, f"{args.workload}-seed{args.seed}-{os.getpid()}"
        )
        self.procs: list[subprocess.Popen] = []
        self.t_start = time.time()

    def _spec(self) -> dict:
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "spark-local"),
                  os.path.join(self.base, "spans")):
            os.makedirs(d, exist_ok=True)
        return {
            "workload": self.args.workload,
            "root": self.root,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "cpus": len(os.sched_getaffinity(0)),
            "tmp": tmp,
            "warehouse": os.path.join(self.work, "warehouse"),
            "spans_path": os.path.join(
                self.base, "spans",
                f"{self.args.workload}-seed{self.args.seed}.jsonl"),
        }

    def _start_stub(self) -> int:
        port_file = os.path.join(self.work, "stub.port")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "stub.py"), port_file],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            start_new_session=True,
        )
        self.procs.append(proc)
        deadline = time.monotonic() + 30
        while not os.path.exists(port_file):
            if proc.poll() is not None or time.monotonic() > deadline:
                _fail("the API stub did not start")
            time.sleep(0.02)
        with open(port_file) as f:
            return int(f.read())

    def _worker(self, spec: dict) -> dict:
        spec_path = os.path.join(self.work, "spec.json")
        out_path = os.path.join(self.work, "worker.json")
        log_path = os.path.join(self.work, "worker.log")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        tmp = os.path.join(self.work, "tmp")
        env = dict(os.environ)
        env.update({
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_DRIVER_MEM": "1g",
            # keeps every JVM's temporary files (hsperfdata, java.io.tmpdir)
            # inside the work directory
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        })
        with open(log_path, "w") as log:
            t0 = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"),
                 spec_path, repr(t0), out_path],
                cwd=self.work, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            self.procs.append(proc)
            try:
                proc.wait(timeout=max(self.t_start + RUN_TIMEOUT_S - time.time(), 1))
            except subprocess.TimeoutExpired:
                _log("the Spark worker did not finish in time")
            t1 = time.time()
            _end_group(proc)
            _log(f"the Spark worker ran {t1 - t0:.1f} s; its processes "
                 f"took {time.time() - t1:.1f} s more to end")
        if proc.returncode != 0 or not os.path.exists(out_path):
            with open(log_path) as f:
                tail = f.read()[-3000:]
            _fail(f"the Spark worker exited with {proc.returncode}:\n{tail}")
        with open(out_path) as f:
            out = json.load(f)
        _log(f"the Spark worker took {time.time() - t0:.1f} s")
        return out

    def job(self) -> tuple[dict, list[str]]:
        w = JOB_WORKLOADS[self.args.workload]
        hm = datagen.host_metrics(
            os.path.join(self.work, "host_metrics"), self.args.seed,
            w["rows"], w["networks"],
        )
        spec = self._spec()
        collide = dict(_STALE, name=hm.active[0].replace(".", "_").replace("/", "_"),
                       networks=["198.51.100.0/24"])
        seed_groups = [dict(oracle.BAN_SETTINGS_DEFAULTS, **g)
                       for g in (_GLOBAL, _STALE, collide)]
        expected = oracle.expected_state(
            os.path.join(hm.path, "*.parquet"), hm.networks, w["config"],
            w["sql"], datagen.NOW_US, seed_groups, spec["tmp"],
        )
        _log(f"inputs and oracle took {time.time() - self.t_start:.1f} s")
        port = self._start_stub()
        stub.control(port, "POST", "seed",
                     {"networks": hm.networks, "hostgroups": seed_groups})
        spec.update(port=port, host_metrics=hm.path, now_us=datagen.NOW_US,
                    config=w["config"], min_warm_units=w["warm_units"])
        out = self._worker(spec)
        digest = state_digest(expected)
        bad = [j for j in out["jobs"] if "error" not in j and j["digest"] != digest]
        out["failed"] += len(bad)
        if bad:
            out["errors"].append(_diff(expected, out["state"]))
        return metrics.job_metrics(out, hm, self.args.trace), _errors(out)

    def mix(self) -> tuple[dict, list[str]]:
        star = os.path.join(self.work, "star")
        datagen.star_schema(star, self.args.seed, STAR_SF)
        _log(f"inputs took {time.time() - self.t_start:.1f} s")
        spec = self._spec()
        spec.update(star=star, tables=list(STAR_TABLES), queries=list(QUERY_MIX),
                    min_warm_units=MIX_WARM_PASSES)
        out = self._worker(spec)
        return metrics.mix_metrics(out, self.args.trace), _errors(out)

    def close(self) -> None:
        for proc in self.procs:
            _end_group(proc)
        shutil.rmtree(self.work, ignore_errors=True)


def _group_alive(pgid: int) -> bool:
    """True while a process other than a zombie is in group ``pgid``."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, _ppid, pgrp = stat[stat.rindex(")") + 2:].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _end_group(proc: subprocess.Popen) -> None:
    """Stop ``proc`` and everything in its process group (a worker's JVM
    and Python daemons), and wait until they have all exited."""
    if proc.poll() is None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM exits by itself once its parent's pipe closes
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            if not _group_alive(proc.pid):
                return
            time.sleep(0.05)


def _errors(out: dict) -> list[str]:
    return out["errors"] + [f"{name}: result differs from its DuckDB oracle"
                            for name in out.get("mismatched", [])]


def _diff(expected: list[dict], got: list[dict]) -> str:
    want = {g["name"]: g for g in expected}
    have = {g["name"]: g for g in got}
    for name in sorted(set(want) | set(have)):
        if want.get(name) != have.get(name):
            return f"host group {name}: expected {want.get(name)}, published {have.get(name)}"
    return "host groups differ"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*JOB_WORKLOADS, "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "baseline_magician_spark", "job.py")):
        _fail(f"no baseline_magician_spark package under {root}; "
              "run from the repository root")
    run = Run(args, root)
    try:
        os.makedirs(run.work, exist_ok=True)
        result, errors = run.mix() if args.workload == "query_mix" else run.job()
    finally:
        run.close()
    for e in errors[:5]:
        _log(e)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
