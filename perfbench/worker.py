"""One Spark process of a benchmark run.

``run.py`` starts this module once per run (``python3
perfbench/worker.py <spec.json> <t0> <out.json>``). It sets up (session
plus query registry), runs the first (cold) unit of work, then measures
warm units, closed loop, one client.

``t0`` is the wall-clock time the parent took just before starting the
process, so ``setup_s`` spans interpreter start, imports, JVM launch,
the session and loading the query registry.

With ``trace`` set in the spec, the main worker runs warm units
untraced, traced, traced, untraced, ... and reports per-layer numbers
from the traced ones, plus the difference between the two kinds (the
tracing overhead).
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys
import time

import stub
import tracing


def state_digest(hostgroups: list[dict]) -> str:
    text = json.dumps(sorted(hostgroups, key=lambda g: g["name"]), sort_keys=True)
    return hashlib.sha256(text.encode()).hexdigest()


def peak_rss_mb() -> float:
    """VmHWM of this process plus every ``java`` process below it."""
    me = os.getpid()
    parents: dict[int, int] = {}
    comms: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2:].split()
        parents[int(entry)] = int(rest[1])
        comms[int(entry)] = stat[stat.index("(") + 1:stat.rindex(")")]

    def below_me(pid: int) -> bool:
        while pid > 1:
            pid = parents.get(pid, 0)
            if pid == me:
                return True
        return False

    pids = [me] + [p for p in parents if comms[p] == "java" and below_me(p)]
    kib = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
        except OSError:
            continue
    return kib / 1024.0


class Worker:
    def __init__(self, spec: dict, t0: float) -> None:
        self.spec = spec
        self.t0 = t0
        self.tracing = bool(spec["trace"])
        # warm units a run makes at least. Each outlasts the run's seconds
        # on 4 cores, so every run makes the same number and its medians
        # compare across runs; traced runs need two of each kind
        self.min_units = 5 if self.tracing else spec["min_warm_units"]
        self.out: dict = {"attempted": 0, "failed": 0, "errors": []}

    def _traced(self, n: int) -> bool:
        # after one more warm-up unit: untraced, traced, traced,
        # untraced, so warm-up drift cancels out of the overhead
        return self.tracing and n % 4 in (2, 3)

    def _start(self, traced: bool, trace_id: str) -> int:
        """Open a unit of work; returns the id its first Spark job gets."""
        self.tracer.active = traced
        self.tracer.trace_id = trace_id
        return tracing.next_job_id(self.spark) if traced else 0

    def _stages(self, first_job: int) -> dict[str, float]:
        return tracing.stage_counters(
            self.spark, first_job, tracing.next_job_id(self.spark))

    def _failed(self, what: str, e: Exception) -> None:
        self.out["failed"] += 1
        self.out["errors"].append(f"{what}: {type(e).__name__}: {e}"[:500])

    # -- set-up ------------------------------------------------------------

    def setup(self) -> None:
        self.py4j = tracing.Py4jCounter() if self.tracing else None
        if self.py4j:
            self.py4j.install()
        self.tracer = tracing.Tracer(self.py4j)
        t = time.perf_counter()
        from baseline_magician_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.spec['workload']}",
            cpus=self.spec["cpus"],
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": self.spec["warehouse"],
            },
        )
        self.out["session_s"] = time.perf_counter() - t
        from baseline_magician_spark.registry import get_queries

        self.queries = get_queries()
        self.out["setup_s"] = time.time() - self.t0

    # -- job workloads -----------------------------------------------------

    def _wrap(self, owner, attr: str, name: str) -> None:
        """Time every call the program makes to ``owner.attr``; inside a
        traced unit the call is also a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def call(*args, **kwargs):
            start = time.perf_counter()
            try:
                with self.tracer.span(name):
                    result = original(*args, **kwargs)
            finally:
                self._calls[name] = (start, time.perf_counter())
            self._returns[name] = result
            return result

        setattr(owner, attr, call)

    def _install_job_wrappers(self) -> None:
        from baseline_magician_spark import expr, job
        from baseline_magician_spark.sinks import hostgroups

        self._calls: dict[str, tuple[float, float]] = {}
        self._returns: dict[str, object] = {}
        for owner, attr, name in (
            (job, "resolve_networks", "sources.resolve_networks"),
            (job, "networks_dataframe", "sources.networks_dataframe"),
            (job, "compile_channel_expressions", "expr.compile_channel_expressions"),
            (expr, "compile_column", "expr.compile_column"),
            (job, "generate_hostgroups", "plans.baseline.generate_hostgroups"),
            (job, "hostgroup_rows", "exec.collect"),
            (hostgroups.HostgroupSink, "publish", "sink.publish"),
        ):
            self._wrap(owner, attr, name)

    def _run_job(self, traced: bool) -> None:
        from pyspark.sql import functions as F

        from baseline_magician_spark.config import BaselineConfig
        from baseline_magician_spark.job import run_baseline_job

        spec = self.spec
        stub.control(spec["port"], "POST", "reset")
        config = BaselineConfig.from_json(json.dumps(spec["config"]))
        config.api_port = spec["port"]
        jobs = self.out.setdefault("jobs", [])
        rec: dict = {"traced": traced}
        self._calls.clear()
        self.out["attempted"] += 1
        first_job = self._start(traced, f"job-{len(jobs)}")
        t = time.perf_counter()
        try:
            metrics = self.spark.read.parquet(spec["host_metrics"])
            run_baseline_job(
                self.spark, config, metrics,
                now=F.timestamp_micros(F.lit(spec["now_us"])),
            )
            rec["job_s"] = time.perf_counter() - t
        except Exception as e:  # noqa: BLE001 - a failed job is counted
            self._failed("job", e)
            rec["error"] = True
        self.tracer.active = False
        state = stub.control(spec["port"], "GET", "state")
        rec["digest"] = state_digest(state["hostgroups"])
        self.out.setdefault("state", state["hostgroups"])
        jobs.append(rec)
        if "error" in rec:
            return
        # the job's Spark query: networks_dataframe up to the collect
        (q0, _), (c0, c1) = self._calls["sources.networks_dataframe"], self._calls["exec.collect"]
        rec.update(query_s=c1 - q0, query_build_s=c0 - q0, query_exec_s=c1 - c0)
        if traced:
            rec["stub"] = {k: state[k] for k in ("calls", "failed", "connections")}
            rec["spans"] = self.tracer.totals(self.tracer.trace_id)
            rec["stages"] = self._stages(first_job)
            rec["plan_rows"] = tracing.plan_rows(
                self._returns["plans.baseline.generate_hostgroups"])

    def run_jobs(self) -> None:
        self._install_job_wrappers()
        self._run_job(traced=False)  # the cold job
        end = time.perf_counter() + self.spec["seconds"]
        n = 0
        while time.perf_counter() < end or n < self.min_units:
            self._run_job(traced=self._traced(n))
            n += 1

    # -- query mix ---------------------------------------------------------

    def _run_query(self, name: str, collect: bool, traced: bool, pass_id: str) -> dict:
        from bench import _materialize

        fn = self.queries[name]
        rec: dict = {"name": name, "module": fn.__module__}
        self.out["attempted"] += 1
        first_job = self._start(traced, f"{pass_id}-{name}")
        try:
            t = time.perf_counter()
            with self.tracer.span("query.build"):
                df = fn(self.spark, self.spec["star"])
            t1 = time.perf_counter()
            with self.tracer.span("query.exec"):
                if collect:
                    rec["result"] = df.toPandas()
                else:
                    _materialize(df)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t, exec_s=t2 - t1, s=t2 - t)
        except Exception as e:  # noqa: BLE001 - a failed query is counted
            self._failed(name, e)
            rec["error"] = True
        self.tracer.active = False
        if traced and "error" not in rec:
            rec["spans"] = self.tracer.totals(self.tracer.trace_id)
            rec["stages"] = self._stages(first_job)
        return rec

    def _pass(self, pass_id: str, collect: bool, traced: bool) -> dict:
        first_job = tracing.next_job_id(self.spark)
        t = time.perf_counter()
        recs = [self._run_query(n, collect, traced, pass_id)
                for n in self.spec["queries"]]
        out = {"s": time.perf_counter() - t, "traced": traced, "queries": recs}
        if not traced:
            out["input_records"] = self._stages(first_job)["input_records"]
        return out

    def run_mix(self) -> None:
        cold = self._pass("cold", collect=True, traced=False)
        self.out["cold_pass"] = cold
        end = time.perf_counter() + self.spec["seconds"]
        passes = self.out["passes"] = []
        while time.perf_counter() < end or len(passes) < self.min_units:
            n = len(passes)
            passes.append(self._pass(f"p{n}", collect=False, traced=self._traced(n)))
        self._check_mix(cold)

    def _check_mix(self, cold: dict) -> None:
        """Compare the cold pass's results with the DuckDB oracles on the
        same parquet files (outside every timed region), in the canonical
        form of the repository's oracle-parity test: columns by name, rows
        sorted, cells rendered dtype-sensitively."""
        import duckdb

        from baseline_magician_spark.registry import get_oracles

        sys.path.insert(0, os.path.join(self.spec["root"], "tests"))
        from test_oracle_parity import canonical

        oracles = get_oracles()
        con = duckdb.connect()
        con.execute(f"SET temp_directory='{self.spec['tmp']}'")
        for t in self.spec["tables"]:
            path = os.path.join(self.spec["star"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        mismatched = []
        for rec in cold["queries"]:
            result = rec.pop("result", None)
            if result is None or rec["name"] not in oracles:
                continue
            try:
                same = canonical(result) == canonical(con.execute(oracles[rec["name"]]).df())
            except TypeError:  # a list-valued cell, as in the parity test
                same = False
            if not same:
                mismatched.append(rec["name"])
        con.close()
        self.out["failed"] += len(mismatched)
        self.out["mismatched"] = mismatched

    # -- driver ------------------------------------------------------------

    def run(self) -> dict:
        self.setup()
        if self.spec["workload"] == "query_mix":
            self.run_mix()
        else:
            self.run_jobs()
        self.out["peak_rss_mb"] = peak_rss_mb()
        if self.tracing:
            self.tracer.write(self.spec["spans_path"])
        self.spark.stop()
        return self.out


def main(argv: list[str]) -> int:
    spec_path, t0, out_path = argv[1], float(argv[2]), argv[3]
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["root"])
    out = Worker(spec, t0).run()
    with open(out_path, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
