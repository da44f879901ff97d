"""Turn worker outputs into the benchmark's result line.

End-to-end metrics (``--trace 0``), one name for every workload. A
"unit of work" is one job on the job workloads and one pass over the
query mix on ``query_mix``:

- ``setup_s``: process start to a ready session with the registry
  loaded;
- ``job_cold_s``: the first unit of work in a fresh process (the first
  job, or the cold pass over the mix);
- ``job_s.p50``: median warm unit of work;
- ``rows_per_s``: windowed fact rows (jobs) or input rows read by the
  mix (``query_mix``) per second of median warm unit time;
- ``query_s.p50``, ``query_s.p90``: Spark query latency, build plus
  materialize: each registry query of the mix, or the job's host-group
  query (``networks_dataframe`` up to the end of ``hostgroup_rows``);
- ``ok_frac``: share of attempted operations that raised nothing and
  matched the oracle;
- ``peak_rss_mb``: VmHWM of the measuring driver process plus its JVM.

Per-layer metrics (``--trace 1``) are medians over the traced units of
work; layers a workload does not run read 0.
"""

from __future__ import annotations

import statistics

FAMILIES = ("ch_sql", "kernels", "tpch", "streaming")
_KERNEL_PREFIXES = ("similarity_", "dedup_", "text_", "pipeline_",
                    "multimodal_", "rag_")


def family(name: str, module: str = "") -> str:
    if name.startswith("ch_sql_"):
        return "ch_sql"
    if name.startswith(_KERNEL_PREFIXES):
        return "kernels"
    if name.startswith("streaming_"):
        return "streaming"
    if module.endswith((".tpch", ".tpch_ext", ".relational")):
        return "tpch"
    return "other"


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def _result(out: dict, metrics: dict[str, tuple[float, str]]) -> dict:
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def _e2e(out, cold_s, warm_s, rows, query_s) -> dict[str, tuple[float, str]]:
    warm = _median(warm_s)
    return {
        "setup_s": (out["setup_s"], "s"),
        "job_cold_s": (cold_s, "s"),
        "job_s.p50": (warm, "s"),
        "rows_per_s": (rows / warm if warm else 0.0, "1/s"),
        "query_s.p50": (_median(query_s), "s"),
        "query_s.p90": (_p90(query_s), "s"),
        "ok_frac": (1.0 - out["failed"] / max(out["attempted"], 1), "ratio"),
        "peak_rss_mb": (out["peak_rss_mb"], "MB"),
    }


def _per_layer_zero() -> dict[str, float]:
    names = [
        "session.start_s", "sources.networks_s", "sources.networks_kept",
        "sources.networks_skipped", "expr.compile_s", "plans.baseline.build_s",
        "plans.baseline.py4j_trips", "exec.collect_s", "exec.jobs",
        "exec.stages", "exec.tasks", "exec.cpu_s", "exec.run_s",
        "exec.input_bytes", "exec.shuffle_bytes", "exec.spill_bytes",
        "range_join.rows_in", "range_join.rows_matched", "range_join.networks",
        "sink.publish_s", "sink.calls.put", "sink.calls.delete",
        "sink.calls.get", "sink.calls_failed", "sink.connections",
        "sink.ms_per_call", "trace.overhead_s",
    ]
    for fam in ("query", *FAMILIES):
        names += [f"{fam}.build_s", f"{fam}.exec_s", f"{fam}.py4j_trips",
                  f"{fam}.tasks", f"{fam}.jobs"]
    return dict.fromkeys(names, 0.0)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("ms_per_call"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return "count"


def _layers(samples: list[dict[str, float]], session_s: float,
            overhead_s: float) -> dict[str, tuple[float, str]]:
    out = _per_layer_zero()
    for name in out:
        vals = [s[name] for s in samples if name in s]
        if vals:
            out[name] = _median(vals)
    out["session.start_s"] = session_s
    out["trace.overhead_s"] = overhead_s
    return {k: (v, _unit(k)) for k, v in out.items()}


def _exec(stages: dict) -> dict[str, float]:
    return {f"exec.{k}": stages[k] for k in
            ("jobs", "stages", "tasks", "cpu_s", "run_s", "input_bytes",
             "shuffle_bytes", "spill_bytes")}


def _job_layers(job: dict, networks: int) -> dict[str, float]:
    sp = job["spans"]

    def s(name):
        return sp.get(name, {}).get("s", 0.0)

    def trips(name):
        return sp.get(name, {}).get("py4j_trips", 0)

    # pre-order: the join, then its stream side (the window filter over
    # the scan), then its broadcast side (the parsed networks)
    rows = job["plan_rows"]
    names = [name for name, _ in rows]
    j = next((i for i, name in enumerate(names) if "Join" in name), None)
    matched = rows[j][1] if j is not None else 0
    windowed = next((n for name, n in rows[j + 1:] if name == "Filter"), 0) if j is not None else 0
    kept = next((n for name, n in rows if name == "BroadcastExchange"), 0)
    stub = job["stub"]
    calls = stub["calls"]
    publish = s("sink.publish")
    build_trips = (trips("sources.networks_dataframe")
                   + trips("expr.compile_channel_expressions")
                   + trips("plans.baseline.generate_hostgroups"))
    return {
        "sources.networks_s": s("sources.resolve_networks") + s("sources.networks_dataframe"),
        "sources.networks_kept": kept,
        "sources.networks_skipped": networks - kept,
        "expr.compile_s": s("expr.compile_channel_expressions") + s("expr.compile_column"),
        "plans.baseline.build_s": s("plans.baseline.generate_hostgroups"),
        "plans.baseline.py4j_trips": trips("plans.baseline.generate_hostgroups"),
        "exec.collect_s": s("exec.collect"),
        **_exec(job["stages"]),
        "range_join.rows_in": windowed,
        "range_join.rows_matched": matched,
        "range_join.networks": kept,
        "sink.publish_s": publish,
        "sink.calls.put": calls.get("PUT", 0),
        "sink.calls.delete": calls.get("DELETE", 0),
        "sink.calls.get": calls.get("GET", 0),
        "sink.calls_failed": stub["failed"],
        "sink.connections": stub["connections"],
        "sink.ms_per_call": 1000 * publish / max(calls.get("PUT", 0) + calls.get("DELETE", 0), 1),
        "query.build_s": job["query_build_s"],
        "query.exec_s": job["query_exec_s"],
        "query.py4j_trips": build_trips,
        "query.tasks": job["stages"]["tasks"],
        "query.jobs": job["stages"]["jobs"],
    }


def job_metrics(out: dict, hm, trace: int) -> dict:
    jobs = out["jobs"]
    warm = [j for j in jobs[1:] if "error" not in j]
    cold = [jobs[0]["job_s"]] if "error" not in jobs[0] else []
    if not trace:
        return _result(out, _e2e(
            out, _median(cold), [j["job_s"] for j in warm], hm.rows_in_window,
            [j["query_s"] for j in warm],
        ))
    # jobs[1] is the traced run's extra warm-up unit
    traced = [j for j in warm if j["traced"]]
    plain = [j for j in jobs[2:] if "error" not in j and not j["traced"]]
    overhead = _median(j["job_s"] for j in traced) - _median(j["job_s"] for j in plain)
    samples = [_job_layers(j, len(hm.networks)) for j in traced]
    return _result(out, _layers(samples, out["session_s"], overhead))


def _pass_layers(p: dict) -> dict[str, float]:
    out: dict[str, float] = {}

    def add(k, v):
        out[k] = out.get(k, 0.0) + v

    for q in p["queries"]:
        if "error" in q:
            continue
        st = q["stages"]
        trips = q["spans"].get("query.build", {}).get("py4j_trips", 0)
        for fam in ("query", family(q["name"], q.get("module", ""))):
            add(f"{fam}.build_s", q["build_s"])
            add(f"{fam}.exec_s", q["exec_s"])
            add(f"{fam}.py4j_trips", trips)
            add(f"{fam}.tasks", st["tasks"])
            add(f"{fam}.jobs", st["jobs"])
        for k, v in _exec(st).items():
            add(k, v)
        add("exec.collect_s", q["exec_s"])
    return out


def mix_metrics(out: dict, trace: int) -> dict:
    passes = out["passes"]
    plain = [p for p in passes if not p["traced"]]
    if not trace:
        query_s = [q["s"] for p in plain for q in p["queries"] if "error" not in q]
        rows = _median(p["input_records"] for p in plain)
        return _result(out, _e2e(
            out, out["cold_pass"]["s"], [p["s"] for p in plain], rows, query_s,
        ))
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes[1:] if not p["traced"]]  # passes[0]: warm-up
    overhead = _median(p["s"] for p in traced) - _median(p["s"] for p in plain)
    samples = [_pass_layers(p) for p in traced]
    return _result(out, _layers(samples, out["session_s"], overhead))
