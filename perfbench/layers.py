"""Per-layer metrics of a traced run (``--trace 1``).

Layer names are the repository's modules. "Per pass" figures are totals over
the traced passes divided by their number; "per call" figures are medians
over the traced calls of one verb. Layers a workload does not exercise
report 0.
"""

from __future__ import annotations

import statistics

from perfbench.trace import covered, parse_event_log, self_times

VERBS = {
    "dedup": ["save", "append", "delete", "compact", "probe"],
    "indexstore": ["build", "probe"],
    "sessionize": ["incremental", "delete"],
    "graph": ["pagerank"],
}
# a job's event-log submit/complete times may lie this far outside its
# op's span (JVM and Python clocks, both in milliseconds or finer)
CLOCK_SLACK_S = 0.01
PROV_READS = ["task_dag", "element_graph", "transitive_lineage"]
SPARK_EVENT_METRICS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name with its unit (BENCHMARK.json order)."""
    names = {
        "sources.load_s": "s", "sources.load_jobs": "count",
        "queries.build_s": "s", "queries.build_jobs": "count",
        "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
        "catalyst.planning_s": "s",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.sched_gap_s": "s",
    }
    names.update({f"spark.{k}": u for k, u in SPARK_EVENT_METRICS.items()})
    for layer, verbs in VERBS.items():
        for v in verbs:
            names[f"{layer}.{v}_s"] = "s"
            names[f"{layer}.{v}_jobs"] = "count"
    names.update({
        "dedup.index_bytes": "B",
        "wrapper.calls": "count", "wrapper.call_s": "s",
        "prov_store.flush_s": "s", "prov_store.flush_jobs": "count",
        "prov_store.bytes": "B",
    })
    for r in PROV_READS:
        names[f"prov_queries.{r}_s"] = "s"
    names.update({
        "prov_queries.transitive_lineage_jobs": "count",
        "blackbox.stage_s": "s", "blackbox.jobs": "count",
        "artifacts.commit_s": "s", "artifacts.bytes": "B",
        "prov.task_overhead": "ratio", "prov.element_overhead": "ratio",
        "prov.bytes_per_element": "B", "prov.lineage_p50_s": "s",
        "store.bytes_per_row": "B", "run.fail_ratio": "ratio",
        "run.wall_s": "s", "ops.geomean_s": "s",
        "ops.p50_s": "s", "ops.p90_s": "s",
        "host.cpu_s": "s", "host.steal_s": "s", "host.cores_busy": "cores",
        "jvm.cpu_s": "s", "jvm.jit_s": "s",
        "jvm.rss_peak_mb": "MB", "jvm.heap_live_mb": "MB",
        "trace.overhead_s": "s", "trace.reconcile_err": "ratio",
        "trace.job_mismatch": "count",
    })
    return names


def layer_metrics(spans, runner, family, log_dir, untraced_walls, traced_walls,
                  host_meters, tolerance: tuple[float, float]) -> tuple[dict, list]:
    """The per-layer metrics, and the traced ops that fail a reconciliation:

    - the op's wall time as the runner measured it must equal the time its
      layer spans (the op span's children) cover, within ``tolerance`` =
      (share of the op's wall, seconds); the rest is time no layer span
      covers;
    - the jobs ``statusTracker`` attributed to each span must be the jobs
      the event log records under that span's job group, and each must lie
      inside its op's span.
    """
    values = dict.fromkeys(per_layer_names(), 0.0)
    problems = []
    n_pass = max(1, len(traced_walls))
    selfs = self_times(spans)
    children: dict[str, list[dict]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def subtree(span):
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], []))
        return out

    def per_pass(name, field):
        return sum(
            (s["end"] - s["start"]) if field == "wall" else
            selfs[s["id"]] if field == "self" else s[field]
            for s in spans if s["name"] == name
        ) / n_pass

    values["sources.load_s"] = per_pass("sources.load", "wall")
    values["sources.load_jobs"] = per_pass("sources.load", "jobs")
    values["queries.build_s"] = per_pass("queries.build", "self")
    values["queries.build_jobs"] = per_pass("queries.build", "jobs")
    for phase in ("analysis", "optimization", "planning"):
        values[f"catalyst.{phase}_s"] = sum(
            p[phase] for p in runner.catalyst_phases
        ) / n_pass
    for k in ("jobs", "stages", "tasks"):
        values[f"spark.{k}"] = sum(s[k] for s in spans) / n_pass

    stages, jobs = parse_event_log(log_dir)
    jobs_of_group: dict[str, list[dict]] = {}
    for job in jobs.values():
        jobs_of_group.setdefault(job["group"], []).append(job)
    roots = [s for s in spans if s["parent"] is None]
    gap = 0.0
    worst = 0.0
    mismatched = 0
    slack_share, slack_s = tolerance
    by_op: dict[str, list[dict]] = {}
    for root in roots:
        tree = subtree(root)
        ids = {s["id"] for s in tree}
        # one op runs at a time, so a stage without a job group (started
        # from a thread the op spawned) belongs to the op it started in
        own = [
            st for st in stages
            if st["group"] in ids or (
                st["group"] is None and root["start"] <= st["start"] < root["end"]
            )
        ]
        wall = root["end"] - root["start"]
        gap += wall - covered(
            [(st["start"], st["end"]) for st in own], root["start"], root["end"]
        )
        for st in own:
            for k, v in st["metrics"].items():
                values[f"spark.{k}"] += v / n_pass
        took = runner.op_wall.get(root["op"])
        if took:
            layers = sum(
                s["end"] - s["start"] for s in children.get(root["id"], [])
            )
            miss = abs(took - layers) / (slack_share * took + slack_s)
            worst = max(worst, miss)
            if miss > 1:
                problems.append(
                    f"{root['op']}: wall {took:.3f} s, layer spans {layers:.3f} s"
                )
        for s in tree:
            logged = jobs_of_group.get(s["id"], [])
            outside = [
                j for j in logged
                if j["start"] < root["start"] - CLOCK_SLACK_S
                or j.get("end", root["end"]) > root["end"] + CLOCK_SLACK_S
            ]
            if len(logged) != s["jobs"] or outside:
                mismatched += 1
                problems.append(
                    f"{root['op']}/{s['name']}: statusTracker {s['jobs']} jobs, "
                    f"event log {len(logged)}, {len(outside)} outside the op"
                )
        by_op.setdefault(root["name"], []).append(
            {"wall": wall, "jobs": sum(s["jobs"] for s in tree)}
        )
    values["spark.sched_gap_s"] = gap / n_pass
    values["trace.reconcile_err"] = worst
    values["trace.job_mismatch"] = mismatched

    for layer, verbs in VERBS.items():
        for v in verbs:
            calls = by_op.get(f"{layer}.{v}", [])
            values[f"{layer}.{v}_s"] = _median([c["wall"] for c in calls])
            values[f"{layer}.{v}_jobs"] = _median([c["jobs"] for c in calls])
    for r in PROV_READS:
        values[f"prov_queries.{r}_s"] = _median(
            [c["wall"] for c in by_op.get(f"prov_queries.{r}", [])]
        )
    values["prov_queries.transitive_lineage_jobs"] = _median(
        [c["jobs"] for c in by_op.get("prov_queries.transitive_lineage", [])]
    )
    values["wrapper.calls"] = sum(
        1 for s in spans if s["name"] == "wrapper.call"
    ) / n_pass
    values["wrapper.call_s"] = per_pass("wrapper.call", "self")
    values["prov_store.flush_s"] = per_pass("prov_store.flush", "wall")
    values["prov_store.flush_jobs"] = per_pass("prov_store.flush", "jobs")
    values["blackbox.stage_s"] = per_pass("blackbox.stage", "wall")
    values["blackbox.jobs"] = per_pass("blackbox.stage", "jobs")
    values["artifacts.commit_s"] = per_pass("artifacts.commit", "wall")
    values.update({k: v for k, (v, _unit) in family.items()})
    values.update(host_meters)
    values["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)
    units = per_layer_names()
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return metrics, problems
