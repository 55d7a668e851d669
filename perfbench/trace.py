"""Derives the per-layer numbers of a traced run from the harness's raw
record: the spans it took around each call into the program, and the jobs,
stages, task times and Catalyst phases that Spark's listeners reported
during the traced passes.

Layers nest as operation > build/action > Spark job > stage. A layer's self
time is its span's wall time minus the part its children cover.
"""
import statistics

MB = 1048576.0


def graft_package(site):
    """The graft package a job's call site belongs to. `site` holds the
    call-site frames innermost first, as Spark records them (Spark's own
    frames already skipped). The innermost graft frame decides: a class in
    a subpackage gives that subpackage (`graft.dq.Checks$.keyRates(..)` is
    `dq`), a class of the root package (the query registry) gives
    `queries`. A site whose first user frame is the harness is `bench`;
    anything else (Spark's own threads) is `spark`."""
    for frame in site:
        frame = frame.strip()
        if frame.startswith("graft."):
            parts = frame.split("(")[0].split(".")
            return parts[1] if len(parts) > 3 and parts[1][:1].islower() \
                else "queries"
        if frame.startswith("perfbench."):
            return "bench"
    return "spark"


def union(intervals):
    """Merges [start, end) intervals into a sorted disjoint list."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def covered_ms(merged, windows):
    """Milliseconds of `windows` that the merged intervals cover."""
    total = 0
    for ws, we in windows:
        for s, e in merged:
            total += max(0, min(e, we) - max(s, ws))
    return total


def clip(merged, windows):
    """The parts of the merged intervals that fall inside `windows`."""
    return union([(max(s, ws), min(e, we)) for ws, we in windows
                  for s, e in merged])


def pass_layers(p, spans, slots):
    """Layer numbers of one traced pass. Spark's job and stage intervals
    come from its listeners and are taken within the pass's wall-clock
    window; the harness's spans only split that time by who started it."""
    t = p["trace"]
    window = [(p["start_ms"], p["end_ms"])]
    mine = [s for s in spans if s["pass"] == p["index"]]
    builds = [(s["start_ms"], s["end_ms"]) for s in mine if s["kind"] == "build"]
    actions = [(s["start_ms"], s["end_ms"]) for s in mine
               if s["kind"] == "action"]
    build_s = sum(s["seconds"] for s in mine if s["kind"] == "build")
    action_s = sum(s["seconds"] for s in mine if s["kind"] == "action")
    stages = t["stages"]
    jobs = t["jobs"]
    job_u = clip(union([(j["start_ms"], j["end_ms"]) for j in jobs]), window)
    stage_u = union([(s["start_ms"], s["end_ms"]) for s in stages])
    job_s = covered_ms(job_u, window) / 1e3
    stage_s = covered_ms(stage_u, job_u) / 1e3
    by_pkg = {}
    for j in jobs:
        pkg = graft_package(j["site"])
        n, secs = by_pkg.get(pkg, (0, 0.0))
        by_pkg[pkg] = (n + 1, secs + max(0, j["end_ms"] - j["start_ms"]) / 1e3)
    build_jobs = sum(1 for j in jobs
                     if any(s <= j["start_ms"] <= e for s, e in builds))
    phases = t["phases_ms"]
    catalyst_s = sum(phases.get(k, 0) for k in
                     ("analysis", "optimization", "planning")) / 1e3
    stage_sum = lambda k: sum(s[k] for s in stages)
    op_total = lambda name: sum(s["seconds"] for s in mine
                                if s["kind"] == "op" and s["op"] == name)
    sql_s = sum(s["seconds"] for s in mine if s["kind"] == "op"
                and s["op"] in ("revenue_per_customer",
                                "orders_by_status_month", "avg_ticket"))
    return {
        "pass_s": p["wall_s"],
        "queries.build_s": build_s,
        "queries.build_jobs": build_jobs,
        "queries.self_s": build_s - covered_ms(job_u, builds) / 1e3,
        "catalyst.analysis_s": phases.get("analysis", 0) / 1e3,
        "catalyst.optimization_s": phases.get("optimization", 0) / 1e3,
        "catalyst.planning_s": phases.get("planning", 0) / 1e3,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": t["tasks"],
        "spark.stage_covered_s": stage_s,
        "spark.driver_gap_s": job_s - stage_s,
        "spark.slot_busy": t["task_ms"] / 1e3 / (slots * p["wall_s"]),
        "spark.task_cpu_s": stage_sum("cpu_ns") / 1e9,
        "spark.shuffle_write_mb": stage_sum("shuffle_write_bytes") / MB,
        "spark.spill_mb": stage_sum("spill_bytes") / MB,
        "sources.read_mb": stage_sum("read_bytes") / MB,
        "sources.read_rows": stage_sum("read_rows"),
        "sources.write_mb": stage_sum("write_bytes") / MB,
        "sources.write_rows": stage_sum("write_rows"),
        "sources.write_s": by_pkg.get("sources", (0, 0.0))[1],
        "operators.job_s": by_pkg.get("operators", (0, 0.0))[1],
        "dq.job_s": by_pkg.get("dq", (0, 0.0))[1],
        "dq.jobs": by_pkg.get("dq", (0, 0.0))[0],
        "pipeline.run_s": op_total("pipeline"),
        "sql.query_s": sql_s,
        "accounted_s": job_s + catalyst_s,
        "self.bench_s": p["wall_s"] - build_s - action_s,
        "self.actions_s": action_s - covered_ms(job_u, actions) / 1e3,
        "jobs_by_package": {k: v[0] for k, v in sorted(by_pkg.items())},
    }


STREAM_KEYS = {
    "streaming.add_batch_ms": "addBatch",
    "streaming.query_planning_ms": "queryPlanning",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.commit_offsets_ms": "commitOffsets",
    "streaming.state_commit_ms": "state_commit_ms",
}


def layers(raw, slots):
    """Per-layer metrics of a traced run: the mean of each number over the
    traced passes, plus set-up, GC, streaming progress and overhead."""
    passes = raw["passes"]
    traced = [p for p in passes if p.get("trace")]
    plain = [p for p in passes if not p.get("trace")]
    per = [pass_layers(p, raw["spans"], slots) for p in traced]
    out = {k: statistics.fmean(d[k] for d in per)
           for k in per[0] if k != "jobs_by_package"}
    # self times partition the pass: the harness between calls, build and
    # action time with no job running, jobs with no stage, and stages
    out["self"] = {"bench": out.pop("self.bench_s"),
                   "queries": out["queries.self_s"],
                   "actions": out.pop("self.actions_s"),
                   "jobs": out["spark.driver_gap_s"],
                   "stages": out["spark.stage_covered_s"]}
    trace_pass = statistics.median(p["wall_s"] for p in traced)
    out["trace.pass_s"] = trace_pass
    out["trace.overhead_s"] = trace_pass - statistics.median(
        p["wall_s"] for p in plain)
    # what the listeners alone explain of the pass: time with a Spark job
    # running plus Catalyst's tracked phases; the rest is driver code
    out["trace.accounted_share"] = out.pop("accounted_s") / statistics.fmean(
        p["wall_s"] for p in traced)
    out["engine.session_s"] = raw["session_s"]
    out["jvm.jit_s"] = raw["jit_s"]
    out["jvm.gc_s"] = statistics.median(p["gc_s"] for p in passes)
    warm = [b for b in raw.get("extra", {}).get("progress", [])
            if b["pass"] >= 1]
    for name, key in STREAM_KEYS.items():
        out[name] = statistics.fmean(b.get(key, 0.0) for b in warm) \
            if warm else 0.0
    out["streaming.state_rows"] = warm[-1].get("state_rows", 0) if warm else 0
    out["streaming.state_mb"] = (warm[-1].get("state_bytes", 0) / MB
                                 if warm else 0.0)
    out["jobs_by_package"] = per[0]["jobs_by_package"]
    return out
