#!/usr/bin/env python3
"""The graft benchmark: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program and the harness from source when they are out of date
(`sbt -batch compile` in perfbench/harness, whose build links the root
build), makes the workload's inputs from the seed, and starts the harness
JVM (`perfbench.Main`): it sets up (JVM launch through the end of the cold
first pass), runs warm passes for S seconds, writes the checked outputs and
takes live heap.
Outputs are checked against DuckDB (perfbench/oracle.py). The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
A run with a failed operation prints `"correct": false` and exits with 1.

Everything the run writes stays under perfbench/.work (deleted at the end)
and perfbench/.out (host record, raw record and spans of the last run of
each workload).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402
import trace as tracing  # noqa: E402

WORKLOADS = ("medallion", "stream")
# medallion input size: work orders are 5x and sales 12x the customers
MEDALLION_CUSTOMERS = 2_000
# rows of the seeded orders table the medallion registry queries read
ORDERS_ROWS = 20_000
JVM_TIMEOUT_S = 170
SLOTS = min(os.cpu_count() or 1, 4)  # task slots: local[4] or fewer
SPARK_JARS = os.environ.get("PERFBENCH_SPARK_JARS", "/opt/spark/jars")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]

# per-layer metrics of a traced run: name -> (unit, better)
PER_LAYER = {
    "engine.session_s": ("s", "lower"),
    "jvm.jit_s": ("s", "lower"),
    "jvm.gc_s": ("s", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.self_s": ("s", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.stage_covered_s": ("s", "lower"),
    "spark.driver_gap_s": ("s", "lower"),
    "spark.slot_busy": ("ratio", "higher"),
    "spark.task_cpu_s": ("s", "lower"),
    "spark.shuffle_write_mb": ("MB", "lower"),
    "spark.spill_mb": ("MB", "lower"),
    "sources.read_mb": ("MB", "lower"),
    "sources.read_rows": ("count", "lower"),
    "sources.write_mb": ("MB", "lower"),
    "sources.write_rows": ("count", "lower"),
    "sources.write_s": ("s", "lower"),
    "operators.job_s": ("s", "lower"),
    "dq.job_s": ("s", "lower"),
    "dq.jobs": ("count", "lower"),
    "pipeline.run_s": ("s", "lower"),
    "sql.query_s": ("s", "lower"),
    "streaming.add_batch_ms": ("ms", "lower"),
    "streaming.query_planning_ms": ("ms", "lower"),
    "streaming.wal_commit_ms": ("ms", "lower"),
    "streaming.commit_offsets_ms": ("ms", "lower"),
    "streaming.state_commit_ms": ("ms", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_mb": ("MB", "lower"),
    "trace.pass_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.accounted_share": ("ratio", "higher"),
}

END_TO_END = {
    "setup_s": "s", "pass_s": "s", "op_geomean_s": "s",
    "cpu_s_per_pass": "s", "live_heap_mb": "MB", "batch_p50_s": "s",
    "events_per_s": "events/s",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _sources():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/harness/build.sbt",
            "perfbench/harness/project/*.properties",
            "perfbench/harness/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p),
                                          recursive=True) if os.path.isfile(f))
    return sorted(files)


def build(log):
    """Compiles when any source changed since the last build."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = f"{HERE}/harness/target/perfbench.stamp"
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return digest
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "-batch", "compile"],
                            cwd=f"{HERE}/harness", stdout=out,
                            stderr=subprocess.STDOUT, timeout=880).returncode
    if rc != 0:
        fail(f"build failed, see {log}", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return digest


# ------------------------------------------------------------------- host

def _cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def _mem_total_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def heap_mb():
    """Pinned heap: 4 GB, or a third of physical memory if that is less."""
    return min(4096, _mem_total_mb() // 3)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


# -------------------------------------------------------------------- jvm

def run_jvm(args, work, log):
    """Runs one harness JVM; returns seconds from launch to the set-up
    marker. Kills it if it outlives JVM_TIMEOUT_S."""
    cp = ":".join([f"{HERE}/harness/target/scala-2.13/classes",
                   f"{ROOT}/target/scala-2.13/classes", f"{SPARK_JARS}/*"])
    cmd = (["java", *ADD_OPENS, f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]
           + [str(a) for a in args])
    with open(log, "a") as err:
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=work)
        killer = threading.Timer(JVM_TIMEOUT_S, p.kill)
        killer.start()
        setup = None
        try:
            for line in p.stdout:
                if setup is None and line.strip() == "PERFBENCH_SETUP_DONE":
                    setup = time.perf_counter() - t0
            rc = p.wait()
        finally:
            killer.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or setup is None:
        fail(f"harness JVM exited with {rc}, see {log}", 1)
    return setup


# ---------------------------------------------------------------- metrics

def end_to_end(raw, setup_s, records_per_batch):
    """`records_per_batch` is what one batch operation consumes: events of
    a micro-batch, or the CSV rows of a pipeline run."""
    passes = raw["passes"]
    walls = [p["wall_s"] for p in passes]
    ops = [s for s in raw["spans"] if s["kind"] == "op"]
    per_op = {}
    for s in ops:
        per_op.setdefault(s["op"], []).append(s["seconds"])
    batches = [s["seconds"] for s in ops if s["op"] == raw["batch_op"]]
    return {
        "setup_s": setup_s,
        "pass_s": stats.median(walls),
        "op_geomean_s": stats.geomean([stats.median(v)
                                       for v in per_op.values()]),
        "cpu_s_per_pass": stats.median([p["cpu_s"] for p in passes]),
        "live_heap_mb": raw["live_heap_mb"],
        "batch_p50_s": stats.median(batches),
        "events_per_s": records_per_batch * len(batches) / sum(batches),
    }


def check(workload, work, manifest):
    if workload == "medallion":
        return {**oracle.medallion(f"{work}/out", f"{work}/check/metrics",
                                   f"{work}/input", manifest["today_utc"]),
                **oracle.registry(f"{work}/input/tables",
                                  f"{work}/check/registry")}
    return oracle.stream(f"{work}/check")


def tally(raw, verdicts):
    """Joins the harness's counts with the independent check: every checked
    operation is one more attempt, and fails if it threw, if its output
    mismatched, or if the check has no verdict for it. Returns the reasons
    per checked operation, attempted and failed."""
    checked = {c["op"]: c["error"] or verdicts.get(c["op"], "not checked")
               for c in raw["check"]}
    failed = raw["failed"] + sum(1 for e in checked.values() if e)
    return checked, raw["attempted"] + len(checked), failed


def result(attempted, failed, metrics):
    """The run's last line. No operation is expected to fail, so one that
    threw or gave a wrong output makes the run incorrect."""
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # on SIGTERM unwind through run_jvm's cleanup, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(f"{ROOT}/build.sbt")
            and os.path.isdir(f"{ROOT}/src/main/scala/graft")):
        fail(f"no graft sources (build.sbt, src/main/scala/graft) in {ROOT}")

    outdir = f"{HERE}/.out"
    work = f"{HERE}/.work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "input"):
        os.makedirs(f"{work}/{d}")
    os.makedirs(outdir, exist_ok=True)
    digest = build(f"{outdir}/build.log")

    inp = f"{work}/input"
    manifest = {}
    if a.workload == "medallion":
        manifest = gen.medallion_csvs(inp, a.seed, MEDALLION_CUSTOMERS)
        manifest["orders"] = gen.orders_parquet(f"{inp}/tables", a.seed,
                                                ORDERS_ROWS)

    log = f"{outdir}/jvm-{a.workload}.log"
    open(log, "w").close()
    steal0, total0 = _cpu_times()
    common = ["--workload", a.workload, "--input", inp, "--work", work,
              "--seed", a.seed, "--seconds", a.seconds, "--trace", a.trace,
              "--slots", SLOTS]
    raw_path = f"{work}/raw.json"
    setup_s = run_jvm(common + ["--out", raw_path], work, log)
    steal1, total1 = _cpu_times()
    with open(raw_path) as f:
        raw = json.load(f)

    checked, attempted, failed = tally(raw, check(a.workload, work,
                                                  manifest))

    host = {
        "nproc": os.cpu_count(), "slots": SLOTS,
        "heap_mb": raw["heap_max_mb"],
        "mem_total_mb": _mem_total_mb(), "jvm": raw["jvm"],
        "spark": raw["spark"], "commit": commit(), "source_sha256": digest,
        "steal_share": (steal1 - steal0) / max(1, total1 - total0),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "inputs": manifest,
        "warm_passes": len(raw["passes"]), "setup_s": setup_s,
    }
    print("host: " + json.dumps(host, sort_keys=True))
    for n, e in sorted(checked.items()):
        if e:
            print(f"FAILED {n}: {e}")
    for e in raw["errors"]:
        print(f"ERROR {e}")

    if a.trace:
        layers = tracing.layers(raw, SLOTS)
        print("self time per pass (s): " + ", ".join(
            f"{k}={v:.3f}" for k, v in layers["self"].items()))
        print("jobs per pass by call-site package: "
              + json.dumps(layers["jobs_by_package"]))
        print(f"tracing overhead: {layers['trace.overhead_s']:+.3f} s per "
              f"pass (traced {layers['trace.pass_s']:.3f} s)")
        with open(f"{outdir}/trace-{a.workload}.json", "w") as f:
            json.dump({"host": host, "raw": raw, "layers": layers}, f)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, (u, _) in PER_LAYER.items()}
    else:
        if a.workload == "stream":
            records = raw["extra"]["events_per_batch"]
        else:
            records = sum(manifest[t]["rows"] for t in
                          ("customers", "work_orders", "parts_sales"))
        e2e = end_to_end(raw, setup_s, records)
        batches = [s["seconds"] for s in raw["spans"] if s["kind"] == "op"
                   and s["op"] == raw["batch_op"]]
        t = stats.tail(batches) if len(batches) >= 40 else None
        print(f"batch tail: p{t[1]:.1f} = {t[0]:.4f} s of {len(batches)}"
              if t else f"batch tail: not reported, {len(batches)} batches "
              "(a tail needs 40)")
        with open(f"{outdir}/raw-{a.workload}.json", "w") as f:
            json.dump({"host": host, "raw": raw, "metrics": e2e}, f)
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    out = result(attempted, failed, metrics)
    print(json.dumps(out))
    if not out["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
