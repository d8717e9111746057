"""The repository benchmark: one command, two workloads, a correctness
gate, end-to-end metrics untraced and per-layer metrics traced.

    python3 perfbench/run.py --workload <hourly_convert|lake_dml>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (see
build.py), makes the workload's inputs from the seed, runs the JVM side
(`perfbench.Main`) in a work directory under `perfbench/.work`, checks the
output, and prints as its last line one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. The line before it carries
the workload-specific figures (`workload_metrics`). Exits nonzero if the
build, the run or the correctness gate fails. See BENCHMARK.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("hourly_convert", "lake_dml")
# the kind of span whose latency is one "operation" of each workload
OP_KINDS = {
    "hourly_convert": {"runBatch"},
    "lake_dml": {"merge", "update", "delete", "insert", "read"},
}
GENTABLE_OPS = ("merge", "update", "delete", "insert", "read")
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"),
       ("disk_mb", "MB"), ("live_heap_mb", "MB")]
# The end-to-end timings are in seconds at a reference host speed: the
# wall time times REF_CALIB_S over the median time the calibration kernel
# (src/perfbench/Calibrate.scala) took in the same phase of the same run.
# A shared host runs the same code up to twice as fast at one time as at
# another; the kernel slows with it and the engine's code does not change
# it. REF_CALIB_S is about what the kernel took on the 4-core VM the
# bounds were set on.
REF_CALIB_S = 0.05


def per_layer_names():
    names = ["spark.driver_gap_s", "fs.list", "fs.status", "fs.open",
             "fs.create", "fs.rename", "fs.delete", "fs.write_mb",
             "pipeline.source_files", "pipeline.ledger_files",
             "pipeline.picked_rows", "pipeline.compact_s", "spark.input_rows",
             "catalyst.analysis_s", "catalyst.optimization_s",
             "catalyst.planning_s", "catalyst.actions",
             "spark.jobs", "spark.stages", "spark.tasks", "spark.job_s",
             "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
             "spark.shuffle_write_mb", "spark.spill_mb", "spark.input_mb"]
    for op in GENTABLE_OPS:
        names += [f"gentable.{op}.jobs", f"gentable.{op}.fs_ops",
                  f"gentable.{op}.gap_s"]
    names += ["gentable.gens", "gentable.files", "gentable.scan_rows_per_result",
              "gentable.write_amp", "trace.overhead_s", "trace.orphan_jobs",
              "trace.over_wall_ops"]
    return names


PER_LAYER_UNITS = {
    "fs.write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB", "gentable.scan_rows_per_result": "ratio",
    "gentable.write_amp": "ratio", "pipeline.picked_rows": "rows",
    "spark.input_rows": "rows",
}


def unit_of(name):
    if name in PER_LAYER_UNITS:
        return PER_LAYER_UNITS[name]
    return "s" if name.endswith("_s") else "count"


def dur(span):
    return (span["end_ns"] - span["start_ns"]) / 1e9


def operations(spans, traced):
    return [s for s in spans if s["traced"] == traced]


def round_times(ops):
    by_round = {}
    for s in ops:
        by_round[s["round"]] = by_round.get(s["round"], 0.0) + dur(s)
    return [by_round[r] for r in sorted(by_round)]


def end_to_end(doc, workload):
    ops = operations(doc["spans"], traced=False)
    samples = [dur(s) for s in ops if s["kind"] in OP_KINDS[workload] and s["ok"]]
    tail_v, tail_pct, beyond = stats.tail(samples)
    setup_wall = doc["session_s"] + stats.median(doc["prepare_s"]) + doc["warmup_s"]
    run_wall = stats.median(round_times(ops))
    p50_wall = stats.median(samples)
    calib_setup = stats.median(doc["calib_setup_s"])
    calib_run = stats.median(doc["calib_run_s"])
    metrics = {
        "setup_s": setup_wall * REF_CALIB_S / calib_setup,
        "run_s": run_wall * REF_CALIB_S / calib_run,
        "op_p50_s": p50_wall * REF_CALIB_S / calib_run,
        "disk_mb": doc["disk_bytes"] / 1e6,
        "live_heap_mb": doc["live_heap_bytes"] / 1e6,
    }
    extra = {
        "setup_wall_s": (setup_wall, "s"), "run_wall_s": (run_wall, "s"),
        "op_p50_wall_s": (p50_wall, "s"),
        "calib_setup_s": (calib_setup, "s"), "calib_run_s": (calib_run, "s"),
        "op_tail_s": (tail_v, "s"), "op_tail_pct": (tail_pct, "%"),
        "op_samples": (len(samples), "count"),
        "op_tail_samples_beyond": (beyond, "count"),
        "peak_rss_mb": (doc["peak_rss_kb"] / 1024.0, "MB"),
        "rounds": (len(round_times(ops)), "count"),
        "fail_frac": (len(doc["failures"]) / max(1, len(ops)), "ratio"),
        "session_s": (doc["session_s"], "s"),
        "prepare_s_median": (stats.median(doc["prepare_s"]), "s"),
        "warmup_s": (doc["warmup_s"], "s"),
    }
    if workload == "hourly_convert":
        batches = [s for s in ops if s["kind"] == "runBatch" and s["ok"]]
        rows = sum(s.get("appended_rows", 0) for s in batches)
        extra["rows_per_s"] = (rows / sum(dur(s) for s in batches), "rows/s")
    if workload == "lake_dml":
        for k in GENTABLE_OPS:
            xs = [dur(s) for s in ops if s["kind"] == k and s["ok"]]
            extra[f"{k}_p50_s"] = (stats.median(xs) if xs else 0.0, "s")
    return metrics, extra


def per_layer(doc, workload):
    spans = doc["spans"]
    by_id = {s["id"]: s for s in spans}
    ops = operations(spans, traced=True)
    n_rounds = max(1, len(round_times(ops)))

    jobs = doc["jobs"]
    jobs_of = {}
    orphans = 0
    for j in jobs:
        r = by_id.get(j["op"])
        if r is None or not r["traced"]:
            orphans += 1
            continue
        jobs_of.setdefault(r["id"], []).append(j)

    def busy_s(op):
        lo, hi = op["start_ns"] / 1e6, op["end_ns"] / 1e6
        return stats.union_length(
            [(j["start_ms"], j["end_ms"]) for j in jobs_of.get(op["id"], [])],
            lo, hi) / 1e3

    def in_op(t_ms):
        for o in ops:
            if o["start_ns"] / 1e6 - 1 <= t_ms <= o["end_ns"] / 1e6 + 1:
                return o
        return None

    cat_of = {}
    for a in doc["actions"]:
        o = in_op(a["start_ms"])
        if o is not None:
            cat_of.setdefault(o["id"], []).append(a)

    m = {n: 0.0 for n in per_layer_names()}
    per = lambda x: x / n_rounds  # noqa: E731  every sum is per round
    over_wall = 0
    for o in ops:
        wall = dur(o)
        busy = busy_s(o)
        cats = cat_of.get(o["id"], [])
        cat_s = sum(a["analysis_ms"] + a["optimization_ms"] + a["planning_ms"]
                    for a in cats) / 1e3
        if cat_s + busy > wall * 1.02 + 0.005:
            over_wall += 1
        m["spark.job_s"] += busy
        m["spark.driver_gap_s"] += wall - busy
        for f in ("list", "status", "open", "create", "rename", "delete"):
            m[f"fs.{f}"] += o["fs"][f]
        m["fs.write_mb"] += o["fs"]["write_bytes"] / 1e6
        m["catalyst.analysis_s"] += sum(a["analysis_ms"] for a in cats) / 1e3
        m["catalyst.optimization_s"] += sum(a["optimization_ms"] for a in cats) / 1e3
        m["catalyst.planning_s"] += sum(a["planning_ms"] for a in cats) / 1e3
        m["catalyst.actions"] += len(cats)
    for j in jobs:
        m["spark.jobs"] += 1
        m["spark.stages"] += j["stages"]
        m["spark.tasks"] += j["tasks"]
        m["spark.task_cpu_s"] += j["cpu_ns"] / 1e9
        m["spark.gc_s"] += j["gc_ms"] / 1e3
        m["spark.shuffle_read_mb"] += j["shuffle_read"] / 1e6
        m["spark.shuffle_write_mb"] += j["shuffle_write"] / 1e6
        m["spark.spill_mb"] += j["spill"] / 1e6
        m["spark.input_mb"] += j["input_bytes"] / 1e6
        m["spark.input_rows"] += j["input_rows"]
    for k in list(m):
        m[k] = per(m[k])

    if workload == "hourly_convert":
        batches = [s for s in ops if s["kind"] == "runBatch"]
        if batches:
            m["pipeline.source_files"] = stats.median(
                [s["source_files"] for s in batches])
            m["pipeline.ledger_files"] = stats.median(
                [s["ledger_files"] for s in batches])
            m["pipeline.picked_rows"] = per(sum(s.get("picked_rows", 0)
                                                for s in batches))
        compacts = [dur(s) for s in ops if s["kind"] == "compactLedger"]
        if compacts:
            m["pipeline.compact_s"] = stats.median(compacts)
    if workload == "lake_dml":
        c = doc["counters"]
        bytes_per_row = c["init_bytes"] / c["init_rows"]
        written = delta = 0.0
        read_rows = read_results = 0
        for k in GENTABLE_OPS:
            kops = [o for o in ops if o["kind"] == k]
            if not kops:
                continue
            n = len(kops)
            m[f"gentable.{k}.jobs"] = sum(len(jobs_of.get(o["id"], []))
                                          for o in kops) / n
            m[f"gentable.{k}.fs_ops"] = sum(
                sum(v for f, v in o["fs"].items() if f != "write_bytes")
                for o in kops) / n
            m[f"gentable.{k}.gap_s"] = sum(dur(o) - busy_s(o) for o in kops) / n
            if k == "read":
                read_rows += sum(j["input_rows"] for o in kops
                                 for j in jobs_of.get(o["id"], []))
                read_results += sum(o.get("result_rows", 0) for o in kops)
            else:
                written += sum(o["fs"]["write_bytes"] for o in kops)
                delta += sum(o["delta_rows"] for o in kops) * bytes_per_row
        m["gentable.gens"] = c["gens"]
        m["gentable.files"] = c["files"]
        m["gentable.scan_rows_per_result"] = read_rows / max(1, read_results)
        m["gentable.write_amp"] = written / delta if delta else 0.0
    # the rounds ran untraced, traced, traced, untraced
    untraced = round_times(operations(spans, traced=False))
    m["trace.overhead_s"] = (stats.median(round_times(ops))
                             - stats.median(untraced))
    m["trace.orphan_jobs"] = orphans
    m["trace.over_wall_ops"] = over_wall
    return m


def java_cmd(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap limit, but no fixed initial size: the collector grows
    # the heap as the engine needs it, so the peak RSS reported beside the
    # metrics follows the engine's memory use
    return (["java", "-Xmx2g", "-Xss8m",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def stop(signum, frame):
    """A termination signal unwinds through the `finally` blocks, which
    stop the JVM and remove the work directory."""
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    log = sys.stderr
    cp = build.build(log)
    t_start = time.monotonic()  # the build is allowed its own time
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        jargs = ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--work", str(work), "--out", str(work / "run.json")]
        budget = JVM_TIMEOUT_S - (time.monotonic() - t_start)
        p = subprocess.Popen(java_cmd(cp, work, jargs), stdout=log,
                             stderr=log, cwd=work)
        try:
            rc = p.wait(timeout=max(10.0, budget))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: the JVM side timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
        if rc != 0:
            raise SystemExit(f"perfbench: the JVM side exited {rc}")
        doc = json.loads((work / "run.json").read_text())
        if doc["file_fs"].endswith("CountingLocalFileSystem") != bool(a.trace):
            raise SystemExit(f"perfbench: file: scheme served by {doc['file_fs']}")
        mismatches = doc["mismatches"]
        attempted, failed = len(doc["spans"]), len(doc["failures"])
        if failed:
            print(f"[perfbench] failed operations: {doc['failures']}", file=log)
        e2e, extra = end_to_end(doc, a.workload)
        for m in mismatches:
            print(f"[perfbench] MISMATCH: {m}", file=log)
        if a.trace:
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in per_layer(doc, a.workload).items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
        print(json.dumps({"workload_metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in extra.items()}}))
        correct = not mismatches
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        sys.stdout.flush()
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
