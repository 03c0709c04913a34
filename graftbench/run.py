#!/usr/bin/env python3
"""The repository benchmark: fixed-work, oracle-checked workloads.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run:

  1. builds the repository and the benchmark (`build.py`; reused while the
     sources are unchanged);
  2. generates the inputs from `--seed` (`gen.py`; never calls repo code);
  3. launches one fresh JVM at local[k], k = min(4, nproc), with a fixed
     heap, which sets up the session and runs the fixed-work schedule: one
     cold pass, which also writes every output for the check, one untimed
     warm-up pass, then two measured passes, scaled by `--seconds` /
     `run_seconds` of BENCHMARK.json (`--seconds` defaults to
     `run_seconds`); nothing in the schedule reads the clock;
  4. checks the outputs of the cold pass against DuckDB (`oracle.py`);
  5. writes `<.bench_build>/runs/<workload>-s<seed>-t<trace>/artifact.json`
     (environment stamp, schedule, input digest, every metric, the checks)
     and prints one `name = value unit` line per metric, then the result as
     one JSON line, last.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json: each timing
is taken over all measured passes (the median pass, or quantiles of the
pooled samples). `--trace 1` measures three passes, untraced, traced,
untraced, and reports the per-layer metrics from the traced one, plus the
tracing overhead against the untraced ones.

Workloads: `batch_history` (ten catalog `ev_*` queries on a skewed events
table, each materialized into the noop sink) and `stream_drain` (a
time-ordered parquet feed drained, one file per trigger, through six
streaming operators in turn).
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
# a run must end within 180 s; the slowest run seen, a stream_drain, spent
# 71 s in the JVM, so a host twice as slow still fits
JVM_TIMEOUT_S = 170

# untimed passes between the cold pass and the measured ones, and measured
# passes at --seconds = run_seconds
WARMUP = 1
MEASURED = 2
WORKLOADS = {
    "batch_history": dict(events=25_000, users=500, files=0),
    "stream_drain": dict(events=6_000, users=500, files=6),
}

BATCH_GROUPS = {
    "core.windowkernel.s": ["ev_slice_count", "ev_slice_time", "ev_slice_hopping",
                            "ev_slice_trigger_after", "ev_window_scan"],
    "core.asof.s": ["ev_asof_take", "ev_join_zip"],
    "core.buckets.s": ["ev_bind_bucket"],
    "functions.fold.s": ["ev_ewma"],
    "operators.scan.s": ["ev_fold_all"],
}

STREAM_DURATIONS = ["triggerExecution", "addBatch", "queryPlanning", "latestOffset",
                    "walCommit", "commitOffsets"]

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def p90(xs):
    """90th percentile, interpolated between order statistics."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                       text=True)
    return r.stdout.strip() or None


def jvm(classes, jars, out, args):
    """Run the benchmark JVM; return (launch time, exit code)."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "graftbench.Main", "--out", out, *args]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        t0 = time.time()
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=ROOT,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:  # run() has killed and reaped it
            return t0, "timeout"
    return t0, r.returncode


def end_to_end(raw, t_launch, events_per_pass):
    passes = raw["passes"]
    measured = [p for p in passes if p["phase"] == "measured"]
    walls = [p["wall_s"] for p in measured]
    ops = [o for p in measured for o in p["ops"] if o.get("ok")]
    idx = {p["idx"] for p in measured}
    # a batch is a micro-batch where streaming queries ran, else the
    # materializing action of a batch query
    batch = [b["durations"].get("triggerExecution", 0) / 1000.0
             for q in raw["queries"] if q["pass"] in idx for b in q["progress"]] \
        or [o["action_s"] for o in ops]
    query = [o["wall_s"] for o in ops]
    samples = {"measured_passes": len(measured), "batch": len(batch), "query": len(query)}
    return samples, {
        "setup_s": (raw["setup_done_ms"] / 1000.0 - t_launch, "s"),
        "cold_s": (passes[0]["wall_s"], "s"),
        "events_per_s": (events_per_pass / median(walls), "events/s"),
        "cpu_s": (median([p["cpu_s"] for p in measured]), "s"),
        "heap_live_mb": (raw["heap_live_bytes"] / 1e6, "MB"),
        "batch_p50_s": (median(batch), "s"),
        "batch_p90_s": (p90(batch), "s"),
        "query_p50_s": (median(query), "s"),
        "query_p90_s": (p90(query), "s"),
    }


def self_times(spans):
    """Total self time (ms) per span name: each span's duration minus the
    time its child spans cover."""
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0) + s["end_ns"] - s["start_ns"]
    out = {}
    for s in spans:
        name = s["name"].split(":")[0]
        dur = s["end_ns"] - s["start_ns"] - child.get(s["id"], 0)
        out[name] = out.get(name, 0.0) + dur / 1e6
    return out


def per_layer(raw, spans, events_per_pass, cores):
    passes = raw["passes"]
    traced = [p for p in passes if p["phase"] == "measured" and p["traced"]]
    plain = [p for p in passes if p["phase"] == "measured" and not p["traced"]]
    tidx = {p["idx"] for p in traced}
    m = {}

    def per_pass(f):
        return median([f(p) for p in traced])

    def op_wall(p, names):
        return sum(o.get("wall_s", 0.0) for o in p["ops"] if o["name"] in names)

    catalog = [o["name"] for o in passes[0]["ops"]]
    if raw["workload"] == "batch_history":
        for q in catalog:
            m[f"queries.{q}.s"] = (per_pass(lambda p: op_wall(p, [q])), "s")
    for name, qs in BATCH_GROUPS.items():
        m[name] = (per_pass(lambda p: op_wall(p, qs)), "s")
    m["core.build_ms"] = (per_pass(
        lambda p: 1000 * sum(o.get("build_s", 0.0) for o in p["ops"])), "ms")
    m["plans.plan_ms"] = (per_pass(
        lambda p: 1000 * sum(o.get("plan_s", 0.0) for o in p["ops"])), "ms")
    for k in ("exchanges", "sorts", "windows"):
        m[f"plans.{k}"] = (per_pass(lambda p: p["spark"][k]), "count")

    # time the pass spends inside queries or drains
    by_pass = {}
    for s in spans:
        if s["name"].startswith(("query:", "drain:")):
            by_pass[s["trace"]] = by_pass.get(s["trace"], 0) + (s["end_ns"] - s["start_ns"])
    sp = lambda k: per_pass(lambda p: p["spark"][k])  # noqa: E731
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = (sp(k), "count")
    m["spark.task_busy_ms"] = (sp("task_busy_ms"), "ms")
    m["spark.task_cpu_ms"] = (sp("task_cpu_ms"), "ms")
    m["spark.gc_ms"] = (sp("gc_ms"), "ms")
    m["spark.slot_wait_ms"] = (per_pass(
        lambda p: cores * by_pass.get(p["idx"], 0) / 1e6 - p["spark"]["task_busy_ms"]), "ms")
    m["spark.skew"] = (sp("skew"), "ratio")
    m["spark.shuffle_write_mb"] = (sp("shuffle_write_bytes") / 1e6, "MB")
    m["spark.shuffle_read_mb"] = (sp("shuffle_read_bytes") / 1e6, "MB")
    m["spark.spill_mb"] = (sp("spill_bytes") / 1e6, "MB")
    m["spark.scan_amplification"] = (sp("records_read") / events_per_pass, "ratio")

    # streaming: every query the traced passes started
    queries = [q for q in raw["queries"] if q["pass"] in tidx]
    batches = [b for q in queries for b in q["progress"]]
    for d in STREAM_DURATIONS:
        name = "trigger" if d == "triggerExecution" else d
        m[f"streaming.{name}_ms"] = (
            median([b["durations"].get(d, 0) for b in batches]), "ms")
    for k in ("state_commit_ms", "state_update_ms", "state_removal_ms"):
        m[f"streaming.{k}"] = (median([b[k] for b in batches]), "ms")

    def stream_pass(f):
        return median([f([q for q in queries if q["pass"] == i]) for i in tidx])

    def last(q, k):
        return q["progress"][-1][k] if q["progress"] else 0
    m["streaming.state_rows"] = (stream_pass(
        lambda qs: sum(last(q, "state_rows") for q in qs)), "count")
    m["streaming.state_rows_updated"] = (stream_pass(
        lambda qs: sum(b["state_rows_updated"] for q in qs for b in q["progress"])), "count")
    m["streaming.late_rows_dropped"] = (stream_pass(
        lambda qs: sum(b["late_rows_dropped"] for q in qs for b in q["progress"])), "count")
    m["streaming.empty_batches"] = (stream_pass(
        lambda qs: sum(1 for q in qs for b in q["progress"] if b["rows"] == 0)), "count")
    m["streaming.state_mb"] = (stream_pass(
        lambda qs: sum(last(q, "state_bytes") for q in qs)) / 1e6, "MB")
    m["streaming.ckpt_files"] = (per_pass(lambda p: p["ckpt_files"]), "count")
    m["streaming.ckpt_mb"] = (per_pass(lambda p: p["ckpt_bytes"]) / 1e6, "MB")

    # lifecycle: start = from the query's start event to its first trigger;
    # stop = from the last progress event to the termination event
    firsts = [q["progress"][0] for q in queries if q["progress"]]
    first_ms = [b["durations"].get("triggerExecution", 0) for b in firsts]
    m["streaming.first_batch_ms"] = (median(first_ms), "ms")
    m["streaming.start_ms"] = (median([
        (q["progress"][0]["seen_ns"] - q["started_ns"]) / 1e6 -
        q["progress"][0]["durations"].get("triggerExecution", 0)
        for q in queries if q["progress"]]), "ms")
    m["streaming.stop_ms"] = (median([
        (q["terminated_ns"] - q["progress"][-1]["seen_ns"]) / 1e6
        for q in queries if q["progress"] and q["terminated_ns"]]), "ms")
    m["streaming.batches_per_query"] = (len(batches) / len(queries) if queries else 0.0,
                                        "count")
    if raw["workload"] == "stream_drain":
        for d in catalog:
            m[f"streaming.drain_{d}.s"] = (per_pass(lambda p: op_wall(p, [d])), "s")

    overhead = median([p["wall_s"] for p in traced]) / median([p["wall_s"] for p in plain]) - 1
    m["trace.overhead_pct"] = (100 * overhead, "%")
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=gen.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.seconds is None:
        args.seconds = bench["run_seconds"]
    w = WORKLOADS[args.workload]
    cores = min(4, nproc())
    measured = 3 if args.trace else \
        max(1, round(MEASURED * args.seconds / bench["run_seconds"]))

    try:
        classes, jars, src_digest = build.build()
    except build.BuildError as e:
        sys.exit(f"graftbench: build failed: {e}")

    data = os.path.join(build.BUILD_DIR, "data",
                        f"{args.workload}-s{args.seed}")
    manifest = gen.generate(data, args.seed, w["events"], w["users"], w["files"])
    events_glob = os.path.join(data, "feed", "*.parquet") if w["files"] else \
        os.path.join(data, "events.parquet")

    out = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t_launch, code = jvm(classes, jars, out, [
        "--workload", args.workload, "--data", data, "--cores", str(cores),
        "--warmup", str(WARMUP), "--measured", str(measured),
        "--trace", str(args.trace)])
    raw_path = os.path.join(out, "raw.json")
    if code != 0 or not os.path.exists(raw_path):
        sys.exit(f"graftbench: benchmark JVM exited {code}; see {out}/jvm.log")
    with open(raw_path) as f:
        raw = json.load(f)

    t_checks = time.time()
    checks = oracle.check(os.path.join(out, "check"), events_glob, raw["oracle"], cores)
    t_done = time.time()
    ops = [o for p in raw["passes"] for o in p["ops"]]
    failures = [f"{f['op']} (pass {f['pass']}): {f['error']}" for f in raw["failures"]]
    failures += [f"{n}: {r}" for n, r in checks.items() if r != "OK"]
    attempted = len(ops) + len(checks)
    failed = sum(1 for o in ops if not o.get("ok")) + sum(1 for r in checks.values() if r != "OK")

    n_ops = len(raw["passes"][0]["ops"])
    events_per_pass = manifest["rows"] * n_ops
    spans = []
    if args.trace:
        with open(os.path.join(out, "spans.json")) as f:
            spans = json.load(f)
        metrics = per_layer(raw, spans, events_per_pass, cores)
        samples = {}
    else:
        samples, metrics = end_to_end(raw, t_launch, events_per_pass)

    wanted = bench["per_layer" if args.trace else "end_to_end"]
    result_metrics = {m["name"]: {"value": float(metrics.get(m["name"], (0.0,))[0]),
                                  "unit": m["unit"]} for m in wanted}

    env = dict(raw["env"], nproc=nproc(), git_sha=git_sha(), source_sha256=src_digest,
               seed=args.seed, input_sha256=manifest["sha256"], input=manifest["params"],
               heap=HEAP, schedule=raw["schedule"])
    artifact = {"workload": args.workload, "env": env, "attempted": attempted,
                "failed": failed, "error_rate": failed / attempted, "failures": failures,
                "checks": checks, "samples": samples,
                "harness_s": {"jvm": t_checks - t_launch, "check": t_done - t_checks},
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
                "passes": [{k: p[k] for k in ("idx", "phase", "traced", "wall_s", "cpu_s")}
                           for p in raw["passes"]]}
    if spans:
        artifact["span_self_ms"] = self_times(spans)
    with open(os.path.join(out, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)

    stamp = {k: env[k] for k in ("nproc", "cores", "jvm_args", "java_version",
                                 "spark_version", "git_sha", "seed", "input_sha256",
                                 "schedule")}
    print(f"# {args.workload} {json.dumps(stamp)}")
    for k, (v, u) in sorted(metrics.items()):
        n = samples.get(k.split("_")[0])
        print(f"{k} = {v:.6g} {u}" + (f" (n={n})" if n and "_p" in k else ""))
    if samples:
        print(f"measured passes = {samples['measured_passes']}")
    print(f"error_rate = {failed}/{attempted} = {failed / attempted:.4g}")
    for f in failures:
        print(f"FAILED {f}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result_metrics}))


if __name__ == "__main__":
    main()
