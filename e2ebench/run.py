#!/usr/bin/env python3
"""End-to-end benchmark of the Spark NBA data pipeline and its extensions.

Run from the repository root:

    python3 e2ebench/run.py --workload lifecycle_feed --seed 1 --seconds 10 --trace 0

Each run builds the program from source if needed (sbt, cached by a hash
of the sources), generates the seeded inputs (cached per workload and
seed), starts one cold JVM with one local[4] session and runs one cold
pass of the workload (one client, no extra threads). The pass always
outlasts --seconds, which is accepted for the common command line and
does not change the work. It then checks the outputs and prints, as the
last line of standard output, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Lines before it name
the tail percentile, the calibration probe (`calib_s`), the input size
and `error_rate`.

Load gate: a run whose `calib_s` exceeds LOAD_FACTOR times the median
`calib_s` of at least three earlier runs of the same build in this
checkout was slowed by other work on the machine. It is named as loaded
on a line before the result, so a comparison can set it aside.

Any failed unit or output mismatch makes the run exit 1 after printing
the result. A missing program or a failed build (exit 2), or a JVM that
fails or overruns (exit 1), ends the run without printing a result.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, "work")
HEAP = "-Xmx2g"
RUN_LIMIT_S = 170  # a run, build excluded, must end within 180 s
LOAD_FACTOR = 1.25

END_TO_END = [
    ("setup_s", "s"), ("run_s", "s"), ("batch_p50_s", "s"),
    ("batch_tail_s", "s"), ("cpu_s", "s"), ("disk_write_mb", "MB"),
    ("output_mb", "MB"), ("heap_live_peak_mb", "MB"),
]
LIFECYCLE_LAYERS = ["ingest", "normalize", "clean", "enrich", "extract",
                    "validate", "sink"]
QUERY_LAYERS = ["queries.Dedup", "queries.Curation", "queries.TextAnalysis",
                "queries.EndToEnd", "queries.Warehouse",
                "queries.WarehouseDeletes", "queries.WarehouseSafety",
                "queries.RowTracking"]


def layer_metrics():
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    out = []
    for l in LIFECYCLE_LAYERS:
        out += [(f"{l}.call_s", "s"), (f"{l}.self_s", "s"), (f"{l}.jobs", "count"),
                (f"{l}.exec_cpu_s", "s")]
    out += [("enrich.resolved_ratio", "ratio"), ("extract.parsed_ratio", "ratio"),
            ("clean.rows_kept_ratio", "ratio"), ("validate.violations", "count"),
            ("sink.files", "count"), ("sink.mb", "MB")]
    for q in QUERY_LAYERS:
        out += [(f"{q}.build_s", "s"), (f"{q}.exec_s", "s"), (f"{q}.self_s", "s"),
                (f"{q}.jobs", "count"), (f"{q}.tasks", "count"),
                (f"{q}.exec_cpu_s", "s"), (f"{q}.shuffle_write_mb", "MB"),
                (f"{q}.spill_mb", "MB")]
    out += [("streaming.batches", "count"), ("streaming.batch_s", "s"),
            ("streaming.self_s", "s"), ("streaming.state_rows", "count"),
            ("streaming.state_mb", "MB"), ("streaming.late_rows_dropped", "count"),
            ("streaming.commits", "count")]
    out += [("spark.jobs", "count"), ("spark.stages", "count"),
            ("spark.tasks", "count"), ("spark.driver_only_s", "s"),
            ("spark.exec_run_s", "s"), ("spark.exec_cpu_s", "s"),
            ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
            ("spark.spill_mb", "MB"), ("trace.overhead_s", "s")]
    return out


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    h = hashlib.sha256()
    files = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        if not os.path.isfile(f):
            fail(f"missing build input {os.path.relpath(f, root)}")
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness once per source state; return the source
    stamp and the JVM command prefix."""
    stamp = source_stamp(root)
    launch = os.path.join(WORK, "launch.json")
    if os.path.exists(launch):
        with open(launch) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return stamp, cached["cmd"]
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    with open(os.path.join(WORK, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        fail(f"build failed (exit {rc}), see {os.path.relpath(WORK, root)}/build.log")
    with open(os.path.join(HERE, "target", "launch.txt")) as f:
        lines = [l.strip() for l in f if l.strip()]
    opts = [o for o in lines[1:] if not o.startswith("-Xmx")]
    tmp = os.path.join(WORK, "tmp")
    cmd = (["java", HEAP] + opts +
           [f"-Djava.io.tmpdir={tmp}", "-cp", lines[0], "e2ebench.Main"])
    with open(launch, "w") as f:
        json.dump({"stamp": stamp, "cmd": cmd}, f)
    return stamp, cmd


def jvm(cmd, args, timeout):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    try:
        p = subprocess.run(cmd + args, capture_output=True, text=True,
                           timeout=max(10, timeout), stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail("JVM run timed out", 1)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        fail(f"JVM exited {p.returncode}", 1)
    return p.stdout


def tail_value(values):
    """The highest percentile with at least ten samples beyond it,
    1 - 10/n, read by linear interpolation so that it moves smoothly with
    n. Fewer than 20 samples support no percentile at or above the
    median, and the slowest unit (p100) is reported instead."""
    v = sorted(values)
    n = len(v)
    q = 1.0 - 10.0 / n if n >= 20 else 1.0
    x = q * (n - 1)
    i = int(x)
    val = v[i] if i + 1 >= n else v[i] + (v[i + 1] - v[i]) * (x - i)
    return val, round(100 * q, 1), n


def hd_median(values):
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by the Beta((n+1)/2, (n+1)/2) distribution of
    the sample median's rank, integrated by the midpoint rule. Where the
    sample median jumps when two unlike units swap order around the
    middle, this moves smoothly."""
    v = sorted(values)
    n = len(v)
    steps = 1000 * n
    dens = [((k + 0.5) / steps * (1 - (k + 0.5) / steps)) ** ((n - 1) / 2)
            for k in range(steps)]
    return sum(v[k * n // steps] * d for k, d in enumerate(dens)) / sum(dens)


def end_to_end(res):
    times = [u["s"] for u in res["units"]]
    tail, pct, n = tail_value(times)
    print(f"batch_p50_s is the Harrell-Davis median and batch_tail_s p{pct} of {n} units")
    return {
        "setup_s": res["setup_s"],
        "run_s": res["wall_s"],
        "batch_p50_s": hd_median(times),
        "batch_tail_s": tail,
        "cpu_s": res["cpu_s"],
        "disk_write_mb": res["write_bytes"] / 1e6,
        "output_mb": res["output_bytes"] / 1e6,
        "heap_live_peak_mb": res["heap_live_peak"] / 1e6,
    }


def self_times(spans):
    """Per layer: span time minus the time its child spans of other
    layers cover (`X.build` / `X.exec` are phases of X, not children)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        name = s["name"]
        if name.startswith("unit:"):
            continue
        covered = sum(c["end_ns"] - c["start_ns"] for c in kids.get(s["id"], [])
                      if not c["name"].startswith(name + "."))
        base = name.rsplit(".", 1)[0] if name.endswith((".build", ".exec")) else name
        if base != name:
            continue
        out[base] = out.get(base, 0.0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def earlier_runs(stamp):
    """{out dir name: run.json} of this checkout's earlier runs of the
    build `stamp` on inputs of this generator."""
    out = os.path.join(WORK, "out")
    runs = {}
    for n in (os.listdir(out) if os.path.isdir(out) else []):
        try:
            with open(os.path.join(out, n, "run.json")) as f:
                r = json.load(f)
        except (OSError, ValueError):
            continue
        if r.get("stamp") == stamp and r.get("gen") == gen.VERSION:
            runs[n] = r
    return runs


def untraced_run_s(runs, workload, seed):
    """run_s of the untraced run of the same seed among `runs`, or else
    their median over this workload's untraced runs (the work does not
    depend on the seed); None when there is none."""
    same = runs.get(f"{workload}-{seed}-0")
    if same:
        return same["run_s"]
    other = [r["run_s"] for n, r in runs.items()
             if n.startswith(workload + "-") and n.endswith("-0")]
    return statistics.median(other) if other else None


def per_layer(res, output, reference):
    """Layer metrics of the traced cold pass; the tracing overhead is its
    wall time minus the untraced `reference` run_s."""
    call = {}
    for s in res["spans"]:
        call[s["name"]] = call.get(s["name"], 0.0) + (s["end_ns"] - s["start_ns"]) / 1e9
    selfs = self_times(res["spans"])
    layers = res["layers"]
    get = lambda l, f: layers.get(l, {}).get(f, 0)
    m = {}
    for l in LIFECYCLE_LAYERS:
        m[f"{l}.call_s"] = call.get(l, 0.0)
        m[f"{l}.self_s"] = selfs.get(l, 0.0)
        m[f"{l}.jobs"] = get(l, "jobs")
        m[f"{l}.exec_cpu_s"] = get(l, "cpu_ns") / 1e9
    for name in ("enrich.resolved_ratio", "extract.parsed_ratio",
                 "clean.rows_kept_ratio", "validate.violations"):
        m[name] = float(res["ratios"].get(name, 0.0))
    m["sink.files"] = output["files"]
    m["sink.mb"] = output["bytes"] / 1e6
    for q in QUERY_LAYERS:
        m[f"{q}.build_s"] = call.get(f"{q}.build", 0.0)
        m[f"{q}.exec_s"] = call.get(f"{q}.exec", 0.0)
        m[f"{q}.self_s"] = selfs.get(q, 0.0)
        m[f"{q}.jobs"] = get(q, "jobs")
        m[f"{q}.tasks"] = get(q, "tasks")
        m[f"{q}.exec_cpu_s"] = get(q, "cpu_ns") / 1e9
        m[f"{q}.shuffle_write_mb"] = get(q, "shuffle_write") / 1e6
        m[f"{q}.spill_mb"] = get(q, "spill") / 1e6
    st = res["streaming"]
    m["streaming.batches"] = st["batches"]
    m["streaming.batch_s"] = st["batch_ms"] / 1e3
    m["streaming.self_s"] = selfs.get("streaming", 0.0)
    m["streaming.state_rows"] = st["state_rows_peak"]
    m["streaming.state_mb"] = st["state_bytes_peak"] / 1e6
    m["streaming.late_rows_dropped"] = st["late_rows_dropped"]
    m["streaming.commits"] = st["commits"]
    real = [v for l, v in layers.items() if l not in ("meter", "trace")]
    tot = lambda f: sum(v.get(f, 0) for v in real)
    m["spark.jobs"] = tot("jobs")
    m["spark.stages"] = tot("stages")
    m["spark.tasks"] = tot("tasks")
    m["spark.driver_only_s"] = res["wall_s"] - res["busy_s"]
    m["spark.exec_run_s"] = tot("run_ms") / 1e3
    m["spark.exec_cpu_s"] = tot("cpu_ns") / 1e9
    m["spark.gc_s"] = res["gc_s"]
    m["spark.shuffle_write_mb"] = tot("shuffle_write") / 1e6
    m["spark.spill_mb"] = tot("spill") / 1e6
    m["trace.overhead_s"] = 0.0 if reference is None else res["wall_s"] - reference
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["lifecycle_feed", "curation_corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "build.sbt")):
        fail("run from the repository root (no build.sbt here)")
    stamp, cmd = build(root)
    t_start = time.monotonic()  # a build may take longer than one run
    inputs, manifest = gen.generate(a.workload, a.seed, os.path.join(WORK, "inputs"))
    name = f"{a.workload}-{a.seed}-{a.trace}"
    earlier = earlier_runs(stamp)
    calibs = [r["calib_s"] for n, r in earlier.items() if n != name]
    gate = LOAD_FACTOR * statistics.median(calibs) if len(calibs) >= 3 else None
    out = os.path.join(WORK, "out", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    result_file = os.path.join(out, "result.json")
    jvm(cmd, ["--work", WORK, "--workload", a.workload,
              "--inputs", inputs, "--out", out,
              "--trace", str(a.trace), "--result", result_file],
        RUN_LIMIT_S - (time.monotonic() - t_start))
    with open(result_file) as f:
        res = json.load(f)
    if gate is not None and res["calib_s"] > gate:
        print(f"loaded run: calib_s {res['calib_s']:.3f} is over the load gate {gate:.3f}")
    mismatches, output = check.check(a.workload, inputs, res, os.path.join(WORK, "oracle"))
    for msg in res["errors"] + mismatches:
        print(f"FAIL {msg}", file=sys.stderr)
    attempted = len(res["units"])
    failed = min(attempted, sum(1 for u in res["units"] if not u["ok"]) + len(mismatches))
    if a.trace:
        units = dict(layer_metrics())
        reference = untraced_run_s(earlier, a.workload, a.seed)
        if reference is None:
            print(f"trace.overhead_s needs an untraced run of {a.workload} "
                  "with this build first; reads 0")
        values = per_layer(res, output, reference)
    else:
        units = dict(END_TO_END)
        values = end_to_end(res)
    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump({"stamp": stamp, "gen": gen.VERSION, "run_s": res["wall_s"],
                   "calib_s": res["calib_s"]}, f)
    print(f"calib_s {res['calib_s']:.3f}; input_rows {manifest['input_rows']}; "
          f"input_mb {manifest['input_bytes'] / 1e6:.3f}; "
          f"error_rate {failed / attempted:.4f}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))
    for d in ("tmp", "spark-local", "spark-warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
