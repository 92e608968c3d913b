#!/usr/bin/env python3
"""The pivotspark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program and the harness from
source (sbt, offline; reused while the sources are unchanged), generates
the workload's inputs from the seed, runs the harness JVM at
local[<cpus>] as a closed loop with one client, checks every operation's
output, and prints a table followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(HERE, ".work")
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
STAMP = os.path.join(WORK, "build.stamp")
PIPELINE = os.path.join(HERE, "pipeline", "pivot_file_source_sink_example.json")
HEAP = ["-Xmx3g"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# End-to-end metrics and their units, as BENCHMARK.json declares them.
UNITS = {"setup_s": "s", "rows_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s"}
ROWS_TABLE = {"pivot_tall": "purchases", "curation_text": "documents"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def host_sample():
    """(wall s, 1-minute load average, /proc/stat cpu ticks, CPU s used by
    this run's finished child processes)."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    ru = resource.getrusage(resource.RUSAGE_CHILDREN)
    return time.time(), load1, ticks, ru.ru_utime + ru.ru_stime


def host_load(before, after):
    """What else the machine did while the harness ran, so a slow run can be
    traced to the host or to the benchmark: load average at both ends, CPU
    busy and steal time as shares of the window's CPU time, and the share
    of the busy time that the harness JVM used itself."""
    (w0, l0, t0, c0), (w1, l1, t1, c1) = before, after
    d = [b - a for a, b in zip(t0, t1)]
    total = sum(d) or 1
    idle = d[3] + d[4]                     # idle, iowait
    steal = d[7] if len(d) > 7 else 0
    busy_s = (total - idle - steal) / os.sysconf("SC_CLK_TCK")
    return {"load1_start": l0, "load1_end": l1, "busy_frac": (total - idle - steal) / total,
            "steal_frac": steal / total,
            "own_frac_of_busy": min(1.0, (c1 - c0) / busy_s) if busy_s > 0 else 0.0,
            "window_s": w1 - w0}


def build_inputs():
    """Every file the build reads, resources included: a change to any of
    them rebuilds. sbt's own outputs under project/ are skipped."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            if top.endswith("project"):
                dirs[:] = [x for x in dirs if x not in ("target", "project")]
            paths += [os.path.join(d, f) for f in files]
    return sorted(paths)


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources next to the benchmark")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(LAUNCHER) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building program and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        # Resolve from the local caches only, as the repository's own test
        # command does.
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/writeLauncher"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {r.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def run_jvm(args, data, rows, out, budget_s):
    opts = [line for line in open(LAUNCHER).read().splitlines() if line]
    # -XX:-UsePerfData: no hsperfdata file outside the run directory.
    cmd = (["java"] + opts + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={out}/tmp",
           "perfbench.Harness",
           "--workload", args.workload, "--data", data, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", out, "--cpus", str(cpus()),
           "--rows", str(rows), "--pipeline", PIPELINE])
    os.makedirs(os.path.join(out, "tmp"))
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: harness exceeded {budget_s:.0f} s")
    if code != 0 or not os.path.exists(os.path.join(out, "result.json")):
        sys.stderr.write(open(os.path.join(out, "jvm.log")).read()[-4000:])
        raise SystemExit(f"perfbench: harness failed (exit {code})")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()

    build()
    data = gen.ensure_inputs(args.workload, args.seed)
    with open(os.path.join(data, "sizes.json")) as f:
        sizes = json.load(f)
    rows = sizes["rows"][ROWS_TABLE[args.workload]]

    out = os.path.join(WORK, "runs", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        h0 = host_sample()
        res = run_jvm(args, data, rows, out, RUN_LIMIT_S - (time.time() - t_start))
        host = host_load(h0, host_sample())
        log(f"harness JVM {host['window_s']:.1f} s")
        t_oracle = time.time()
        checks = dict(res["pipeline_checks"])
        for name, err in res["warmup_errors"].items():
            checks[name] = f"warmup failed: {err}"
        if res["oracle_sql"]:
            checks.update(oracle.check(data, os.path.join(out, "dump"), res["oracle_sql"],
                                       res["reference"], os.path.join(out, "tmp")))
        log(f"checks {time.time() - t_oracle:.1f} s")
    finally:
        for d in ("tmp", "spark-local", "sink", "dump", "warehouse"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    bad = {n for n, v in checks.items() if v != "ok"}

    timed = [o for o in res["ops"] if not o["traced"]]
    e2e, info = metrics.end_to_end(timed, bad, res["setup_s"])
    # A failed operation's infinite latency is reported as the whole timed
    # window, the largest finite value the run can vouch for.
    e2e = {k: (v if v != float("inf") else res["timed_s"]) for k, v in e2e.items()}
    all_failed = metrics.failed_ops(res["ops"], bad)

    print(f"workload {args.workload}  seed {args.seed}  local[{cpus()}]  closed loop, 1 client")
    print(f"inputs   {json.dumps(sizes['rows'])}  bytes {json.dumps(sizes['bytes'])}")
    print(f"window   {res['timed_s']:.2f} s, {res['passes']} passes, "
          f"{len(res['ops'])} operations ({len(timed)} untraced)")
    print(f"host     load1 {host['load1_start']:.2f} -> {host['load1_end']:.2f}, "
          f"busy {host['busy_frac']:.3f} of CPU time ({host['own_frac_of_busy']:.3f} of it "
          f"the harness JVM), steal {host['steal_frac']:.4f}")
    for name, verdict in sorted(checks.items()):
        print(f"check    {name}: {verdict}")
    for o in res["ops"]:
        if not o["ok"]:
            print(f"failed   {o['name']} pass {o['pass']}: {o['error']}")
    print(f"{'setup_s':<28}{e2e['setup_s']:.4f} s")
    print(f"{'rows_per_s':<28}{e2e['rows_per_s']:.1f} 1/s  ({rows} input rows per operation)")
    print(f"{'op_p50_s':<28}{e2e['op_p50_s']:.4f} s  (n={info['samples']})")
    print(f"{'op_tail_s':<28}{e2e['op_tail_s']:.4f} s  ({info['tail_percentile']} of "
          f"n={info['samples']}, 10 samples beyond)")
    print(f"{'failed_frac':<28}{e2e['failed_frac']:.4f}  "
          f"({info['failed']} of {info['attempted']})")
    if args.trace:
        for k, v in sorted(res["layers"].items()):
            print(f"{k:<28}{v:.6g}")
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["layers"].items())}
    else:
        out_metrics = {k: {"value": e2e[k], "unit": u} for k, u in UNITS.items()}
    print(json.dumps({"correct": not all_failed and not bad,
                      "attempted": len(res["ops"]), "failed": len(all_failed),
                      "metrics": out_metrics}))


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_per_row", "bytes/row"),
                         ("bytes", "bytes"), ("_frac", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
