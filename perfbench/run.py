#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

It builds the program and the harness with sbt (once per source state;
later runs reuse the launch files under .bench_build/), generates the
workload's inputs from --seed, runs the harness JVM on local[N] (N =
--cpus, default: the cores this process may use), checks every output,
prints each metric by name with its unit and sample count, and prints one
JSON object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and the traced run's own overhead). The run's full record, per-operation
rows and trace spans included, is kept in .bench_build/results/.
Exit code 0 only when every output matched.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/

import gen  # noqa: E402
import oracle  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(WORK, "launch")
DEADLINE_S = 170  # whole run, or after the build when it had to build
HEAP = "3g"

# name → (generator kind, sizes)
WORKLOADS = {
    "queries": ("tables", dict(sf=0.01, n_docs=1000, n_emb=1000)),
    "refresh_sync": ("vendor", dict(n_types=100, n_regions=12, n_units=1000, n_scores=50_000)),
}

END_TO_END = {  # name → unit
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "cpu_s": "s", "heap_live_mb": "MB"}
PER_LAYER = {
    "driver.build_s": "s", "catalyst.plan_s": "s", "exec.wall_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.task_cpu_s": "s", "exec.idle_core_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB", "exec.result_mb": "MB",
    "jvm.gc_s": "s", "reset.released_blocks": "count", "reset.released_mb": "MB",
    "trace.overhead_frac": "ratio", "trace.reconcile_err": "ratio", "host.cal_s": "s"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def stamp():
    """Digest of every file the build reads: program sources and build
    definition, harness sources and build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the program's sources (build.sbt, src/main/scala) are not next to perfbench/")
    digest = stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return False
    os.makedirs(LAUNCH, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (rc={rc}), log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(digest)
    return True


def run_jvm(args, run_dir, data, cpus, deadline):
    cp = open(os.path.join(LAUNCH, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(LAUNCH, "java_options.txt")).read().splitlines()
            if o and not o.startswith("-Xmx")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={run_dir}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"]
           + opts + ["-cp", cp, "perfbench.Main",
                     "--workload", args.workload, "--data", data, "--work", run_dir,
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--cpus", str(cpus)])
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded the run deadline, log in {log}")
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"harness exited rc={rc}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def end_to_end(res):
    timed = [r for r in res["runs"] if not r["traced"]]
    passes = [p for p in res["passes"] if not p["traced"]]
    # each operation's median over the passes, then the median over the
    # operations: a pooled median would jump between clusters of
    # similar-sized operations from run to run
    by_op = {}
    for r in timed:
        by_op.setdefault(r["op"], []).append(r["wall_s"])
    lat = [statistics.median(v) for v in by_op.values()]
    return {
        "setup_s": (statistics.median(res["setup_reps_s"]), len(res["setup_reps_s"])),
        "wall_s": (statistics.median(p["wall_s"] for p in passes), len(passes)),
        "query_p50_s": (statistics.median(lat), len(timed)),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), len(passes)),
        # after the last pass: the first collection after the warmup now and
        # then leaves garbage behind, and would pull a median of two passes
        "heap_live_mb": (passes[-1]["heap_live_mb"], 1),
    }


def per_layer(res, cpus):
    """Sums over the traced executions of each pass, median over passes."""
    traced = [r for r in res["runs"] if r["traced"]]
    by_pass = {}
    for r in traced:
        by_pass.setdefault(r["pass"], []).append(r)
    keys = [k for k in PER_LAYER if k.startswith(("driver.", "catalyst.", "exec.", "jvm.", "reset."))]
    vals = {k: [] for k in keys}
    for p, rs in by_pass.items():
        sums = {k: sum(r.get(k, 0.0) for r in rs) for k in keys}
        sums["exec.idle_core_s"] = cpus * sum(r["wall_s"] for r in rs) - sums["exec.task_s"]
        for pr in res["passes"]:
            if pr["pass"] == p:
                sums["reset.released_blocks"] += pr["reset.released_blocks"]
                sums["reset.released_mb"] += pr["reset.released_mb"]
        for k in keys:
            vals[k].append(sums[k])
    m = {k: (statistics.median(v), len(v)) for k, v in vals.items()}
    tp = [p["wall_s"] for p in res["passes"] if p["traced"]]
    up = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    m["trace.overhead_frac"] = (statistics.median(tp) / statistics.median(up) - 1.0,
                                len(tp) + len(up))
    err = [abs(r["driver.build_s"] + r["catalyst.plan_s"] + r["exec.wall_s"] - r["wall_s"])
           / r["wall_s"] for r in traced if r["wall_s"] > 0]
    m["trace.reconcile_err"] = (max(err), len(err))
    m["host.cal_s"] = (statistics.median([res["host.cal_s"], res["host.cal_post_s"]]), 2)
    return m


def layers(res):
    """Per-layer detail beyond the named metrics: per step (refresh_sync)
    or per query pack (queries), summed per pass, median over the passes.
    Task time needs the listener, so it is there in traced runs only."""
    traced = res["trace"]
    groups = {}
    for r in res["runs"]:
        if r["traced"] == traced:
            groups.setdefault(r["layer"], {}).setdefault(r["pass"], []).append(r)
    keys = ["wall_s", "driver.build_s"] + (["exec.task_s"] if traced else [])
    return {layer: {k: statistics.median(sum(r[k] for r in rs) for rs in by_pass.values())
                    for k in keys}
            for layer, by_pass in sorted(groups.items())}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    args = ap.parse_args()
    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))
    if not 1 <= args.cpus <= nproc:
        fail(f"--cpus {args.cpus} is outside 1..{nproc} (the cores available); not clamping")

    # a run that had to build gets its full deadline after the build
    deadline = (time.time() if build() else t_start) + DEADLINE_S

    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    kind, sizes = WORKLOADS[args.workload]
    gen.generate(kind, data, args.seed, **sizes)
    try:
        res = run_jvm(args, run_dir, data, args.cpus, deadline)
        res["trace"] = bool(args.trace)
        failures = list(res["failures"]) + list(res.get("check_failures", []))
        errs = {k[:-len(".error")]: v for k, v in res["check_runs"].items()
                if k.endswith(".error")}
        failures += [f"{k}: check pass: {v}" for k, v in errs.items()]
        checked = [k for k in res["check_runs"] if not k.endswith(".error")]
        if kind != "vendor":
            failures += oracle.compare(data, os.path.join(run_dir, "check"),
                                       [k for k in checked if k not in errs],
                                       os.path.join(run_dir, "duck"))
        checked = len(checked)
        attempted = len(res["runs"]) + checked + res["warm_ops"]
        failed = len(failures)
        res["failures_all"] = failures
        if args.trace:
            metrics = per_layer(res, args.cpus)
            units = PER_LAYER
        else:
            metrics = end_to_end(res)
            units = END_TO_END
        res["layers"] = layers(res)
        os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
        with open(os.path.join(WORK, "results",
                               f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(res, fh)
    finally:
        log = os.path.join(run_dir, "jvm.log")
        if os.path.exists(log):
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            shutil.copy(log, os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}"
                                                            f"-trace{args.trace}.log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in failures:
        print(f"FAILED {f}")
    print(f"workload={args.workload} seed={args.seed} cpus_req={args.cpus} "
          f"cpus_eff={res['cpus_eff']} driver_heap_mb={res['driver_heap_mb']:.0f} "
          f"spark_local_dir={res['spark_local_dir']} "
          f"spark_local_dir_free_bytes={res['spark_local_dir_free_bytes']} "
          f"host.cal_s={res['host.cal_s']:.4f} check_pass_s={res['check_pass_s']:.2f} "
          f"timed_s={res['timed_s']:.2f} passes={len(res['passes'])}")
    for k, (v, n) in metrics.items():
        print(f"{k} = {v:.6g} {units[k]} (n={n})")
    print(f"failed_frac = {failed / attempted:.6g} ratio (n={attempted})")
    if kind == "vendor":
        walls = [p["wall_s"] for p in res["passes"] if not p["traced"]]
        print(f"rows_per_s = {res['passes'][0]['rows'] / statistics.median(walls):.6g} rows/s "
              f"(n={len(walls)})")
    for layer, d in res["layers"].items():
        print(f"layer {layer}: " + " ".join(f"{k}={v:.4g}" for k, v in d.items()))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]}
                                  for k, (v, _) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
